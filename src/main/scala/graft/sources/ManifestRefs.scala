package graft.sources

import graft.QuerySpec
import graft.model.Tables
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** NAMED REFS: immutable TAGS, BRANCHES (fork / append / row-level
  * delete / compaction / fast-forward / rebase-publish / drop, with the
  * per-name creation arbiter and its heal-by-completion), and
  * ORPHAN-FILE cleanup, which must see branch-referenced files. */
private[sources] trait ManifestRefs { this: ManifestTable.type =>
  // ---- named refs: TAGS and BRANCHES ---------------------------------------
  //
  // Iceberg-style named references over the linear main history:
  //
  //   - a TAG is an immutable name for one committed MAIN version
  //     (`_manifests/ref-tag-<name>` holding the version number). Tags are
  //     addressable from SQL (`VERSION AS OF 'name'` — the connector
  //     resolves non-numeric version strings through [[tagVersion]]) and
  //     PIN their version against [[expireSnapshots]], so "the audited
  //     quarterly snapshot" stays readable however long the history grows.
  //   - a BRANCH is an independent manifest sequence forked from main
  //     (`_manifests/branch-<name>-v<N>.manifest`). The fork commit copies
  //     main's CURRENT entries by reference — zero data copied, like
  //     [[cloneTable]] but under the SAME base, so publishing back is a
  //     metadata commit too. Branch commits use the identical atomic
  //     rename + optimistic-retry protocol as main ([[commitNamed]]);
  //     [[fastForward]] publishes the branch head onto main iff main's
  //     CONTENT has not changed since the fork — the write-audit-publish
  //     workflow (stage ingest on a branch, audit it, publish by metadata
  //     swing; abandon = [[dropBranch]] and the staged files become
  //     orphans for [[removeOrphans]]).
  //
  // Ref names must be unambiguous against version numbers (SQL
  // `VERSION AS OF`) and against the `-v<N>` file-name grammar, hence the
  // identifier shape with no dashes. At 100 TB every verb here is
  // driver-side manifest arithmetic: fork, publish, and drop cost one
  // metadata file each regardless of table size.

  private def tagPath(base: String, name: String) =
    new Path(manifestDir(base), s"ref-tag-$name")

  private def requireRefName(name: String): Unit = {
    require(name.matches("[A-Za-z][A-Za-z0-9_]*"),
      s"ref name '$name' must match [A-Za-z][A-Za-z0-9_]* — it has to be " +
        "distinguishable from version numbers and manifest file-name separators")
    // the metadata-table address grammar parses $branch_<n>_changes_<a>_<b>
    // as the CDF of branch <n> BEFORE trying <n>_changes_<a>_<b> as a plain
    // branch name — a ref named like the CDF suffix could never be
    // plain-read, so refuse it at creation
    require(!name.matches(".*_changes_\\d+_\\d+$"),
      s"ref name '$name' collides with the branch change-feed address " +
        "grammar (<name>_changes_<from>_<to>) — pick a name not ending in " +
        "_changes_<digits>_<digits>")
  }

  /** Create an immutable tag for `version` (default: current). The write
    * is the usual temp + rename-refuses-overwrite, so two concurrent
    * `createTag`s of one name race cleanly and the loser gets
    * [[VersionConflictException]] — tags can never be silently moved. */
  def createTag(spark: SparkSession, base: String, name: String,
      version: Option[Int] = None): Int = {
    requireRefName(name)
    val vs = versions(spark, base)
    require(vs.nonEmpty, s"no committed snapshot under $base")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"cannot tag $name: version $v not committed under $base")
    publishExclusive(spark, base, s"ref-tag-$name", v.toString.getBytes("UTF-8"),
      s"tag $name already exists under $base (tags are immutable — drop it first)")
    v
  }

  /** The version a tag pins, or None for no such tag. */
  def tagVersion(spark: SparkSession, base: String, name: String): Option[Int] = {
    val p = tagPath(base, name)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      Some(text.toInt)
    }
  }

  /** All tags as (name, pinned version), name-sorted. */
  def listTags(spark: SparkSession, base: String): Seq[(String, Int)] = {
    val fs = fsOf(spark, manifestDir(base))
    val st = fs.globStatus(new Path(manifestDir(base), "ref-tag-*"))
    if (st == null) Seq.empty
    else st.toSeq.map(_.getPath.getName.stripPrefix("ref-tag-")).sorted
      .flatMap(n => tagVersion(spark, base, n).map(n -> _))
  }

  /** Drop a tag. Its version stops being pinned; a later
    * [[expireSnapshots]] may then reclaim it like any other old version. */
  def dropTag(spark: SparkSession, base: String, name: String): Unit = {
    val p = tagPath(base, name)
    val fs = fsOf(spark, p)
    require(fs.exists(p), s"no tag named $name under $base")
    fs.delete(p, false)
  }

  private[sources] def branchManifestName(name: String, v: Int) =
    s"branch-$name-v$v.manifest"

  /** Entries of one committed BRANCH version. */
  private[sources] def branchEntriesAt(spark: SparkSession, base: String,
      name: String, v: Int): Seq[(String, String)] =
    entriesAt(spark, new Path(manifestDir(base), branchManifestName(name, v)))

  /** [[cutFor]] against a BRANCH head: above the head AND above every
    * dir version the head references. Fork files carry MAIN dir numbers
    * (≤ fork ≤ head on plain histories, but possibly ahead of the
    * branch counter after floored appends), so the entry-derived max is
    * the only safe floor. */
  private[sources] def cutForBranch(spark: SparkSession, base: String,
      name: String, readHead: Int): Int =
    math.max(readHead + 1,
      maxDirVersion(branchEntriesAt(spark, base, name, readHead)) + 1)

  /** Committed versions of a branch, ascending (empty = no such branch).
    * The LOWEST is the fork point (main's version when the branch was
    * created); the HIGHEST is the branch head. */
  private[sources] def branchVersions(
      spark: SparkSession, base: String, name: String): Seq[Int] = {
    val fs = fsOf(spark, manifestDir(base))
    val st = fs.globStatus(new Path(manifestDir(base), s"branch-$name-v*.manifest"))
    if (st == null) Seq.empty
    else st.toSeq.map(_.getPath.getName
        .stripPrefix(s"branch-$name-v").stripSuffix(".manifest").toInt)
      .sorted
  }

  def branchExists(spark: SparkSession, base: String, name: String): Boolean =
    branchVersions(spark, base, name).nonEmpty

  /** All branches as (name, fork version, head version), name-sorted. */
  def listBranches(spark: SparkSession, base: String): Seq[(String, Int, Int)] = {
    val fs = fsOf(spark, manifestDir(base))
    val st = fs.globStatus(new Path(manifestDir(base), "branch-*-v*.manifest"))
    if (st == null) Seq.empty
    else st.toSeq.map(_.getPath.getName.stripPrefix("branch-")
        .stripSuffix(".manifest")).map { s =>
        val i = s.lastIndexOf("-v")
        (s.substring(0, i), s.substring(i + 2).toInt)
      }.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (n, vs0) => (n, vs0.map(_._2).min, vs0.map(_._2).max) }
  }

  private def branchArbiterPath(base: String, name: String) =
    new Path(manifestDir(base), s"ref-branch-$name")

  /** Fork a branch at main's current version — one metadata commit that
    * copies the current entries BY REFERENCE (zero data). Refuses while a
    * deletion vector is pending (same rule as [[cloneTable]]: copying
    * entries without the vector would resurrect its rows on the branch).
    * Returns the fork version.
    *
    * Concurrency: the fork-manifest name embeds the fork VERSION, so the
    * exclusive manifest publish alone cannot arbitrate two concurrent
    * creators when a main commit lands between their `currentVersion`
    * reads — they'd publish `branch-n-v3` and `branch-n-v4` and BOTH
    * "succeed", leaving a branch whose min-version "fork" manifest was
    * never the state either head was computed from. A post-commit
    * verify can't close this either (the earlier publisher has already
    * returned by the time the later one sees both). The arbiter is
    * therefore a per-NAME file (`ref-branch-<name>`) published with the
    * same exclusive-create commit point: exactly one creator wins the
    * name, and only the winner publishes a fork manifest. A crash
    * between the two writes leaves an arbiter with no manifest — healed
    * here after an age fence by COMPLETING the crashed create (see
    * [[healArbiterDebris]]; young arbiters belong to an in-flight
    * creator and must not be stolen). */
  def createBranch(spark: SparkSession, base: String, name: String): Int = {
    requireRefName(name)
    requireNoPendingDv(spark, base, "createBranch")
    require(!branchExists(spark, base, name),
      s"branch $name already exists under $base")
    val v = currentVersion(spark, base)
    val es = entries(spark, base, v) // read before taking the name
    val arb = branchArbiterPath(base, name)
    val fs = fsOf(spark, arb)
    // one stat, not exists()+getFileStatus: a concurrent healer removing
    // the debris between the two calls would throw FileNotFoundException
    scala.util.Try(fs.getFileStatus(arb)).toOption
      .foreach(s => healArbiterDebris(spark, base, name, arb, s))
    publishExclusive(spark, base, s"ref-branch-$name",
      v.toString.getBytes("UTF-8"),
      s"branch $name already exists under $base (concurrent createBranch)")
    try commitNamed(spark, base, branchManifestName(name, v), es,
      s"branch $name already exists under $base")
    catch { case t: Throwable => fs.delete(arb, false); throw t }
    v
  }

  /** Arbiter present with NO fork manifest = a creator crashed between
    * its two writes (name taken, fork never published). Healing must not
    * stat-then-DELETE: a concurrent creator can heal the same debris and
    * publish a FRESH arbiter between our stat and delete, our delete then
    * removes the fresh arbiter, both creators pass the exclusive publish,
    * and with a main commit interleaved they fork DIFFERENT versions —
    * the exact double-create the arbiter exists to prevent. Debris is
    * instead healed BY COMPLETION: the arbiter RECORDS the crashed
    * creator's fork version, so any later creator finishes the crashed
    * create by committing exactly the fork manifest that creator would
    * have. Manifests are immutable, so every concurrent completer —
    * including the "crashed" creator itself, if it was merely slow —
    * commits IDENTICAL content, and [[commitNamed]]'s exclusive publish
    * makes the extra attempts harmless losers. The branch then exists at
    * the recorded fork, and this create reports already-exists — the
    * same outcome as if the original create had succeeded, which it now
    * has. No reclaim, no steal window.
    *
    * Only when the recorded fork version no longer has a manifest
    * ([[expireSnapshots]] dropped it — debris at least one retention
    * cycle old) is completion impossible; then the name is reclaimed by
    * an atomic RENAME to a unique trash name: of racing healers exactly
    * one rename succeeds, and the loser falls through to the exclusive
    * publish, which it loses cleanly. The winner re-checks the MOVED
    * file's own mtime (rename preserves it): fresh means a new creator
    * re-took the name inside our stat window — restore it and report the
    * name taken. Residual exposure is two stacked sub-second races
    * inside a path that already needs fence-old crash debris WITH an
    * expired fork snapshot. */
  private def healArbiterDebris(spark: SparkSession, base: String,
      name: String, arb: Path, s: org.apache.hadoop.fs.FileStatus): Unit = {
    def fence = System.currentTimeMillis() - 60000L
    if (s.getModificationTime >= fence)
      throw new VersionConflictException(
        s"branch $name already exists under $base (concurrent createBranch)")
    val fs = fsOf(spark, arb)
    val forkV = scala.util.Try {
      val in = fs.open(arb)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      text.toInt
    }.toOption
    forkV.filter(versions(spark, base).contains) match {
      case Some(fv) =>
        try commitNamed(spark, base, branchManifestName(name, fv),
          entries(spark, base, fv),
          s"branch $name already exists under $base")
        catch { case _: VersionConflictException => () } // a raced completer won
        throw new IllegalArgumentException(
          s"branch $name already exists under $base (completed a crashed " +
            s"createBranch at fork v$fv)")
      case None =>
        val trash = new Path(manifestDir(base),
          s".tmp-trash-ref-branch-$name-${java.util.UUID.randomUUID}")
        if (fs.rename(arb, trash)) {
          val moved = scala.util.Try(fs.getFileStatus(trash)).toOption
          if (moved.exists(_.getModificationTime >= fence)) {
            fs.rename(trash, arb) // stole a live creator's fresh name — restore
            throw new VersionConflictException(
              s"branch $name already exists under $base (concurrent createBranch)")
          }
          fs.delete(trash, false)
        }
        // rename lost: another healer owns the debris; fall through — the
        // exclusive publish arbitrates
    }
  }

  /** Entries of the branch HEAD. */
  private[sources] def branchEntries(
      spark: SparkSession, base: String, name: String): Seq[(String, String)] = {
    val vs = branchVersions(spark, base, name)
    require(vs.nonEmpty, s"no branch named $name under $base")
    entriesAt(spark, new Path(manifestDir(base), branchManifestName(name, vs.last)))
  }

  /** Deletion-vector dir relpaths the BRANCH manifest of version `v`
    * references — the branch twin of [[dvMarkersAt]]. */
  private[sources] def dvMarkersAtBranch(spark: SparkSession, base: String,
      name: String, v: Int): Seq[String] = {
    val p = new Path(manifestDir(base), branchManifestName(name, v))
    if (!fsOf(spark, p).exists(p)) Seq.empty
    else rawEntriesAt(spark, p).collect { case (DvMarker, rel) => rel }
  }

  /** Vectors pending at the branch HEAD (empty for no such branch). */
  private[sources] def pendingBranchDvRels(spark: SparkSession, base: String,
      name: String): Seq[String] = {
    val vs = branchVersions(spark, base, name)
    if (vs.isEmpty) Seq.empty else dvMarkersAtBranch(spark, base, name, vs.last)
  }

  private[sources] def requireNoPendingBranchDv(spark: SparkSession,
      base: String, name: String, verb: String): Unit =
    require(pendingBranchDvRels(spark, base, name).isEmpty,
      s"$verb on branch '$name' requires no pending branch deletion " +
        "vectors — fastForward the branch onto main and purgeDeletes " +
        "there first (a rewrite under pending vectors could resurrect " +
        "or re-delete rows)")

  /** MERGE-ON-READ DELETE against a BRANCH HEAD — [[deleteWhereMoR]]'s
    * branch twin: the vector records (key, FILE-manifest-pval) pairs
    * from the branch head's files and lands as a `__dv` marker line on
    * the NEXT BRANCH manifest, carrying every data file unchanged. Main
    * never moves. The branch scan applies pending branch vectors
    * in-scan exactly like a main scan; [[fastForward]] carries the
    * markers onto main, where the ordinary [[purgeDeletes]] folds them
    * in — the write-audit-publish flow where the audit step ERASES rows
    * (a GDPR fix on staged data) without rewriting the staged feed.
    * Same concurrency classification as the main verb: a concurrent
    * branch commit that left the touched partitions' data unchanged
    * rebases the marker; one that changed them fails classified.
    * Returns whether anything matched. */
  def deleteWhereMoRBranch(spark: SparkSession, base: String, name: String,
      pred: org.apache.spark.sql.Column, keyCol: String): Boolean = {
    val vs = branchVersions(spark, base, name)
    require(vs.nonEmpty, s"no branch named $name under $base")
    val readHead = vs.last
    val rel = s"_dv/d-${java.util.UUID.randomUUID}"
    val dvPath = s"$base/$rel"
    val fs = fsOf(spark, new Path(base))
    // the predicate scan is pinned to the head the retry validates (a
    // re-resolved head could slip a commit between list and read)
    val headPaths = entriesAt(spark,
      new Path(manifestDir(base), branchManifestName(name, readHead)))
      .map { case (_, r) => resolve(base, r) }
    require(headPaths.nonEmpty, s"branch $name under $base is empty")
    val head = spark.read.parquet(headPaths: _*)
    requireBigintKey(head.schema, keyCol, base)
    head.filter(pred)
      .select(org.apache.spark.sql.functions.col(keyCol),
        filePvalExpr.as("__pval"))
      .write.parquet(dvPath)
    consolidateDvDir(spark, base, rel)
    val touched = spark.read.parquet(dvPath)
      .select(org.apache.spark.sql.functions.col("__pval")).distinct()
      .collect().map(_.getString(0)).toSet // DV-metadata-sized
    if (touched.isEmpty) {
      fs.delete(new Path(dvPath), true)
      return false
    }
    // the partition-source sidecar, exactly like the main verb (readers
    // only need it to report pair scoping; application is path-derived)
    val partCol = tableProperties(spark, base).getOrElse("partCol",
      throw new UnsupportedOperationException(
        s"deleteWhereMoRBranch under $base needs the partCol table property"))
    val out = fs.create(new Path(dvPath, "_partcol"), true)
    try out.write(partCol.getBytes("UTF-8")) finally out.close()
    var attempt = 0
    while (true) {
      attempt += 1
      val cur = branchVersions(spark, base, name).last
      if (cur != readHead) {
        val before = entriesAt(spark,
          new Path(manifestDir(base), branchManifestName(name, readHead)))
          .filter { case (p, _) => touched(p) }.toSet
        val now = entriesAt(spark,
          new Path(manifestDir(base), branchManifestName(name, cur)))
          .filter { case (p, _) => touched(p) }.toSet
        if (before != now) {
          fs.delete(new Path(dvPath), true)
          throw new ConcurrentRewriteException(
            s"deleteWhereMoRBranch($name) under $base: partitions " +
              s"${touched.mkString("{", ",", "}")} changed between read " +
              s"(v$readHead) and commit (v$cur) — re-run the delete")
        }
      }
      val merged =
        (dvMarkersAtBranch(spark, base, name, cur) :+ rel).map((DvMarker, _)) ++
          entriesAt(spark,
            new Path(manifestDir(base), branchManifestName(name, cur)))
      try {
        commitNamed(spark, base, branchManifestName(name, cur + 1), merged,
          s"concurrent commit: branch $name version ${cur + 1} already exists")
        return true
      } catch {
        case _: VersionConflictException if attempt < 20 => ()
      }
    }
    true // unreachable
  }

  /** Read the branch head (the files its manifest names, with any pending
    * BRANCH deletion vectors applied — a branch MoR DELETE/UPDATE hides
    * its named rows here exactly like the SQL `$branch` face does, via
    * the same fenced anti-join as [[readMoR]]; an API read that
    * resurrected vector-hidden rows would disagree with every other
    * branch-read path). */
  def readBranch(spark: SparkSession, base: String, name: String): DataFrame = {
    val paths = branchEntries(spark, base, name)
      .map { case (_, rel) => resolve(base, rel) }
    if (paths.isEmpty) {
      val s = tableProperties(spark, base).getOrElse("schema",
        throw new IllegalStateException(
          s"empty branch $name under $base and no stored schema property"))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        ManifestSchemaProp.parse(s))
    }
    val plain = spark.read.parquet(paths: _*)
    val dvs = pendingBranchDvRels(spark, base, name)
    // a vector can only exist under the MoR stamp, which requires keyCol
    val kcOpt = tableProperties(spark, base).get("keyCol")
    if (dvs.isEmpty || kcOpt.isEmpty) plain
    else hideDvRows(spark, base, plain, dvs, kcOpt.get)
  }

  /** APPEND to a branch — main is untouched. Same optimistic protocol as
    * a main append: losing the rename race to a concurrent branch writer
    * rebases onto the winner's entries and retries (appends commute).
    * Returns the branch version that committed. */
  def appendBranch(spark: SparkSession, base: String, name: String,
      df: DataFrame, partCol: String, maxAttempts: Int = 20): Int = {
    val head0 = branchVersions(spark, base, name)
    require(head0.nonEmpty, s"no branch named $name under $base")
    // staged under files/v<headv+1>/ — a shared root like every staged
    // write here; entries are paths, the dir name is bookkeeping —
    // floored at-or-above every pending branch vector's finite cut so a
    // pending branch UPDATE fence can never hide the appended rows
    val newFiles = writeSnapshotFiles(spark, base,
      math.max(head0.last + 1, stageFloorBranch(spark, base, name)),
      df, partCol)
    var attempt = 0
    while (true) {
      attempt += 1
      val head = branchVersions(spark, base, name).last
      val es = entriesAt(spark,
        new Path(manifestDir(base), branchManifestName(name, head)))
      // pending branch DV markers ride every branch append, like main's
      // commitRetrying — dropping one would silently resurrect rows
      val markers = dvMarkersAtBranch(spark, base, name, head)
        .map((DvMarker, _))
      try {
        commitNamed(spark, base, branchManifestName(name, head + 1),
          markers ++ es ++ newFiles,
          s"concurrent commit: branch $name version ${head + 1} already exists")
        return head + 1
      } catch {
        case _: VersionConflictException if attempt < maxAttempts => ()
      }
    }
    -1 // unreachable
  }

  /** Branch-sequence twin of [[commitRetrying]]: commit `staged` onto the
    * branch HEAD with the same classified conflict resolution. With
    * `replaced` groups, the commit is `head-entries-minus-replaced ++
    * staged`; if the head moved since `readHead`, the replaced groups'
    * entries must be EXACTLY what the rewrite read (else
    * [[ConcurrentRewriteException]] — the staged content was computed
    * from rows that are no longer the branch's truth); commits into
    * other groups rebase and retry. Returns the branch version that
    * committed. */
  private[sources] def commitBranchRetrying(spark: SparkSession, base: String,
      name: String, readHead: Int, staged: Seq[(String, String)],
      replaced: Option[Set[String]], maxAttempts: Int = 20): Int = {
    // same stage-to-commit constraint TOCTOU closure as the main retry
    var knownCs = constraintSet(spark, base)
    var attempt = 0
    while (true) {
      attempt += 1
      knownCs = revalidateNewConstraints(spark, base, knownCs, staged)
      val head = branchVersions(spark, base, name).last
      val es = entriesAt(spark,
        new Path(manifestDir(base), branchManifestName(name, head)))
      replaced.foreach { reps =>
        if (head != readHead) {
          val before = entriesAt(spark,
            new Path(manifestDir(base), branchManifestName(name, readHead)))
            .filter { case (p, _) => reps(p) }.toSet
          val now = es.filter { case (p, _) => reps(p) }.toSet
          if (before != now)
            throw new ConcurrentRewriteException(
              s"branch $name under $base: replaced groups changed between " +
                s"read (v$readHead) and commit (v$head) — re-run the statement")
        }
      }
      val merged = replaced match {
        case Some(reps) => es.filterNot { case (p, _) => reps(p) } ++ staged
        case None => es ++ staged
      }
      try {
        commitNamed(spark, base, branchManifestName(name, head + 1), merged,
          s"concurrent commit: branch $name version ${head + 1} already exists")
        return head + 1
      } catch {
        case _: VersionConflictException if attempt < maxAttempts => ()
      }
    }
    -1 // unreachable
  }

  /** DELETE WHERE on a BRANCH — the copy-on-write erasure verb against
    * the branch's manifest sequence (write-audit-FIX-publish: an audit
    * that finds bad rows corrects the branch before the publish; main is
    * never touched). Same touched-partition economics as [[deleteWhere]]:
    * only the branch groups holding matching rows rewrite, the rest carry
    * by reference. A branch that rewrote fork files publishes through
    * [[fastForward]] (full-content swap); [[rebasePublish]] keeps
    * refusing it, by design. Identity layouts only (a bucket branch's
    * pvals are hash ids this grouping would misread). Returns whether a
    * commit happened. */
  def deleteWhereBranch(spark: SparkSession, base: String, name: String,
      pred: org.apache.spark.sql.Column, partCol: String): Boolean = {
    require(bucketNOf(spark, base).isEmpty,
      s"deleteWhereBranch on the bucket-layout table $base is not supported")
    requireNoPendingBranchDv(spark, base, name, "deleteWhereBranch")
    val vs = branchVersions(spark, base, name)
    require(vs.nonEmpty, s"no branch named $name under $base")
    val readHead = vs.last
    val es = entriesAt(spark,
      new Path(manifestDir(base), branchManifestName(name, readHead)))
    val touched = readBranch(spark, base, name).filter(pred)
      .select(filePvalExpr).distinct()
      .collect().map(_.getString(0)).toSet // metadata-sized
    if (touched.isEmpty) return false
    val (hot, _) = es.partition { case (pval, _) => touched(pval) }
    val survivors = spark.read
      .parquet(hot.map { case (_, rel) => resolve(base, rel) }: _*)
      .filter(!pred)
    val newFiles = writeSnapshotFiles(spark, base, readHead + 1, survivors, partCol)
    commitBranchRetrying(spark, base, name, readHead, newFiles, Some(touched))
    true
  }

  /** OPTIMIZE a BRANCH — and stay PUBLISHABLE: a long-lived staging
    * branch's epoch-per-commit feed accumulates small files; this
    * compacts partitions holding at least `minFiles` of the branch's OWN
    * APPENDED files (head minus fork) into one file each, committing a
    * new branch version. Fork files are NEVER read or rewritten, so the
    * branch stays append-only relative to its fork and
    * [[rebasePublish]] still lands it onto a moved main afterwards —
    * compaction of the fork's files belongs to main's own
    * [[optimizeTable]]. Replacement is FILE-grained (not group-grained):
    * a partition's fork files carry untouched next to its compacted
    * appends. Data is byte-identical; pre-optimize branch versions stay
    * addressable. Returns (partitions compacted, appended files before →
    * after). */
  def optimizeBranch(spark: SparkSession, base: String, name: String,
      partCol: String, minFiles: Int = 2): (Int, Int, Int) = {
    val vs = branchVersions(spark, base, name)
    require(vs.nonEmpty, s"no branch named $name under $base")
    requireNoPendingBranchDv(spark, base, name, "optimizeBranch")
    val readHead = vs.last
    val forkEs = entriesAt(spark,
      new Path(manifestDir(base), branchManifestName(name, vs.head))).toSet
    val headEs = entriesAt(spark,
      new Path(manifestDir(base), branchManifestName(name, readHead)))
    val appended = headEs.filterNot(forkEs)
    val hotVals = appended.groupBy(_._1).filter(_._2.size >= minFiles).keySet
    if (hotVals.isEmpty) return (0, 0, 0)
    val hot = appended.filter { case (pval, _) => hotVals(pval) }
    val hotSet = hot.toSet
    val rows = spark.read.parquet(hot.map { case (_, rel) => resolve(base, rel) }: _*)
    val newFiles = writeSnapshotFiles(spark, base, readHead + 1, rows, partCol)
    // FILE-grained classified retry: a concurrent branch append commutes
    // (rebase onto the new head); a commit that removed one of the files
    // being compacted means someone rewrote rows this compaction already
    // read — fail classified, never drop their change
    var attempt = 0
    while (true) {
      attempt += 1
      val head = branchVersions(spark, base, name).last
      val es = entriesAt(spark,
        new Path(manifestDir(base), branchManifestName(name, head)))
      val esSet = es.toSet
      val missing = hot.filterNot(esSet)
      if (missing.nonEmpty)
        throw new ConcurrentRewriteException(
          s"optimizeBranch($name) under $base: ${missing.size} file(s) being " +
            s"compacted were removed between read (v$readHead) and commit " +
            s"(v$head) — re-run the compaction")
      val merged = es.filterNot(hotSet) ++ newFiles
      try {
        commitNamed(spark, base, branchManifestName(name, head + 1), merged,
          s"concurrent commit: branch $name version ${head + 1} already exists")
        return (hotVals.size, hot.size, newFiles.size)
      } catch {
        case _: VersionConflictException if attempt < 20 => ()
      }
    }
    (0, 0, 0) // unreachable
  }

  /** PUBLISH the branch head onto main (write-audit-publish's publish
    * step): one metadata commit of the branch's entries, valid iff main's
    * CONTENT is unchanged since the fork — the branch head was computed
    * from exactly that state. A concurrent main commit that changed
    * anything aborts with [[ConcurrentRewriteException]] (re-fork, or
    * replay the branch's changes against the new main); a pure version
    * race rebases. Returns the main version that committed. */
  def fastForward(spark: SparkSession, base: String, name: String): Int = {
    val vs = branchVersions(spark, base, name)
    require(vs.nonEmpty, s"no branch named $name under $base")
    // PENDING BRANCH VECTORS PUBLISH WITH THE CONTENT: the head's `__dv`
    // markers ride the full-table commit onto main, where the ordinary
    // in-scan application serves them and purgeDeletes folds them in —
    // the audit step's MoR erasures survive the publish verbatim
    val markers = dvMarkersAtBranch(spark, base, name, vs.last)
      .map((DvMarker, _))
    val v = commitRetryingFullTable(spark, base, vs.head,
      markers ++ branchEntries(spark, base, name), s"fastForward($name)")
    // the published files join the MAIN sidecars now (branch commits
    // carry none — sidecars are per-main-version metadata)
    refreshAllStats(spark, base)
    v
  }

  /** REBASE-PUBLISH an APPEND-ONLY branch onto a main that MOVED since
    * the fork (Iceberg's cherry-pick, the case [[fastForward]] refuses):
    * the branch's net change is head-minus-fork entries, and when the
    * branch never removed or rewrote a fork file that change is pure
    * appended rows — it commutes with whatever main did in the meantime,
    * exactly like a plain append, so it lands through the same
    * [[commitRetrying]] append path. A branch that rewrote fork files
    * refuses loudly (its read set IS the fork — publishing it over a
    * moved main would silently undo main's interleaved commits); pending
    * main deletion vectors refuse for the same reason an append does.
    * Returns the main version that committed. */
  def rebasePublish(spark: SparkSession, base: String, name: String): Int = {
    requireNoPendingDv(spark, base, "rebasePublish")
    val vs = branchVersions(spark, base, name)
    require(vs.nonEmpty, s"no branch named $name under $base")
    // a pending branch vector names rows among the FORK's files too —
    // the net-append publish has no way to carry that scope onto a
    // moved main; fastForward (full swap) is the DV-carrying publish
    requireNoPendingBranchDv(spark, base, name, "rebasePublish")
    val forkEs = entriesAt(spark,
      new Path(manifestDir(base), branchManifestName(name, vs.head))).toSet
    val headEs = branchEntries(spark, base, name)
    val removed = forkEs -- headEs.toSet
    require(removed.isEmpty,
      s"rebasePublish($name): the branch rewrote or removed ${removed.size} " +
        "fork file(s) — only append-only branches can publish onto a moved " +
        "main; fastForward from an unchanged main, or re-run on a fresh fork")
    val added = headEs.filterNot(forkEs)
    val v = commitRetrying(spark, base, currentVersion(spark, base), added, None)
    refreshAllStats(spark, base)
    v
  }

  /** Drop a branch: delete its manifest sequence. Files only the branch
    * referenced become unreferenced and are reclaimed by the next
    * [[removeOrphans]] sweep — dropping is metadata-only, like Iceberg's
    * drop-ref-then-expire. */
  def dropBranch(spark: SparkSession, base: String, name: String): Unit = {
    val vs = branchVersions(spark, base, name)
    require(vs.nonEmpty, s"no branch named $name under $base")
    val fs = fsOf(spark, manifestDir(base))
    vs.foreach(v =>
      fs.delete(new Path(manifestDir(base), branchManifestName(name, v)), false))
    // a streaming WAP feed's exactly-once epoch markers die with their
    // ref, and so do the branch's per-commit sidecar indexes
    Seq(s"branch-$name-v*.epoch", s"branch-$name-v*.stats.*",
        s"branch-$name-v*.sstats.*", s"branch-$name-v*.bloom.*").foreach { pat =>
      val stale = fs.globStatus(new Path(manifestDir(base), pat))
      if (stale != null) stale.foreach(e => fs.delete(e.getPath, false))
    }
    // release the per-name creation arbiter (a crash just before this
    // leaves arbiter-without-manifests — exactly the debris shape
    // createBranch heals past its age fence)
    fs.delete(branchArbiterPath(base, name), false)
  }

  /** Entries referenced by ANY branch manifest — live for orphan/expiry
    * purposes even when no main manifest names them (a branch borrows
    * main's files at its fork and owns its appended files thereafter). */
  private[sources] def branchReferencedEntries(
      spark: SparkSession, base: String): Seq[String] = {
    val fs = fsOf(spark, manifestDir(base))
    val st = fs.globStatus(new Path(manifestDir(base), "branch-*-v*.manifest"))
    if (st == null) Seq.empty
    else st.toSeq.flatMap(s => entriesAt(spark, s.getPath).map(_._2))
  }

  /** ORPHAN-FILE cleanup — delete files under this table's `files/` tree
    * that NO committed manifest references (plus abandoned `.stage-*`
    * dirs). Orphans are exactly what a crash between staging and the
    * commit rename leaves behind (the crash-safety contract keeps the
    * table readable but cannot unlink the half-published files), and what
    * [[auditedMerge]]'s veto already cleans for its own writer. The
    * `olderThanMs` retention fences a CONCURRENT writer mid-stage — its
    * freshly moved files are not yet named by any manifest and must
    * survive, the same reason Delta's VACUUM has a retention window.
    * Returns the deleted table-relative paths. */
  def removeOrphans(spark: SparkSession, base: String,
      olderThanMs: Long = 0L, dryRun: Boolean = false): Seq[String] = {
    val fs = fsOf(spark, new Path(base))
    // inclusive boundary (`<= cutoff` below): file mtimes come from the
    // kernel's COARSE clock, so debris written within the same tick as
    // this read has mtime == cutoff when olderThanMs is 0 — a strict `<`
    // would silently keep it (a rare sweep-right-after-crash flake). A
    // concurrent writer is fenced by the retention window, not by a
    // 1 ms boundary, so inclusive is the correct contract.
    val cutoff = System.currentTimeMillis() - olderThanMs
    val qbase = fs.makeQualified(new Path(base)).toString
    // a DECIDED multi-table transaction (coordinator record written, not
    // yet finalized) references its staged files only through a temp
    // `.txn-*` manifest — those files are NOT orphans: a later
    // MultiTableTxn.recover commits that exact file list, so deleting them
    // would finalize a snapshot naming dead files. Temp manifests with no
    // coordinator record are MultiTableTxn.cleanup's job, after which one
    // more removeOrphans pass reclaims their staged files.
    val txnTmp = fs.globStatus(new Path(manifestDir(base), ".txn-*.manifest"))
    val txnReferenced =
      if (txnTmp == null) Seq.empty[String]
      else txnTmp.toSeq.flatMap(s => entriesAt(spark, s.getPath).map(_._2))
    val referenced = (versions(spark, base)
      .flatMap(v => entries(spark, base, v).map(_._2)) ++ txnReferenced ++
      // a BRANCH's appended files are named by no main manifest — they are
      // reachable through the branch ref and must survive until dropBranch
      branchReferencedEntries(spark, base))
      .filterNot(external).toSet
    val deleted = scala.collection.mutable.Buffer[String]()
    val filesRoot = new Path(base, "files")
    if (fs.exists(filesRoot)) {
      val it = fs.listFiles(filesRoot, true)
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toString.stripPrefix(qbase).stripPrefix("/")
        if (!referenced(rel) && st.getModificationTime <= cutoff) {
          if (!dryRun) fs.delete(st.getPath, false)
          deleted += rel
        }
      }
    }
    // a crashed or race-losing deleteWhereMoR leaves a vector dir whose
    // `__dv` marker never committed — invisible to readers (visibility is
    // the marker, not the dir), but debris all the same. Dirs referenced
    // by ANY committed manifest stay (old manifests keep their change
    // feed replayable until expireSnapshots drops them) — including any
    // BRANCH manifest's markers: a branch MoR delete's vector is live
    // for exactly as long as a manifest of the branch names it
    val branchDvReferenced = {
      val st = fs.globStatus(new Path(manifestDir(base), "branch-*-v*.manifest"))
      if (st == null) Seq.empty[String]
      else st.toSeq.flatMap(s => rawEntriesAt(spark, s.getPath)
        .collect { case (DvMarker, rel) => rel })
    }
    val dvReferenced = (versions(spark, base)
      .flatMap(v => dvMarkersAt(spark, base, v)) ++ branchDvReferenced).toSet
    val dvDirs = fs.globStatus(new Path(base, "_dv/*"))
    if (dvDirs != null) dvDirs.foreach { d =>
      val rel = s"_dv/${d.getPath.getName}"
      if (!dvReferenced(rel) && d.getModificationTime <= cutoff) {
        deleted += rel
        if (!dryRun) fs.delete(d.getPath, true)
      }
    }
    val stages = fs.globStatus(new Path(base, ".stage-*"))
    if (stages != null) stages.foreach { s =>
      if (s.getModificationTime <= cutoff) {
        deleted += s.getPath.getName
        if (!dryRun) fs.delete(s.getPath, true)
      }
    }
    // a crash between a temp write and its rename (manifest, stats or
    // bloom sidecar) leaves a `.tmp-*` file under _manifests that no
    // rename will ever claim — metadata debris, swept with the same
    // retention fence. `.txn-*` temp manifests are NOT debris here:
    // they may belong to a decided transaction (MultiTableTxn.cleanup
    // owns their lifecycle via the coordinator log).
    val tmps = fs.globStatus(new Path(manifestDir(base), ".tmp-*"))
    if (tmps != null) tmps.foreach { t =>
      if (t.getModificationTime <= cutoff) {
        deleted += s"_manifests/${t.getPath.getName}"
        if (!dryRun) fs.delete(t.getPath, false)
      }
    }
    deleted.toSeq
  }

}
