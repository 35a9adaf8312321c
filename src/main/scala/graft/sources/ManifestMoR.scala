package graft.sources

import graft.QuerySpec
import graft.model.Tables
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** MERGE-ON-READ row-level verbs: deletion-vector DELETE/UPDATE, the
  * vector-aware reader, PURGE (folding vectors into a rewrite), and the
  * layout expression shared by every pval computation. Vector visibility
  * is a manifest marker line, atomic with the commit. */
private[sources] trait ManifestMoR { this: ManifestTable.type =>
  // ---- merge-on-read deletes (deletion vectors) ---------------------------
  //
  // A vector's VISIBILITY is a `__dv` marker line in the manifest itself
  // (see [[DvMarker]]), so it lands atomically with its commit: there is
  // no window where the committed version and the pending-vector set can
  // disagree, and a lost commit race can never leave a stray vector
  // attached to the winner's snapshot. The dir name is a UUID (not a
  // version): two concurrent MoR deletes stage into distinct dirs and the
  // loser simply rebases its marker onto the winner's manifest.

  private[sources] def requireNoPendingDv(
      spark: SparkSession, base: String, verb: String): Unit =
    require(pendingDvRels(spark, base).isEmpty,
      s"$verb requires no pending deletion vectors — run purgeDeletes first " +
        "(a rewrite or append under pending DVs could resurrect or re-delete rows)")

  /** Deletion vectors store the key as INT64: every verb taking the vector
    * route checks here before writing anything, or a vector of meaningless
    * keys would wedge the table behind a pending vector no purge folds. */
  private[sources] def requireBigintKey(schema: StructType, keyCol: String,
      base: String): Unit =
    schema.fields.find(_.name.equalsIgnoreCase(keyCol)).foreach { f =>
      if (f.dataType != org.apache.spark.sql.types.LongType)
        throw new UnsupportedOperationException(
          s"merge-on-read under $base needs a BIGINT keyCol, but $keyCol is " +
            s"${f.dataType.sql} — deletion vectors store keys as INT64; key " +
            "the table on a BIGINT column or write copy-on-write")
    }

  /** The table's bucket count, when it carries the bucket layout. */
  private[sources] def bucketNOf(spark: SparkSession, base: String): Option[Int] =
    tableProperties(spark, base).get("bucket.n").map(_.toInt)

  /** The expression a row's DV partition value is computed with: the
    * MANIFEST pval of the row's FILE, read out of the file path itself
    * (`files/v<K>/p=<pval>/…` — the manifest entry and the directory
    * name are written from the same string, so they agree verbatim).
    * One invariant everywhere: a vector's `__pval` always equals the
    * pval of the manifest entry it scopes, so conflict classification,
    * purge hot/cold partitioning, CDF image selection, and the in-scan
    * application compare vectors against manifests directly.
    *
    * Extracting from the path (rather than recomputing the layout
    * expression over the row's data columns) is what makes the vector
    * ERA-PROOF: after partition-spec evolution a table's manifest mixes
    * pvals written under different specs, and a recomputation under the
    * CURRENT spec can never match a pre-evolution entry — rows deleted
    * from old-era files would silently resurrect when the purge carried
    * their files cold. The file path always names the era that wrote it.
    *
    * Bucket-layout caveat (scaladoc'd contract, same as the SQL delta
    * op's rowId): the (key, bucket) pair is coarser than (key, raw
    * value) — a key duplicated across DIFFERENT partition values that
    * hash into one bucket would be over-hidden. MoR verbs already treat
    * `keyCol` as the row identity, so unique keys (the contract) are
    * unaffected. */
  private[sources] def filePvalExpr: org.apache.spark.sql.Column =
    regexp_extract(input_file_name(), "/p=([^/]+)/", 1)

  /** The LAYOUT partition expression over `partCol`: the raw column under
    * identity layout, the bucket id (`pmod(xxhash64(key), n)`) under bucket
    * layout, the transform value (`months(c)` / `days(c)` / `years(c)` /
    * `truncate(w, c)` — see [[GraftTransform]]) under a time/truncate
    * layout. This is the ONE place a pval is computed from data columns —
    * [[writeSnapshotFiles]] (and so every COW rewrite, compaction, and
    * branch write), [[dvPvalExpr]], and the COW verbs' touched-group
    * probes all route here, so a table's manifest pvals can never drift
    * from its declared layout no matter which verb wrote them. */
  private[sources] def layoutPvalExpr(spark: SparkSession, base: String,
      partCol: String): org.apache.spark.sql.Column = {
    val props = tableProperties(spark, base)
    // a MULTI-FIELD spec (spec.fields property) governs every new write;
    // the legacy single-field properties stay behind it describing the
    // pre-evolution entries (pruning only — never a write)
    GraftSpec.fromProps(props).foreach { spec =>
      val schema = props.get("schema").map(ManifestSchemaProp.parse)
        .getOrElse(throw new IllegalStateException(
          s"multi-field spec under $base needs the schema property"))
      return spec.pvalColumn(schema)
    }
    legacyPvalExpr(base, props, partCol)
  }

  /** The LEGACY (pre-multi-spec) single-field layout expression:
    * transform, bucket, or identity over `partCol` — split out of
    * [[layoutPvalExpr]] so [[eraPvalExprs]] can name the pre-evolution
    * era even after a multi spec has superseded it for writes. */
  private def legacyPvalExpr(base: String, props: Map[String, String],
      partCol: String): org.apache.spark.sql.Column =
    GraftTransform.fromProps(props) match {
      case Some(t) =>
        val dt = props.get("schema").map(ManifestSchemaProp.parse)
          .flatMap(_.fields.find(_.name.equalsIgnoreCase(partCol)))
          .map(_.dataType)
          .getOrElse(throw new IllegalStateException(
            s"transform layout under $base needs the schema property to " +
              s"type its source column $partCol"))
        t.pvalColumn(col(partCol), dt)
      case None => props.get("bucket.n").map(_.toInt) match {
        case Some(n) => GraftBucketFunction.idExpr(n, col(partCol))
        case None => col(partCol)
      }
    }

  /** EVERY pval expression a row may be manifested under across this
    * table's ERAS: the current layout first, then each superseded
    * `spec.hist.<id>` spec, then the legacy single-field layout (whose
    * properties a spec evolution leaves in place describing the
    * pre-multi entries). The COW verbs' touched-group probes fold rows
    * through ALL of these — a probe under the current spec alone would
    * miss matching rows manifested in pre-evolution files, carry those
    * files cold by reference, and silently undelete (or duplicate on
    * MERGE) them. On a never-evolved table this is exactly
    * [[layoutPvalExpr]], one expression, zero extra cost; extra era
    * expressions can only over-include (an unmatched pval touches no
    * manifest entry), never lose rows. */
  private[sources] def eraPvalExprs(spark: SparkSession, base: String,
      partCol: String): Seq[org.apache.spark.sql.Column] = {
    val props = tableProperties(spark, base)
    val cur = layoutPvalExpr(spark, base, partCol).cast("string")
    GraftSpec.fromProps(props) match {
      case None => Seq(cur)
      case Some(_) =>
        val schema = props.get("schema").map(ManifestSchemaProp.parse)
          .getOrElse(throw new IllegalStateException(
            s"multi-field spec under $base needs the schema property"))
        val hist = GraftSpec.history(props).toSeq.sortBy(_._1)
          .map(_._2.pvalColumn(schema).cast("string"))
        Seq(cur) ++ hist :+ legacyPvalExpr(base, props, partCol).cast("string")
    }
  }

  /** The touched-group probe across eras: the distinct manifest pvals
    * the given rows may occupy under ANY of this table's layout eras —
    * one metadata-sized pass over `rows`, however many eras exist. */
  private[sources] def touchedPvalsOf(spark: SparkSession, base: String,
      rows: DataFrame, partCol: String): Set[String] =
    rows.select(explode(array(eraPvalExprs(spark, base, partCol): _*)).as("__pv"))
      .distinct().collect().map(_.getString(0)).toSet

  /** Consolidate a STAGED vector dir's per-task parquet fragments into
    * ONE `vector.parquet`. Every later read of the table pays a
    * driver-side open per vector FILE (`pendingDvPairs` in the scan,
    * [[readDvPairs]], the CDF image builder) — a wide update leaves one
    * fragment per writer task (hundreds), and at tens of ms per open
    * that turned every scan of the table into seconds of driver-side
    * file juggling (q_spec2_update_mor read 23 s before, ~2 s after).
    * The merge is one distributed read + single-task write of a
    * matches-sized set, paid ONCE at commit. Skipped when the vector is
    * already compact or too big to funnel through one task (such a
    * vector is purge territory — and the in-scan path refuses it at 1M
    * pairs anyway). Runs pre-commit (the dir is invisible until the
    * `__dv` marker lands), so a crash mid-merge leaves only unreferenced
    * staging debris.
    *
    * The merge itself is a DRIVER-SIDE raw parquet pass, not a Spark
    * job: the set is bounded by the 256 MB guard (typically KBs of
    * (key, pval) pairs), and the old `repartition(1)` write paid a whole
    * job's fixed overhead — scheduler, shuffle, committer — per UPDATE
    * commit. Identical-schema fragments (one writer wrote them all)
    * stream group-by-group into one file through the same
    * [[LocalFastPath]] bypass the fragment writers use; a schema
    * mismatch (never expected) falls back to the Spark job. */
  private[sources] def consolidateDvDir(spark: SparkSession, base: String,
      rel: String): Unit = {
    val dir = new Path(base, rel)
    val fs = fsOf(spark, dir)
    val parts = fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
    if (parts.size <= 4 || parts.map(_.getLen).sum > 256L * 1024 * 1024) return
    val conf = new org.apache.hadoop.conf.Configuration()
    val schemas = parts.map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p.getPath, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    val mergedVec = new Path(dir, "vector.parquet")
    if (schemas.distinct.size == 1) {
      val tmp = new Path(base, s"_dv/.merge-${dir.getName}.parquet")
      fs.delete(tmp, false)
      val b = LocalFastPath.nioPath(tmp.toString, conf) match {
        case Some(nio) =>
          nio.getParent.toFile.mkdirs()
          org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(
            new org.apache.parquet.io.LocalOutputFile(nio))
        case None =>
          org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(tmp)
      }
      val w = b.withConf(conf).withType(schemas.head).build()
      try parts.foreach { p =>
        val r = org.apache.parquet.hadoop.ParquetReader.builder(
          new org.apache.parquet.hadoop.example.GroupReadSupport(), p.getPath)
          .withConf(conf).build()
        try {
          var g = r.read()
          while (g != null) { w.write(g); g = r.read() }
        } finally r.close()
      } finally w.close()
      if (!fs.rename(tmp, mergedVec))
        throw new java.io.IOException(s"DV merge move failed under $dir")
    } else {
      val tmp = new Path(base, s"_dv/.merge-${dir.getName}")
      // repartition (not coalesce): the fragment read stays parallel,
      // only the write funnels through one task
      spark.read.parquet(parts.map(_.getPath.toString): _*)
        .repartition(1).write.mode("overwrite").parquet(tmp.toString)
      val merged = fs.listStatus(tmp).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
      require(merged.size == 1, s"DV merge produced ${merged.size} files")
      if (!fs.rename(merged.head, mergedVec))
        throw new java.io.IOException(s"DV merge move failed under $dir")
      fs.delete(tmp, true)
    }
    parts.foreach(p => fs.delete(p.getPath, false))
  }

  /** MERGE-ON-READ DELETE — the deletion-vector trade-off (Delta DVs /
    * Iceberg v2 delete files) opposite [[deleteWhere]]'s copy-on-write:
    * instead of rewriting every touched partition NOW, record the deleted
    * keys (with their partitions) in a sidecar and commit a manifest that
    * CARRIES EVERY DATA FILE UNCHANGED — the delete costs one
    * predicate-pushed scan plus a keys-sized write, nothing else, no
    * matter how many partitions it touches. Readers pay instead:
    * [[readMoR]] anti-joins the accumulated vectors until
    * [[purgeDeletes]] folds them in. At 100 TB this is what makes
    * frequent fine-grained deletes (GDPR erasure across thousands of
    * partitions) affordable: O(matches) per delete, one consolidated
    * rewrite later. Crash-safe like every verb — the vector stages under
    * a UUID dir that no reader can see until the commit rename names its
    * `__dv` marker ([[DvMarker]] — visibility is atomic with the commit,
    * so a lost race can never leave a stray vector attached to the
    * winner's snapshot). Concurrency is classified like every verb: a
    * concurrent commit that left the vector's partitions' DATA untouched
    * (another DV, an append or rewrite elsewhere) rebases the marker and
    * retries; one that changed those partitions fails with
    * [[ConcurrentRewriteException]] — an appended row sharing a recorded
    * (key, partition) pair would otherwise be wrongly hidden.
    * Returns whether anything matched (no match → no commit). */
  def deleteWhereMoR(spark: SparkSession, base: String,
      pred: org.apache.spark.sql.Column, keyCol: String, partCol: String,
      raceInject: () => Unit = () => ()): Boolean = {
    val readV = currentVersion(spark, base)
    val rel = s"_dv/d-${java.util.UUID.randomUUID}"
    val dvPath = s"$base/$rel"
    val fs = fsOf(spark, new Path(base))
    val snapshot = readVersion(spark, base, readV)
    requireBigintKey(snapshot.schema, keyCol, base)
    // the predicate scan is pinned to the snapshot the retry validates;
    // __pval is the MANIFEST pval of the row's FILE (era-proof — see
    // filePvalExpr for the invariant)
    snapshot.filter(pred)
      .select(col(keyCol), filePvalExpr.as("__pval"))
      .write.parquet(dvPath)
    consolidateDvDir(spark, base, rel)
    val touched = spark.read.parquet(dvPath)
      .select(col("__pval")).distinct()
      .collect().map(_.getString(0)).toSet // DV-metadata-sized
    if (touched.isEmpty) {
      fs.delete(new Path(dvPath), true)
      return false
    }
    // the vector records (key, partition) PAIRS; readers need to know which
    // data column the partition value came from to scope the anti-join the
    // same way purgeDeletes scopes its rewrite — name it in a sidecar
    // (underscore-prefixed: invisible to parquet directory reads)
    val out = fs.create(new Path(dvPath, "_partcol"), true)
    try out.write(partCol.getBytes("UTF-8")) finally out.close()
    raceInject() // test hook: a concurrent commit between stage and commit
    var attempt = 0
    while (true) {
      attempt += 1
      val cur = currentVersion(spark, base)
      if (cur != readV) {
        // concurrent DV markers commute with this one (each names rows it
        // read at its own snapshot; the anti-join unions them) — only the
        // DATA of the vector's partitions must be unchanged
        val before = entries(spark, base, readV)
          .filter { case (p, _) => touched(p) }.toSet
        val now = entries(spark, base, cur)
          .filter { case (p, _) => touched(p) }.toSet
        if (before != now) {
          fs.delete(new Path(dvPath), true)
          throw new ConcurrentRewriteException(
            s"deleteWhereMoR under $base: partitions " +
              s"${touched.mkString("{", ",", "}")} changed between read " +
              s"(v$readV) and commit (v$cur) — the recorded keys are stale; " +
              "re-run the delete")
        }
      }
      val merged = (dvMarkersAt(spark, base, cur) :+ rel).map((DvMarker, _)) ++
        entries(spark, base, cur)
      try {
        commit(spark, base, cur + 1, merged)
        refreshAllStats(spark, base)
        return true
      } catch {
        case _: VersionConflictException if attempt < 20 => ()
      }
    }
    true // unreachable
  }

  /** MERGE-ON-READ UPDATE — the Delta DV-update design: ONE commit lands
    * a deletion vector naming the matched rows AND the updated copies as
    * appended files, so the update costs O(matches) writes instead of a
    * partition rewrite, and no committed file is touched.
    *
    * The correctness crux is that the vector must hide the OLD rows but
    * never the NEW ones, which share the same (key, partition) pairs.
    * Vectors are therefore VERSION-FENCED: the vector dir carries a
    * `_cut` sidecar — the staged files' dir version — and a row is
    * hidden only when its file's dir version (`files/v<K>/…`) is BELOW
    * the cut. Every
    * pre-existing file has K ≤ readV < cut; the update's own staged files
    * sit exactly AT the cut and survive. The fence keys off the dir
    * version the STAGED files use (not the landed version a retry may
    * reach), so it holds under rebase; a concurrent append staging the
    * same dir version is at-or-above every cut and is never hidden.
    * Delete-only vectors carry no cut (= hide unconditionally), so their
    * behavior — and every existing read path — is unchanged.
    *
    * Classification is STRICTER than the delete's: concurrent DVs do NOT
    * commute with an update (a racing delete of the same keys would hide
    * the update's new rows or miss them), so any DV landing after the
    * read aborts, as does any data change in the touched partitions.
    * Version fencing reads the dir version out of entry PATHS, so the
    * manifest must be all-relative — a shallow clone's borrowed absolute
    * entries carry the SOURCE's dir numbers and are refused.
    * Returns whether anything matched (no match → no commit). */
  def updateWhereMoR(spark: SparkSession, base: String,
      pred: org.apache.spark.sql.Column, set: Seq[(String, org.apache.spark.sql.Column)],
      keyCol: String, partCol: String,
      raceInject: () => Unit = () => ()): Boolean = {
    val readV = currentVersion(spark, base)
    val matched = readVersion(spark, base, readV).filter(pred)
    requireBigintKey(matched.schema, keyCol, base)
    require(entries(spark, base, readV).forall { case (_, rel) =>
      !(rel.startsWith("/") || rel.contains("://")) },
      s"updateWhereMoR under $base requires an all-relative manifest — " +
        "borrowed (clone) entries carry foreign dir versions the fence " +
        "cannot interpret; purge or materialize the clone first")
    val cut = cutFor(spark, base, readV)
    val rel = s"_dv/d-${java.util.UUID.randomUUID}"
    val dvPath = s"$base/$rel"
    val fs = fsOf(spark, new Path(base))
    matched
      .select(col(keyCol), filePvalExpr.as("__pval"))
      .write.parquet(dvPath)
    consolidateDvDir(spark, base, rel)
    val touched = spark.read.parquet(dvPath)
      .select(col("__pval")).distinct()
      .collect().map(_.getString(0)).toSet // DV-metadata-sized
    if (touched.isEmpty) {
      fs.delete(new Path(dvPath), true)
      return false
    }
    val out = fs.create(new Path(dvPath, "_partcol"), true)
    try out.write(partCol.getBytes("UTF-8")) finally out.close()
    writeDvCut(spark, base, rel, cut)
    // the updated copies stage under files/v<cut> — the fence pivot —
    // through the table's layout (bucket tables keep bucket-id pvals)
    val updated = set.foldLeft(matched) { case (d, (c, e)) => d.withColumn(c, e) }
    val staged = writeSnapshotFiles(spark, base, cut, updated, partCol)
    raceInject() // test hook: a concurrent commit between stage and commit
    var attempt = 0
    while (true) {
      attempt += 1
      val cur = currentVersion(spark, base)
      if (cur != readV) {
        val newDvs = dvMarkersAt(spark, base, cur)
          .diff(dvMarkersAt(spark, base, readV))
        val before = entries(spark, base, readV)
          .filter { case (p, _) => touched(p) }.toSet
        val now = entries(spark, base, cur)
          .filter { case (p, _) => touched(p) }.toSet
        if (newDvs.nonEmpty || before != now) {
          fs.delete(new Path(dvPath), true)
          staged.foreach { case (_, r) => fs.delete(new Path(base, r), true) }
          throw new ConcurrentRewriteException(
            s"updateWhereMoR under $base: the table changed between read " +
              s"(v$readV) and commit (v$cur) in a way the update cannot " +
              "rebase over (touched-partition data or a concurrent vector) " +
              "— re-run the update")
        }
      }
      val merged = (dvMarkersAt(spark, base, cur) :+ rel).map((DvMarker, _)) ++
        entries(spark, base, cur) ++ staged
      try {
        commit(spark, base, cur + 1, merged)
        refreshAllStats(spark, base)
        return true
      } catch {
        case _: VersionConflictException if attempt < 20 => ()
      }
    }
    true // unreachable
  }

  /** Highest dir version among a snapshot's entries — the number a NEW
    * version fence must clear to hide every pre-existing file. On a
    * pure-main history this is ≤ the manifest version (staged dirs never
    * outrun the landing version), but a fastForward can publish a
    * branch's files — and a pending-cut floor can stage appends — at dir
    * numbers AHEAD of main's, so fences compute from the entries, never
    * from version arithmetic alone. */
  private[sources] def maxDirVersion(es: Seq[(String, String)]): Int =
    if (es.isEmpty) 0 else es.map { case (_, rel) => dirVersionOf(rel) }.max

  /** The version fence for a NEW update vector read at `readV`: above
    * the read version AND above every pre-existing file's dir version
    * (staged copies go AT the cut; everything already committed must
    * fall below it). */
  private[sources] def cutFor(spark: SparkSession, base: String, readV: Int): Int =
    math.max(readV + 1, maxDirVersion(entries(spark, base, readV)) + 1)

  /** Smallest dir version NEW FILES may stage at while vectors are
    * pending: at-or-above every FINITE cut (strict-< fence → at-cut is
    * safe), so no carried update vector — e.g. one fastForward published
    * from a branch whose numbering ran ahead of main's — can hide a
    * freshly appended row that happens to share a recorded
    * (key, partition) pair. Delete-only vectors (cut = MaxValue) are
    * excluded: they hide by pair identity at any version, by design. */
  private[sources] def stageFloor(spark: SparkSession, base: String): Int = {
    val cuts = pendingDvRels(spark, base)
      .map(dvCutOf(spark, base, _)).filter(_ != Int.MaxValue)
    if (cuts.isEmpty) 0 else cuts.max
  }

  /** [[stageFloor]] over a BRANCH head's pending vectors. */
  private[sources] def stageFloorBranch(spark: SparkSession, base: String,
      name: String): Int = {
    val cuts = pendingBranchDvRels(spark, base, name)
      .map(dvCutOf(spark, base, _)).filter(_ != Int.MaxValue)
    if (cuts.isEmpty) 0 else cuts.max
  }

  /** The dir version a manifest entry's file was staged under
    * (`files/v<K>/…` → K; unparseable → -1, which every fence treats as
    * "older than any cut" — absolute clone paths keep full DV hiding). */
  private[sources] def dirVersionOf(rel: String): Int = {
    val m = DirVersionRe.findFirstMatchIn(rel)
    m.map(_.group(1).toInt).getOrElse(-1)
  }
  private val DirVersionRe = "files/v(\\d+)/".r

  /** A vector dir's version fence, from its `_cut` sidecar; delete-only
    * vectors carry none and hide unconditionally (= Int.MaxValue). */
  private[sources] def dvCutOf(spark: SparkSession, base: String, rel: String): Int = {
    val p = new Path(base, s"$rel/_cut")
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) Int.MaxValue
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
      finally in.close()
    }
  }

  private[sources] def writeDvCut(spark: SparkSession, base: String,
      rel: String, cut: Int): Unit = {
    val p = new Path(base, s"$rel/_cut")
    val out = fsOf(spark, p).create(p, true)
    try out.write(cut.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The pending vectors' (key, __pval, __cut) rows, schema-unified, the
    * cut stamped per dir from its `_cut` sidecar. */
  private[sources] def readDvPairs(spark: SparkSession, base: String,
      rels: Seq[String], keyCol: String): DataFrame =
    rels.map { rel =>
      spark.read.parquet(s"$base/$rel")
        .select(col(keyCol), col("__pval"),
          lit(dvCutOf(spark, base, rel)).as("__cut"))
    }.reduce(_ unionByName _)

  /** Read the current snapshot WITH pending deletion vectors applied —
    * the merge-on-read path: one left-anti join against the accumulated
    * vectors (typically broadcast — DVs are matches-sized, not
    * table-sized). The join is on the (key, partition-value) PAIR the
    * vector recorded, not the key alone: a key that also appears in a
    * partition the delete predicate did NOT match keeps those rows, which
    * is exactly the set [[purgeDeletes]] preserves — so the "after the
    * purge, [[read]] and readMoR agree" contract holds for non-unique and
    * cross-partition keys too. With no pending DVs this is exactly
    * [[read]]. */
  def readMoR(spark: SparkSession, base: String, keyCol: String): DataFrame = {
    val dvs = pendingDvRels(spark, base)
    val data = read(spark, base)
    if (dvs.isEmpty) data else hideDvRows(spark, base, data, dvs, keyCol)
  }

  /** `data` (a read of data files) minus the rows the vectors `dvs` hide,
    * joined on the (key, FILE-manifest-pval) pair each vector recorded —
    * the one join behind [[readMoR]], [[purgeDeletes]] and [[readBranch]]. */
  private[sources] def hideDvRows(spark: SparkSession, base: String,
      data: DataFrame, dvs: Seq[String], keyCol: String): DataFrame = {
    val keyed = data.withColumn("__pval", filePvalExpr)
    // FAST PATH — delete-only vectors (no `_cut` sidecar anywhere, the
    // common case): every named pair hides unconditionally, so the
    // plain broadcast anti-join suffices — no per-row file-version
    // extraction, no pair aggregation
    if (dvs.forall(rel => dvCutOf(spark, base, rel) == Int.MaxValue)) {
      // no distinct: LEFT ANTI is unaffected by duplicate build rows,
      // so deduplicating the vector would only buy an extra exchange
      // (the q_table_mor drift-watch found it — one whole stage of the
      // fast path was spent deduplicating an already-near-unique set)
      val pairs = spark.read
        .parquet(dvs.map(rel => s"$base/$rel"): _*)
        .select(col(keyCol), col("__pval"))
      keyed.join(broadcast(pairs), Seq(keyCol, "__pval"), "left_anti")
        .drop("__pval")
    } else {
      // per-pair MAX cut: if any vector hides the pair at this file's
      // version, the row is gone (a later unfenced delete of an updated
      // key hides the updated copy too, as it must)
      val pairs = readDvPairs(spark, base, dvs, keyCol)
        .groupBy(col(keyCol), col("__pval")).agg(max(col("__cut")).as("__cut"))
      keyed
        .withColumn("__fv",
          coalesce(regexp_extract(input_file_name(), "files/v(\\d+)/", 1)
            .cast("int"), lit(-1)))
        .join(broadcast(pairs), Seq(keyCol, "__pval"), "left")
        .filter(col("__cut").isNull || col("__fv") >= col("__cut"))
        .drop("__pval", "__fv", "__cut")
    }
  }

  /** REORG — fold the pending deletion vectors into the data (Delta's
    * `REORG TABLE ... APPLY (PURGE)`): rewrite ONLY the partitions the
    * vectors name (each DV row carries its partition value, so the
    * touched set is DV metadata, not a table scan), carry everything else
    * by reference, commit, then drop the vectors. After the purge
    * [[read]] and [[readMoR]] agree and every verb is available again.
    * Crash between the commit and the DV cleanup is benign: re-applying
    * a vector whose rows are already gone is a no-op anti-join. Returns
    * (partitions rewritten, keys purged). */
  def purgeDeletes(spark: SparkSession, base: String,
      keyCol: String, partCol: String, dryRun: Boolean = false): (Int, Long) = {
    val dvs = pendingDvRels(spark, base)
    if (dvs.isEmpty) return (0, 0L)
    val v = currentVersion(spark, base)
    val es = entries(spark, base, v)
    val dv = readDvPairs(spark, base, dvs, keyCol)
    val touched = dv.select(col("__pval")).distinct()
      .collect().map(_.getString(0)).toSet // DV-metadata-sized
    val nKeys = dv.select(col(keyCol)).distinct().count()
    // dryRun: the would-be summary (partitions the fold would rewrite,
    // keys it would purge) from the vectors alone — no scan, no commit
    if (dryRun) return (touched.size, nKeys)
    val (hot, _) = es.partition { case (pval, _) => touched(pval) }
    // the same (key, partition, version-fence) scoping readMoR applies
    val survivors = hideDvRows(spark, base,
      spark.read.parquet(hot.map { case (_, rel) => resolve(base, rel) }: _*),
      dvs, keyCol)
    val newFiles = writeSnapshotFiles(spark, base, v + 1, survivors, partCol)
    // the purge's commit DROPS the folded markers (dropDvMarkers) — a DV
    // that landed after the read is caught by the retry's marker check
    // and classifies as a conflict (this purge did not fold it)
    commitRetrying(spark, base, v, newFiles, Some(touched), dropDvMarkers = true)
    refreshAllStats(spark, base)
    val fs = fsOf(spark, new Path(base))
    dvs.foreach(rel => fs.delete(new Path(base, rel), true))
    (touched.size, nKeys)
  }

  /** Table properties — the format's tiny metadata key-value store
    * (`_manifests/table.properties`). The one load-bearing key today is
    * `partCol`, which lets the catalog's SQL INSERT path know the layout
    * column without the writer naming it. */
}
