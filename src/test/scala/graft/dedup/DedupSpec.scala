package graft.dedup

import graft.TestSpark
import graft.exprs.{Fingerprint, GraftFunctions, SimHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}
  import spark.implicits._

  /** Ground truth: brute-force word-3-gram Jaccard ≥ 0.9 over all pairs. */
  private lazy val plantedPairs: Set[(Long, Long)] = {
    val docs = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val sh = docs.map { case (id, t) =>
      val w = t.split(" ", -1); id -> w.sliding(3).map(_.mkString(" ")).toSet
    }.toMap
    (for {
      (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq if a < b
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= 0.9
    } yield (a, b)).toSet
  }

  test("exact dedup removes only true duplicates") {
    val d = graft.model.Tables.documents(spark, sf)
    val corpus = d.select("text").unionAll(d.limit(37).select("text"))
    assert(Dedup.exact(corpus, Seq("text")).count() === d.count())
  }

  test("MinHash LSH + exact verify recovers exactly the planted near-dup pairs") {
    val got = Dedup.nearDupPairs.fn(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got === plantedPairs)
    assert(got.nonEmpty)
  }

  test("SimHash pairs cover the planted near-dups with bounded false positives") {
    val got = Dedup.simhashPairs.fn(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val recall = plantedPairs.intersect(got).size.toDouble / plantedPairs.size
    assert(recall >= 0.7, s"simhash recall $recall too low (got ${got.size} pairs)")
    assert(got.size <= plantedPairs.size * 4, s"too many simhash false positives: ${got.size}")
  }

  test("simhash64: identical texts collide, token permutation keeps distance 0") {
    val a = SimHash64.compute(UTF8String.fromString("alpha beta gamma delta"))
    val b = SimHash64.compute(UTF8String.fromString("delta gamma beta alpha"))
    val c = SimHash64.compute(UTF8String.fromString("totally different words entirely"))
    assert(a === b) // bag-of-words: order-insensitive
    assert(java.lang.Long.bitCount(a ^ c) > 10)
  }

  test("fingerprints: shared long substring yields shared fingerprint (winnowing guarantee)") {
    val common = "the quick brown fox jumps over the lazy dog again and again"
    val f1 = Fingerprint.compute(UTF8String.fromString("PREFIX " + common)).toLongArray().toSet
    val f2 = Fingerprint.compute(UTF8String.fromString(common + " SUFFIX")).toLongArray().toSet
    assert(f1.intersect(f2).nonEmpty)
    val f3 = Fingerprint.compute(UTF8String.fromString("zzz yyy xxx www vvv uuu ttt sss")).toLongArray().toSet
    assert(f1.intersect(f3).isEmpty)
  }

  test("connectedComponents groups chains transitively with min-id labels") {
    // two components: a 4-node chain {1,2,3,4} and a pair {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("pointer-doubling converges in <= ceil(log2(diameter))+1 rounds on a diameter-8 chain") {
    // 9-node path graph 0-1-…-8: min-label propagation needs O(diameter)=8
    // rounds; the alternating star ops must do it in ceil(log2 8)+1 = 4
    // (it takes 3 contraction rounds: the fixpoint is observed on the last
    // one's own output). Probes are per round — see
    // connectedComponentsWithRounds on why batching them measured slower
    val chain = (0L until 8L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds, probes) = Dedup.connectedComponentsWithRounds(chain, "a", "b")
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got === (0L to 8L).map(_ -> 0L).toMap)
    assert(rounds <= 4, s"star rounds $rounds exceed ceil(log2(8))+1 = 4")
    assert(probes === rounds)
  }

  test("star components agree with min-label propagation on a mixed graph") {
    // chain + isolated pair + triangle + zig-zag ordered chain
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L),
      (5L, 9L), (9L, 7L), (7L, 6L)).toDF("a", "b")
    val star = Dedup.connectedComponents(pairs, "a", "b").as[(Long, Long)].collect().toMap
    val prop = Dedup.minLabelPropagation(pairs, "a", "b").as[(Long, Long)].collect().toMap
    assert(star === prop)
    assert(star(6L) === 5L) // zig-zag chain collapsed to its min
  }

  test("connected components handle empty and degenerate graphs") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(empty, "a", "b").count() === 0)
    // self-loop only: the node exists, labeled with itself
    val selfLoop = Seq((5L, 5L)).toDF("a", "b")
    val got = Dedup.connectedComponents(selfLoop, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(5L -> 5L))
  }

  test("dedup clusters partition the planted pair graph") {
    val clusters = Dedup.dedupClusters.fn(spark, sf)
      .select("cluster", "members_csv").as[(Long, String)].collect()
    val members = clusters.flatMap(_._2.split(",").map(_.toLong))
    val inPairs = plantedPairs.flatMap(p => Seq(p._1, p._2))
    assert(members.toSet === inPairs)           // exactly the paired docs
    assert(members.length === members.toSet.size) // each doc in ONE cluster
    clusters.foreach { case (c, csv) =>
      assert(csv.split(",").map(_.toLong).min === c) // representative = min id
    }
  }

  test("chunk dedup keeps each distinct chunk exactly once and actually drops duplicates") {
    val prof = Dedup.chunkDedup.fn(spark, sf).collect()
    val kept = prof.map(_.getAs[Long]("n_kept")).sum
    val total = prof.map(_.getAs[Long]("n_chunks")).sum
    assert(kept < total, "no duplicate chunk in the corpus — dedup untested")
    // global invariant: survivors = distinct chunk hashes
    val distinctChunks = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(explode(org.apache.spark.sql.functions.sequence(
        lit(0), size(col("w")) - 1, lit(32))).as("start"), col("w"))
      .select(md5(concat_ws(" ", slice(col("w"), col("start") + 1, lit(32)))).as("h"))
      .distinct().count()
    assert(kept === distinctChunks)
    prof.foreach { r =>
      assert(r.getAs[Long]("tokens_kept") <= r.getAs[Long]("tokens_total"))
    }
  }

  test("entity resolution: every planted corruption resolves to its true source, via equi-join blocks") {
    val res = EntityResolution.entityResolution.fn(spark, sf)
    // recall: both corruption types are distance-1 edits that preserve the
    // blocking character, so the true source is always in the block and
    // within threshold — no dirty record may miss
    val truth = graft.model.Tables.part(spark, sf)
      .filter(col("p_partkey") % 3 === 0)
      .select(col("p_partkey").as("d_id"), col("p_name").as("src"))
    val joined = res.join(truth, Seq("d_id")).cache()
    try {
      assert(joined.filter(col("n_match") < 1).count() === 0, "a corruption missed its block")
      assert(joined.filter(col("n_match") === 1 && col("best_match") =!= col("src")).count() === 0,
        "a unique match resolved to the wrong source")
      assert(joined.count() > 0)
      // candidate generation is blocked: an equi-join on the blocking key,
      // never a cross/nested-loop product over the catalog
      val plan = res.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
        s"ER plan fell back to an all-pairs product:\n$plan")
      // and blocks really restrict comparisons: fewer candidates per dirty
      // record than catalog names
      val catalog = graft.model.Tables.part(spark, sf).select("p_name").distinct().count()
      assert(joined.agg(max(col("n_cand"))).head.getLong(0) < catalog)
    } finally joined.unpersist()
    ()
  }

  test("fuzzy ER: token reorder + transposition both recovered; edit-distance-1 alone is blind to reorder") {
    val part = graft.model.Tables.part(spark, sf)
    val res = EntityResolution.erFuzzy.fn(spark, sf)
    val truth = part.filter(col("p_partkey") % 3 === 0)
      .select(col("p_partkey").as("d_id"), col("p_name").as("src"))
    val joined = res.join(truth, Seq("d_id")).cache()
    try {
      // full recall: length blocking survives both corruption families and
      // the hybrid comparator admits both — no dirty record may miss
      assert(joined.filter(col("n_match") < 1).count() === 0,
        "a planted corruption found no match under the hybrid comparator")
      assert(joined.count() > 0)
      // the REORDERED half is invisible to a pure levenshtein ≤ 1 matcher:
      // the true source sits at a large edit distance (tokens moved), which
      // is the reason the token-set comparator exists
      val reordered = truth.filter(col("d_id") % 2 === 0)
        .withColumn("d_name", concat_ws(" ", reverse(split(col("src"), " "))))
        .filter(col("d_name") =!= col("src")) // both-tokens-equal names aside
      val blindCount = reordered
        .filter(levenshtein(col("d_name"), col("src")) <= 1).count()
      assert(blindCount === 0,
        "fixture too easy: reorder should defeat single-edit matching")
      assert(reordered.count() > 0)
      // still blocked: equi-join, never a product
      val plan = res.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
        s"fuzzy ER plan fell back to an all-pairs product:\n$plan")
      val catalog = part.select("p_name").distinct().count()
      assert(joined.agg(max(col("n_cand"))).head.getLong(0) < catalog)
    } finally joined.unpersist()
    ()
  }

  test("multi-key blocking: each key alone is blind to its corruption class; the stack has full recall") {
    import org.apache.spark.sql.Column
    val part = graft.model.Tables.part(spark, sf)
    // the q_er_multikey fixture: even keys corrupt the FIRST character,
    // odd keys the LAST — each designed to escape exactly one blocking key
    val dirty = part.filter(col("p_partkey") % 3 === 0)
      .select(col("p_partkey").as("d_id"),
        when(col("p_partkey") % 2 === 0,
            concat(lit("x"), expr("substring(p_name, 2, 200)")))
          .otherwise(concat(expr("substring(p_name, 1, length(p_name) - 1)"), lit("x")))
          .as("d_name"))
    val clean = part.select(col("p_name").as("c_name")).distinct()
    def matchedBy(dk: Column, ck: Column): Set[Long] =
      dirty.withColumn("bk", dk)
        .join(clean.withColumn("bk", ck), Seq("bk"))
        .filter(levenshtein(col("d_name"), col("c_name")) <= 1)
        .select("d_id").distinct().as[Long].collect().toSet
    val byFirst = matchedBy(
      substring(col("d_name"), 1, 1), substring(col("c_name"), 1, 1))
    val byLast = matchedBy(
      expr("substring(d_name, length(d_name), 1)"),
      expr("substring(c_name, length(c_name), 1)"))
    val ids = dirty.select("d_id").as[Long].collect().toSet
    val evens = ids.filter(_ % 2 == 0)
    val odds = ids -- evens
    assert(evens.nonEmpty && odds.nonEmpty)
    // single-key recall gaps are exactly the designed corruption classes
    assert(byFirst.intersect(evens).isEmpty, "first-char key saw a first-char corruption")
    assert(odds.subsetOf(byFirst), "first-char key missed a last-char corruption")
    assert(byLast.intersect(odds).isEmpty, "last-char key saw a last-char corruption")
    assert(evens.subsetOf(byLast), "last-char key missed a first-char corruption")
    // the registered stacked query recovers everything, still without a product
    val res = EntityResolution.erMultiKey.fn(spark, sf)
    assert(res.filter(col("n_match") < 1).count() === 0, "stacked blocking missed a corruption")
    assert(res.count().toInt === ids.size)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

  test("streaming entity resolution equals the batch resolver bit-for-bit") {
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSeq
    val batch = key(EntityResolution.entityResolution.fn(spark, sf))
    val stream = key(EntityResolution.streamEntity.fn(spark, sf))
    assert(stream === batch)
    assert(stream.nonEmpty)
  }

  test("duplicated-passage spans are maximal, disjoint, and really duplicated") {
    // recompute the merged spans (not just the per-doc stats) and check the
    // interval-merge invariants the registered query's aggregates rest on
    val d = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val grams = d.filter(size(col("w")) >= 5)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("w")) - 4),
          i => struct(i.as("pos"),
            concat_ws(" ", slice(col("w"), i, lit(5))).as("gram")))).as("x"))
      .select(col("doc_id"), col("x.pos").as("pos"), col("x.gram").as("gram"))
    val dupG = grams.groupBy(col("gram")).count().filter(col("count") > 1)
    // every surviving gram occurs at >= 2 (doc, pos) sites — "duplicated"
    assert(dupG.count() > 0)
    val res = Dedup.dupPassages.fn(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val (n, tok, longest) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(longest >= 5, "a span covers at least one 5-gram")
      assert(tok >= n * 5, "disjoint spans each cover >= 5 tokens")
      assert(longest <= tok)
    }
    // coverage never exceeds the doc's token count (spans are disjoint and
    // clamped to the doc)
    val lens = d.select(col("doc_id"), size(col("w")).cast("long").as("len"))
    val joined = Dedup.dupPassages.fn(spark, sf).join(lens, "doc_id")
    assert(joined.filter(col("dup_tokens") > col("len")).count() === 0)
  }

  test("perplexity bands order by fluency and cover every scored doc") {
    val bands = graft.text.TrainingPrep.perplexityFilter.fn(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(bands.keySet === Set("clean", "fair", "noisy"))
    // avg micro-NLL per bigram must be ordered clean < fair < noisy — the
    // banding really separates fluency, it isn't a relabeled count
    def avg(b: String) = bands(b)._3.toDouble / bands(b)._2
    assert(avg("clean") < avg("fair") && avg("fair") < avg("noisy"))
    // every doc with >= 2 tokens is scored exactly once
    val scorable = graft.model.Tables.documents(spark, sf)
      .filter(size(split(col("text"), " ")) >= 2).count()
    assert(bands.values.map(_._1).sum === scorable)
  }

  test("expressions usable from SQL text after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT simhash64('a b c') AS h, size(fingerprints('abcdefghijklmnop')) AS n")
      .collect().head
    assert(r.getAs[Long]("h") === SimHash64.compute(UTF8String.fromString("a b c")))
    assert(r.getAs[Int]("n") > 0)
  }
}
