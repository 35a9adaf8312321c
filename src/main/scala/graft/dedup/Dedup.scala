package graft.dedup

import graft.QuerySpec
import graft.exprs.GraftFunctions
import graft.model.Tables
import graft.ops.Loop
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (content
  * hash), MinHash+LSH near-dup, SimHash near-dup, exact n-gram Jaccard
  * verification. Designed 100-TB-first: every path is
  * shingle → signature → band → shuffle-join on band key → verify only the
  * candidates, never an all-pairs comparison. (The brute-force Jaccard used
  * by the DuckDB oracle at test scale is the semantic spec, not the plan.)
  */
object Dedup {

  val NumHashes = 16
  val Bands = 8        // 8 bands × 2 rows: P(candidate) = 1-(1-j²)⁸
  val RowsPerBand = 2  //   ≈ 1 at j≥0.9, ~0.003 at j≈0.05

  /** Exact dedup: keep one row per distinct value of `cols` (hash-groupBy;
    * one shuffle of the hash key only). */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** Distinct word-3-gram shingles — native one-pass kernel
    * ([[graft.exprs.WordShinglesExpr]]); requires
    * [[GraftFunctions.register]] on the session. */
  def shingles(text: Column): Column = GraftFunctions.wordShingles(text)

  /** MinHash signature: 16 independent 64-bit hash minimums over the shingle
    * set (Broder 1997 resemblance sketch), all seeds in one pass —
    * native kernel ([[graft.exprs.MinHashSigExpr]]). */
  def minhashSignature(sh: Column): Column = GraftFunctions.minhashSig(sh)

  /** LSH banding of a signature: (band_idx, band_hash) rows; near-dups
    * collide in ≥1 band. */
  def bandsOf(sig: Column): Column =
    array((0 until Bands).map { b =>
      struct(
        lit(b).as("band_idx"),
        xxhash64((0 until RowsPerBand).map(r =>
          element_at(sig, b * RowsPerBand + r + 1)) :+ lit(b): _*).as("band_hash"))
    }: _*)

  /** Candidate pairs from MinHash LSH (doc_a < doc_b, distinct). */
  def lshCandidates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val banded = docs
      .select(col(idCol).as("doc"), shingles(col(textCol)).as("sh"))
      .withColumn("sig", minhashSignature(col("sh")))
      .select(col("doc"), explode(bandsOf(col("sig"))).as("b"))
      .select(col("doc"), col("b.band_idx").as("band_idx"), col("b.band_hash").as("band_hash"))
    val a = banded.select(col("doc").as("doc_a"), col("band_idx"), col("band_hash"))
    val b = banded.select(col("doc").as("doc_b"), col("band_idx"), col("band_hash"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact Jaccard between two docs' shingle sets (the verify step after
    * LSH candidate generation). */
  def jaccard(shA: Column, shB: Column): Column =
    size(array_intersect(shA, shB)) / size(array_union(shA, shB))

  // ---- registered queries ----------------------------------------------

  /** Exact dedup accounting over a corpus with planted duplicates (every
    * 10th doc repeated): md5 content-hash distinct counting. */
  val dedupExact: QuerySpec = QuerySpec.sql(
    "q_dedup_exact",
    """WITH corpus AS (SELECT text FROM documents
      |               UNION ALL SELECT text FROM documents WHERE doc_id % 10 = 0)
      |SELECT count(*) AS n_docs,
      |       count(DISTINCT md5(text)) AS n_unique,
      |       count(*) - count(DISTINCT md5(text)) AS n_dupes
      |FROM corpus""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
    val corpus = d.select("text")
      .unionAll(d.filter(col("doc_id") % 10 === 0).select("text"))
    corpus.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_unique"),
      (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dupes"))
  }

  /** MinHash+LSH near-dup pairs, verified with exact Jaccard ≥ 0.9.
    * Oracle = brute-force pairwise Jaccard (the semantic spec); with 8×2
    * banding the LSH miss probability at j=0.9 is (1-0.9²)⁸ ≈ 2e-6, so the
    * outputs agree. At scale the LSH path shuffles only band keys —
    * O(n·bands) — while the oracle's all-pairs is O(n²) and stays test-only. */
  val nearDupPairs: QuerySpec = QuerySpec.sql(
    "q_neardup_pairs",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |s AS (SELECT doc_id,
      |             list_distinct(list_transform(range(1, len(w) - 1),
      |                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |      FROM d)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
      |FROM s a JOIN s b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    graft.plans.GraftExtensions.install(spark) // fuses the Jaccard division
    val d = Tables.documents(spark, dir)
    val withSh = d.select(col("doc_id"), shingles(col("text")).as("sh"))
    val cands = lshCandidates(d, "doc_id", "text")
    val a = withSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = withSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    cands.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---- DuckDB oracle twins of the native hash kernels --------------------
  // The hash families (FNV-1a 64, SplitMix64, Karp-Rabin) are pure 64-bit
  // wrapping arithmetic, so the oracles replay them bit-exactly in HUGEINT
  // with an explicit mod-2^64 after every multiply. Constants are embedded
  // from the SAME Scala definitions the native expressions use.
  // M64 / Half / mulmod / signed / fnvStep now live in
  // [[graft.exprs.OracleSql]], shared with the multimodal decode oracle.
  import graft.exprs.OracleSql.{M64, Half, mulmod, signed, fnvStep}

  /** MinHash signatures themselves (per doc) — the reusable sketch that a
    * cross-corpus dedup would persist. The signature is emitted as a scalar
    * `,`-joined encoding so the driver's comparator can sort/hash the rows
    * (raw `array<bigint>` columns are unhashable on the pandas side); the
    * array form stays internal ([[minhashSignature]]) for LSH banding reuse.
    * Oracle: DuckDB replays shingling (same split as the verified
    * q_neardup_pairs), per-shingle FNV-1a 64 as a recursive CTE (xor of the
    * low byte + a 2^40 multiplier, safely inside INT128), then the 16
    * SplitMix64 lanes with split multiplies, taking mins over the SIGNED
    * values exactly like the Scala kernel. Shingle-less docs fall back to
    * the Long.MaxValue-filled signature. */
  val minhashSigs: QuerySpec = {
    val seedVals = graft.exprs.MinHashOps.seeds.zipWithIndex
      .map { case (s, j) => s"($j, ${java.lang.Long.toUnsignedString(s)}::HUGEINT)" }
      .mkString(", ")
    val emptySig = Seq.fill(NumHashes)(Long.MaxValue.toString).mkString(",")
    QuerySpec.sql(
      "q_dedup_minhash",
      s"""WITH RECURSIVE
         |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1),
         |             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh FROM d),
         |fnv AS (
         |  SELECT doc_id, sh, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM s
         |  UNION ALL
         |  SELECT doc_id, sh, i + 1,
         |         ${fnvStep("ascii(substring(sh, i + 1, 1))")}
         |  FROM fnv WHERE i < length(sh)),
         |base AS (SELECT doc_id, h FROM fnv WHERE i = length(sh)),
         |m0 AS (SELECT doc_id, sd.j, xor(base.h, sd.v) AS z
         |       FROM base, (VALUES $seedVals) sd(j, v)),
         |m1 AS (SELECT doc_id, j, ${mulmod("xor(z, z // 1073741824)", 0xbf58476d1ce4e5b9L)} AS z FROM m0),
         |m2 AS (SELECT doc_id, j, ${mulmod("xor(z, z // 134217728)", 0x94d049bb133111ebL)} AS z FROM m1),
         |m3 AS (SELECT doc_id, j, ${signed("xor(z, z // 2147483648)")} AS hz FROM m2),
         |mins AS (SELECT doc_id, j, min(hz) AS mn FROM m3 GROUP BY 1, 2),
         |sg AS (SELECT doc_id, string_agg(mn, ',' ORDER BY j) AS sig FROM mins GROUP BY 1)
         |SELECT d2.doc_id, COALESCE(sg.sig, '$emptySig') AS sig
         |FROM documents d2 LEFT JOIN sg ON d2.doc_id = sg.doc_id
         |ORDER BY d2.doc_id""".stripMargin) { (spark, dir) =>
      GraftFunctions.register(spark)
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          concat_ws(",", minhashSignature(shingles(col("text"))).cast("array<string>")).as("sig"))
        .orderBy(col("doc_id"))
    }
  }

  /** SimHash near-dup: 64-bit simhash per doc (native codegen'd
    * Expression), banded into 4×16-bit chunks, candidates joined on chunk,
    * kept at Hamming distance ≤ 3 (the pigeonhole bound for 4-chunk
    * banding: a shared chunk is guaranteed only up to 3 differing bits).
    * The ScalaTest suite asserts it recovers the planted near-dup pairs.
    * Oracle: DuckDB recomputes the simhash (per-token FNV-1a votes on each
    * of the 64 bits) and emits ALL pairs at Hamming ≤ 3 — equivalent to
    * the banded plan by the same pigeonhole argument, since ≤ 3 differing
    * bits always leave ≥ 1 of the 4 chunks identical. */
  val simhashPairs: QuerySpec = QuerySpec.sql(
    "q_dedup_simhash",
    s"""WITH RECURSIVE
       |toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS tok
       |  FROM documents),
       |fnv AS (
       |  SELECT doc_id, tok, 0 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM toks
       |  UNION ALL
       |  SELECT doc_id, tok, i + 1,
       |         ${fnvStep("ascii(substring(tok, i + 1, 1))")}
       |  FROM fnv WHERE i < length(tok)),
       |th AS (SELECT doc_id, h FROM fnv WHERE i = length(tok)),
       |bits AS (
       |  SELECT doc_id, b,
       |         SUM(CASE WHEN (h // CAST(power(2, b) AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS cnt
       |  FROM th, (SELECT unnest(range(0, 64)) AS b)
       |  GROUP BY 1, 2),
       |sim AS (
       |  SELECT doc_id,
       |         SUM(CASE WHEN cnt > 0 THEN CAST(power(2, b) AS HUGEINT) ELSE 0::HUGEINT END) AS u
       |  FROM bits GROUP BY 1),
       |sims AS (
       |  SELECT d.doc_id, ${signed("COALESCE(s.u, 0::HUGEINT)")} AS sh
       |  FROM documents d LEFT JOIN sim s USING (doc_id))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
       |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), GraftFunctions.simhash64(col("text")).as("sh"))
    val chunked = d.select(
      col("doc_id"), col("sh"),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("chunk_idx"),
          shiftrightunsigned(col("sh"), j * 16).bitwiseAND(lit(0xFFFFL)).as("chunk"))): _*)).as("c"))
      .select(col("doc_id"), col("sh"), col("c.chunk_idx"), col("c.chunk"))
    val a = chunked.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("chunk_idx"), col("chunk"))
    val b = chunked.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("chunk_idx"), col("chunk"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Winnowed fingerprint overlap (copy detection): explode each doc's
    * fingerprint set (native Expression), group by fingerprint, count docs
    * sharing it — one shuffle, no pairwise work. Oracle: with k=8 fixed,
    * every k-gram's Karp-Rabin hash is a degree-7 polynomial mod 2^64
    * (identical to the rolled form — wrapping Long arithmetic IS the
    * mod-2^64 ring), so DuckDB computes it directly per position; the
    * rightmost-min winnow is a 4-row window frame minimizing the
    * order-encoding `(signed hash ↑, index ↓)` packed into one HUGEINT,
    * with consecutive equal picks collapsed by index exactly like the
    * kernel's `lastPicked` guard. */
  val fingerprintOverlap: QuerySpec = {
    import graft.exprs.{Fingerprint => FP}
    // B^j mod 2^64 via the same wrapping Long multiply the kernel uses
    val pw = new Array[Long](FP.K)
    pw(0) = 1L
    (1 until FP.K).foreach(j => pw(j) = pw(j - 1) * 1000003L)
    val terms = (0 until FP.K).map(t =>
      s"ascii(substring(text, p + $t, 1)) * ${java.lang.Long.toUnsignedString(pw(FP.K - 1 - t))}::HUGEINT")
      .mkString(" + ")
    QuerySpec.sql(
      "q_fingerprint",
      s"""WITH kg AS (
         |  SELECT doc_id, CAST(p AS BIGINT) AS idx,
         |         (($terms) % $M64) AS hu,
         |         length(text) - ${FP.K - 1} AS m
         |  FROM documents, unnest(range(1, length(text) - ${FP.K - 2})) AS t(p)
         |  WHERE length(text) >= ${FP.K}),
         |kg2 AS (
         |  SELECT doc_id, idx, m, ${signed("hu")} AS hz,
         |         CASE WHEN hu >= $Half THEN hu - $Half ELSE hu + $Half END AS hord
         |  FROM kg),
         |win AS (
         |  SELECT doc_id, idx AS w0, m,
         |         min(hord * 4294967296::HUGEINT + (4294967295 - idx)) OVER
         |           (PARTITION BY doc_id ORDER BY idx
         |            ROWS BETWEEN CURRENT ROW AND ${FP.W - 1} FOLLOWING) AS key
         |  FROM kg2 WHERE m > ${FP.W}),
         |picks AS (
         |  SELECT doc_id, w0,
         |         4294967295 - CAST(key % 4294967296 AS BIGINT) AS min_idx,
         |         CAST((key // 4294967296) - $Half AS BIGINT) AS hz
         |  FROM win WHERE w0 + ${FP.W - 1} <= m),
         |dedup AS (
         |  SELECT doc_id, hz FROM (
         |    SELECT doc_id, hz, min_idx,
         |           lag(min_idx) OVER (PARTITION BY doc_id ORDER BY w0) AS prev_idx
         |    FROM picks)
         |  WHERE prev_idx IS NULL OR min_idx <> prev_idx),
         |smalls AS (SELECT doc_id, min(hz) AS hz FROM kg2 WHERE m <= ${FP.W} GROUP BY 1),
         |fps AS (SELECT doc_id, hz FROM dedup UNION ALL SELECT doc_id, hz FROM smalls),
         |byfp AS (SELECT hz, count(DISTINCT doc_id) AS n_docs FROM fps GROUP BY 1)
         |SELECT n_docs, count(*) AS n_fingerprints
         |FROM byfp WHERE n_docs >= 2 GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
      GraftFunctions.register(spark)
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(GraftFunctions.fingerprints(col("text"))).as("fp"))
        .groupBy(col("fp"))
        .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occurrences"))
        .filter(col("n_docs") >= 2)
        .groupBy(col("n_docs"))
        .agg(count(lit(1)).as("n_fingerprints"))
        .orderBy(col("n_docs"))
    }
  }

  /** Connected components by the alternating large-star / small-star
    * formulation (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014) — pointer doubling over the edge set, O(log n)
    * rounds instead of O(diameter):
    *
    *  - large-star: every node's strictly-larger neighbors re-attach to the
    *    minimum of its neighborhood (incl. itself);
    *  - small-star: every node and its smaller neighbors re-attach to the
    *    overall minimum of that set.
    *
    * Both steps are one aggregation + one equi-join over the edge list — no
    * neighbor-list buffering, no driver-side graph. The fixpoint is a union
    * of disjoint stars, each centered at its component's minimum id, from
    * which per-node labels fall out directly. Lineage is cut per round with
    * `localCheckpoint`; convergence is enforced (`require`), never silent. */
  def connectedComponents(
      pairs: DataFrame, srcCol: String, dstCol: String, maxIter: Int = 25): DataFrame =
    connectedComponentsWithRounds(pairs, srcCol, dstCol, maxIter)._1

  /** One large-star + small-star contraction round, LAZY — no action, no
    * checkpoint; callers compose and materialize. Returns the round's new
    * (a, b) pairs, repeats included: [[byNode]] makes them distinct. */
  private def starRound(edges: DataFrame, bcastRows: Long = -1L): DataFrame = {
    // large-star: for each directed (x, y) with y > x, re-attach y to
    // m(x) = min(Γ(x) ∪ {x}); m ≤ x < y keeps the (larger, smaller)
    // orientation with no re-sorting and never makes a self-loop
    val nbrs = edges.select(col("u").as("x"), col("v").as("y"))
      .unionAll(edges.select(col("v").as("x"), col("u").as("y")))
    // the per-node min side is one row per node (always the smaller side).
    // When the caller's node count fits the broadcast budget, broadcast it
    // — the nbrs/afterLarge side then never shuffles for the join at all;
    // otherwise shuffle_hash (hash beats sort-merge here — the round's
    // output feeds an aggregate, so SMJ's sort order is thrown away;
    // A/B-measured 0.66x/0.80x in r17, and the broadcast form below
    // re-measured on top of it in r18). Per-partition build state stays
    // bounded either way, so both plans are safe at any scale.
    def stateSide(df: DataFrame): DataFrame =
      if (bcastRows >= 0 && graft.ops.AdaptiveBroadcast.fits(df, bcastRows))
        broadcast(df)
      else df.hint("shuffle_hash")
    val minsL = nbrs.groupBy(col("x")).agg(min(col("y")).as("mn"))
      .select(col("x"), least(col("x"), col("mn")).as("m"))
    // large-star's output may repeat an edge; it is not made distinct here,
    // because the small-star min ignores repeats and [[byNode]]'s distinct
    // drops them (one exchange fewer per round)
    val afterLarge = nbrs.filter(col("y") > col("x"))
      .join(stateSide(minsL), Seq("x"))
      .select(col("y").as("u"), col("m").as("v"))
    // small-star: all edges here point down (u > v); every u and its
    // smaller neighbors re-attach to min(Γ⁻(u) ∪ {u})
    val minsS = afterLarge.groupBy(col("u")).agg(min(col("v")).as("m"))
    afterLarge.join(stateSide(minsS), Seq("u"))
      .select(col("v").as("a"), col("m").as("b"))
      .unionAll(minsS.select(col("u").as("a"), col("m").as("b")))
      .filter(col("a") =!= col("b"))
  }

  /** The distinct undirected edges of (a, b) pairs seen from each end: one
    * row per (node n, neighbour o), hash-partitioned by n, so that the
    * per-node figures are window aggregates with no second exchange. The
    * edges are the rows with o < n (u = n, v = o). A self-loop or a pair
    * with a null end keeps its nodes and makes no edge. `head` flags one
    * row per node; `star` is false on a node that breaks star form — more
    * than one smaller neighbour, or one and also a larger one. A graph
    * with no such node is a union of min-rooted stars, which both star
    * ops map to itself: the fixpoint. */
  private def byNode(pairs: DataFrame): DataFrame = {
    val ends = pairs
      .select(explode(array(struct(col("a").as("n"), col("b").as("o")),
        struct(col("b").as("n"), col("a").as("o")))).as("e"))
      .select(col("e.n").as("n"), col("e.o").as("o"))
      .repartition(col("n"))
      .distinct()
    val node = Window.partitionBy(col("n"))
    val lower = count(when(col("o") < col("n"), 1)).over(node)
    val higher = count(when(col("o") > col("n"), 1)).over(node)
    ends.select(col("n"), col("o"),
      (row_number().over(node.orderBy(col("o"))) === 1).as("head"),
      (lower <= 1 && !(lower === 1 && higher > 0)).as("star"))
  }

  private def edgesOf(view: DataFrame): DataFrame =
    view.filter(col("o") < col("n")).select(col("n").as("u"), col("o").as("v"))

  /** [[connectedComponents]] plus (star rounds run, convergence probes run)
    * — exposed so tests can pin the O(log n) convergence bound. Every
    * round carries its own probe, so the two counts agree.
    *
    * The probe costs no job of its own: each round's checkpoint is the
    * [[byNode]] view of its output, whose job also observes the edge count
    * and whether any node breaks star form. The loop stops on the first
    * star-form edge set — already the fixpoint, so no further round has
    * to run to see nothing change (and a pair graph that is star-form from
    * the start runs no round at all). Batching two rounds per probe
    * (round-6 experiment) measured ~2× SLOWER at sf0.1: a batched probe
    * detects the fixpoint one full batch late and so pays up to TWO extra
    * star rounds. */
  def connectedComponentsWithRounds(
      pairs: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25): (DataFrame, Int, Int) = {
    val edgeCount = count(when(col("o") < col("n"), 1))
    val unstarred = count(when(!col("star"), 1))
    // the pair plan (for the registry's callers an LSH join plus a
    // verification) runs once: nodes and edges both derive from this cut
    val (view, st) = Loop.cut(byNode(pairs.select(col(srcCol).as("a"), col(dstCol).as("b"))),
      count(when(col("head"), 1)), edgeCount, unstarred)
    val nodes = view.filter(col("head")).select(col("n").as("id"))
    // node count bounds every round's per-node min side and decides the
    // rounds' join strategy
    val nNodes = st.getLong(0)
    var edges = edgesOf(view)
    var nEdges = st.getLong(1)
    var stable = st.getLong(2) == 0
    var rounds = 0
    while (!stable && rounds < maxIter) {
      val (next, c) = Loop.cut(byNode(starRound(edges, nNodes)), edgeCount, unstarred)
      rounds += 1
      edges = edgesOf(next)
      nEdges = c.getLong(0)
      stable = c.getLong(1) == 0
    }
    require(stable, s"connectedComponents did not converge in $maxIter rounds")
    val labels = nodes
      .join(graft.ops.AdaptiveBroadcast.ifFits(
        edges.select(col("u").as("id"), col("v").as("lbl")), nEdges), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
    (labels, rounds, rounds)
  }

  /** Reference implementation: iterative min-label propagation, one
    * equi-join + min-agg per round, O(component diameter) rounds. Kept as
    * the equivalence oracle for [[connectedComponents]] (and the simpler
    * mental model); the star formulation is the registered path because
    * diameter is unbounded on adversarial graphs. Refuses to return an
    * inconsistent labeling: hitting maxIter without a fixpoint throws. */
  def minLabelPropagation(
      pairs: DataFrame, srcCol: String, dstCol: String, maxIter: Int = 20): DataFrame = {
    val edges = pairs
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionAll(pairs.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("lbl").as("dlbl")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("dlbl")).as("nlbl"))
      val updated = labels
        .join(neighborMin.select(col("src").as("id"), col("nlbl")), Seq("id"), "left_outer")
        .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint()
      changed = updated.select(col("id"), col("lbl").as("new_lbl"))
        .join(labels, Seq("id"))
        .filter(col("new_lbl") =!= col("lbl")).count()
      labels = updated
      iter += 1
    }
    require(changed == 0, s"minLabelPropagation did not converge in $maxIter rounds")
    labels
  }

  /** Dedup clustering — the step AFTER near-dup pair detection that a real
    * corpus dedup needs: group transitively-connected near-dups into
    * clusters and elect the min-doc_id representative (keep one, drop the
    * rest). Pairs come from the MinHash-LSH + exact-Jaccard≥0.9 path;
    * components via [[connectedComponents]]. Oracle: DuckDB recursive-CTE
    * reachability over the brute-force pair graph. */
  val dedupClusters: QuerySpec = QuerySpec.sql(
    "q_dedup_clusters",
    """WITH RECURSIVE
      |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |s AS (SELECT doc_id,
      |             list_distinct(list_transform(range(1, len(w) - 1),
      |                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |      FROM d),
      |p AS (SELECT a.doc_id AS src, b.doc_id AS dst
      |      FROM s a JOIN s b ON a.doc_id < b.doc_id
      |      WHERE len(list_intersect(a.sh, b.sh))
      |              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9),
      |edges AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |reach(id, lbl) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
      |comp AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY 1)
      |SELECT cluster, count(*) AS n_docs,
      |       array_to_string(array_agg(id ORDER BY id), ',') AS members_csv
      |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    graft.plans.GraftExtensions.install(spark)
    val d = Tables.documents(spark, dir)
    val withSh = d.select(col("doc_id"), shingles(col("text")).as("sh"))
    val a = withSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = withSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val pairs = lshCandidates(d, "doc_id", "text")
      .join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .filter(jaccard(col("sh_a"), col("sh_b")) >= 0.9)
      .select("doc_a", "doc_b")
    connectedComponents(pairs, "doc_a", "doc_b")
      .groupBy(col("lbl").as("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        concat_ws(",", sort_array(collect_list(col("id")))).as("members_csv"))
      .orderBy(col("cluster"))
  }

  /** INCREMENTAL ingest dedup — the production shape of near-dup dedup:
    * an incoming batch (docs with doc_id % 10 = 9 here) is checked against
    * the EXISTING corpus (everything else) and incoming docs that
    * near-duplicate (LSH candidates + exact Jaccard ≥ 0.9) any existing doc
    * are dropped. Only cross-side band collisions are joined — the existing
    * corpus's banded signatures are exactly what a real pipeline would keep
    * persisted between batches ([[minhashSigs]]), so each ingest costs
    * O(batch·bands) lookups, never a corpus rescan. Oracle: brute-force
    * cross-side Jaccard. */
  val dedupIncremental: QuerySpec = QuerySpec.sql(
    "q_dedup_incremental",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |s AS (SELECT doc_id,
      |             list_distinct(list_transform(range(1, len(w) - 1),
      |                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |      FROM d),
      |inc AS (SELECT * FROM s WHERE doc_id % 10 = 9),
      |ex AS (SELECT * FROM s WHERE doc_id % 10 <> 9),
      |dup AS (SELECT DISTINCT i.doc_id
      |        FROM inc i JOIN ex e
      |          ON len(list_intersect(i.sh, e.sh))
      |               / len(list_distinct(list_concat(i.sh, e.sh))) >= 0.9)
      |SELECT (SELECT count(*) FROM inc) AS incoming,
      |       (SELECT count(*) FROM dup) AS dropped,
      |       (SELECT count(*) FROM inc) - (SELECT count(*) FROM dup) AS kept""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    graft.plans.GraftExtensions.install(spark)
    val d = Tables.documents(spark, dir)
    val withSh = d.select(col("doc_id"), shingles(col("text")).as("sh"))
    // bands carry only (id, band key) — the shingle arrays are attached
    // AFTER candidate generation, so the 8× band fan-out never replicates
    // them through the shuffle (same shape as q_neardup_pairs)
    val banded = withSh
      .withColumn("sig", minhashSignature(col("sh")))
      .select(col("doc_id"), explode(bandsOf(col("sig"))).as("b"))
      .select(col("doc_id"), col("b.band_idx").as("band_idx"),
        col("b.band_hash").as("band_hash"))
    val cands = banded.filter(col("doc_id") % 10 === 9)
      .select(col("doc_id").as("inc_id"), col("band_idx"), col("band_hash"))
      .join(banded.filter(col("doc_id") % 10 =!= 9)
        .select(col("doc_id").as("ex_id"), col("band_idx"), col("band_hash")),
        Seq("band_idx", "band_hash"))
      .select("inc_id", "ex_id").distinct()
    val dropped = cands
      .join(withSh.select(col("doc_id").as("inc_id"), col("sh").as("inc_sh")), Seq("inc_id"))
      .join(withSh.select(col("doc_id").as("ex_id"), col("sh").as("ex_sh")), Seq("ex_id"))
      .filter(jaccard(col("inc_sh"), col("ex_sh")) >= 0.9)
      .select("inc_id").distinct()
      .agg(count(lit(1)).as("dropped"))
    val incoming = d.filter(col("doc_id") % 10 === 9)
      .agg(count(lit(1)).as("incoming"))
    incoming.crossJoin(dropped)
      .select(col("incoming"), col("dropped"),
        (col("incoming") - col("dropped")).as("kept"))
  }

  /** Keep-BEST-representative dedup — what a production pipeline actually
    * keeps from each near-dup cluster: not the min-id doc but the highest
    * QUALITY one (here n_chars, ties to the lower doc_id). Same LSH
    * pairs → star components as [[dedupClusters]]; the selection is one
    * window argmax per cluster over the (tiny relative to the corpus)
    * clustered docs, with the dropped members listed for audit. The
    * oracle replays reachability + the same argmax. */
  val dedupBest: QuerySpec = QuerySpec.sql(
    "q_dedup_best",
    """WITH RECURSIVE
      |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |s AS (SELECT doc_id,
      |             list_distinct(list_transform(range(1, len(w) - 1),
      |                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |      FROM d),
      |p AS (SELECT a.doc_id AS src, b.doc_id AS dst
      |      FROM s a JOIN s b ON a.doc_id < b.doc_id
      |      WHERE len(list_intersect(a.sh, b.sh))
      |              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9),
      |edges AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |reach(id, lbl) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
      |comp AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY 1),
      |q AS (SELECT comp.cluster, comp.id, doc.n_chars,
      |             row_number() OVER (PARTITION BY comp.cluster
      |                                ORDER BY doc.n_chars DESC, comp.id ASC) AS rk
      |      FROM comp JOIN documents doc ON comp.id = doc.doc_id)
      |SELECT cluster, count(*) AS n_docs,
      |       CAST(min(CASE WHEN rk = 1 THEN id END) AS BIGINT) AS kept_doc,
      |       CAST(min(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS kept_chars,
      |       array_to_string(array_agg(CASE WHEN rk > 1 THEN id END ORDER BY id), ',')
      |         AS dropped_csv
      |FROM q GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    graft.plans.GraftExtensions.install(spark)
    val d = Tables.documents(spark, dir)
    val withSh = d.select(col("doc_id"), shingles(col("text")).as("sh"))
    val a = withSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = withSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val pairs = lshCandidates(d, "doc_id", "text")
      .join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .filter(jaccard(col("sh_a"), col("sh_b")) >= 0.9)
      .select("doc_a", "doc_b")
    val labeled = connectedComponents(pairs, "doc_a", "doc_b")
      .join(d.select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
    val w = Window.partitionBy(col("lbl"))
      .orderBy(col("n_chars").desc, col("id").asc)
    labeled.withColumn("rk", row_number().over(w))
      .groupBy(col("lbl").as("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        min(when(col("rk") === 1, col("id"))).as("kept_doc"),
        min(when(col("rk") === 1, col("n_chars"))).as("kept_chars"),
        concat_ws(",", sort_array(collect_list(when(col("rk") > 1, col("id")))))
          .as("dropped_csv"))
      .orderBy(col("cluster"))
  }

  /** CHUNK-LEVEL (paragraph) DEDUP — exact dedup at SUB-document
    * granularity: documents split into non-overlapping 32-token chunks,
    * each chunk content-hashed, and only the globally FIRST occurrence of
    * each hash (smallest (doc_id, offset)) survives — the production
    * pattern for boilerplate and quotation removal, where near-identical
    * documents share most paragraphs but whole-doc dedup keeps both
    * copies. One shuffle on the content hash (the [[dedupExact]] plan at
    * chunk granularity — at 100 TB the hash group-by is the same
    * linear-shuffle shape, ~30× more rows than documents). Output is the
    * per-document retention profile: a duplicated document keeps 0 chunks
    * unless it is the first copy, and partially-copied documents surface
    * as tokens_kept < tokens_total. */
  val chunkDedup: QuerySpec = QuerySpec.sql(
    "q_chunk_dedup",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |s AS (SELECT doc_id, w, unnest(range(0, len(w), 32)) AS start FROM d),
      |c AS (SELECT doc_id, CAST(start AS INTEGER) AS start,
      |             CAST(len(list_slice(w, start + 1, start + 32)) AS INTEGER) AS ntok,
      |             md5(array_to_string(list_slice(w, start + 1, start + 32), ' ')) AS h
      |      FROM s),
      |r AS (SELECT *, row_number() OVER (PARTITION BY h
      |                                   ORDER BY doc_id, start) AS rk FROM c)
      |SELECT doc_id,
      |       count(*) AS n_chunks,
      |       CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       CAST(sum(ntok) AS BIGINT) AS tokens_total,
      |       CAST(sum(CASE WHEN rk = 1 THEN ntok ELSE 0 END) AS BIGINT) AS tokens_kept
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val chunk = 32
    val w = split(col("text"), " ")
    val chunks = Tables.documents(spark, dir)
      .select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - 1, lit(chunk))).as("start"))
      .select(col("doc_id"), col("start").cast("int").as("start"),
        size(slice(col("w"), col("start") + 1, lit(chunk))).as("ntok"),
        md5(concat_ws(" ", slice(col("w"), col("start") + 1, lit(chunk)))).as("h"))
    val byFirst = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("start"))
    chunks.withColumn("rk", row_number().over(byFirst))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(col("ntok")).cast("long").as("tokens_total"),
        sum(when(col("rk") === 1, col("ntok").cast("long")).otherwise(0L)).as("tokens_kept"))
      .orderBy(col("doc_id"))
  }

  /** DUPLICATED-PASSAGE detection — substring-grain dedup in the spirit of
    * Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    * Better", the ExactSubstr pass): find every position where a 5-token
    * window recurs ANYWHERE in the corpus, then merge overlapping hits
    * into maximal duplicated spans per document. Lee et al. build a
    * corpus-wide suffix array; the distributed formulation is an inverted
    * index instead — explode (doc, pos, 5-gram), one hash shuffle on the
    * gram to find grams with corpus frequency > 1, equi-join the hits
    * back, and interval-merge per document with two bounded windows (the
    * running-max + flag-cumsum island pattern of `q_interval_merge`;
    * partitioned by doc_id, so no window ever exceeds one document's
    * hits). Reported per doc: merged span count, duplicated-token
    * coverage, and the longest span — exactly the statistics that decide
    * whether to cut the spans or drop the doc. At 100 TB the gram shuffle
    * dominates and is unavoidable (it IS the duplicate discovery); rare
    * grams could be pre-filtered by a count-min sketch, but exactness is
    * the point of the ExactSubstr pass. */
  val dupPassages: QuerySpec = QuerySpec.sql(
    "q_dup_passages",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, unnest(range(1, len(w) - 3)) AS pos FROM d),
      |ng AS (SELECT g.doc_id, g.pos,
      |              array_to_string(list_slice(d.w, g.pos, g.pos + 4), ' ') AS gram
      |       FROM g JOIN d ON g.doc_id = d.doc_id),
      |dup AS (SELECT gram FROM ng GROUP BY gram HAVING count(*) > 1),
      |pts AS (SELECT ng.doc_id, ng.pos, ng.pos + 4 AS e
      |        FROM ng JOIN dup ON ng.gram = dup.gram),
      |mx AS (SELECT doc_id, pos, e,
      |              max(e) OVER (PARTITION BY doc_id ORDER BY pos
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |       FROM pts),
      |grp AS (SELECT doc_id, pos, e,
      |               sum(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END)
      |                 OVER (PARTITION BY doc_id ORDER BY pos) AS gid
      |        FROM mx),
      |spans AS (SELECT doc_id, gid, min(pos) AS s, max(e) AS e
      |          FROM grp GROUP BY 1, 2)
      |SELECT doc_id, count(*) AS n_spans,
      |       CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
      |       CAST(max(e - s + 1) AS BIGINT) AS longest
      |FROM spans GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    // (doc, pos, gram) for every 5-token window; 1-based pos like the SQL
    val grams = d.filter(size(col("w")) >= 5)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("w")) - 4),
          i => struct(i.as("pos"),
            concat_ws(" ", slice(col("w"), i, lit(5))).as("gram")))).as("x"))
      .select(col("doc_id"), col("x.pos").as("pos"), col("x.gram").as("gram"))
    val dup = grams.groupBy(col("gram")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("gram"))
    val pts = grams.join(dup, "gram")
      .select(col("doc_id"), col("pos"), (col("pos") + 4).as("e"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val pmax = max(col("e")).over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = pts.withColumn("fresh",
      when(pmax.isNull || col("pos") > pmax, 1L).otherwise(0L))
    val grouped = flagged.withColumn("gid", sum(col("fresh")).over(byPos))
    grouped.groupBy(col("doc_id"), col("gid"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).cast("long").as("dup_tokens"),
        max(col("e") - col("s") + 1).cast("long").as("longest"))
      .orderBy(col("doc_id"))
  }

  /** DUPLICATED-PASSAGE CUTTING — the apply step over [[dupPassages]]'s
    * detection (Lee et al.'s ExactSubstr policy: keep ONE occurrence of
    * each duplicated substring, cut the rest). Occurrence selection is
    * global and deterministic: for each duplicated 5-gram, the minimal
    * (doc_id, pos) site survives — a single min-struct aggregate per
    * gram, no window — and every OTHER site becomes a cut point. Cut
    * points interval-merge per doc (the same bounded island windows as
    * detection), and the report is the per-doc token budget after
    * cutting: original length, tokens cut, tokens kept. Survivor sites
    * contribute nothing, so a doc whose duplicated text is all
    * first-occurrence keeps every token — documents not in the output
    * lost nothing. At 100 TB the added cost over detection is one
    * min-aggregate on the same gram shuffle. */
  val dupCut: QuerySpec = QuerySpec.sql(
    "q_dedup_cut",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, unnest(range(1, len(w) - 3)) AS pos FROM d),
      |ng AS (SELECT g.doc_id, g.pos,
      |              array_to_string(list_slice(d.w, g.pos, g.pos + 4), ' ') AS gram
      |       FROM g JOIN d ON g.doc_id = d.doc_id),
      |keep AS (SELECT gram, min(struct_pack(doc_id := doc_id, pos := pos)) AS k,
      |                count(*) AS c
      |         FROM ng GROUP BY 1 HAVING count(*) > 1),
      |cut AS (SELECT ng.doc_id, ng.pos, ng.pos + 4 AS e
      |        FROM ng JOIN keep ON ng.gram = keep.gram
      |        WHERE NOT (ng.doc_id = keep.k.doc_id AND ng.pos = keep.k.pos)),
      |mx AS (SELECT doc_id, pos, e,
      |              max(e) OVER (PARTITION BY doc_id ORDER BY pos
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |       FROM cut),
      |grp AS (SELECT doc_id, pos, e,
      |               sum(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END)
      |                 OVER (PARTITION BY doc_id ORDER BY pos) AS gid
      |        FROM mx),
      |spans AS (SELECT doc_id, gid, min(pos) AS s, max(e) AS e
      |          FROM grp GROUP BY 1, 2),
      |per AS (SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS cut_tokens
      |        FROM spans GROUP BY 1)
      |SELECT per.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens, per.cut_tokens,
      |       CAST(len(d.w) - per.cut_tokens AS BIGINT) AS kept_tokens
      |FROM per JOIN d ON per.doc_id = d.doc_id
      |ORDER BY per.doc_id""".stripMargin) { (spark, dir) =>
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val grams = d.filter(size(col("w")) >= 5)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("w")) - 4),
          i => struct(i.as("pos"),
            concat_ws(" ", slice(col("w"), i, lit(5))).as("gram")))).as("x"))
      .select(col("doc_id"), col("x.pos").as("pos"), col("x.gram").as("gram"))
    val keep = grams.groupBy(col("gram"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("k"),
        count(lit(1)).as("c"))
      .filter(col("c") > 1)
    val cuts = grams.join(keep, "gram")
      .filter(!(col("doc_id") === col("k.doc_id") && col("pos") === col("k.pos")))
      .select(col("doc_id"), col("pos"), (col("pos") + 4).as("e"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val pmax = max(col("e")).over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    val spans = cuts
      .withColumn("fresh", when(pmax.isNull || col("pos") > pmax, 1L).otherwise(0L))
      .withColumn("gid", sum(col("fresh")).over(byPos))
      .groupBy(col("doc_id"), col("gid"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(sum(col("e") - col("s") + 1).cast("long").as("cut_tokens"))
    spans.join(d.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens")),
        "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("cut_tokens"),
        (col("n_tokens") - col("cut_tokens")).as("kept_tokens"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[QuerySpec] =
    Seq(dedupExact, nearDupPairs, minhashSigs, simhashPairs, fingerprintOverlap,
      dedupClusters, dedupBest, dedupIncremental, chunkDedup, dupPassages,
      dupCut)
}
