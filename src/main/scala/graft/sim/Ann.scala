package graft.sim

import graft.QuerySpec
import graft.exprs.GraftFunctions
import graft.model.Tables
import graft.ops.Loop
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Cosine kernels are native codegen'd Catalyst expressions
  * ([[graft.exprs.DotFExpr]]/[[graft.exprs.Norm2FExpr]]: tight primitive
  * loops, ~50× the throughput of the equivalent `zip_with`+`aggregate`
  * higher-order functions); elements promote to double before a sequential
  * fold so Spark and the DuckDB oracle produce bit-identical similarities.
  *
  * Scale architecture, by operator:
  *   - brute-force top-k: broadcast the (small) query set, stream the
  *     corpus — O(|corpus|·|queries|), zero shuffle before the per-query
  *     top-k. The exact baseline.
  *   - IVF: equi-join on the coarse cell key — reads 1/cells of the corpus
  *     per query.
  *   - LSH ANN: L signature tables × b hyperplane bits, Hamming≤1
  *     multi-probe realized as an EXPLODED probe-bucket equi-join (never a
  *     theta join): each query emits L·(b+1) probe rows, candidates come
  *     from hash-join bucket collisions only. Approximate by construction;
  *     recall is measured against the exact baseline in the test suite.
  *   - exact threshold join (`q_embedding_neardup`): block-partitioned
  *     all-pairs via equi-joins. Exact low-threshold similarity joins over
  *     dense embeddings are NOT LSH-prunable (measured on this corpus: at
  *     τ=0.4 a hyperplane-bit agrees with p≈0.63 for a qualifying pair vs
  *     0.5 for a random one — every banding either drops true pairs or
  *     admits >60% of all pairs), so the correct distributed form is the
  *     balanced O(n²/P)-per-task block join below, and the LSH path is
  *     reserved for the high-τ regime where it genuinely prunes.
  */
object Ann {

  val Dim = 64

  /** Sum of squares — native codegen'd kernel ([[graft.exprs.Norm2FExpr]]);
    * requires [[GraftFunctions.register]] on the session. */
  def norm2(v: Column): Column = GraftFunctions.norm2F(v)

  /** Dot product — native codegen'd kernel ([[graft.exprs.DotFExpr]]):
    * float→double promotion, sequential double accumulation, same numerics
    * as the zip_with/aggregate HOF form and the DuckDB oracle. */
  def dot(a: Column, b: Column): Column = GraftFunctions.dotF(a, b)

  def cosine(a: Column, b: Column, n2a: Column, n2b: Column): Column =
    dot(a, b) / sqrt(n2a * n2b)

  /** splitmix64 finalizer — full-avalanche mixing for plane generation.
    * (A plain FNV fold is NOT usable here: after odd multiplications the
    * low bit is just the parity of the inputs, which collapses every plane
    * to one of two alternating ± patterns.) */
  private def mix64(x0: Long): Long = {
    val x = x0 + 0x9E3779B97F4A7C15L
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic ±1 random hyperplane for (table, bit): sign taken from
    * the top bit of a splitmix64-mixed index. */
  def plane(table: Int, bit: Int, dim: Int = Dim): Seq[Float] =
    (0 until dim).map { d =>
      val h = mix64((table.toLong * 1009L + bit) * 10007L + d)
      if (h < 0) 1.0f else -1.0f // top bit set → +1
    }

  /** b-bit LSH signature for one table: bit i = sign of ⟨v, plane(t,i)⟩. */
  def tableSig(v: Column, table: Int, bits: Int): Column =
    (0 until bits).map { bt =>
      val proj = GraftFunctions.dotF(v, typedLit(plane(table, bt)))
      when(proj > 0, lit(1 << bt)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Single-table signature (kept for API compatibility / demos). */
  def signatureBits(v: Column, nPlanes: Int): Column = tableSig(v, 0, nPlanes)

  /** Brute-force cosine top-k for a query set against the full corpus. */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(
      col("vec_id").as("cid"), col("embedding").as("ce"),
      norm2(col("embedding")).as("cn2"))
    val q = queries.select(
      col("vec_id").as("qid"), col("embedding").as("qe"),
      norm2(col("embedding")).as("qn2"))
    val sims = broadcast(q).crossJoin(c)
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim", cosine(col("qe"), col("ce"), col("qn2"), col("cn2")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("sim"))
  }

  private def simSql(qe: String, ce: String): String =
    s"""list_sum(list_transform(range(1, ${Dim + 1}),
       |           i -> CAST($qe[i] AS DOUBLE) * CAST($ce[i] AS DOUBLE)))
       | / sqrt(list_sum(list_transform($qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |       * list_sum(list_transform($ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))""".stripMargin

  /** Exact brute-force ANN baseline: top-10 neighbors of queries vec_id<8. */
  val annCosine: QuerySpec = QuerySpec.sql(
    "q_ann_cosine",
    s"""WITH p AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |         ${simSql("q.embedding", "c.embedding")} AS sim
       |  FROM embeddings q CROSS JOIN embeddings c
       |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
       |r AS (SELECT qid, cid, sim,
       |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
       |      FROM p)
       |SELECT qid, CAST(rank AS INTEGER) AS rank, cid, sim
       |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    topK(e, e.filter(col("vec_id") < 8), 10).orderBy(col("qid"), col("rank"))
  }

  /** IVF-style pruned ANN: search only the query's coarse cell (`label` =
    * precomputed centroid assignment). Same output shape as the exact
    * baseline; at scale this reads 1/cells of the corpus per query. */
  val annIvf: QuerySpec = QuerySpec.sql(
    "q_ann_ivf",
    s"""WITH p AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |         ${simSql("q.embedding", "c.embedding")} AS sim
       |  FROM embeddings q JOIN embeddings c ON q.label = c.label
       |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
       |r AS (SELECT qid, cid, sim,
       |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
       |      FROM p)
       |SELECT qid, CAST(rank AS INTEGER) AS rank, cid, sim
       |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      col("label").as("clabel"), norm2(col("embedding")).as("cn2"))
    val q = e.filter(col("vec_id") < 8).select(
      col("vec_id").as("qid"), col("embedding").as("qe"),
      col("label").as("qlabel"), norm2(col("embedding")).as("qn2"))
    val sims = broadcast(q).join(c, col("qlabel") === col("clabel"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim", cosine(col("qe"), col("ce"), col("qn2"), col("cn2")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("cid"), col("sim"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Number of id-hash blocks for the exact threshold join. Work per block
    * pair is (n/B)²; the join exposes ~B-way parallelism with each side
    * replicated ≤ (B+1)/2 times — pick B ≈ desired tasks at deployment
    * scale. */
  val NearDupBlocks = 16

  /** Exact cosine-threshold join as a BLOCKED all-pairs plan: rows are
    * hash-assigned to B blocks, the B(B+1)/2 unordered block pairs form a
    * tiny broadcast relation (orientation round-robin-balanced so each
    * block appears ~equally on both sides), and candidates come from two
    * equi-joins — no CartesianProduct / BroadcastNestedLoopJoin node, no
    * full-corpus broadcast, even task sizes. The O(n²) comparison count is
    * inherent to EXACT low-τ similarity join (see class doc: LSH measured
    * unable to prune at τ=0.4); this plan distributes it optimally instead
    * of pretending to avoid it. */
  def blockedThresholdJoin(e: DataFrame, tau: Double): DataFrame = {
    val spark = e.sparkSession
    val B = NearDupBlocks
    // unordered block pairs; off-diagonal orientation alternates by parity
    // of (i+j) so every block appears ~B/2 times on each side (balanced)
    val pairs = (for { i <- 0 until B; j <- i until B } yield {
      if (i == j || (i + j) % 2 == 0) (i, j) else (j, i)
    }).toSeq
    import spark.implicits._
    val blockPairs = pairs.toDF("pa", "pb")
    val withBlk = e.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"),
      pmod(xxhash64(col("vec_id")), lit(B)).cast("int").as("blk"))
    val a = withBlk.select(col("vec_id").as("id_A"), col("embedding").as("ea"),
      col("n2").as("na"), col("blk").as("blk_a"))
    val b = withBlk.select(col("vec_id").as("id_B"), col("embedding").as("eb"),
      col("n2").as("nb"), col("blk").as("blk_b"))
    a.join(broadcast(blockPairs), col("blk_a") === col("pa"))
      .join(b, col("pb") === col("blk_b"))
      // diagonal blocks see both orientations of a pair: keep one
      .filter(col("pa") =!= col("pb") || col("id_A") < col("id_B"))
      .withColumn("sim", cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .filter(col("sim") >= tau)
      .select(least(col("id_A"), col("id_B")).as("id_a"),
        greatest(col("id_A"), col("id_B")).as("id_b"), col("sim"))
  }

  /** Embedding near-duplicate scan: all pairs with cosine ≥ 0.4 (the data's
    * similarity tail), computed EXACTLY via [[blockedThresholdJoin]]. */
  val embeddingNearDup: QuerySpec = QuerySpec.sql(
    "q_embedding_neardup",
    s"""WITH p AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |         ${simSql("a.embedding", "b.embedding")} AS sim
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
       |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.4 ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    blockedThresholdJoin(Tables.embeddings(spark, dir), 0.4)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** LSH table count / signature width for [[annLsh]]. Measured on this
    * corpus (deterministic planes): mean recall@10 ≈ 0.55 at sf0.001,
    * 0.48–0.63 at sf0.01–0.1, touching ~21% of the corpus per query. */
  val LshTables = 6
  val LshBits = 8

  /** LSH-bucketed ANN with Hamming≤1 multi-probe as a pure EQUI-join:
    * corpus rows explode into L (table, sig) bucket rows; query rows
    * explode into L·(bits+1) (table, probe-sig) rows (the signature plus
    * every 1-bit flip); candidates are bucket-key hash-join collisions,
    * deduped, then ranked by exact cosine. No BroadcastNestedLoopJoin —
    * the candidate set is reached by key lookup, which is what makes the
    * plan sub-linear per query at scale.
    *
    * Fully ORACLE-CHECKED (the whole LSH pipeline is deterministic): the
    * 48 ±1 hyperplanes are embedded as sign-string literals generated
    * from the SAME `plane()` the kernel uses (the minhash seedVals
    * pattern); projections replay with the q_ann_cosine float→double
    * sequential-sum parity, signatures are exact bit sums, multi-probe is
    * xor, and the final rank is the proven cosine ordering. Recall vs the
    * exact baseline stays asserted in the test suite. */
  val annLsh: QuerySpec = QuerySpec.sql(
    "q_ann_lsh", {
      val planeRows = (0 until LshTables).flatMap { t =>
        (0 until LshBits).map { b =>
          val signs = plane(t, b).map(f => if (f > 0) '+' else '-').mkString
          s"($t, $b, '$signs')"
        }
      }.mkString(", ")
      s"""WITH planes(tbl, bit, signs) AS (VALUES $planeRows),
         |proj AS (
         |  SELECT e.vec_id, p.tbl, p.bit,
         |         list_sum(list_transform(range(1, ${Dim + 1}),
         |            d -> CAST(e.embedding[d] AS DOUBLE) *
         |                 (CASE WHEN substring(p.signs, CAST(d AS INTEGER), 1) = '+'
         |                       THEN 1.0 ELSE -1.0 END))) AS pr
         |  FROM embeddings e CROSS JOIN planes p),
         |sigs AS (
         |  SELECT vec_id, tbl,
         |         CAST(sum(CASE WHEN pr > 0 THEN CAST(1 << bit AS BIGINT) ELSE 0 END) AS INTEGER) AS sig
         |  FROM proj GROUP BY 1, 2),
         |qsig AS (SELECT * FROM sigs WHERE vec_id < 8),
         |probes AS (
         |  SELECT vec_id AS qid, tbl, sig FROM qsig
         |  UNION
         |  SELECT q.vec_id, q.tbl, xor(q.sig, CAST(1 << b.b AS INTEGER))
         |  FROM qsig q, (SELECT unnest(range(0, ${LshBits})) AS b) b),
         |cand AS (
         |  SELECT DISTINCT p.qid, s.vec_id AS cid
         |  FROM probes p JOIN sigs s ON p.tbl = s.tbl AND p.sig = s.sig
         |  WHERE s.vec_id <> p.qid),
         |sims AS (
         |  SELECT c.qid, c.cid, ${simSql("qe.embedding", "ce.embedding")} AS sim
         |  FROM cand c
         |  JOIN embeddings qe ON qe.vec_id = c.qid
         |  JOIN embeddings ce ON ce.vec_id = c.cid),
         |r AS (SELECT qid, cid, sim,
         |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
         |      FROM sims)
         |SELECT qid, CAST(rank AS INTEGER) AS rank, cid, sim
         |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
    }) { (spark, dir) =>
    GraftFunctions.register(spark)
    val L = LshTables; val bits = LshBits
    val e = Tables.embeddings(spark, dir).withColumn("n2", norm2(col("embedding")))

    val sigd = e.select(
      Seq(col("vec_id"), col("embedding"), col("n2")) ++
        (0 until L).map(t => tableSig(col("embedding"), t, bits).as(s"sig_$t")): _*)

    val corpus = sigd.select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("n2").as("cn2"),
        explode(array((0 until L).map(t =>
          struct(lit(t).as("tbl"), col(s"sig_$t").as("sig"))): _*)).as("s"))
      .select(col("cid"), col("ce"), col("cn2"),
        col("s.tbl").as("tbl"), col("s.sig").as("sig"))

    val probeStructs = (0 until L).flatMap { t =>
      val s = col(s"sig_$t")
      (Seq(s) ++ (0 until bits).map(i => s.bitwiseXOR(lit(1 << i))))
        .map(p => struct(lit(t).as("tbl"), p.as("sig")))
    }
    val qprobes = sigd.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("n2").as("qn2"), explode(array(probeStructs: _*)).as("p"))
      .select(col("qid"), col("qe"), col("qn2"),
        col("p.tbl").as("tbl"), col("p.sig").as("sig"))

    val cands = broadcast(qprobes).join(corpus, Seq("tbl", "sig"))
      .filter(col("qid") =!= col("cid"))
      .dropDuplicates("qid", "cid")
      .withColumn("sim", cosine(col("qe"), col("ce"), col("qn2"), col("cn2")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("cid"), col("sim"))
      .orderBy(col("qid"), col("rank"))
  }

  /** One spherical k-means step — the IVF TRAINING primitive (the `label`
    * column our IVF queries prune on is exactly what this produces at
    * scale): assign every vector to its max-cosine centroid among the k=10
    * seed centroids (vectors 0..9, deterministic), then report per-cell
    * size and mean assigned similarity. Assignment is a broadcast of the
    * tiny centroid set against the streamed corpus (the one place a
    * nested-loop over a bounded side is the CORRECT plan: k rows, never
    * grows with the corpus), argmax via the same rank-1 window pattern as
    * the ANN queries; mean similarity uses an exact micro-unit integer sum
    * so it is order-independent at any parallelism. */
  val kmeansStep: QuerySpec = QuerySpec.sql(
    "q_kmeans_step",
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 10),
       |p AS (
       |  SELECT v.vec_id, c.cid,
       |         ${simSql("v.embedding", "c.ce")} AS sim
       |  FROM embeddings v CROSS JOIN c),
       |r AS (SELECT vec_id, cid, sim,
       |             row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rk
       |      FROM p)
       |SELECT cid, count(*) AS n_assigned,
       |       CAST(sum(CAST(floor(sim * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sim_micro_sum
       |FROM r WHERE rk = 1
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val centroids = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        norm2(col("embedding")).as("cn2"))
    val v = e.select(col("vec_id"), col("embedding").as("ve"),
      norm2(col("embedding")).as("vn2"))
    val sims = v.crossJoin(broadcast(centroids))
      .withColumn("sim", cosine(col("ve"), col("ce"), col("vn2"), col("cn2")))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cid").asc)
    sims.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_assigned"),
        sum(floor(col("sim") * 1000000 + 0.5).cast("long")).as("sim_micro_sum"))
      .orderBy(col("cid"))
  }

  /** Embedding dedup CLUSTERING — the keep-one-representative step over the
    * exact cosine near-dup graph: [[blockedThresholdJoin]] pairs →
    * pointer-doubling connected components
    * ([[graft.dedup.Dedup.connectedComponents]]) → min-id representative
    * per cluster. The vector-space twin of `q_dedup_clusters` (text).
    * Oracle: DuckDB recursive-CTE reachability over brute-force cosine
    * pairs. */
  val embeddingClusters: QuerySpec = QuerySpec.sql(
    "q_embedding_clusters",
    s"""WITH RECURSIVE
       |p AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |  WHERE ${simSql("a.embedding", "b.embedding")} >= 0.4),
       |edges AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, lbl) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
       |comp AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY 1)
       |SELECT cluster, count(*) AS n_vecs,
       |       array_to_string(array_agg(id ORDER BY id), ',') AS members_csv
       |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    val pairs = blockedThresholdJoin(Tables.embeddings(spark, dir), 0.4)
      .select("id_a", "id_b")
    graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .groupBy(col("lbl").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        concat_ws(",", sort_array(collect_list(col("id")))).as("members_csv"))
      .orderBy(col("cluster"))
  }

  /** PRODUCT QUANTIZATION ANN (Jégou et al., "Product quantization for
    * nearest neighbor search", TPAMI 2011) — the memory-compression half
    * of large-scale similarity search that [[annIvf]]'s coarse cells pair
    * with: the 64-dim space splits into M=4 independent 16-dim subspaces,
    * each learns its own K=8 codebook, and every vector compresses to 4
    * small codes; queries then rank the WHOLE corpus from per-query
    * distance TABLES (asymmetric distance, ADC) without touching raw
    * vectors — at 100 TB the codes are ~64× smaller than the embeddings
    * and the scan reads codes only.
    *
    * Everything is exact integer arithmetic so both engines agree
    * bit-for-bit: components floor to micro-units first; codebook training
    * is one Lloyd step from deterministic seeds (vec_id < 8) with the
    * centroid update an INTEGER element-wise mean (sum div count — both
    * engines truncate toward zero); distances are integer squared-L2.
    * Training is the shared Lloyd engine below (codebook on the driver,
    * vectors distributed per subspace), and nothing ever materializes an
    * all-pairs product — ADC is a join on (subspace, code) against the
    * |Q|·M·K-row distance tables. */
  val pqAnn: QuerySpec = QuerySpec.sql(
    "q_pq_ann",
    """WITH pos AS (
      |  SELECT vec_id, CAST((j0 - 1) // 16 AS INTEGER) AS s, (j0 - 1) % 16 AS j,
      |         CAST(floor(CAST(embedding[j0] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS x
      |  FROM embeddings, unnest(range(1, 65)) t(j0)),
      |seed AS (SELECT s, vec_id AS cid, j, x AS c FROM pos WHERE vec_id < 8),
      |d1 AS (
      |  SELECT p.vec_id, p.s, sd.cid,
      |         CAST(sum((p.x - sd.c) * (p.x - sd.c)) AS BIGINT) AS d
      |  FROM pos p JOIN seed sd ON p.s = sd.s AND p.j = sd.j
      |  GROUP BY 1, 2, 3),
      |a1 AS (
      |  SELECT vec_id, s, cid FROM (
      |    SELECT vec_id, s, cid,
      |           row_number() OVER (PARTITION BY vec_id, s
      |                              ORDER BY d ASC, cid ASC) AS rk
      |    FROM d1) WHERE rk = 1),
      |upd AS (
      |  SELECT a1.s, a1.cid, p.j, sum(p.x) // count(*) AS c
      |  FROM a1 JOIN pos p ON a1.vec_id = p.vec_id AND a1.s = p.s
      |  GROUP BY 1, 2, 3),
      |d2 AS (
      |  SELECT p.vec_id, p.s, u.cid,
      |         CAST(sum((p.x - u.c) * (p.x - u.c)) AS BIGINT) AS d
      |  FROM pos p JOIN upd u ON p.s = u.s AND p.j = u.j
      |  GROUP BY 1, 2, 3),
      |a2 AS (
      |  SELECT vec_id, s, cid FROM (
      |    SELECT vec_id, s, cid,
      |           row_number() OVER (PARTITION BY vec_id, s
      |                              ORDER BY d ASC, cid ASC) AS rk
      |    FROM d2) WHERE rk = 1),
      |adc AS (
      |  SELECT dq.vec_id AS query_id, a2.vec_id, CAST(sum(dq.d) AS BIGINT) AS adc
      |  FROM a2 JOIN d2 dq ON dq.s = a2.s AND dq.cid = a2.cid
      |  WHERE dq.vec_id < 5 GROUP BY 1, 2)
      |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, vec_id, adc FROM (
      |  SELECT query_id, vec_id, adc,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY adc ASC, vec_id ASC) AS rnk
      |  FROM adc) WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin) { (spark, dir) =>
    val (nQ, topK) = (5, 5)
    val (vs, seed) = pqStart(spark, dir, pqContiguous)
    val cb = lloydStep(vs, seed, None)._1
    val dq = vs.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("s"), explode(centroidDists(cb)).as("t"))
      .select(col("query_id"), col("s"), col("t.cid"), col("t.d"))
    val adc = assignments(vs, cb).join(dq, Seq("s", "cid"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d")).cast("long").as("adc"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc").asc, col("vec_id").asc)
    adc.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("rnk"), col("vec_id"), col("adc"))
      .orderBy(col("query_id"), col("rnk"))
  }

  // ---- PQ Lloyd-step engine ------------------------------------------------
  //
  // Shared by q_pq_ann (one step — the oracle-friendliest form), q_pq_train
  // (k unrolled steps, still oracle-replayed), pqTrainConverged (the
  // production fixpoint loop, spec-bounded) and the allocation probe. Every
  // piece is the exact integer discipline of [[pqAnn]]: micro-unit
  // components, integer squared-L2 with ties to the smaller cid, and
  // `sum div count` centroid means.
  //
  // The codebook (K·M·16 = 512 values) stays on the driver between rounds,
  // as Spark MLlib's KMeans keeps its centers; the vectors stay distributed,
  // one row per (vector, subspace) holding its 16 components. A round is
  // one projection that picks each row's nearest centroid against the
  // codebook literal, then one `sum div count` aggregate per (subspace,
  // centroid) whose collected rows are the next codebook: one exchange a
  // round, no join, nothing checkpointed after the start.

  private val PqSubDims = 16
  private val PqSeeds = 8

  /** One codebook entry: subspace, centroid id, the members it was
    * averaged over (0 for a seed) and its components. */
  private final case class Centroid(s: Int, cid: Long, n: Long, c: Seq[Long])

  /** Dimension allocation `alloc(s)(j)`: the 0-based embedding position of
    * component j of subspace s. M=4 contiguous 16-dim slices by default. */
  private val pqContiguous: Seq[Seq[Int]] =
    (0 until 4).map(s => (0 until PqSubDims).map(s * PqSubDims + _))

  /** (vec_id, s, xs): each vector's micro-unit components per subspace. */
  private def pqVectors(spark: SparkSession, dir: String, alloc: Seq[Seq[Int]]): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), posexplode(typedLit(alloc)).as(Seq("s", "dims")))
      .select(col("vec_id"), col("s"), transform(col("dims"), i =>
        floor(element_at(col("embedding"), i + 1).cast("double") * 1000000 + 0.5)
          .cast("long")).as("xs"))

  /** [[pqVectors]] checkpointed for the rounds, and the seed codebook (the
    * vectors with vec_id < 8) observed on the same job. */
  private def pqStart(spark: SparkSession, dir: String,
      alloc: Seq[Seq[Int]]): (DataFrame, Seq[Centroid]) = {
    val (vs, st) = Loop.cut(pqVectors(spark, dir, alloc),
      collect_list(when(col("vec_id") < PqSeeds, struct(col("s"), col("vec_id"), col("xs")))))
    (vs, st.getSeq[Row](0).map(r => Centroid(r.getInt(0), r.getLong(1), 0L, r.getSeq[Long](2)))
      .sortBy(c => (c.s, c.cid)))
  }

  /** Per row, struct(d, cid) for every centroid of the row's subspace: the
    * integer squared-L2 from `xs` to it. */
  private def centroidDists(cb: Seq[Centroid]): Column = {
    val bySubspace = typedLit((0 until cb.map(_.s + 1).maxOption.getOrElse(0)).map(s =>
      cb.filter(_.s == s).map(c => (c.cid, c.c))))
    transform(element_at(bySubspace, col("s") + 1), c =>
      struct(aggregate(zip_with(col("xs"), c("_2"), (x, y) => (x - y) * (x - y)),
        lit(0L), _ + _).as("d"), c("_1").as("cid")))
  }

  /** struct(d, cid) of the nearest centroid: struct order is d, then the
    * smaller cid. */
  private def nearest(cb: Seq[Centroid]): Column = array_min(centroidDists(cb))

  /** (vec_id, s, cid): each (vector, subspace)'s nearest centroid in `cb`. */
  private def assignments(vs: DataFrame, cb: Seq[Centroid]): DataFrame =
    vs.select(col("vec_id"), col("s"), nearest(cb)("cid").as("cid"))

  /** One Lloyd step: assign every (vector, subspace) to its nearest
    * centroid in `cb` and average each centroid's members into the next
    * codebook. With `prev` (the codebook of the step before) the same
    * aggregate counts the rows whose assignment changed between the two.
    * Returns (next codebook, changed). */
  private def lloydStep(vs: DataFrame, cb: Seq[Centroid],
      prev: Option[Seq[Centroid]]): (Seq[Centroid], Long) = {
    val cid = nearest(cb)("cid")
    val changed = prev.fold(lit(0L))(p => (cid =!= nearest(p)("cid")).cast("long"))
    val rows = vs.select(col("s"), cid.as("cid"), col("xs"), changed.as("changed"))
      .groupBy(col("s"), col("cid"))
      .agg(count(lit(1)), sum(col("changed")) +:
        (0 until PqSubDims).map(j => expr(s"sum(xs[$j]) div count(1)")): _*)
      .collect()
    (rows.map(r => Centroid(r.getInt(0), r.getLong(1), r.getLong(2),
        (0 until PqSubDims).map(j => r.getLong(4 + j)))).toSeq.sortBy(c => (c.s, c.cid)),
      rows.map(_.getLong(3)).sum)
  }

  /** Lloyd steps from `seed` until NO (vector, subspace) changes centroid
    * (k-means' objective strictly decreases until then, so the loop
    * terminates). Returns the codebook and the rounds run, including the
    * verification round; None if `maxIter` rounds did not reach it. */
  private def lloydFixpoint(vs: DataFrame, seed: Seq[Centroid],
      maxIter: Int): Option[(Seq[Centroid], Int)] = {
    var (cb, prev) = (seed, Option.empty[Seq[Centroid]])
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxIter) {
      val (next, changed) = lloydStep(vs, cb, prev)
      stable = prev.isDefined && changed == 0
      if (!stable) {
        prev = Some(cb)
        cb = next
      }
      rounds += 1
    }
    if (stable) Some((cb, rounds)) else None
  }

  /** Sum over (vector, subspace) of the squared-L2 to the nearest centroid. */
  private def distortion(vs: DataFrame, cb: Seq[Centroid]): Long =
    vs.agg(sum(nearest(cb)("d")).cast("long")).collect()(0).getLong(0)

  /** The codebook as (s, cid, j, c, n_assigned) rows, built in (s, cid, j)
    * order: it is driver state, so no Spark sort is needed. */
  private def codebookFrame(spark: SparkSession, cb: Seq[Centroid]): DataFrame = {
    import spark.implicits._
    cb.flatMap(c => c.c.zipWithIndex.map { case (x, j) => (c.s, c.cid, j, x, c.n) })
      .toDF("s", "cid", "j", "c", "n_assigned")
  }

  /** `rounds` Lloyd steps from the seeds: (vectors, the codebook the last
    * step assigned against, the final codebook). */
  private def pqRounds(spark: SparkSession, dir: String,
      rounds: Int): (DataFrame, Seq[Centroid], Seq[Centroid]) = {
    require(rounds >= 1, "at least one Lloyd round")
    val (vs, seed) = pqStart(spark, dir, pqContiguous)
    var (used, cb) = (seed, seed)
    for (_ <- 1 to rounds) {
      used = cb
      cb = lloydStep(vs, cb, None)._1
    }
    (vs, used, cb)
  }

  /** `rounds` full Lloyd iterations from the deterministic seeds
    * (vec_id < 8). Returns (final codebook, the assignment that produced
    * it) — the assignment/update pair the oracle's unrolled CTEs replay. */
  def pqTrainRounds(spark: SparkSession, dir: String,
      rounds: Int): (DataFrame, DataFrame) = {
    val (vs, used, cb) = pqRounds(spark, dir, rounds)
    (codebookFrame(spark, cb).drop("n_assigned"), assignments(vs, used))
  }

  /** PQ training iterated to CONVERGENCE — the production form; the
    * registered [[pqTrain]] fixes 4 rounds only so its oracle can unroll
    * them. Rounds run until NO (vector, subspace) changes centroid, the
    * change counted in each round's own aggregate. Returns (codebook,
    * assignments, rounds including the verification round). Refuses to
    * return an unconverged codebook. */
  def pqTrainConverged(spark: SparkSession, dir: String,
      maxIter: Int = 60): (DataFrame, DataFrame, Int) = {
    val (vs, seed) = pqStart(spark, dir, pqContiguous)
    val fixpoint = lloydFixpoint(vs, seed, maxIter)
    require(fixpoint.isDefined, s"PQ training did not converge in $maxIter rounds")
    val (cb, rounds) = fixpoint.get
    (codebookFrame(spark, cb).drop("n_assigned"), assignments(vs, cb), rounds)
  }

  /** Total integer quantization distortion of `cents` over the corpus —
    * Σ over (vector, subspace) of the squared-L2 to its nearest centroid.
    * The scalar the Lloyd iteration minimizes; exposed for the spec's
    * more-rounds-is-better check. */
  def pqDistortion(spark: SparkSession, dir: String, cents: DataFrame): Long = {
    val cb = cents.select(col("s"), col("cid"), col("j"), col("c")).collect()
      .groupBy(r => (r.getInt(0), r.getLong(1))).toSeq
      .map { case ((s, cid), rs) =>
        Centroid(s, cid, 0L, rs.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq)
      }
    distortion(pqVectors(spark, dir, pqContiguous), cb)
  }

  /** OPQ-STYLE DIMENSION-ALLOCATION probe (Ge et al., "Optimized Product
    * Quantization", CVPR 2013, with the learned rotation RESTRICTED to a
    * permutation): instead of slicing dimensions contiguously into
    * subspaces (s = j0/16), deal them round-robin in descending-variance
    * order so each subspace carries a balanced share of the corpus energy
    * — OPQ's eigenvalue-allocation idea without the dense rotation (which
    * the integer-exact oracle replay cannot express). Both allocations
    * train to the Lloyd fixpoint from the same seeds; totals are
    * comparable because every dimension contributes its squared error
    * exactly once under either split. Returns (contiguous distortion,
    * variance-balanced distortion); AnnSpec records the measured
    * ship/reject verdict. */
  private[sim] def pqAllocationProbe(spark: SparkSession, dir: String): (Long, Long) = {
    // per-dimension variance: 64 rows, driver-side like any codebook
    val byVar = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("j0", "xf")))
      .select(col("j0"), floor(col("xf").cast("double") * 1000000 + 0.5).cast("long").as("x"))
      .groupBy(col("j0"))
      .agg(avg(col("x")).as("m"), avg(col("x") * col("x")).as("m2"))
      .select(col("j0"), (col("m2") - col("m") * col("m")).as("v"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy { case (j0, v) => (-v, j0) }
    // dealt round-robin: the i-th most varied dimension is component i/4
    // of subspace i%4
    val balanced = (0 until 4).map(s => (0 until PqSubDims).map(j => byVar(j * 4 + s)._1))
    def convergedDistortion(alloc: Seq[Seq[Int]]): Long = {
      val (vs, seed) = pqStart(spark, dir, alloc)
      val fixpoint = lloydFixpoint(vs, seed, 60)
      require(fixpoint.isDefined, "allocation probe did not converge")
      distortion(vs, fixpoint.get._1)
    }
    (convergedDistortion(pqContiguous), convergedDistortion(balanced))
  }

  /** Oracle for [[pqTrain]]: the k assignment/update rounds unrolled as
    * generated CTEs (the q_pagerank / q_label_prop lockstep pattern). */
  private def pqTrainOracleSql(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""d$i AS (
         |  SELECT p.vec_id, p.s, u.cid,
         |         CAST(sum((p.x - u.c) * (p.x - u.c)) AS BIGINT) AS d
         |  FROM pos p JOIN u${i - 1} u ON p.s = u.s AND p.j = u.j
         |  GROUP BY 1, 2, 3),
         |a$i AS (
         |  SELECT vec_id, s, cid FROM (
         |    SELECT vec_id, s, cid,
         |           row_number() OVER (PARTITION BY vec_id, s
         |                              ORDER BY d ASC, cid ASC) AS rk
         |    FROM d$i) WHERE rk = 1),
         |u$i AS (
         |  SELECT a$i.s, a$i.cid, p.j, sum(p.x) // count(*) AS c
         |  FROM a$i JOIN pos p ON a$i.vec_id = p.vec_id AND a$i.s = p.s
         |  GROUP BY 1, 2, 3)""".stripMargin
    }.mkString(",\n")
    s"""WITH pos AS (
       |  SELECT vec_id, CAST((j0 - 1) // 16 AS INTEGER) AS s,
       |         CAST((j0 - 1) % 16 AS INTEGER) AS j,
       |         CAST(floor(CAST(embedding[j0] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS x
       |  FROM embeddings, unnest(range(1, 65)) t(j0)),
       |u0 AS (SELECT s, vec_id AS cid, j, x AS c FROM pos WHERE vec_id < 8),
       |$rounds,
       |n AS (SELECT s, cid, count(*) AS n_assigned FROM a$k GROUP BY 1, 2)
       |SELECT u.s, u.cid, u.j, CAST(u.c AS BIGINT) AS c, n.n_assigned
       |FROM u$k u JOIN n ON n.s = u.s AND n.cid = u.cid
       |ORDER BY u.s, u.cid, u.j""".stripMargin
  }

  /** MULTI-ROUND PQ TRAINING as a registered query: [[pqAnn]] stops after
    * one Lloyd step; this runs 4 full assignment/update rounds (fixed, so
    * the oracle can unroll them in lockstep) and emits the trained codebook
    * with each centroid's final assignment count. A drifted mean, a wrong
    * tie-break, or a round applied out of order all hash-mismatch. The
    * spec drives [[pqTrainConverged]] on top and pins that more rounds
    * strictly reduce distortion vs the 1-step codebook. */
  val pqTrain: QuerySpec = QuerySpec.sql(
    "q_pq_train", pqTrainOracleSql(4)) { (spark, dir) =>
    // the last step's member counts are the final assignment's counts
    codebookFrame(spark, pqRounds(spark, dir, 4)._3)
  }

  /** IVF-PQ — the composition the two halves above exist for (FAISS's
    * IVFADC): a COARSE quantizer over the full vector assigns each vector
    * to a cell; PQ codebooks train on the RESIDUAL (vector − cell
    * centroid), which is far more quantizable than the raw vector; a query
    * probes only its nprobe=2 nearest cells and ranks just those cells'
    * vectors by ADC over per-(query, cell) residual distance tables. At
    * 100 TB this is the full memory/compute story: codes-only storage
    * (PQ) AND a 1/cells scan fraction (IVF), with every step an equi-join
    * or broadcast against metadata-sized codebooks. Same integer-exact
    * discipline as [[pqAnn]] — coarse training, residuals, PQ training,
    * and search all replay bit-for-bit in the oracle. */
  val ivfPqAnn: QuerySpec = QuerySpec.sql(
    "q_ivfpq_ann",
    """WITH pos AS (
      |  SELECT vec_id, CAST((j0 - 1) // 16 AS INTEGER) AS s, (j0 - 1) % 16 AS j,
      |         (j0 - 1) AS jg,
      |         CAST(floor(CAST(embedding[j0] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS x
      |  FROM embeddings, unnest(range(1, 65)) t(j0)),
      |cseed AS (SELECT vec_id AS cell, jg, x AS c FROM pos WHERE vec_id < 4),
      |cd1 AS (
      |  SELECT p.vec_id, sd.cell, CAST(sum((p.x - sd.c) * (p.x - sd.c)) AS BIGINT) AS d
      |  FROM pos p JOIN cseed sd ON p.jg = sd.jg GROUP BY 1, 2),
      |ca1 AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rk
      |    FROM cd1) WHERE rk = 1),
      |cupd AS (
      |  SELECT ca1.cell, p.jg, sum(p.x) // count(*) AS c
      |  FROM ca1 JOIN pos p ON ca1.vec_id = p.vec_id GROUP BY 1, 2),
      |cd2 AS (
      |  SELECT p.vec_id, u.cell, CAST(sum((p.x - u.c) * (p.x - u.c)) AS BIGINT) AS d
      |  FROM pos p JOIN cupd u ON p.jg = u.jg GROUP BY 1, 2),
      |ca2 AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rk
      |    FROM cd2) WHERE rk = 1),
      |res AS (
      |  SELECT p.vec_id, p.s, p.j, ca2.cell, p.x - u.c AS x
      |  FROM pos p JOIN ca2 ON p.vec_id = ca2.vec_id
      |  JOIN cupd u ON u.cell = ca2.cell AND u.jg = p.jg),
      |pseed AS (SELECT s, vec_id AS cid, j, x AS c FROM res WHERE vec_id < 8),
      |pd1 AS (
      |  SELECT r.vec_id, r.s, sd.cid, CAST(sum((r.x - sd.c) * (r.x - sd.c)) AS BIGINT) AS d
      |  FROM res r JOIN pseed sd ON r.s = sd.s AND r.j = sd.j GROUP BY 1, 2, 3),
      |pa1 AS (
      |  SELECT vec_id, s, cid FROM (
      |    SELECT vec_id, s, cid,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, cid ASC) AS rk
      |    FROM pd1) WHERE rk = 1),
      |pupd AS (
      |  SELECT pa1.s, pa1.cid, r.j, sum(r.x) // count(*) AS c
      |  FROM pa1 JOIN res r ON pa1.vec_id = r.vec_id AND pa1.s = r.s GROUP BY 1, 2, 3),
      |pd2 AS (
      |  SELECT r.vec_id, r.s, u.cid, CAST(sum((r.x - u.c) * (r.x - u.c)) AS BIGINT) AS d
      |  FROM res r JOIN pupd u ON r.s = u.s AND r.j = u.j GROUP BY 1, 2, 3),
      |codes AS (
      |  SELECT vec_id, s, cid FROM (
      |    SELECT vec_id, s, cid,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, cid ASC) AS rk
      |    FROM pd2) WHERE rk = 1),
      |probe AS (
      |  SELECT vec_id AS query_id, cell FROM (
      |    SELECT vec_id, cell,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rk
      |    FROM cd2 WHERE vec_id < 5) WHERE rk <= 2),
      |qres AS (
      |  SELECT p.vec_id AS query_id, pr.cell, p.s, p.j, p.x - u.c AS x
      |  FROM pos p JOIN probe pr ON p.vec_id = pr.query_id
      |  JOIN cupd u ON u.cell = pr.cell AND u.jg = p.jg),
      |dtab AS (
      |  SELECT q.query_id, q.cell, q.s, u.cid,
      |         CAST(sum((q.x - u.c) * (q.x - u.c)) AS BIGINT) AS d
      |  FROM qres q JOIN pupd u ON q.s = u.s AND q.j = u.j
      |  GROUP BY 1, 2, 3, 4),
      |adc AS (
      |  SELECT dt.query_id, cds.vec_id, CAST(sum(dt.d) AS BIGINT) AS adc
      |  FROM codes cds
      |  JOIN ca2 ON cds.vec_id = ca2.vec_id
      |  JOIN dtab dt ON dt.cell = ca2.cell AND dt.s = cds.s AND dt.cid = cds.cid
      |  GROUP BY 1, 2)
      |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, vec_id, adc FROM (
      |  SELECT query_id, vec_id, adc,
      |         row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, vec_id ASC) AS rnk
      |  FROM adc) WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin) { (spark, dir) =>
    val (dsub, cells, seeds, nQ, nProbe, topK) = (16, 4, 8, 5, 2, 5)
    val pos = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j0", "xf")))
      .select(col("vec_id"),
        (col("j0") / dsub).cast("int").as("s"),
        (col("j0") % dsub).as("j"),
        col("j0").as("jg"),
        floor(col("xf").cast("double") * 1000000 + 0.5).cast("long").as("x"))
      .localCheckpoint()
    def argminOver(d: DataFrame, part: Seq[String], pick: String): DataFrame = {
      val w = Window.partitionBy(part.map(col): _*).orderBy(col("d").asc, col(pick).asc)
      d.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select((part :+ pick).map(col): _*)
    }
    // coarse quantizer over the FULL vector (join on the global position)
    def cdist(cents: DataFrame): DataFrame =
      pos.join(broadcast(cents), Seq("jg"))
        .groupBy(col("vec_id"), col("cell"))
        .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d"))
    val cseed = pos.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cell"), col("jg"), col("x").as("c"))
    val ca1 = argminOver(cdist(cseed), Seq("vec_id"), "cell")
    // the codebooks are metadata-sized but their lineage reaches back
    // through a window + join; three consumers each would replay it —
    // materialize once (same for pupd and the doubly-consumed cd2)
    val cupd = ca1.join(pos, Seq("vec_id"))
      .groupBy(col("cell"), col("jg")).agg(expr("sum(x) div count(1)").as("c"))
      .localCheckpoint()
    val cd2 = cdist(cupd).localCheckpoint()
    val ca2 = argminOver(cd2, Seq("vec_id"), "cell")
    // residuals, PQ training on them (subspace-position joins)
    val res = pos.join(ca2, Seq("vec_id"))
      .join(broadcast(cupd), Seq("cell", "jg"))
      .select(col("vec_id"), col("s"), col("j"), col("cell"),
        (col("x") - col("c")).as("x"))
      .localCheckpoint()
    def pdist(cents: DataFrame): DataFrame =
      res.join(broadcast(cents), Seq("s", "j"))
        .groupBy(col("vec_id"), col("s"), col("cid"))
        .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d"))
    val pseed = res.filter(col("vec_id") < seeds)
      .select(col("s"), col("vec_id").as("cid"), col("j"), col("x").as("c"))
    val pa1 = argminOver(pdist(pseed), Seq("vec_id", "s"), "cid")
    val pupd = pa1.join(res, Seq("vec_id", "s"))
      .groupBy(col("s"), col("cid"), col("j")).agg(expr("sum(x) div count(1)").as("c"))
      .localCheckpoint()
    val codes = argminOver(pdist(pupd), Seq("vec_id", "s"), "cid")
    // search: probe nprobe cells, residual distance tables per (query, cell)
    val probe = {
      val w = Window.partitionBy(col("vec_id")).orderBy(col("d").asc, col("cell").asc)
      cd2.filter(col("vec_id") < nQ)
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= nProbe)
        .select(col("vec_id").as("query_id"), col("cell"))
    }
    val qres = pos.join(probe, pos("vec_id") === probe("query_id"))
      .join(broadcast(cupd), Seq("cell", "jg"))
      .select(col("query_id"), col("cell"), col("s"), col("j"),
        (col("x") - col("c")).as("x"))
    val dtab = qres.join(broadcast(pupd), Seq("s", "j"))
      .groupBy(col("query_id"), col("cell"), col("s"), col("cid"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d"))
    val adc = codes.join(ca2, Seq("vec_id"))
      .join(dtab, Seq("cell", "s", "cid"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d")).cast("long").as("adc"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc").asc, col("vec_id").asc)
    adc.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("rnk"), col("vec_id"), col("adc"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** HYBRID SEARCH — reciprocal-rank fusion (Cormack et al., SIGIR 2009)
    * of the sparse BM25 ranking and the dense cosine ranking over the same
    * id space (documents ↔ their embeddings): per (query, id),
    * rrf = Σ 1/(60 + rank) over the rankers that returned it, computed in
    * exact integer nanos (`1e9 div (60+rank)`) so fusion and tie-breaks
    * replay identically. Each ranker contributes its top-10; the fused
    * top-5 is a bounded window. This is the retrieval stack RAG pipelines
    * run — lexical and semantic rankers disagree on purpose, and the
    * fusion is where the value is. Both rankers are the already-proven
    * plans (posting-list join; broadcast-queries brute cosine); the fusion
    * itself is a full-outer equi-join of two 30-row rankings. */
  val hybridSearch: QuerySpec = QuerySpec.sql(
    "q_hybrid_search",
    s"""WITH ${graft.text.TextAnalysis.bm25CtesSql(10)},
       |p AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS id,
       |         ${simSql("q.embedding", "c.embedding")} AS sim
       |  FROM embeddings q CROSS JOIN embeddings c
       |  WHERE q.vec_id BETWEEN 1 AND 3 AND q.vec_id <> c.vec_id),
       |dense AS (
       |  SELECT qid, id, rnk FROM (
       |    SELECT qid, id,
       |           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id ASC) AS rnk
       |    FROM p) WHERE rnk <= 10),
       |f AS (
       |  SELECT coalesce(s.qid, de.qid) AS qid, coalesce(s.doc_id, de.id) AS id,
       |         coalesce(CAST(1000000000 AS BIGINT) // (60 + s.rnk), 0)
       |           + coalesce(CAST(1000000000 AS BIGINT) // (60 + de.rnk), 0) AS rrf_nano,
       |         CASE WHEN de.id IS NULL THEN 0 ELSE 1 END AS hit_dense,
       |         CASE WHEN s.doc_id IS NULL THEN 0 ELSE 1 END AS hit_sparse
       |  FROM sparse s FULL JOIN dense de ON s.qid = de.qid AND s.doc_id = de.id)
       |SELECT qid, CAST(rnk AS INTEGER) AS rnk, id, rrf_nano, hit_dense, hit_sparse FROM (
       |  SELECT qid, id, rrf_nano, hit_dense, hit_sparse,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY rrf_nano DESC, id ASC) AS rnk
       |  FROM f) WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val dense = topK(e, e.filter(col("vec_id").between(1, 3)), 10)
      .select(col("qid"), col("cid").as("id"), col("rank").as("d_rnk"))
    val sparse = graft.text.TextAnalysis.bm25Rankings(spark, dir, 10)
      .select(col("qid"), col("doc_id").as("id"), col("rnk").as("s_rnk"))
    val fused = sparse.join(dense, Seq("qid", "id"), "full_outer")
      .select(col("qid"), col("id"),
        (coalesce(expr("CAST(1000000000 AS BIGINT) div (60 + s_rnk)"), lit(0L))
          + coalesce(expr("CAST(1000000000 AS BIGINT) div (60 + d_rnk)"), lit(0L)))
          .as("rrf_nano"),
        when(col("d_rnk").isNull, 0).otherwise(1).as("hit_dense"),
        when(col("s_rnk").isNull, 0).otherwise(1).as("hit_sparse"))
    val w = Window.partitionBy(col("qid")).orderBy(col("rrf_nano").desc, col("id").asc)
    fused.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk"), col("id"), col("rrf_nano"),
        col("hit_dense"), col("hit_sparse"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** SemDeDup similarity threshold — calibrated to the synthetic corpus
    * (within-cluster pair sims top out near 0.47; 0.32 ≈ the top percentile,
    * so the prune genuinely fires at every SF without emptying clusters). */
  val SemDedupTau = 0.32

  /** SEMANTIC deduplication (SemDeDup — Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus embeddings, then inside each
    * cluster drop every example whose cosine similarity to a
    * HIGHER-KEEP-PRIORITY cluster member exceeds τ, where keep-priority
    * prefers LOW similarity to the centroid (the paper's diversity-keeping
    * choice — boilerplate sits near the centroid, outliers carry signal).
    * This is the paper's exact upper-triangular rule: examples are ordered
    * within the cluster and example x is dropped iff ANY earlier example is
    * τ-near it (not the transitive leader variant — a dropped example still
    * shadows its own near-duplicates, matching the reference
    * implementation's ordered sim-matrix max).
    *
    * Scale shape: assignment is a broadcast of K centroids against a corpus
    * scan + a per-vector rank-1 window; the pairwise stage is an equi-join
    * ON THE CLUSTER KEY (never corpus-wide all-pairs — O(Σ cᵢ²) with cᵢ
    * bounded by K's sizing, the paper's own cost model), and the verdict is
    * one distinct + left join. All sims come from the codegen'd
    * [[graft.exprs.DotFExpr]] kernel, bit-identical to the oracle's
    * sequential double fold. */
  val semDedup: QuerySpec = QuerySpec.sql(
    "q_semdedup",
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16),
       |a AS (SELECT v.vec_id, c.cid,
       |             ${simSql("v.embedding", "c.ce")} AS csim
       |      FROM embeddings v CROSS JOIN c),
       |m AS (SELECT vec_id, cid, csim FROM (
       |        SELECT vec_id, cid, csim,
       |               row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rk
       |        FROM a) WHERE rk = 1),
       |p AS (SELECT x.vec_id AS xid, x.csim AS xcs, y.vec_id AS yid, y.csim AS ycs,
       |             ${simSql("ex.embedding", "ey.embedding")} AS sim
       |      FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id <> y.vec_id
       |      JOIN embeddings ex ON ex.vec_id = x.vec_id
       |      JOIN embeddings ey ON ey.vec_id = y.vec_id),
       |d AS (SELECT DISTINCT xid FROM p
       |      WHERE sim >= $SemDedupTau
       |        AND (ycs < xcs OR (ycs = xcs AND yid < xid)))
       |SELECT m.vec_id, m.cid,
       |       CAST(floor(m.csim * 1000000 + 0.5) AS BIGINT) AS csim_micro,
       |       (d.xid IS NULL) AS kept
       |FROM m LEFT JOIN d ON d.xid = m.vec_id
       |ORDER BY m.vec_id""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val cent = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        norm2(col("embedding")).as("cn2"))
    val v = e.select(col("vec_id"), col("embedding").as("ve"),
      norm2(col("embedding")).as("vn2"))
    val wv = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid").asc)
    val m = v.crossJoin(broadcast(cent))
      .withColumn("csim", cosine(col("ve"), col("ce"), col("vn2"), col("cn2")))
      .withColumn("rk", row_number().over(wv))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cid"), col("csim"), col("ve"), col("vn2"))
    val x = m.select(col("cid"), col("vec_id").as("xid"), col("csim").as("xcs"),
      col("ve").as("xe"), col("vn2").as("xn2"))
    val y = m.select(col("cid"), col("vec_id").as("yid"), col("csim").as("ycs"),
      col("ve").as("ye"), col("vn2").as("yn2"))
    val dropped = x.join(y, Seq("cid"))
      .filter(col("xid") =!= col("yid"))
      // y strictly precedes x in keep order (low centroid-sim first)
      .filter(col("ycs") < col("xcs") ||
        (col("ycs") === col("xcs") && col("yid") < col("xid")))
      .filter(cosine(col("xe"), col("ye"), col("xn2"), col("yn2")) >= lit(SemDedupTau))
      .select(col("xid")).distinct()
    m.join(dropped, m("vec_id") === dropped("xid"), "left")
      .select(col("vec_id"), col("cid"),
        floor(col("csim") * 1000000 + 0.5).cast("long").as("csim_micro"),
        col("xid").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  // ---- incremental-IVF fixture helpers ------------------------------------

  /** Exploded (vec_id, global position, micro-component) — the same
    * micro-unit components as [[pqVectors]], with no subspace split (the
    * coarse quantizer sees the whole vector). */
  private def annMicro(df: DataFrame): DataFrame = df
    .select(col("vec_id"), posexplode(col("embedding")).as(Seq("jg", "xf")))
    .select(col("vec_id"), col("jg"),
      floor(col("xf").cast("double") * 1000000 + 0.5).cast("long").as("x"))

  /** Integer squared-L2 of each vector against every coarse centroid. */
  private def annCellDist(cents: DataFrame, p: DataFrame): DataFrame =
    p.join(broadcast(cents), Seq("jg"))
      .groupBy(col("vec_id"), col("cell"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d"))

  private def annNearestCell(d: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("d").asc, col("cell").asc)
    d.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("vec_id"), col("cell"))
  }

  private[graft] val annFixCache = scala.collection.mutable.Map[String, String]()

  /** Build-once fixture for [[annIncremental]]: the cell-partitioned
    * manifest table through its create → delete → merge maintenance
    * history, plus the frozen coarse centroids staged at `<tbl>-cents`.
    * Returns the table base path. */
  private[sim] def annManifestFixture(spark: SparkSession, dir: String): String =
    annFixCache.synchronized {
      annFixCache.getOrElseUpdate(dir, {
        import graft.sources.ManifestTable
        val tbl =
          s"${graft.Scratch.root}/ann_manifest_${graft.Scratch.dirToken(dir)}"
        val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
        // 1. frozen coarse quantizer: one Lloyd step on the base corpus
        val bpos = annMicro(e.filter(col("vec_id") >= 20)).localCheckpoint()
        val seed = bpos.filter(col("vec_id") < 24)
          .select(col("vec_id").as("cell"), col("jg"), col("x").as("c"))
        val a1 = annNearestCell(annCellDist(seed, bpos))
        val cents = a1.join(bpos, Seq("vec_id"))
          .groupBy(col("cell"), col("jg")).agg(expr("sum(x) div count(1)").as("c"))
          .localCheckpoint()
        // v1: base corpus assigned and laid out by cell
        val baseAssigned = e.filter(col("vec_id") >= 20)
          .join(annNearestCell(annCellDist(cents, bpos)), Seq("vec_id"))
        ManifestTable.create(spark, tbl, baseAssigned, "cell")
        // 2. the arriving batch: 20 inserts + 5 replaced (negated) vectors,
        // assigned with the FROZEN centroids — O(|batch|·cells) work only
        val batch = e.filter(col("vec_id") < 20)
          .unionByName(e.filter(col("vec_id") >= 20 && col("vec_id") < 25)
            .withColumn("embedding", transform(col("embedding"), x => -x)))
        val batchAssigned =
          batch.join(annNearestCell(annCellDist(cents, annMicro(batch))), Seq("vec_id"))
        // 3. relocation-safe maintenance: stale copies out of their OLD
        // cells (transactional DELETE), batch into its NEW cells (MERGE)
        ManifestTable.deleteWhere(spark, tbl, col("vec_id").between(20, 24), "cell")
        ManifestTable.merge(spark, tbl, batchAssigned, "vec_id", "cell")
        cents.write.mode("overwrite").parquet(s"$tbl-cents")
        tbl
      })
    }

  /** IVF INDEX MAINTENANCE UNDER MERGE — the ANN suite composed with the
    * transactional table: the embedding corpus lives as a
    * [[graft.sources.ManifestTable]] PARTITIONED BY COARSE CELL (the index
    * IS the layout — a probe reads exactly its cells' files), and an
    * arriving batch of vectors is folded in WITHOUT retraining:
    *
    *   1. coarse centroids train once on the BASE corpus (one integer
    *      Lloyd step from deterministic seeds, frozen thereafter — the
    *      FAISS operational model: the quantizer is versioned training
    *      state, not recomputed per ingest);
    *   2. ONLY the arriving vectors compute centroid distances —
    *      O(|batch|·cells), not O(corpus) — giving each its cell;
    *   3. updated vectors may CHANGE cell, so maintenance is the
    *      relocation-safe pair of table verbs: transactional DELETE of the
    *      re-ingested keys (removing stale copies from their OLD cells),
    *      then MERGE of the batch into its NEW cells — copy-on-write
    *      touches only the affected cells, commits v2 and v3;
    *   4. probed search (nprobe=2 of 4 cells, exact integer L2 in-cell)
    *      runs against the POST-MERGE snapshot.
    *
    * The oracle replays a FULL REBUILD: merged corpus, same frozen
    * centroids, every vector re-assigned, same probe + search. Incremental
    * maintenance must therefore be indistinguishable from rebuilding the
    * index — a stale row surviving in its old cell, a dropped cold
    * partition, or a drifted assignment all surface as extra/missing
    * candidates and hash-mismatch. Queries are three freshly-inserted
    * vectors, so rank 1 must be the vector itself — the index is provably
    * fresh. */
  val annIncremental: QuerySpec = QuerySpec.sql(
    "q_ann_incremental",
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |m AS (
      |  SELECT vec_id, embedding FROM e WHERE vec_id >= 25
      |  UNION ALL
      |  SELECT vec_id, list_transform(embedding, x -> -x) AS embedding
      |  FROM e WHERE vec_id >= 20 AND vec_id < 25
      |  UNION ALL
      |  SELECT vec_id, embedding FROM e WHERE vec_id < 20),
      |bpos AS (
      |  SELECT vec_id, (j0 - 1) AS jg,
      |         CAST(floor(CAST(embedding[j0] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS x
      |  FROM e, unnest(range(1, 65)) t(j0) WHERE vec_id >= 20),
      |seed AS (SELECT vec_id AS cell, jg, x AS c FROM bpos WHERE vec_id < 24),
      |d1 AS (
      |  SELECT p.vec_id, s.cell, CAST(sum((p.x - s.c) * (p.x - s.c)) AS BIGINT) AS d
      |  FROM bpos p JOIN seed s ON p.jg = s.jg GROUP BY 1, 2),
      |a1 AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rk
      |    FROM d1) WHERE rk = 1),
      |cents AS (
      |  SELECT a1.cell, p.jg, sum(p.x) // count(*) AS c
      |  FROM a1 JOIN bpos p ON a1.vec_id = p.vec_id GROUP BY 1, 2),
      |mpos AS (
      |  SELECT vec_id, (j0 - 1) AS jg,
      |         CAST(floor(CAST(embedding[j0] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS x
      |  FROM m, unnest(range(1, 65)) t(j0)),
      |md AS (
      |  SELECT p.vec_id, c.cell, CAST(sum((p.x - c.c) * (p.x - c.c)) AS BIGINT) AS d
      |  FROM mpos p JOIN cents c ON p.jg = c.jg GROUP BY 1, 2),
      |asg AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rk
      |    FROM md) WHERE rk = 1),
      |probe AS (
      |  SELECT vec_id AS query_id, cell FROM (
      |    SELECT vec_id, cell,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rk
      |    FROM md WHERE vec_id < 3) WHERE rk <= 2),
      |cand AS (SELECT pr.query_id, a.vec_id FROM probe pr JOIN asg a ON a.cell = pr.cell),
      |dist AS (
      |  SELECT c.query_id, c.vec_id,
      |         CAST(sum((qp.x - cp.x) * (qp.x - cp.x)) AS BIGINT) AS d
      |  FROM cand c
      |  JOIN mpos qp ON qp.vec_id = c.query_id
      |  JOIN mpos cp ON cp.vec_id = c.vec_id AND cp.jg = qp.jg
      |  GROUP BY 1, 2)
      |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, vec_id, d FROM (
      |  SELECT query_id, vec_id, d,
      |         row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id ASC) AS rnk
      |  FROM dist) WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin) { (spark, dir) =>
    import graft.sources.ManifestTable
    val (nProbe, topK) = (2, 5)
    // the indexed table + frozen centroids are the FIXTURE (built once per
    // dir per JVM — the mergedFixture pattern); the measured query is the
    // live half: probe selection + in-cell exact search
    val tbl = annManifestFixture(spark, dir)
    annProbedSearch(spark, dir, tbl, nProbe, topK)
  }

  /** PERSISTENT ANN INDEX — the whole IVF index state (coarse centroids
    * AND cell assignments) lives as MANIFEST TABLES in the engine's own
    * format, and every maintenance round REOPENS the quantizer from its
    * table instead of carrying it through driver lineage: the FAISS
    * operational model where training state is a versioned artifact a
    * later session loads, not a per-job recomputation. At 100 TB this is
    * what amortizes training — the quantizer trains once, commits, and
    * every ingest session (here: two separate maintenance rounds, each
    * reopening the centroid table cold, committing v2..v4 on the index)
    * pays only O(|batch|·cells). The final probed search also loads the
    * quantizer from the table. Oracle = [[annIncremental]]'s full
    * rebuild: reopened state must be indistinguishable from retraining. */
  private[sim] def annPersistFixture(spark: SparkSession, dir: String): String =
    annFixCache.synchronized {
      annFixCache.getOrElseUpdate(s"$dir#persist", {
        import graft.sources.ManifestTable
        val tbl =
          s"${graft.Scratch.root}/ann_persist_${graft.Scratch.dirToken(dir)}"
        val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
        val bpos = annMicro(e.filter(col("vec_id") >= 20)).localCheckpoint()
        val seed = bpos.filter(col("vec_id") < 24)
          .select(col("vec_id").as("cell"), col("jg"), col("x").as("c"))
        val a1 = annNearestCell(annCellDist(seed, bpos))
        val cents = a1.join(bpos, Seq("vec_id"))
          .groupBy(col("cell"), col("jg")).agg(expr("sum(x) div count(1)").as("c"))
        // the quantizer commits as ITS OWN manifest table (versioned
        // training state, cell-partitioned like the index)
        ManifestTable.create(spark, s"$tbl-cents", cents, "cell")
        // reopened-from-table quantizer — every use below loads it cold
        def frozen(): DataFrame = ManifestTable.read(spark, s"$tbl-cents")
        val baseAssigned = e.filter(col("vec_id") >= 20)
          .join(annNearestCell(annCellDist(frozen(), bpos)), Seq("vec_id"))
        ManifestTable.create(spark, tbl, baseAssigned, "cell")
        // maintenance round 1 (a "second session"): 10 inserts + 5
        // negated replacements, assigned under the REOPENED quantizer;
        // relocation-safe delete + merge commits v2, v3
        val b1 = e.filter(col("vec_id") < 10)
          .unionByName(e.filter(col("vec_id") >= 20 && col("vec_id") < 25)
            .withColumn("embedding", transform(col("embedding"), x => -x)))
        val b1a = b1.join(
          annNearestCell(annCellDist(frozen(), annMicro(b1))), Seq("vec_id"))
        ManifestTable.deleteWhere(spark, tbl,
          col("vec_id").between(20, 24), "cell")
        ManifestTable.merge(spark, tbl, b1a, "vec_id", "cell")
        // maintenance round 2 (a "third session"): pure inserts, the
        // quantizer reopened again — the index is now two JVM-level
        // maintenance generations away from training
        val b2 = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        val b2a = b2.join(
          annNearestCell(annCellDist(frozen(), annMicro(b2))), Seq("vec_id"))
        ManifestTable.merge(spark, tbl, b2a, "vec_id", "cell")
        tbl
      })
    }

  val annPersistent: QuerySpec = QuerySpec.sql(
    "q_ann_persistent",
    annIncremental.oracle.get) { (spark, dir) =>
    import graft.sources.ManifestTable
    val tbl = annPersistFixture(spark, dir)
    // the search loads the quantizer from ITS table too — nothing about
    // the index survives in driver memory
    annProbedSearch(spark, dir, tbl, nProbe = 2, topK = 5,
      centsOf = Some(() => ManifestTable.read(spark, s"$tbl-cents")))
  }

  /** Probed IVF search against a cell-partitioned manifest table: pick
    * each query's `nProbe` nearest frozen centroids (staged at
    * `<tbl>-cents`), read exactly those cells' files, exact integer L2
    * in-cell, top-`topK`. Shared by the batch ([[annIncremental]]) and
    * streaming ([[streamAnn]]) maintenance queries — both must converge
    * to a state this search cannot distinguish from a full rebuild.
    * `centsOf` overrides the quantizer source ([[annPersistent]] loads
    * it from its manifest table). */
  private def annProbedSearch(spark: SparkSession, dir: String, tbl: String,
      nProbe: Int, topK: Int,
      centsOf: Option[() => DataFrame] = None): DataFrame = {
    import graft.sources.ManifestTable
    val cents = centsOf.map(_()).getOrElse(spark.read.parquet(s"$tbl-cents"))
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val queries = annMicro(e.filter(col("vec_id") < 3)).localCheckpoint()
    val wp = Window.partitionBy(col("vec_id")).orderBy(col("d").asc, col("cell").asc)
    val probe = annCellDist(cents, queries)
      .withColumn("rk", row_number().over(wp)).filter(col("rk") <= nProbe)
      .select(col("vec_id").as("query_id"), col("cell"))
    val cand = ManifestTable.read(spark, tbl).join(probe, Seq("cell"))
      .select(col("query_id"), col("vec_id"), posexplode(col("embedding")).as(Seq("jg", "xf")))
      .select(col("query_id"), col("vec_id"), col("jg"),
        floor(col("xf").cast("double") * 1000000 + 0.5).cast("long").as("x"))
    val dist = cand.join(
        broadcast(queries.select(col("vec_id").as("query_id"), col("jg"), col("x").as("qx"))),
        Seq("query_id", "jg"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum((col("qx") - col("x")) * (col("qx") - col("x"))).as("d"))
    val wr = Window.partitionBy(col("query_id")).orderBy(col("d").asc, col("vec_id").asc)
    dist.withColumn("rnk", row_number().over(wr)).filter(col("rnk") <= topK)
      .select(col("query_id"), col("rnk"), col("vec_id"), col("d"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** STREAMING ANN INDEX MAINTENANCE — [[annIncremental]]'s
    * relocation-safe fold driven by a STREAM (the way `q_stream_cdf`
    * fuses MV maintenance into ingest): the arriving vectors land
    * through a Structured Streaming `foreachBatch` loop in SEVERAL
    * micro-batches (`maxFilesPerTrigger`), and each batch
    *
    *   1. assigns ONLY its own vectors against the FROZEN coarse
    *      quantizer — O(|batch|·cells) per trigger, never O(corpus);
    *   2. removes the batch's keys from their OLD cells (transactional
    *      DELETE — an updated vector may have changed cell; the key set
    *      is admission-bounded by the trigger, driver-side metadata);
    *   3. MERGEs the batch into its NEW cells (copy-on-write of the
    *      touched cells only, one commit per micro-batch).
    *
    * The index is thus FRESH after every trigger, and the final probed
    * search must be indistinguishable from a FULL REBUILD — the oracle
    * is exactly [[annIncremental]]'s (merged corpus, frozen centroids,
    * re-assign, probe, search): a stale copy surviving in an old cell, a
    * dropped batch, or any batch-boundary dependence hash-mismatches. */
  val streamAnn: QuerySpec = QuerySpec.sql(
    "q_stream_ann",
    annIncremental.oracle.get) { (spark, dir) =>
    import graft.sources.ManifestTable
    // frozen centroids: the shared fixture trains them once on the same
    // base corpus (the quantizer is versioned training state)
    val fixtureTbl = annManifestFixture(spark, dir)
    val cents = spark.read.parquet(s"$fixtureTbl-cents").localCheckpoint()
    val tbl = s"${graft.Scratch.root}/ann_stream_${graft.Scratch.dirToken(dir)}"
    val feed = s"$tbl-feed"
    val ck = s"$tbl-ck"
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq(tbl, s"$tbl-cents", feed, ck).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // v1: the base corpus laid out by cell under the frozen quantizer
    val bpos = annMicro(e.filter(col("vec_id") >= 20))
    val baseAssigned = e.filter(col("vec_id") >= 20)
      .join(annNearestCell(annCellDist(cents, bpos)), Seq("vec_id"))
    ManifestTable.create(spark, tbl, baseAssigned, "cell")
    // the arriving rows — 20 inserts + 5 negated replacements — as a
    // file feed consumed in multiple micro-batches
    val batch = e.filter(col("vec_id") < 20)
      .unionByName(e.filter(col("vec_id") >= 20 && col("vec_id") < 25)
        .withColumn("embedding", transform(col("embedding"), x => -x)))
    batch.repartition(4).write.parquet(feed)
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "2").parquet(feed)
    val q = stream.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) {
          val rows = b.localCheckpoint()
          val assigned = rows.join(
            annNearestCell(annCellDist(cents, annMicro(rows))), Seq("vec_id"))
          val keys = rows.select(col("vec_id")).distinct()
            .collect().map(_.getLong(0)) // per-trigger, admission-bounded
          ManifestTable.deleteWhere(spark, tbl,
            col("vec_id").isin(keys.map(Long.box): _*), "cell")
          ManifestTable.merge(spark, tbl, assigned, "vec_id", "cell")
        }
        ()
      }
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    cents.write.mode("overwrite").parquet(s"$tbl-cents")
    annProbedSearch(spark, dir, tbl, nProbe = 2, topK = 5)
  }

  /** JOHNSON-LINDENSTRAUSS random projection (Achlioptas 2003,
    * "Database-friendly random projections": a ±1 Rademacher matrix
    * preserves dot products in expectation, E⟨Pa,Pb⟩ = k⟨a,b⟩) — the
    * dimension-reduction pass that runs BEFORE indexing when 100 TB of
    * high-dimensional embeddings won't fit the ANN budget. The projection
    * matrix is never materialized: the sign s(i,j) is a FUNCTION (an md5
    * nibble of the coordinate pair), so every executor derives its own
    * matrix entries and nothing is broadcast or stored — the property
    * that makes JL free at any scale. All arithmetic is EXACT: embeddings
    * quantize to 2⁻²⁰-grain integers first, so projections, original dot
    * products (a codegen'd `zip_with` + integer `aggregate`, no joins),
    * and the JL drift check |⟨Pa,Pb⟩ − k⟨a,b⟩| ≤ k·2⁴⁰ (≈4σ for these
    * unit-norm 64-d vectors at k = 16) are order-independent integers in
    * both engines. A projection that lost a coordinate, signed
    * inconsistently, or drifted past the bound hash-mismatches. */
  val randomProj: QuerySpec = QuerySpec.sql(
    "q_random_proj",
    """WITH e AS (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS q
      |  FROM embeddings WHERE vec_id < 20),
      |p AS (
      |  SELECT vec_id, j,
      |         CAST(sum(qi * CASE WHEN substring(md5('rp-' || i || '-' || j), 1, 1)
      |                            IN ('0','1','2','3','4','5','6','7')
      |                       THEN 1 ELSE -1 END) AS BIGINT) AS pj
      |  FROM (SELECT vec_id, unnest(q) AS qi,
      |               unnest(range(1, len(q) + 1)) AS i FROM e),
      |       range(1, 17) AS t(j)
      |  GROUP BY 1, 2),
      |pairs AS (SELECT 2 * t AS ida, 2 * t + 1 AS idb FROM range(0, 10) AS s(t)),
      |od AS (
      |  SELECT ida, idb,
      |         CAST(list_sum(list_transform(range(1, len(a.q) + 1),
      |            i -> a.q[i] * b.q[i])) AS BIGINT) AS orig_dot
      |  FROM pairs JOIN e a ON a.vec_id = ida JOIN e b ON b.vec_id = idb),
      |pd AS (
      |  SELECT pa.vec_id AS ida, pb.vec_id AS idb,
      |         CAST(sum(pa.pj * pb.pj) AS BIGINT) AS proj_dot
      |  FROM p pa JOIN p pb ON pa.j = pb.j
      |  JOIN pairs ON pa.vec_id = pairs.ida AND pb.vec_id = pairs.idb
      |  GROUP BY 1, 2)
      |SELECT od.ida, od.idb, orig_dot, proj_dot,
      |       abs(proj_dot - 16 * orig_dot) <= 17592186044416 AS jl_ok
      |FROM od JOIN pd ON od.ida = pd.ida AND od.idb = pd.idb
      |ORDER BY 1""".stripMargin) { (spark, dir) =>
    val k = 16
    val e = Tables.embeddings(spark, dir).filter(col("vec_id") < 20)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1048576).cast("long")).as("q"))
      .localCheckpoint() // projection + both dot sides read it
    val signed = e.select(col("vec_id"), posexplode(col("q")).as(Seq("i0", "qi")))
      .select(col("vec_id"), (col("i0") + 1).as("i"), col("qi"))
      .crossJoin(broadcast(
        spark.range(1, k + 1).select(col("id").as("j"))))
    val sign = when(substring(
        md5(concat(lit("rp-"), col("i").cast("string"), lit("-"),
          col("j").cast("string"))), 1, 1)
        .isin("0", "1", "2", "3", "4", "5", "6", "7"), 1L).otherwise(-1L)
    val p = signed.groupBy(col("vec_id"), col("j"))
      .agg(sum(col("qi") * sign).as("pj"))
    val pairs = spark.range(0, 10)
      .select((col("id") * 2).as("ida"), (col("id") * 2 + 1).as("idb"))
    val od = pairs
      .join(e.select(col("vec_id").as("ida"), col("q").as("qa")), "ida")
      .join(e.select(col("vec_id").as("idb"), col("q").as("qb")), "idb")
      .select(col("ida"), col("idb"),
        aggregate(zip_with(col("qa"), col("qb"), (x, y) => x * y),
          lit(0L), (acc, v) => acc + v).as("orig_dot"))
    val pd = p.select(col("vec_id").as("ida"), col("j"), col("pj").as("pa"))
      .join(pairs, "ida")
      .join(p.select(col("vec_id").as("idb"), col("j"), col("pj").as("pb")),
        Seq("idb", "j"))
      .groupBy(col("ida"), col("idb"))
      .agg(sum(col("pa") * col("pb")).as("proj_dot"))
    od.join(pd, Seq("ida", "idb"))
      .select(col("ida"), col("idb"), col("orig_dot"), col("proj_dot"),
        (abs(col("proj_dot") - lit(16L) * col("orig_dot")) <=
          lit(17592186044416L)).as("jl_ok"))
      .orderBy(col("ida"))
  }

  val all: Seq[QuerySpec] =
    Seq(annCosine, annIvf, embeddingNearDup, embeddingClusters, annLsh, kmeansStep,
      pqAnn, pqTrain, ivfPqAnn, hybridSearch, semDedup, annIncremental,
      streamAnn, annPersistent, randomProj)
}
