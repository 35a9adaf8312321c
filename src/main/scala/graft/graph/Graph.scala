package graft.graph

import graft.QuerySpec
import graft.model.Tables
import graft.ops.Loop
import org.apache.spark.sql.functions._

/** Distributed graph analytics as relational plans, complementing the
  * pointer-doubling connected components in [[graft.dedup.Dedup]]: one
  * PageRank iteration over the customer→supplier purchase graph is a
  * groupBy (out-degrees) + equi-join (push rank along edges) + groupBy
  * (sum incoming) — O(edges) shuffle work, no driver-side graph, so the
  * iteration scales to any edge count. A full PageRank iterates it from a
  * loop-invariant per-supplier fold of the edge list ([[rankGraph]]), one
  * projection per round.
  *
  * Cross-engine exactness: per-edge contributions are floored to integer
  * PICO-units before the incoming sum (the q_tfidf ln-parity pattern —
  * integer sums are associative where double sums are not), and the final
  * per-node formula applies only single scalar ops to those integers.
  */
object Graph {

  /** Edge list, node set, node count, and out-degrees of the
    * customer→supplier purchase graph, as the lazy plan [[pageRankStep]]
    * runs: its value includes the source-table scan pruning its plan pins.
    * The iterated forms start from [[rankGraph]] instead. */
  private case class PurchaseGraph(
      e: org.apache.spark.sql.DataFrame, nodes: org.apache.spark.sql.DataFrame,
      n: org.apache.spark.sql.DataFrame, outdeg: org.apache.spark.sql.DataFrame)

  /** Staged distinct (customer, supplier) purchase edge list — built to
    * scratch parquet once per (data dir) per JVM (the [[coPurchaseStage]]
    * pattern), shared by every iterating consumer. */
  private[graft] val purchaseStageCache = scala.collection.mutable.Map[String, String]()

  private def purchaseEdges(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val path = purchaseStageCache.synchronized {
      purchaseStageCache.getOrElseUpdate(dir, {
        val p = s"${graft.Scratch.root}/purchase_e_${graft.Scratch.dirToken(dir)}"
        Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
          .distinct()
          .write.mode("overwrite").parquet(p)
        p
      })
    }
    spark.read.parquet(path)
  }

  private def purchaseGraph(spark: org.apache.spark.sql.SparkSession,
      dir: String): PurchaseGraph = {
    val e = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      .distinct()
    val nodes = e.select(lit(0).as("kind"), col("src").as("key"))
      .union(e.select(lit(1).as("kind"), col("dst").as("key"))).distinct()
    val n = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    PurchaseGraph(e, nodes, n, outdeg)
  }

  val pageRankStep: QuerySpec = QuerySpec.sql(
    "q_pagerank_step",
    """WITH e AS (
      |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |nodes AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_nodes FROM nodes),
      |outdeg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      |contrib AS (
      |  SELECT e.dst AS id,
      |         CAST(sum(CAST(floor(1e12 / n.n_nodes / o.deg + 0.5) AS BIGINT)) AS BIGINT) AS in_pico
      |  FROM e JOIN outdeg o ON e.src = o.src CROSS JOIN n
      |  GROUP BY 1),
      |dangling AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n_dangling
      |  FROM nodes LEFT JOIN outdeg ON nodes.id = outdeg.src
      |  WHERE outdeg.src IS NULL)
      |SELECT nodes.id AS node,
      |       CAST(floor(0.15 * 1e12 / n.n_nodes
      |                  + 0.85 * (coalesce(c.in_pico, 0)
      |                            + d.n_dangling * 1e12 / n.n_nodes / n.n_nodes)
      |                  + 0.5) AS BIGINT) AS rank_pico
      |FROM nodes LEFT JOIN contrib c ON nodes.id = c.id
      |CROSS JOIN n CROSS JOIN dangling d
      |ORDER BY rank_pico DESC, node LIMIT 50""".stripMargin) { (spark, dir) =>
    // node ids stay (kind, key) LONG pairs through every shuffle — the
    // 'c'/'s'-prefixed strings the contract exposes are rendered only for
    // the 50 output rows (string shuffle keys cost ~2x over longs here)
    val PurchaseGraph(e, nodes, n, outdeg) = purchaseGraph(spark, dir)
    // per-edge contribution of a uniform 1/N rank, floored to pico BEFORE
    // the sum so the aggregation is associative integer math; only
    // suppliers (kind 1) receive mass in this bipartite graph
    val contrib = e.join(outdeg, "src").crossJoin(broadcast(n))
      .select(col("dst").as("key"),
        floor(lit(1e12) / col("n_nodes") / col("deg") + 0.5).cast("long").as("c_pico"))
      .groupBy(col("key")).agg(sum(col("c_pico")).as("in_pico"))
      .select(lit(1).as("kind"), col("key"), col("in_pico"))
    // dangling nodes (no out-edges — here every supplier) spread their mass
    val dangling = nodes.join(outdeg, nodes("key") === outdeg("src") && nodes("kind") === 0, "left_anti")
      .agg(count(lit(1)).cast("double").as("n_dangling"))
    nodes.join(contrib, Seq("kind", "key"), "left_outer")
      .crossJoin(broadcast(n)).crossJoin(broadcast(dangling))
      .select(
        concat(when(col("kind") === 0, "c").otherwise("s"), col("key")).as("node"),
        floor(lit(0.15) * 1e12 / col("n_nodes")
          + lit(0.85) * (coalesce(col("in_pico"), lit(0L))
            + col("n_dangling") * 1e12 / col("n_nodes") / col("n_nodes"))
          + 0.5).cast("long").as("rank_pico"))
      .orderBy(col("rank_pico").desc, col("node"))
      .limit(50)
  }

  /** FULL PageRank: [[pageRankStep]]'s body iterated (3 fixed rounds so
    * the oracle can unroll them), driver-coordinated round by round (see
    * [[rankGraph]] for what a round costs). Rank state is integer pico
    * units end-to-end: per-edge pushes are `floor(r/deg + 0.5)` on the
    * INTEGER rank, so every engine replays the arithmetic bit-for-bit and
    * iteration composes exactly. The DuckDB oracle is generated from the
    * same round template. */
  val pageRank: QuerySpec = {
    val iters = 3
    def roundSql(k: Int): String =
      s"""c$k AS (
         |  SELECT e.dst AS key,
         |         CAST(sum(CAST(floor(CAST(r.r AS DOUBLE) / o.deg + 0.5) AS BIGINT)) AS BIGINT) AS in_pico
         |  FROM e JOIN outdeg o ON e.src = o.src
         |  JOIN r${k - 1} r ON r.kind = 0 AND r.key = e.src
         |  GROUP BY 1),
         |d$k AS (SELECT CAST(sum(r) AS BIGINT) AS mass FROM r${k - 1} WHERE kind = 1),
         |r$k AS (
         |  SELECT nodes.kind, nodes.key,
         |         CAST(floor(0.15 * 1e12 / n.n_nodes
         |                    + 0.85 * (coalesce(c.in_pico, 0) + d$k.mass / n.n_nodes)
         |                    + 0.5) AS BIGINT) AS r
         |  FROM nodes LEFT JOIN c$k c ON nodes.kind = 1 AND nodes.key = c.key
         |  CROSS JOIN n CROSS JOIN d$k)""".stripMargin
    QuerySpec.sql(
      "q_pagerank",
      s"""WITH e AS (
         |  SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |nodes AS (
         |  SELECT 0 AS kind, src AS key FROM e
         |  UNION SELECT 1 AS kind, dst AS key FROM e),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_nodes FROM nodes),
         |outdeg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT kind, key, CAST(floor(1e12 / n.n_nodes + 0.5) AS BIGINT) AS r
         |       FROM nodes CROSS JOIN n),
         |${(1 to iters).map(roundSql).mkString(",\n")}
         |SELECT CASE WHEN kind = 0 THEN 'c' ELSE 's' END || key AS node, r AS rank_pico
         |FROM r$iters ORDER BY rank_pico DESC, node LIMIT 50""".stripMargin) { (spark, dir) =>
      ranksAfter(spark, dir, iters)
        .select(
          concat(when(col("kind") === 0, "c").otherwise("s"), col("key")).as("node"),
          col("r").as("rank_pico"))
        .orderBy(col("rank_pico").desc, col("node"))
        .limit(50)
    }
  }

  /** The loop invariants of full PageRank over the purchase graph. Edges
    * run customer (kind 0) → supplier (kind 1) only, so no customer has an
    * in-edge: every customer holds the same rank in every round (the
    * teleport share plus the dangling share), and a supplier's incoming
    * mass depends only on that one rank and on the out-degrees of its
    * in-neighbours. The edge list therefore folds, once, to one row per
    * supplier holding the histogram of those out-degrees (`hist`: array of
    * (deg, cnt)), and a round is one projection over the supplier rows with
    * the customer rank and the dangling mass as literals — no join and no
    * exchange per round. The node count is observed on the two setup
    * checkpoints. */
  private final case class RankGraph(n: Double, nSuppliers: Long,
      customers: org.apache.spark.sql.DataFrame, suppliers: org.apache.spark.sql.DataFrame)

  private def rankGraph(spark: org.apache.spark.sql.SparkSession, dir: String): RankGraph = {
    val e = purchaseEdges(spark, dir)
    val (outdeg, nc) = Loop.cut(
      e.groupBy(col("src")).agg(count(lit(1)).as("deg")), count(lit(1)))
    val (hist, ns) = Loop.cut(
      e.join(graft.ops.AdaptiveBroadcast.ifFits(outdeg, nc.getLong(0)), "src")
        .groupBy(col("dst"), col("deg")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst")).agg(collect_list(struct(col("deg"), col("cnt"))).as("hist")),
      count(lit(1)))
    RankGraph((nc.getLong(0) + ns.getLong(0)).toDouble, ns.getLong(0),
      outdeg.select(lit(0).as("kind"), col("src").as("key")),
      hist.select(lit(1).as("kind"), col("dst").as("key"), col("hist")))
  }

  /** Ranks after some rounds: `rc` is every customer's rank, `mass` the
    * suppliers' total (the dangling mass the next round spreads) and
    * `suppliers` their (kind, key, r) rows. */
  private final case class Ranks(rc: Long, mass: Long,
      suppliers: org.apache.spark.sql.DataFrame)

  /** The uniform start: every node at 1/N. */
  private def startRanks(g: RankGraph): Ranks = {
    val r0 = math.floor(1e12 / g.n + 0.5).toLong
    Ranks(r0, r0 * g.nSuppliers,
      g.suppliers.select(col("kind"), col("key"), lit(r0).as("r")))
  }

  /** A node's next rank from its incoming pico mass and the dangling mass,
    * on the driver (customers, whose incoming mass is 0) and as a column
    * (suppliers): the same double operations in the same order, so both
    * agree with the oracle's `floor(0.15·1e12/N + 0.85·(in + mass/N) + 0.5)`. */
  private def rankOf(n: Double, in: Long, mass: Long): Long =
    math.floor(0.15 * 1e12 / n + 0.85 * (in + mass / n) + 0.5).toLong

  private def rankOf(n: Double, in: org.apache.spark.sql.Column,
      mass: Long): org.apache.spark.sql.Column =
    floor(lit(0.15) * 1e12 / lit(n) + lit(0.85) * (in + lit(mass) / lit(n)) + 0.5)
      .cast("long")

  /** One PageRank round from `cur` (whose own predecessor is `prev`, None
    * for the uniform start). Returns the next ranks and the largest rank
    * change of any node; the suppliers' mass and change are observed on
    * the round's checkpoint, and a supplier's rank in `cur` is recomputed
    * from the same row rather than joined back. */
  private def rankRound(g: RankGraph, cur: Ranks, prev: Option[Ranks]): (Ranks, Long) = {
    def incoming(rc: Long) = aggregate(col("hist"), lit(0L), (acc, h) =>
      acc + h("cnt") * floor(lit(rc.toDouble) / h("deg") + 0.5).cast("long"))
    val rPrev = prev.fold(lit(cur.rc))(p => rankOf(g.n, incoming(p.rc), p.mass))
    val (next, st) = Loop.cut(
      g.suppliers.select(col("kind"), col("key"),
        rankOf(g.n, incoming(cur.rc), cur.mass).as("r"), rPrev.as("r_prev")),
      coalesce(sum(col("r")), lit(0L)),
      coalesce(max(abs(col("r") - col("r_prev"))), lit(0L)))
    val rc = rankOf(g.n, 0L, cur.mass)
    (Ranks(rc, st.getLong(0), next.select(col("kind"), col("key"), col("r"))),
      math.max(st.getLong(1), math.abs(rc - cur.rc)))
  }

  /** Every node's (kind, key, r) row. */
  private def rankTable(g: RankGraph, r: Ranks): org.apache.spark.sql.DataFrame =
    g.customers.select(col("kind"), col("key"), lit(r.rc).as("r")).union(r.suppliers)

  /** The full per-node rank table after `iters` PageRank rounds (exposed
    * so the spec can check mass conservation over ALL nodes, not just the
    * registered query's top 50). */
  def ranksAfter(spark: org.apache.spark.sql.SparkSession, dir: String,
      iters: Int): org.apache.spark.sql.DataFrame = {
    val g = rankGraph(spark, dir)
    var (prev, cur) = (Option.empty[Ranks], startRanks(g))
    for (_ <- 1 to iters) {
      val next = rankRound(g, cur, prev)._1
      prev = Some(cur)
      cur = next
    }
    rankTable(g, cur)
  }

  /** PageRank iterated to CONVERGENCE (the production form; the registered
    * [[pageRank]] fixes 3 rounds only so its oracle can unroll them):
    * rounds run until no node's rank moves by more than `epsPico`, the
    * change observed on each round's own checkpoint. Returns the final
    * rank table and the number of rounds (including the verification round
    * that observes the fixpoint). Refuses to return an unconverged answer. */
  def pageRankConverged(spark: org.apache.spark.sql.SparkSession, dir: String,
      epsPico: Long = 10000000L, maxIter: Int = 120):
      (org.apache.spark.sql.DataFrame, Int) = {
    // damping 0.85 contracts deltas geometrically, so rounds-to-eps is
    // log(delta0/eps)/log(1/0.85) ≈ 42 for eps 1e7 on this graph — the
    // textbook 50-100-iteration PageRank budget, NOT a handful of rounds
    val g = rankGraph(spark, dir)
    var (prev, cur) = (Option.empty[Ranks], startRanks(g))
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxIter) {
      val (next, delta) = rankRound(g, cur, prev)
      prev = Some(cur)
      cur = next
      stable = delta <= epsPico
      rounds += 1
    }
    require(stable, s"pageRank did not converge in $maxIter rounds")
    (rankTable(g, cur), rounds)
  }

  // ---- shared co-purchase edge set -----------------------------------------
  //
  // q_triangle_count, q_label_prop, and q_item_cf all start from the same
  // derivation: the distinct (order, part) incidence and the co-purchase
  // pair set (u < v) it induces via a basket-bounded self-join. Each used
  // to recompute that self-join per run; stage both to parquet once per
  // (data dir) per JVM (the mergedFixture pattern) and let every consumer
  // scan the staged copy. Staged WITH the per-pair co-occurrence count, so
  // the CF scorer reads the same artifact the structural queries do — on a
  // cluster this is the "edge list as a table" layout every production
  // graph pipeline lands first.

  private[graft] val stageCache = scala.collection.mutable.Map[String, (String, String)]()

  /** (incidence, pairs): `li` = distinct (ok, p); `pc` = co-purchase pairs
    * u < v with co-occurrence count n_uv. Built once per (dir) per JVM. */
  private def coPurchaseStage(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val (liPath, pcPath) = stageCache.synchronized {
      stageCache.getOrElseUpdate(dir, {
        val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
        val h = graft.Scratch.dirToken(dir)
        val liP = s"${graft.Scratch.root}/copurchase_li_$h"
        val pcP = s"${graft.Scratch.root}/copurchase_pc_$h"
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
          .write.mode("overwrite").parquet(liP)
        val li = spark.read.parquet(liP)
        li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
          .groupBy(col("a.p").as("u"), col("b.p").as("v"))
          .agg(count(lit(1)).as("n_uv"))
          .write.mode("overwrite").parquet(pcP)
        (liP, pcP)
      })
    }
    (spark.read.parquet(liPath), spark.read.parquet(pcPath))
  }

  /** Bench telemetry: (pair count, max node degree) of the staged
    * co-purchase edge set. The graph suite's cost tracks THIS — the
    * driver regenerates testdata each round, and the wedge join's work
    * follows pair count and degree shape, not code — so the bench
    * artifact carries the density and round-over-round drift
    * adjudication becomes mechanical (one aggregate over the staged
    * edges, which the graph queries already built). */
  def coPurchaseDensity(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Long, Long) = {
    val pc = coPurchaseStage(spark, dir)._2
    val pairs = pc.count()
    val maxDeg = pc.select(col("u").as("node"))
      .union(pc.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .agg(max(col("deg"))).head.getLong(0)
    (pairs, maxDeg)
  }

  /** Oriented edge lists of the part co-purchase graph (two parts are
    * adjacent when some order contains both). Exposed for the spec: the
    * registered query counts triangles on the DEGREE-oriented arrows; the
    * spec recounts on id-oriented arrows and checks the counts agree
    * (triangle counts are orientation-invariant). */
  def coPurchaseArrows(spark: org.apache.spark.sql.SparkSession, dir: String,
      byDegree: Boolean): org.apache.spark.sql.DataFrame = {
    // one undirected edge per co-purchased part pair, read from the staged
    // edge set (the self-join runs once per JVM, not once per consumer)
    val e = coPurchaseStage(spark, dir)._2.select(col("u"), col("v"))
    if (!byDegree) e.select(col("u").as("s"), col("v").as("t"))
    else {
      // orient every edge toward its higher-(degree, id) endpoint: the
      // compact-forward trick — out-degrees are then O(sqrt(m)), so the
      // wedge join below is near-linear instead of sum-of-squared-degrees
      // on hub nodes. This is what keeps the count feasible at 100 TB.
      val deg = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val low = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      e.join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
        .select(when(low, col("u")).otherwise(col("v")).as("s"),
          when(low, col("v")).otherwise(col("u")).as("t"))
    }
  }

  /** All triangles {a,b,c} of the co-purchase graph, one row each, found by
    * the oriented wedge join: arrows s→t follow a total order, so a
    * triangle u≺v≺w appears exactly once as (u→v) ⋈ (v→w) closed by
    * (u→w). */
  def triangles(spark: org.apache.spark.sql.SparkSession, dir: String,
      byDegree: Boolean = true): org.apache.spark.sql.DataFrame = {
    val arrows = coPurchaseArrows(spark, dir, byDegree).localCheckpoint()
    // the WEDGE stream (x⋈y) is the big side here — sum of out-degree
    // products, an order of magnitude more rows than the arrows. The
    // broadcast of the arrows keeps the wedge stream pipeline-local
    // (scan → BHJ probe → BHJ probe → partial agg, one exchange total);
    // the explicit gate (AdaptiveBroadcast) makes that deterministic
    // instead of estimate-dependent (the checkpointed frame's stats sat
    // near the auto-broadcast threshold at the bench SF). The MEASURED
    // r18 win, though, is the probe SPREAD below: the checkpoint is
    // AQE-coalesced to ~3 partitions, so the whole wedge explosion ran
    // on 3 cores (plan pin: RoundRobinPartitioning in the _wedge_after
    // plan). The count is free: the frame was just materialized.
    val st = arrows.agg(count(lit(1)).as("n"),
      min(least(col("s"), col("t"))).as("lo"),
      max(greatest(col("s"), col("t"))).as("hi")).head
    val nArrows = st.getLong(0)
    val bcast = graft.ops.AdaptiveBroadcast.fits(arrows, nArrows)
    val aj = if (bcast) broadcast(arrows) else arrows
    // under the broadcast plan the probe stream inherits the checkpoint's
    // 1-3 AQE-coalesced partitions — spread it so the wedge explosion
    // uses the whole scheduler (one tiny exchange of the arrows)
    val x = if (bcast) graft.ops.AdaptiveBroadcast.spread(arrows) else arrows
    val wedges = x.as("x").join(aj.as("y"), col("x.t") === col("y.s"))
    // closure probe key: when both endpoints fit in 31 bits, pack (s, t)
    // into ONE long (s<<32 | t — injective on that domain, so the join is
    // provably the same) and the broadcast relation becomes a
    // LongHashedRelation: the per-wedge probe is a primitive-long lookup
    // instead of an UnsafeRow build + generic hash per wedge. This stage
    // runs once per WEDGE (sum of out-deg², ~41× the edge count here) —
    // r18 probe measured the packed form at 0.40× of the two-key form.
    // Keys outside [0, 2^31) fall back to the unchanged two-key join.
    val packable = nArrows == 0L ||
      (!st.isNullAt(1) && st.getLong(1) >= 0L && st.getLong(2) < (1L << 31))
    val closed =
      if (bcast && packable)
        wedges.join(
          broadcast(arrows.select(
            (shiftleft(col("s").cast("long"), 32) + col("t")).as("st"))),
          col("st") === shiftleft(col("x.s").cast("long"), 32) + col("y.t"))
      else
        wedges.join(aj.as("z"),
          col("z.s") === col("x.s") && col("z.t") === col("y.t"))
    closed.select(col("x.s").as("a"), col("x.t").as("b"), col("y.t").as("c"))
  }

  /** Triangle counting (top-20 parts by triangle participation plus the
    * global count). The oracle orients edges by part id — a different
    * orientation than the engine's degree order, but triangle membership is
    * orientation-invariant, so per-node and global counts agree exactly. */
  val triangleCount: QuerySpec = QuerySpec.sql(
    "q_triangle_count",
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |e AS (SELECT DISTINCT a.p AS u, b.p AS v
      |      FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p),
      |t AS (SELECT x.u AS a, x.v AS b, y.v AS c
      |      FROM e x JOIN e y ON x.v = y.u
      |      JOIN e z ON z.u = x.u AND z.v = y.v),
      |total AS (SELECT count(*) AS n_triangles FROM t),
      |pn AS (SELECT node, count(*) AS tri_cnt FROM (
      |         SELECT a AS node FROM t UNION ALL SELECT b AS node FROM t
      |         UNION ALL SELECT c AS node FROM t) m GROUP BY 1)
      |SELECT pn.node, pn.tri_cnt, total.n_triangles
      |FROM pn CROSS JOIN total
      |ORDER BY tri_cnt DESC, node LIMIT 20""".stripMargin) { (spark, dir) =>
    // materialize the PER-NODE aggregate (one row per part), not the raw
    // triangle list (one row per triangle — millions): the wedge join runs
    // once into the explode+groupBy, and the global count falls out of the
    // same aggregate as sum(tri_cnt)/3 (every triangle contributes exactly
    // 3 node slots), so the old second pass over the checkpointed triangle
    // rows disappears along with the checkpoint's full materialization
    val perNode = triangles(spark, dir)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
      .localCheckpoint()
    // integer div: 3·n_triangles is exact at any scale (double division
    // would round past 2^53)
    val total = perNode.agg(expr("sum(tri_cnt) div 3").as("n_triangles"))
    perNode.crossJoin(broadcast(total))
      .orderBy(col("tri_cnt").desc, col("node"))
      .limit(20)
  }

  /** Frontier BFS over the undirected customer↔supplier purchase graph
    * from the lowest customer key: per round, only the FRONTIER joins the
    * edge list (not the whole visited set), new nodes are those not yet in
    * `dist` (left-anti), and a 1-row count probe stops the loop the round
    * the frontier empties. First-visit round = shortest
    * hop distance, which is exactly the oracle's recursive-CTE min(d). */
  val shortestPath: QuerySpec = QuerySpec.sql(
    "q_shortest_path",
    """WITH RECURSIVE eb AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |ue AS (SELECT 'c' || c AS u, 's' || s AS v FROM eb
      |       UNION ALL SELECT 's' || s AS u, 'c' || c AS v FROM eb),
      |src AS (SELECT 'c' || min(c) AS sn FROM eb),
      |bfs(node, d) AS (
      |  SELECT sn, 0 FROM src
      |  UNION
      |  SELECT ue.v, bfs.d + 1 FROM bfs JOIN ue ON ue.u = bfs.node
      |  WHERE bfs.d < 6)
      |SELECT node, CAST(min(d) AS BIGINT) AS dist
      |FROM bfs GROUP BY 1 ORDER BY dist, node""".stripMargin) { (spark, dir) =>
    bfsDistances(spark, dir, maxHops = 6)
      .select(
        concat(when(col("kind") === 0, "c").otherwise("s"), col("key")).as("node"),
        col("dist"))
      .orderBy(col("dist"), col("node"))
  }

  /** (kind, key, dist) BFS distance table within `maxHops` of the minimum
    * customer key. Node ids stay (kind, key) long pairs through every
    * shuffle (strings only at render time, like [[pageRank]]). */
  def bfsDistances(spark: org.apache.spark.sql.SparkSession, dir: String,
      maxHops: Int): org.apache.spark.sql.DataFrame = {
    val e = purchaseEdges(spark, dir).localCheckpoint()
    // the frontier and the visited set are node-bounded driver-tracked
    // counts — broadcast both sides of the round's joins under the gate,
    // so a hop costs one pass over the (once-spread) edge list plus the
    // distinct's exchange, with no per-round shuffle of ue or dist
    val st = e.agg(count(lit(1)).as("n"),
      min(least(col("src"), col("dst"))).as("lo"),
      max(greatest(col("src"), col("dst"))).as("hi")).head
    val nEdges = st.getLong(0)
    val bcast = graft.ops.AdaptiveBroadcast.fits(e, nEdges)
    // node ids (kind, key) pack into ONE long nid = key·2 + kind whenever
    // keys are non-negative and fit 62 bits (the packing is injective on
    // that domain, so every join / distinct / anti-join below is provably
    // the same relation): each hop's frontier probe over the edge list
    // becomes a LongHashedRelation lookup instead of a two-key UnsafeRow
    // probe, and the per-hop distinct and visited anti-join hash one
    // primitive long (the triangle-closure packing, applied to the loop
    // state). Keys outside the domain take the unchanged two-column path.
    val packed = nEdges == 0L ||
      (!st.isNullAt(1) && st.getLong(1) >= 0L && st.getLong(2) < (1L << 62))
    if (packed) {
      val ue0 = e.select((col("src") * 2).as("pu"), (col("dst") * 2 + 1).as("pv"))
        .union(e.select((col("dst") * 2 + 1).as("pu"), (col("src") * 2).as("pv")))
      val ue = (if (bcast) graft.ops.AdaptiveBroadcast.spread(ue0) else ue0)
        .localCheckpoint()
      var dist = e.agg(min(col("src")).as("key"))
        .select((col("key") * 2).as("nid"), lit(0L).as("dist"))
        .localCheckpoint()
      var frontier = dist
      var frontierRows = 1L
      var distRows = 1L
      var hop = 0
      var done = false
      while (hop < maxHops && !done) {
        hop += 1
        val fB = graft.ops.AdaptiveBroadcast.ifFits(frontier, frontierRows)
        val next = fB.join(ue, fB("nid") === ue("pu"))
          .select(col("pv").as("nid")).distinct()
        frontier = next.join(graft.ops.AdaptiveBroadcast.ifFits(dist, distRows),
            Seq("nid"), "left_anti")
          .select(col("nid"), lit(hop.toLong).as("dist"))
          .localCheckpoint()
        frontierRows = frontier.count() // one count probe per hop
        if (frontierRows == 0) done = true
        else {
          dist = dist.union(frontier).localCheckpoint()
          distRows += frontierRows
        }
      }
      // unpack to the contract shape (kind int, key long, dist long)
      dist.select((col("nid") % 2).cast("int").as("kind"),
        shiftright(col("nid"), 1).as("key"), col("dist"))
    } else {
      val ue0 = e.select(lit(0).as("uk"), col("src").as("un"),
          lit(1).as("vk"), col("dst").as("vn"))
        .union(e.select(lit(1).as("uk"), col("dst").as("un"),
          lit(0).as("vk"), col("src").as("vn")))
      val ue = (if (bcast) graft.ops.AdaptiveBroadcast.spread(ue0) else ue0)
        .localCheckpoint()
      var dist = e.agg(min(col("src")).as("key"))
        .select(lit(0).as("kind"), col("key"), lit(0L).as("dist"))
        .localCheckpoint()
      var frontier = dist
      var frontierRows = 1L
      var distRows = 1L
      var hop = 0
      var done = false
      while (hop < maxHops && !done) {
        hop += 1
        val fB = graft.ops.AdaptiveBroadcast.ifFits(frontier, frontierRows)
        val next = fB
          .join(ue, fB("kind") === ue("uk") && fB("key") === ue("un"))
          .select(col("vk").as("kind"), col("vn").as("key")).distinct()
        frontier = next.join(graft.ops.AdaptiveBroadcast.ifFits(dist, distRows),
            Seq("kind", "key"), "left_anti")
          .select(col("kind"), col("key"), lit(hop.toLong).as("dist"))
          .localCheckpoint()
        frontierRows = frontier.count() // one count probe per hop
        if (frontierRows == 0) done = true
        else {
          dist = dist.union(frontier).localCheckpoint()
          distRows += frontierRows
        }
      }
      dist
    }
  }

  /** ITEM-ITEM COLLABORATIVE FILTERING — top-5 "parts bought together"
    * neighbors per part, scored by co-occurrence cosine
    * n_uv / sqrt(n_u · n_v) over order baskets. Ranked in exact integer
    * PICO-units of cosine² (`1e12·n_uv² div (n_u·n_v)` — the square is
    * rank-equivalent and avoids sqrt), so scores and tie-breaks replay
    * identically in both engines. The pair fan-out is one self-equi-join on
    * the order key: O(Σ basket²) rows, bounded by the basket size (≤7
    * lineitems per TPC-H order; a production corpus would cap pathological
    * baskets first), NEVER O(items²) — the item-pair aggregate and the
    * per-item top-k window are the only shuffles after it. This is the
    * co-occurrence recommender every commerce pipeline ships first. */
  val itemCf: QuerySpec = QuerySpec.sql(
    "q_item_cf",
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |pc AS (SELECT a.p AS u, b.p AS v, count(*) AS n_uv
      |       FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
      |       GROUP BY 1, 2),
      |n AS (SELECT p, count(*) AS np FROM li GROUP BY 1),
      |sym AS (SELECT u, v, n_uv FROM pc
      |        UNION ALL SELECT v, u, n_uv FROM pc),
      |sc AS (SELECT s.u AS part, s.v AS nbr, s.n_uv,
      |              (1000000000000 * s.n_uv * s.n_uv) // (nu.np * nv.np) AS cos2_pico
      |       FROM sym s JOIN n nu ON nu.p = s.u JOIN n nv ON nv.p = s.v),
      |r AS (SELECT part, nbr, n_uv, cos2_pico,
      |             row_number() OVER (PARTITION BY part
      |                                ORDER BY cos2_pico DESC, nbr ASC) AS rnk
      |      FROM sc)
      |SELECT part, CAST(rnk AS INTEGER) AS rnk, nbr, n_uv, cos2_pico
      |FROM r WHERE rnk <= 5 ORDER BY part, rnk""".stripMargin) { (spark, dir) =>
    val (li, pc) = coPurchaseStage(spark, dir)
    val n = li.groupBy(col("p")).agg(count(lit(1)).as("np"))
    val sym = pc.select(col("u"), col("v"), col("n_uv"))
      .unionByName(pc.select(col("v").as("u"), col("u").as("v"), col("n_uv")))
    val sc = sym
      .join(n.select(col("p").as("u"), col("np").as("nu")), "u")
      .join(n.select(col("p").as("v"), col("np").as("nv")), "v")
      .select(col("u").as("part"), col("v").as("nbr"), col("n_uv"),
        expr("(1000000000000L * n_uv * n_uv) div (nu * nv)").as("cos2_pico"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("part")).orderBy(col("cos2_pico").desc, col("nbr").asc)
    sc.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("part"), col("rnk"), col("nbr"), col("n_uv"), col("cos2_pico"))
      .orderBy(col("part"), col("rnk"))
  }

  /** Oracle SQL for [[labelProp]]: the k synchronous rounds unrolled as
    * generated CTEs (the q_bpe_vocab / q_hilbert_layout pattern — the
    * engines stay in lockstep by construction). */
  private def lpaOracleSql(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""c$i AS (
         |  SELECT e.u AS node, l.lab, count(*) AS n
         |  FROM e JOIN l${i - 1} l ON l.node = e.v GROUP BY 1, 2),
         |p$i AS (
         |  SELECT node, lab FROM (
         |    SELECT node, lab,
         |           row_number() OVER (PARTITION BY node
         |                              ORDER BY n DESC, lab ASC) AS rn
         |    FROM c$i) WHERE rn = 1),
         |l$i AS (
         |  SELECT l${i - 1}.node, coalesce(p$i.lab, l${i - 1}.lab) AS lab
         |  FROM l${i - 1} LEFT JOIN p$i ON p$i.node = l${i - 1}.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
       |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v
       |       FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p),
       |e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
       |l0 AS (SELECT DISTINCT p AS node, p AS lab FROM li),
       |$rounds,
       |sz AS (SELECT lab AS community, count(*) AS n_members FROM l$k GROUP BY 1),
       |tot AS (SELECT count(*) AS n_communities FROM sz)
       |SELECT sz.community, sz.n_members, tot.n_communities
       |FROM sz CROSS JOIN tot
       |ORDER BY n_members DESC, community LIMIT 20""".stripMargin
  }

  /** LABEL PROPAGATION community detection (Raghavan et al. 2007),
    * synchronous variant over the part co-purchase graph: every node
    * starts as its own community, and each round adopts the most frequent
    * label among its neighbors (ties → smallest label — the deterministic
    * tie-break that makes synchronous LPA replayable at all). Each round is
    * one edge-labels equi-join + a (node, label) count + a per-node rank-1
    * window — O(edges) shuffle work with no driver-side graph state, the
    * [[pageRank]] loop budget exactly, so rounds scale to any edge count.
    * k=3 rounds, fixed: enough to coalesce the co-purchase clusters, and
    * the oracle unrolls the same 3 rounds as generated CTEs. */
  val labelProp: QuerySpec = QuerySpec.sql(
    "q_label_prop", lpaOracleSql(3)) { (spark, dir) =>
    val (li, pc) = coPurchaseStage(spark, dir)
    val e0 = pc.select(col("u"), col("v"))
    var labels = li.select(col("p").as("node")).distinct()
      .withColumn("lab", col("node"))
      .localCheckpoint()
    // label state is one row per node, constant across rounds (the
    // left-outer keeps every node) — when it fits the broadcast budget,
    // each round's vote join ships the LABELS instead of shuffling the
    // (much larger) symmetrized edge list; over budget the plan is the
    // unchanged shuffle join (AdaptiveBroadcast)
    val nNodes = labels.count()
    val bcast = graft.ops.AdaptiveBroadcast.fits(labels, nNodes)
    // consumed once per round (3x): pin the symmetrized edge list in
    // memory rather than re-scanning + re-unioning the staged parquet.
    // Under the broadcast plan the vote join's parallelism is the edge
    // frame's own partitioning (no exchange left to re-spread it), so
    // spread it across the scheduler once, before the cut.
    val sym = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
    val e = (if (bcast) graft.ops.AdaptiveBroadcast.spread(sym) else sym)
      .localCheckpoint()
    for (_ <- 1 to 3) {
      // rank-1-by-(votes desc, label asc) as a MAX of (n, -lab) structs:
      // same winner as the oracle's row_number window, but an aggregate
      // with map-side partials instead of a per-node shuffle SORT — the
      // vote count and the argmax ride the same exchange
      val picked = e.join(
          graft.ops.AdaptiveBroadcast.ifFits(
            labels.withColumnRenamed("node", "nbr"), nNodes),
          col("v") === col("nbr"))
        .groupBy(col("u").as("node"), col("lab"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("node"))
        .agg(max(struct(col("n"), (-col("lab")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("new_lab"))
      // picked is ≤ one row per node too: broadcasting it makes the
      // carry-forward left-outer shuffle-free under the same gate
      labels = labels.join(graft.ops.AdaptiveBroadcast.ifFits(picked, nNodes),
          Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("new_lab"), col("lab")).as("lab"))
        .localCheckpoint()
    }
    val sz = labels.groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_members"))
    val tot = sz.agg(count(lit(1)).as("n_communities"))
    sz.crossJoin(broadcast(tot))
      .orderBy(col("n_members").desc, col("community"))
      .limit(20)
  }

  /** Oracle for [[kCore]]: iterative peeling UNROLLED to `n` rounds of
    * plain CTEs (degrees → keep ≥ k → induced edges). Peeling is a
    * monotonically shrinking fixpoint, so extra rounds past convergence
    * are no-ops — the round-`n` state IS the k-core whenever the real
    * peel converges within `n` rounds (measured: ≤5 rounds at every test
    * SF; `GraphSpec` pins the margin). Recursive CTEs can't express a
    * shrinking set under UNION semantics, hence the unroll. */
  private def kcoreOracleSql(k: Int, n: Int): String = {
    // AS MATERIALIZED: each e_i is referenced 5× downstream — inlined CTEs
    // would expand 5^n-fold (DuckDB's default), materialized ones evaluate
    // once per round, mirroring the engine's per-round checkpoints
    val rounds = (1 to n).map { i =>
      s"""k$i AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e${i - 1}
         |           UNION ALL SELECT v FROM e${i - 1}) m$i
         |        GROUP BY 1 HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
         |        WHERE u IN (SELECT node FROM k$i)
         |          AND v IN (SELECT node FROM k$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
       |e0 AS MATERIALIZED (SELECT a.p AS u, b.p AS v
       |       FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
       |       GROUP BY 1, 2 HAVING count(*) >= 2),
       |$rounds
       |SELECT node, CAST(count(*) AS BIGINT) AS core_deg
       |FROM (SELECT u AS node FROM e$n UNION ALL SELECT v FROM e$n) fin
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** K-CORE DECOMPOSITION (k = 2) of the REPEAT-co-purchase graph (pairs
    * bought together in ≥ 2 orders — the confidence-filtered edge set, far
    * sparser than the raw co-purchase graph) by distributed iterative
    * peeling: each round computes degrees (one aggregate over the edge
    * list), drops nodes below k, and induces the surviving subgraph with
    * two SEMI-joins against the metadata-small survivor set (broadcast in
    * practice — the peel never shuffles the edge list on anything but its
    * own keys). Rounds ≅ the graph's degeneracy, not its size; each round
    * is O(edges remaining), and the edge list shrinks monotonically —
    * the textbook scalable formulation (Batagelj-Zaveršnik peeling,
    * synchronized rounds). A 1-row `limit(1)` probe per round is the only
    * driver coordination, the same budget as BFS/PageRank. The 2-core —
    * every part that lies on a cycle of repeat-co-purchases — is what
    * survives; output is each core member with its within-core degree. */
  val kCore: QuerySpec = QuerySpec.sql(
    "q_kcore", kcoreOracleSql(2, 10)) { (spark, dir) =>
    val k = 2
    var edges = coPurchaseStage(spark, dir)._2
      .filter(col("n_uv") >= 2).select(col("u"), col("v"))
      .localCheckpoint()
    var rounds = 0
    var converged = false
    while (!converged && rounds < 10) {
      val deg = edges.select(col("u").as("node"))
        .unionByName(edges.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .localCheckpoint()
      if (deg.filter(col("deg") < k).limit(1).count() == 0) converged = true
      else {
        val keep = deg.filter(col("deg") >= k).select("node")
        edges = edges
          .join(keep.withColumnRenamed("node", "u"), Seq("u"), "semi")
          .join(keep.withColumnRenamed("node", "v"), Seq("v"), "semi")
          .localCheckpoint()
        rounds += 1
      }
    }
    // the oracle unrolls 10 rounds; a slower peel would diverge from it
    require(converged, s"k-core peel did not converge within 10 rounds")
    edges.select(col("u").as("node"))
      .unionByName(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_deg"))
      .orderBy(col("node"))
  }

  val all: Seq[QuerySpec] =
    Seq(pageRankStep, pageRank, triangleCount, shortestPath, itemCf, labelProp,
      kCore)
}
