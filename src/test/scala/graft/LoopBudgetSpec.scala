package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The driver loops (PageRank, star-contraction connected components, PQ
  * Lloyd training) are latency-bound: at small scale their cost is the
  * fixed cost of each Spark job, not compute. A job count does not depend
  * on the host, so these ceilings pin each loop's budget (setup, then one
  * exchange plus the checkpoint per round, probes observed in the
  * checkpoint's own job) where a wall-time bound could not. */
class LoopBudgetSpec extends AnyFunSuite {
  import TestSpark.sf
  // a session of its own: a conf another suite left set must not change
  // the plans, and so the counts, pinned here
  private val spark = TestSpark.spark.newSession()
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def chain: DataFrame = (0L until 8L).map(i => (i, i + 1)).toDF("a", "b")

  /** Each loop as (name, job ceiling at sf0.001, run → sorted result rows). */
  private val loops: Seq[(String, Long, () => Seq[String])] = Seq(
    ("q_pagerank", 11L, () => rows(graph.Graph.pageRank.fn(spark, sf))),
    ("q_dedup_clusters", 18L, () => rows(dedup.Dedup.dedupClusters.fn(spark, sf))),
    ("q_pq_train", 10L, () => rows(sim.Ann.pqTrain.fn(spark, sf))),
    ("pageRankConverged", 49L, () => {
      val (ranks, rounds) = graph.Graph.pageRankConverged(spark, sf)
      s"rounds=$rounds" +: rows(ranks)
    }),
    ("connectedComponentsWithRounds", 24L, () => {
      val (labels, rounds, probes) = dedup.Dedup.connectedComponentsWithRounds(chain, "a", "b")
      s"rounds=$rounds probes=$probes" +: rows(labels)
    }),
    ("pqTrainConverged", 47L, () => {
      val (cents, assigns, rounds) = sim.Ann.pqTrainConverged(spark, sf)
      s"rounds=$rounds" +: (rows(cents) ++ rows(assigns))
    }))

  /** Every loop run once at the default broadcast budget: name → (jobs,
    * result rows). */
  private lazy val defaultRuns: Map[String, (Long, Seq[String])] = {
    // the purchase edge list is staged once per data dir per JVM; stage it
    // first so the counts do not depend on which suite ran before
    graph.Graph.pageRank.fn(spark, sf).collect()
    val counter = new JobCounter(spark)
    try loops.map { case (name, _, run) =>
      val (result, jobs) = counter.count(run())
      name -> (jobs, result)
    }.toMap
    finally counter.close()
  }

  test("driver loops stay within their Spark job budget at sf0.001") {
    val over = loops.collect { case (name, ceiling, _) if defaultRuns(name)._1 > ceiling =>
      s"$name ran ${defaultRuns(name)._1} jobs (ceiling $ceiling)"
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("the loops give the same results down the over-budget shuffle path") {
    // budget 0 sends every AdaptiveBroadcast gate (the PageRank degree
    // join, the star rounds' per-node min sides, the component labels)
    // down the shuffle join it takes when loop state outgrows executors.
    // PQ training has no gate; q_pq_train stands in for its slower
    // fixpoint twin, which runs the same Lloyd step
    val key = ops.AdaptiveBroadcast.confKey
    val expected = defaultRuns
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    try {
      loops.filterNot(_._1 == "pqTrainConverged").foreach { case (name, _, run) =>
        assert(run() === expected(name)._2, s"$name differs on the shuffle path")
      }
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
