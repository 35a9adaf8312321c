package graft.ops

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** Lineage cut for the driver-coordinated loops (PageRank rounds, star
  * contraction, Lloyd steps). A loop decides on scalars — a row count, a
  * dangling-mass sum, a convergence delta — and a separate `count()` or
  * one-row aggregate per scalar costs its own Spark job (two with the
  * aggregate's exchange) every round. `cut` attaches those aggregates to
  * the frame with `Dataset.observe`, so they are computed by the same job
  * that materializes the `localCheckpoint`, and returns them with it. */
private[graft] object Loop {

  /** `df` checkpointed, and one row holding `aggs` over its rows. */
  def cut(df: DataFrame, aggs: Column*): (DataFrame, Row) = {
    require(aggs.nonEmpty, "cut observes at least one aggregate")
    val obs = Observation()
    val cp = df.observe(obs, aggs.head, aggs.tail: _*).localCheckpoint()
    // Spark fills the observation when the checkpoint's action finishes
    // (the listener that delivers it can lag by a few ms); a bound turns
    // a metric that never arrives into an error, not a hang
    (cp, Await.result(obs.future, 10.minutes))
  }
}
