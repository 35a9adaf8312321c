package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.GraftPlanBridge

/** Counts the Spark jobs a piece of driver code starts. A job count does
  * not depend on the host, so it pins a query's fixed per-job cost where
  * its wall time cannot. The code runs under a job group of its own, and
  * only jobs of that group count: a job another thread starts meanwhile (a
  * streaming query left running, say) does not. */
final class JobCounter(spark: SparkSession) extends SparkListener {
  private val GroupKey = "spark.jobGroup.id"
  private val byGroup = new ConcurrentHashMap[String, AtomicLong]()
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      .flatMap(g => Option(byGroup.get(g))).foreach(_.incrementAndGet())

  /** `body`'s result and the number of jobs it started. */
  def count[T](body: => T): (T, Long) = {
    val sc = spark.sparkContext
    val group = s"job-counter-${UUID.randomUUID()}"
    val jobs = new AtomicLong
    byGroup.put(group, jobs)
    val props = Seq(GroupKey, "spark.job.description", "spark.job.interruptOnCancel")
    val outer = props.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(group, "counted by JobCounter", interruptOnCancel = false)
    try {
      val result = body
      GraftPlanBridge.drainListeners(spark)
      (result, jobs.get)
    } finally {
      outer.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      byGroup.remove(group)
    }
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}
