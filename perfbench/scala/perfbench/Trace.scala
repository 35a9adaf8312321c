package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters one op accumulates while the tracer is attached. */
final class OpCounters {
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var triggers = 0
  var stateBytes = 0L
  val phasesMs: mutable.Map[String, Long] = mutable.Map.empty
  val jobSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** SparkListener + StreamingQueryListener that attribute jobs, tasks and
  * micro-batch progress to the op that ran them. Jobs carry the op id as
  * their job group; a job without one (a thread that did not inherit the
  * group) falls back to the op running when it started. Spans are kept in
  * memory and written once at the end of the run. */
final class Tracer extends SparkListener {
  @volatile var current: String = ""
  val byOp: TrieMap[String, OpCounters] = TrieMap.empty
  private val stageOp = TrieMap.empty[Int, String]
  private val jobOpen = TrieMap.empty[Int, (String, Long)]
  private val queryOp = TrieMap.empty[java.util.UUID, String]
  val spans: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def counters(op: String): OpCounters = byOp.getOrElseUpdate(op, new OpCounters)

  def span(kind: String, op: String, startMs: Long, endMs: Long,
      attrs: (String, String)*): Unit = spans.synchronized {
    spans += Json.obj(Seq("kind" -> Json.str(kind), "op" -> Json.str(op),
      "start_ms" -> startMs.toString, "end_ms" -> endMs.toString) ++ attrs)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.nonEmpty).getOrElse(current)
    e.stageIds.foreach(s => stageOp(s) = group)
    jobOpen(e.jobId) = (group, e.time)
    val c = counters(group)
    c.synchronized { c.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobOpen.remove(e.jobId).foreach { case (op, t0) =>
      val c = counters(op)
      c.synchronized { c.jobSpans += ((t0, e.time)) }
      span("job", op, t0, e.time, "job_id" -> e.jobId.toString)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(op)
      c.synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    // delivered synchronously inside start(), so `current` is the op
    override def onQueryStarted(e: QueryStartedEvent): Unit = queryOp(e.id) = current
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val op = queryOp.getOrElse(p.id, current)
      val c = counters(op)
      val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      c.synchronized {
        c.triggers += 1
        dur.foreach { case (k, v) => c.phasesMs(k) = c.phasesMs.getOrElse(k, 0L) + v }
        c.stateBytes = math.max(c.stateBytes, p.stateOperators.map(_.memoryUsedBytes).sum)
      }
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
        dur.getOrElse("triggerExecution", 0L)
      span("trigger", op, end - dur.getOrElse("triggerExecution", 0L), end,
        "batch_id" -> p.batchId.toString)
    }
  }

  /** Wall ms of [startMs, endMs] covered by no running job of `op`. */
  def driverMs(op: String, startMs: Long, endMs: Long): Long = {
    val iv = counters(op).jobSpans.map { case (a, b) =>
      (math.max(a, startMs), math.min(b, endMs)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var (s, e) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > e) { if (e > s) covered += e - s; s = a; e = b }
      else e = math.max(e, b)
    }
    if (e > s) covered += e - s
    math.max(0L, (endMs - startMs) - covered)
  }
}
