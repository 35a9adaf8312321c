package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one op execution measured, besides its wall time. */
final case class Timing(construct: Double, plan: Double, exec: Double,
    checksum: Option[String] = None, extra: Map[String, String] = Map.empty)

/** One benchmark op: a call into a public function of one engine module. */
final case class Op(name: String, module: String, kind: String, run: () => Timing)

/** A closed-loop workload: the same op list every pass, each pass starting
  * from the same state. Pass 0 is the untimed first rep. */
trait Workload {
  def prepare(): Unit = ()
  def beginPass(pass: Int): Unit = ()
  def ops(pass: Int): Seq[Op]
  /** Extra counters sampled before and after each op in a traced run. */
  def observe(op: Op, pass: Int): Map[String, Double] = Map.empty
  /** Extra counters sampled at the end of a traced pass. */
  def passMetrics(pass: Int): Map[String, Double] = Map.empty
  def oracles: Map[String, String] = Map.empty
}

object Ops {
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** construct = the public function that returns the DataFrame, plan =
    * forcing the checksum's executedPlan, exec = the checksum action. */
  def query(name: String, module: String, kind: String)(build: => DataFrame): Op =
    Op(name, module, kind, () => {
      val t0 = System.nanoTime()
      val df = build
      val t1 = System.nanoTime()
      val cf = Checksum.frame(df)
      cf.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val row = cf.collect()(0)
      val t3 = System.nanoTime()
      Timing(secs(t0, t1), secs(t1, t2), secs(t2, t3), Some(Checksum.render(df, row)))
    })

  /** A verb that runs eagerly (a commit, a job): all of it is construct. */
  def verb(name: String, module: String, kind: String)(
      body: => Map[String, String]): Op =
    Op(name, module, kind, () => {
      val t0 = System.nanoTime()
      val extra = body
      Timing(secs(t0, System.nanoTime()), 0.0, 0.0, None, extra)
    })

  def specs(names: Seq[String]): Seq[graft.QuerySpec] = {
    val all = graft.SparkEntry.specs.map(s => s.name -> s).toMap
    names.map(n => all.getOrElse(n, sys.error(s"unknown registry spec $n")))
  }
}

object Main {
  final case class Args(workload: String, data: String, work: String, out: String,
      seed: Long, passes: Int, trace: Boolean)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("out"), m("seed").toLong,
      m("passes").toInt, m.get("trace").contains("1"))
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the catalog reads its root once, on first use: set it here, once
      .config("spark.sql.catalog.graft_cat", "graft.sources.ManifestCatalog")
      .config("spark.sql.catalog.graft_cat.root", s"$work/catalog")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.work)
    val w: Workload = a.workload match {
      case "etl_analytics" => new EtlAnalytics(spark, a.data, a.work, a.seed)
      case "lakehouse_rw" => new LakehouseRw(spark, a.data, a.work, a.seed)
      case other => sys.error(s"unknown workload $other")
    }
    val sc = spark.sparkContext
    val tracer = new Tracer
    var attached = false
    def attach(on: Boolean): Unit = if (on != attached) {
      if (on) { sc.addSparkListener(tracer); spark.streams.addListener(tracer.streams) }
      else { sc.removeSparkListener(tracer); spark.streams.removeListener(tracer.streams) }
      attached = on
    }
    // traced run: odd passes traced, even passes untraced (the overhead
    // baseline), at least two traced passes to check counter determinism
    val timed = 1 to (if (a.trace) math.max(3, a.passes + 1) else a.passes)
    def traced(p: Int): Boolean = a.trace && p % 2 == 1
    val records = mutable.ArrayBuffer.empty[String]
    val passRecs = mutable.ArrayBuffer.empty[String]
    var timedStartMs = 0L
    val workloadStartMs = System.currentTimeMillis()
    attach(a.trace)
    w.prepare()
    for (p <- 0 +: timed) {
      w.beginPass(p)
      if (p == 1) timedStartMs = System.currentTimeMillis()
      attach(traced(p) || (a.trace && p == 0))
      val gc0 = gcMs
      val passStart = System.nanoTime()
      val passStartMs = System.currentTimeMillis()
      var heapPeak = 0.0
      w.ops(p).zipWithIndex.foreach { case (op, i) =>
        val id = s"p$p.$i.${op.name}"
        val before = if (attached) w.observe(op, p) else Map.empty[String, Double]
        sc.setJobGroup(id, op.name, interruptOnCancel = false)
        tracer.current = id
        val s0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val res: Either[Throwable, Timing] =
          try Right(op.run()) catch { case e: Throwable => Left(e) }
        val lat = (System.nanoTime() - t0) / 1e9
        val s1 = System.currentTimeMillis()
        sc.clearJobGroup()
        tracer.current = ""
        val f = mutable.LinkedHashMap[String, String](
          "op" -> Json.str(op.name), "module" -> Json.str(op.module),
          "kind" -> Json.str(op.kind), "pass" -> p.toString, "seq" -> i.toString,
          "traced" -> traced(p).toString, "latency_s" -> Json.num(lat),
          "ok" -> res.isRight.toString)
        res match {
          case Right(t) =>
            f ++= Seq("construct_s" -> Json.num(t.construct), "plan_s" -> Json.num(t.plan),
              "exec_s" -> Json.num(t.exec))
            t.checksum.foreach(c => f("checksum") = c)
            f("extra") = Json.obj(t.extra.map { case (k, v) => k -> Json.str(v) })
          case Left(e) =>
            val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
            f("error") = Json.str(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}" +
              (if (msg ne e) s" <- ${msg.getClass.getName}: ${String.valueOf(msg.getMessage).take(200)}" else ""))
        }
        if (attached) {
          org.apache.spark.perfbench.Bus.drain(sc)
          val c = tracer.counters(id)
          val after = w.observe(op, p)
          heapPeak = math.max(heapPeak, heapAfterGcMb)
          c.synchronized {
            f ++= Seq("jobs" -> c.jobs.toString, "tasks" -> c.tasks.toString,
              "task_cpu_s" -> Json.num(c.cpuNs / 1e9), "shuffle_bytes" -> c.shuffleBytes.toString,
              "spill_bytes" -> c.spillBytes.toString, "records_read" -> c.recordsRead.toString,
              "driver_s" -> Json.num(tracer.driverMs(id, s0, s1) / 1e3),
              "triggers" -> c.triggers.toString, "state_bytes" -> c.stateBytes.toString,
              "phases_ms" -> Json.obj(c.phasesMs.map { case (k, v) => k -> v.toString }),
              "observed" -> Json.obj(after.map { case (k, v) =>
                k -> Json.num(v - before.getOrElse(k, 0.0)) }))
          }
          res.foreach { t =>
            val c0 = s0
            val c1 = c0 + (t.construct * 1000).toLong
            val p1 = c1 + (t.plan * 1000).toLong
            tracer.span("construct", id, c0, c1)
            if (t.plan > 0) tracer.span("plan", id, c1, p1)
            if (t.exec > 0) tracer.span("exec", id, p1, s1)
          }
          tracer.span(if (op.kind == "commit") "commit" else "op", id, s0, s1,
            "module" -> Json.str(op.module), "ok" -> res.isRight.toString)
        }
        records += Json.obj(f)
      }
      val wall = (System.nanoTime() - passStart) / 1e9
      if (attached) tracer.span("pass", s"p$p", passStartMs, System.currentTimeMillis())
      passRecs += Json.obj(Seq("pass" -> p.toString, "traced" -> traced(p).toString,
        "wall_s" -> Json.num(wall), "gc_s" -> Json.num((gcMs - gc0) / 1e3),
        "heap_after_gc_peak_mb" -> Json.num(heapPeak),
        "metrics" -> Json.obj((if (attached) w.passMetrics(p) else Map.empty[String, Double])
          .map { case (k, v) => k -> Json.num(v) })))
    }
    if (attached) tracer.span("workload", a.workload, workloadStartMs, System.currentTimeMillis())
    attach(false)
    val outDir = new File(a.out)
    outDir.mkdirs()
    Files.write(Paths.get(a.out, "ops.jsonl"), records.map(_ + "\n").mkString.getBytes("UTF-8"))
    Files.write(Paths.get(a.out, "run.json"), Json.obj(Seq(
      "timed_start_ms" -> timedStartMs.toString,
      "cores" -> Runtime.getRuntime.availableProcessors.toString,
      "passes" -> passRecs.mkString("[", ",", "]"),
      "oracles" -> Json.obj(w.oracles.map { case (k, v) => k -> Json.str(v) }))).getBytes("UTF-8"))
    if (a.trace)
      Files.write(Paths.get(a.out, "spans.json"),
        tracer.spans.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
    spark.stop()
  }
}

/** Directory size and file count (data files only), for write and space
  * amplification. */
object Disk {
  def scan(dir: File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else if (dir.isFile) (if (dir.getName.endsWith(".parquet")) (dir.length, 1L) else (0L, 0L))
    else Option(dir.listFiles).getOrElse(Array.empty[File]).map(scan)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}
