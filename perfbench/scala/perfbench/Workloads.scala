package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.sources.ManifestTable

/** Registry ops of one module, each run as a checked query. */
object Registry {
  def ops(spark: SparkSession, tables: String, names: Seq[(String, String)]): Seq[Op] =
    names.map { case (name, module) =>
      val spec = Ops.specs(Seq(name)).head
      Ops.query(name, module, "query")(spec.fn(spark, tables))
    }
  def oracles(names: Seq[(String, String)]): Map[String, String] =
    Ops.specs(names.map(_._1)).flatMap(s => s.oracle.map(s.name -> _)).toMap

  def shuffled[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new Random(seed * 7919 + pass).shuffle(xs)
}

/** The paper's pipeline: `EtlJob.run` over raw CSV, the relational and ETL
  * reporting queries over the star schema, and the downstream analytics that
  * run as driver loops (graph, dedup and similarity iterations, a micro-batch
  * stream), each many Spark jobs per result. */
final class EtlAnalytics(spark: SparkSession, data: String, work: String, seed: Long)
    extends Workload {
  val queries: Seq[(String, String)] = Seq(
    "q_etl_reference" -> "etl", "q_etl_decimal" -> "etl",
    "q_sales_trends" -> "ops", "q_sales_by_segment" -> "ops",
    "q_join_enrich" -> "ops", "q_rollup" -> "ops",
    "q_pagerank" -> "graph", "q_dedup_clusters" -> "dedup",
    "q_pq_train" -> "sim")
  private var rep = 0

  private def etlJob(pass: Int): Op = Ops.verb("etl_job", "etl", "etl") {
    rep += 1
    val out = s"$work/etl_out/p${pass}_r$rep"
    graft.etl.EtlJob.run(spark, s"$data/etl/tx", s"$data/etl/rates.csv",
      s"$data/etl/categories.csv", out, java.time.LocalDate.parse("2025-07-01"))
    Map("out" -> out)
  }

  // the registry's streaming specs checkpoint to a fixed path outside the
  // run's scratch root; this public ingest takes its checkpoint directory
  private def streamIngest(pass: Int): Op = Ops.verb("stream_ingest", "streaming", "stream") {
    rep += 1
    val src = s"$data/stream_src"
    val out = s"$work/stream_out/p${pass}_r$rep"
    graft.streaming.StreamingSink.runAvailableNow(spark, src, spark.read.parquet(src).schema,
      out, s"$work/stream_ckpt/p${pass}_r$rep")
    Map("out" -> out)
  }

  override def ops(pass: Int): Seq[Op] =
    Registry.shuffled(Seq(etlJob(pass), streamIngest(pass)) ++
      Registry.ops(spark, s"$data/tables", queries), seed, pass)

  override def observe(op: Op, pass: Int): Map[String, Double] =
    if (op.kind != "etl") Map.empty
    else Map("output_bytes" -> Disk.scan(new File(s"$work/etl_out"))._1.toDouble)

  override def oracles: Map[String, String] = Registry.oracles(queries)
}

/** The ETL output as a catalog manifest table, one day per round: load,
  * corrections, erasure, merge-on-read update, branch write + publish and
  * four connector reads; one optimize per pass. Every pass works on a
  * shallow clone of the same base snapshot. */
final class LakehouseRw(spark: SparkSession, data: String, work: String, seed: Long)
    extends Workload {
  private val root = s"$work/catalog"
  private val lake = s"$data/lakehouse"
  private case class Round(eraseUser: String, repriceProduct: String, pointId: String)
  private val rounds: Seq[Round] = scala.io.Source.fromFile(s"$lake/rounds.tsv")
    .getLines().filter(_.nonEmpty).map(_.split("\t")).map(a => Round(a(0), a(1), a(2))).toSeq
  private var table = "base"
  private val insertVersion = Array.fill(rounds.size)(0)
  private var changeBytes = 0L

  private def base(t: String) = s"$root/$t"
  private def sql(s: String) = spark.sql(s)
  private def version: Int = ManifestTable.currentVersion(spark, base(table))

  override def prepare(): Unit = {
    sql("""CREATE TABLE graft_cat.`base` (transaction_id STRING, user_id STRING,
          |product_id STRING, category STRING, amount DOUBLE, currency STRING,
          |amount_usd DOUBLE, timestamp TIMESTAMP, transaction_date DATE,
          |transaction_year INT, transaction_month INT, transaction_week INT,
          |transaction_day INT) PARTITIONED BY (transaction_month)""".stripMargin)
    ManifestTable.setTableProperty(spark, base("base"), "keyCol", "transaction_id")
    spark.read.parquet(s"$lake/base.parquet").createOrReplaceTempView("lake_base")
    sql("INSERT INTO graft_cat.`base` SELECT * FROM lake_base")
    rounds.indices.foreach { r =>
      Seq("load", "corr", "branch").foreach { k =>
        spark.read.parquet(s"$lake/${k}_$r.parquet").createOrReplaceTempView(s"lake_${k}_$r")
      }
    }
  }

  override def beginPass(pass: Int): Unit = {
    table = s"tx_$pass"
    ManifestTable.cloneTable(spark, base("base"), base(table))
    ManifestTable.setTableProperties(spark, base(table),
      ManifestTable.tableProperties(spark, base("base")))
    changeBytes = 0L
  }

  private def commit(name: String)(body: => Unit): Op =
    Ops.verb(name, "sources", "commit") { body; Map.empty }

  private def read(name: String)(q: => String): Op = Ops.query(name, "sources", "scan")(sql(q))

  /** `$history` is checked against the version the table is at when read. */
  private def readHistory: Op = {
    var v = 0
    val op = read("scan_meta") { v = version; s"SELECT * FROM graft_cat.`$table$$history`" }
    op.copy(run = () => op.run().copy(extra = Map("version" -> v.toString)))
  }

  private def batchBytes(k: String, r: Int): Long = new File(s"$lake/${k}_$r.parquet").length

  /** The untimed first pass runs one round: every distinct op once. */
  override def ops(pass: Int): Seq[Op] = {
    val t = s"graft_cat.`$table`"
    val rng = new Random(seed * 31 + pass)
    rounds.zipWithIndex.take(if (pass == 0) 1 else rounds.size).flatMap { case (rd, r) =>
      val writes = Seq(
        commit("insert") {
          changeBytes += batchBytes("load", r)
          sql(s"INSERT INTO $t SELECT * FROM lake_load_$r")
          insertVersion(r) = version
        },
        commit("merge") {
          changeBytes += batchBytes("corr", r)
          sql(s"""MERGE INTO $t tgt USING lake_corr_$r src
                 |ON tgt.transaction_id = src.transaction_id
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        },
        commit("delete") {
          sql(s"DELETE FROM $t WHERE user_id = '${rd.eraseUser}'")
        },
        commit("update_mor") {
          val b = base(table)
          ManifestTable.setTableProperty(spark, b, "write.mode", "merge-on-read")
          try sql(s"""UPDATE $t SET amount_usd = amount_usd * 2.0
                     |WHERE product_id = '${rd.repriceProduct}'""".stripMargin)
          finally ManifestTable.setTableProperty(spark, b, "write.mode", "copy-on-write")
          // fold the deletion vector before the next copy-on-write verb
          sql(s"CALL graft_cat.system.purge_deletes(`table` => '$table')").collect()
        },
        commit("branch") {
          changeBytes += batchBytes("branch", r)
          val br = s"day$r"
          sql(s"CALL graft_cat.system.create_branch(`table` => '$table', name => '$br')").collect()
          sql(s"INSERT INTO graft_cat.`$table$$branch_$br` SELECT * FROM lake_branch_$r")
          sql(s"CALL graft_cat.system.fast_forward(`table` => '$table', branch => '$br')").collect()
        })
      val reads = Seq(
        read("scan_agg") {
          s"""SELECT transaction_date, category, count(*) AS n, sum(amount_usd) AS usd
             |FROM $t GROUP BY 1, 2""".stripMargin
        },
        read("scan_point") { s"SELECT * FROM $t WHERE transaction_id = '${rd.pointId}'" },
        read("scan_travel") { s"SELECT * FROM $t VERSION AS OF ${insertVersion(r)}" },
        readHistory)
      writes ++ rng.shuffle(reads)
    } :+ commit("optimize") {
      sql(s"CALL graft_cat.system.optimize(`table` => '$table')").collect()
    }
  }

  override def observe(op: Op, pass: Int): Map[String, Double] =
    if (op.kind != "commit") Map.empty
    else {
      val (bytes, files) = Disk.scan(new File(base(table)))
      Map("bytes_written" -> bytes.toDouble, "files_written" -> files.toDouble)
    }

  override def passMetrics(pass: Int): Map[String, Double] = {
    val onDisk = Disk.scan(new File(base(table)))._1 + Disk.scan(new File(base("base")))._1
    val live = try {
      sql(s"SELECT sum(bytes) FROM graft_cat.`$table$$files`").collect()(0).getLong(0)
    } catch { case _: Throwable => 0L }
    Map("change_bytes" -> changeBytes.toDouble, "disk_bytes" -> onDisk.toDouble,
      "live_bytes" -> live.toDouble)
  }
}
