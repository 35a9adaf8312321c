package graft.sources

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deletion vectors store the row key as INT64, so merge-on-read on any
  * other key type must fail before a vector or a file is written — not
  * commit a vector of meaningless keys that no purge can fold. */
class MorKeyTypeSpec extends AnyFunSuite {
  import TestSpark._

  private val root = graft.Scratch.root

  test("merge-on-read refuses a STRING keyCol and leaves the table untouched") {
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.graft_cat.root", root)
    val tbl = "mor_strkey"
    val base = s"$root/$tbl"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    spark.sql(s"""CREATE TABLE graft_cat.`$tbl` (tid STRING, v DOUBLE, m INT)
      |PARTITIONED BY (m)""".stripMargin)
    spark.range(30)
      .select(concat(lit("t"), col("id").cast("string")).as("tid"),
        col("id").cast("double").as("v"), (col("id") % 3).cast("int").as("m"))
      .createOrReplaceTempView("mor_strkey_src")
    spark.sql(s"INSERT INTO graft_cat.`$tbl` SELECT * FROM mor_strkey_src")
    ManifestTable.setTableProperty(spark, base, "keyCol", "tid")
    ManifestTable.setTableProperty(spark, base, "write.mode", "merge-on-read")

    val rows0 = spark.sql(s"SELECT * FROM graft_cat.`$tbl`").collect().toSet
    val dvDir = new org.apache.hadoop.fs.Path(base, "_dv")
    def dvFiles: Seq[String] =
      if (!fs.exists(dvDir)) Nil
      else fs.listStatus(dvDir).toSeq.map(_.getPath.getName)

    def refused(what: String)(verb: => Any): Unit = {
      val v0 = ManifestTable.currentVersion(spark, base)
      val dv0 = dvFiles
      val e = intercept[Exception](verb)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(String.valueOf(_)).toSeq
      assert(msgs.exists(_.contains("needs a BIGINT keyCol")),
        s"$what: not the BIGINT-key refusal: ${msgs.mkString(" / ")}")
      assert(ManifestTable.currentVersion(spark, base) === v0, s"$what committed")
      assert(dvFiles === dv0, s"$what wrote under _dv/")
    }
    refused("SQL UPDATE") {
      spark.sql(s"UPDATE graft_cat.`$tbl` SET v = v * 2 WHERE tid = 't4'")
    }
    refused("SQL DELETE") {
      spark.sql(s"DELETE FROM graft_cat.`$tbl` WHERE tid = 't4'")
    }
    refused("deleteWhereMoR") {
      ManifestTable.deleteWhereMoR(spark, base, col("tid") === "t4", "tid", "m")
    }
    // the branch verbs take the same route
    spark.sql(s"CALL graft_cat.system.create_branch(`table` => '$tbl', name => 'fix')")
      .collect()
    refused("branch SQL UPDATE") {
      spark.sql(s"UPDATE graft_cat.`$tbl$$branch_fix` SET v = 0 WHERE tid = 't4'")
    }
    refused("branch SQL DELETE") {
      spark.sql(s"DELETE FROM graft_cat.`$tbl$$branch_fix` WHERE tid = 't4'")
    }
    assert(ManifestTable.pendingDvRels(spark, base).isEmpty)
    assert(spark.sql(s"SELECT * FROM graft_cat.`$tbl`").collect().toSet === rows0)
  }
}
