package graft.sources

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A catalog table's TIMESTAMP column is stored two ways at once: SQL
  * INSERT writes parquet INT64 micros, while a copy-on-write rewrite goes
  * through Spark's writer, whose default is INT96. Every read path must
  * serve both encodings, each value equal to the microsecond. */
class TimestampEncodingSpec extends AnyFunSuite {
  import TestSpark._

  private val root = graft.Scratch.root

  /** (id, user, epoch micros, m) — the comparison key, exact to the µs. */
  private def rows(df: DataFrame): Set[(Long, String, Long, Int)] =
    df.select(col("id"), col("user"), unix_micros(col("ts")), col("m"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSet

  /** The footer encodings of `ts` across the current snapshot's files. */
  private def tsEncodings(base: String): Set[String] = {
    val conf = spark.sessionState.newHadoopConf()
    ManifestTable.entries(spark, base, ManifestTable.currentVersion(spark, base))
      .map { case (_, rel) =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(base, rel), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val schema = r.getFooter.getFileMetaData.getSchema
          schema.getType(schema.getFieldIndex("ts"))
            .asPrimitiveType.getPrimitiveTypeName.name
        } finally r.close()
      }.toSet
  }

  test("INT64 and INT96 timestamp files read alike through SQL") {
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.ManifestCatalog")
    spark.conf.set("spark.sql.catalog.graft_cat.root", root)
    val tbl = "ts_mixed"
    val base = s"$root/$tbl"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    spark.sql(s"""CREATE TABLE graft_cat.`$tbl`
      |(id BIGINT, user STRING, ts TIMESTAMP, m INT)
      |PARTITIONED BY (m)""".stripMargin)
    // odd microsecond offsets: a millisecond or INT96-nanos round trip
    // that drops or rounds digits shows up in the comparison
    def batch(ids: Range, shift: Long): DataFrame = spark.range(ids.start, ids.end)
      .select(col("id"), concat(lit("u"), (col("id") % 4).cast("string")).as("user"),
        timestamp_micros(lit(1700000000123457L) + col("id") * 1000003L + lit(shift)).as("ts"),
        (col("id") % 3).cast("int").as("m"))
    val src = batch(1 until 41, 0L)
    src.createOrReplaceTempView("ts_mixed_src")
    spark.sql(s"INSERT INTO graft_cat.`$tbl` SELECT * FROM ts_mixed_src")
    val inserted = ManifestTable.currentVersion(spark, base)

    // copy-on-write DELETE rewrites partition m = 0 only
    spark.sql(s"DELETE FROM graft_cat.`$tbl` WHERE user = 'u1' AND m = 0")
    val afterDelete = src.filter(!(col("user") === "u1" && col("m") === 0))
    assert(tsEncodings(base) === Set("INT64", "INT96"),
      "the snapshot must mix both timestamp encodings")

    assert(rows(spark.sql(s"SELECT * FROM graft_cat.`$tbl`")) === rows(afterDelete))
    // id 3 sits in the rewritten (INT96) partition
    assert(rows(spark.sql(s"SELECT * FROM graft_cat.`$tbl` WHERE id = 3")) ===
      rows(afterDelete.filter(col("id") === 3)))
    assert(rows(spark.sql(s"SELECT * FROM graft_cat.`$tbl` VERSION AS OF $inserted")) ===
      rows(src))

    // MERGE reads the mixed files to rewrite the groups it touches
    val corr = batch(30 until 50, 7L)
    corr.createOrReplaceTempView("ts_mixed_corr")
    spark.sql(s"""MERGE INTO graft_cat.`$tbl` t USING ts_mixed_corr s
      |ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val afterMerge = afterDelete.join(corr.select("id"), Seq("id"), "left_anti")
      .unionByName(corr)
    assert(rows(spark.sql(s"SELECT * FROM graft_cat.`$tbl`")) === rows(afterMerge))
  }
}
