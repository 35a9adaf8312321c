package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive checksum over every output column: the row count plus,
  * per column (sorted by name), the non-null count and a type-tagged sum.
  * The Python side recomputes the same tuple from the oracle's rows.
  *
  *   num    sum of the value as double (numbers, booleans)
  *   str    sum of CRC-32 of the UTF-8 bytes (strings, binary)
  *   date   sum of days since 1970-01-01
  *   ts     sum of microseconds since the epoch, as double
  *   arrnum sum of all elements, as double
  *   arrstr sum of CRC-32 of all elements
  *   other  non-null count only
  */
object Checksum {
  def tagOf(t: DataType): String = t match {
    case _: NumericType | BooleanType => "num"
    case StringType | BinaryType => "str"
    case DateType => "date"
    case TimestampType | TimestampNTZType => "ts"
    case ArrayType(_: NumericType, _) => "arrnum"
    case ArrayType(StringType, _) => "arrstr"
    case _ => "other"
  }

  private def sumOf(c: Column, t: DataType): Column = t match {
    case BooleanType => sum(c.cast("int").cast("double"))
    case _: NumericType => sum(c.cast("double"))
    case StringType => sum(crc32(c.cast("binary")))
    case BinaryType => sum(crc32(c))
    case DateType => sum(datediff(c, lit("1970-01-01").cast("date")).cast("long"))
    case TimestampType | TimestampNTZType =>
      sum(unix_micros(c.cast("timestamp")).cast("double"))
    case ArrayType(_: NumericType, _) =>
      sum(aggregate(c, lit(0.0), (a, x) => a + coalesce(x.cast("double"), lit(0.0))))
    case ArrayType(StringType, _) =>
      sum(aggregate(c, lit(0L), (a, x) => a + coalesce(crc32(x.cast("binary")), lit(0L))))
    case _ => count(c)
  }

  /** The single-row aggregate whose execution is the op's timed action. */
  def frame(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.sortBy(_.name)
    val exprs = count(lit(1)) +: fields.toSeq.flatMap { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      Seq(count(c), sumOf(c, f.dataType))
    }
    df.agg(exprs.head, exprs.tail: _*)
  }

  /** JSON rendering: {"rows": n, "cols": [[name, tag, nonNull, sum], ...]}. */
  def render(df: DataFrame, row: Row): String = {
    val fields = df.schema.fields.sortBy(_.name)
    val cols = fields.zipWithIndex.map { case (f, i) =>
      val nn = row.getLong(1 + 2 * i)
      val v = row.get(2 + 2 * i) match {
        case null => "0"
        case d: java.lang.Double => Json.num(d)
        case x => x.toString
      }
      s"[${Json.str(f.name)},${Json.str(tagOf(f.dataType))},$nn,$v]"
    }
    s"""{"rows":${row.getLong(0)},"cols":[${cols.mkString(",")}]}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
