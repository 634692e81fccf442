package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result digest, computed as the operation's
  * full-row action.
  *
  * Every value is first put in a canonical form: floating-point values
  * are rounded to ten significant digits (so a different summation order
  * cannot change the digest), maps become key-sorted entry arrays, and
  * nested arrays and structs are canonicalised element by element. Each
  * row is then hashed with xxhash64 and the hashes are summed as two
  * 32-bit halves, so row order does not matter but duplicate rows do.
  * The column names and types are part of the digest.
  */
object Digest {

  /** Canonical form of one value of type `dt`. */
  def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      // -0.0 and 0.0 compare equal but format differently
      when(d === 0.0, lit("0")).otherwise(format_string("%.9e", d))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c),
        e => struct(canon(e.getField("key"), kt), canon(e.getField("value"), vt))))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  def schemaString(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  /** The one-row aggregate whose collect() is the full-row action. */
  def frame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toIndexedSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = xxhash64((lit(schemaString(df)) +: cols): _*)
    df.select(h.as("h")).agg(
      count(lit(1)).as("n"),
      sum(shiftrightunsigned(col("h"), 32)).as("hi"),
      sum(col("h").bitwiseAND(0xffffffffL)).as("lo"))
  }

  /** Renders the collected aggregate row; also returns the row count. */
  def render(row: org.apache.spark.sql.Row): (String, Long) = {
    val n = row.getLong(0)
    val hi = if (row.isNullAt(1)) 0L else row.getLong(1)
    val lo = if (row.isNullAt(2)) 0L else row.getLong(2)
    (f"$n:$hi%x:$lo%x", n)
  }

  /** Digest of `df` by running the full-row action now. */
  def of(df: DataFrame): (String, Long) = render(frame(df).collect().head)
}
