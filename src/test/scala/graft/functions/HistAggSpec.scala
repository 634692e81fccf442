package graft.functions

import graft.mr.SparkSpec
import org.apache.spark.sql.functions._

/** [[HistogramAgg]] must produce the exact bin counts of the Column
  * formulation it replaces (same IEEE operation order), clamp to the
  * top bin, collapse a degenerate domain to bin 0, and merge by
  * element-wise addition.
  */
class HistAggSpec extends SparkSpec {
  import spark.implicits._

  test("bins equal the Column floor/clamp formulation on random doubles") {
    val rnd = new scala.util.Random(174)
    val (vmin, vmax) = (0.37, 491.13)
    val xs = Seq.fill(5000)(vmin + rnd.nextDouble() * (vmax - vmin)) ++
      Seq(vmin, vmax) // exact edges: vmax must clamp into the top bin
    val df = xs.toDF("v").repartition(8)
    val got = df.agg(HistogramAgg.histogram(col("v"), vmin, vmax).as("cells"))
      .select(posexplode(col("cells")).as(Seq("pos", "c")))
      .filter(col("c") > 0)
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val want = df
      .select(HistogramAgg.bin(col("v"), lit(vmin), lit(vmax)).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want && got.nonEmpty)
  }

  test("degenerate domain collapses to bin 0; merge adds element-wise") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val agg = HistogramAgg(Literal(7.0), 7.0, 7.0,
      HistogramAgg.Bins)
    val buf = agg.createAggregationBuffer()
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(0)
    agg.update(buf, row)
    agg.update(buf, row)
    assert(buf.cells(0) == 2L && buf.cells.drop(1).forall(_ == 0L))
    val other = agg.createAggregationBuffer()
    other.cells(0) = 3L; other.cells(5) = 1L
    val m = agg.merge(buf, other)
    assert(m.cells(0) == 5L && m.cells(5) == 1L)
  }
}
