package graft.functions

import graft.mr.SparkSpec
import org.apache.spark.sql.functions._

/** [[CmsSketchAgg]] must produce the exact cell grid of the relational
  * seeds-crossJoin-groupBy formulation it replaces — same hash
  * arithmetic, zero row amplification — plus the linear-map merge law
  * and a serialization round-trip of a filled grid (SketchKernelSpec
  * also checks the byte layout).
  */
class CmsAggSpec extends SparkSpec {
  import spark.implicits._

  private def agg = CmsSketchAgg(
    org.apache.spark.sql.graftshim.GraftColumns.exprOf(lit(0L)),
    CmsSketchAgg.seedsA,
    CmsSketchAgg.seedsB,
    CmsSketchAgg.seedsC,
    CmsSketchAgg.Width,
    CmsSketchAgg.P,
    CmsSketchAgg.HalfBits)

  test("grid equals the relational seeds-crossJoin-groupBy formulation") {
    val rnd = new scala.util.Random(167)
    val keys = Seq.fill(5000)(rnd.nextLong(1L << 60).abs)
    val df = keys.toDF("x").repartition(8)
    val got = df.agg(CmsSketchAgg.sketch(col("x")).as("cells"))
      .select(posexplode(col("cells")).as(Seq("pos", "c")))
      .filter(col("c") > 0)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val w = CmsSketchAgg.Width
    val want = df
      .crossJoin(broadcast(CmsSketchAgg.seeds(spark)))
      .groupBy(col("j"),
        CmsSketchAgg.bucket(col("x"),
          col("a"), col("b"), col("c")).as("bkt"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0).toInt * w + r.getLong(1).toInt) -> r.getLong(2))
      .toMap
    assert(got == want && got.nonEmpty)
  }

  test("merge is element-wise addition (the sketch is a linear map)") {
    val x = agg.createAggregationBuffer()
    val y = agg.createAggregationBuffer()
    x.cells(3) = 5L; x.cells(100) = 2L
    y.cells(3) = 1L; y.cells(2047) = 7L
    val m = agg.merge(x, y)
    assert(m.cells(3) == 6L && m.cells(100) == 2L && m.cells(2047) == 7L)
  }

  test("serialize/deserialize round-trips the grid") {
    val st = agg.createAggregationBuffer()
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach(_ => st.cells(rnd.nextInt(st.cells.length)) += rnd.nextInt(9).toLong)
    val back = agg.deserialize(agg.serialize(st))
    assert(back.cells.toSeq == st.cells.toSeq)
  }
}
