package graft.functions

import graft.mr.SparkSpec
import org.apache.spark.sql.functions._

/** [[HllRegistersAgg]] must produce the exact observed-register rows
  * of the relational bucket/rho groupBy-max it replaces, and merge by
  * element-wise max (HLL union law).
  */
class HllAggSpec extends SparkSpec {
  import spark.implicits._

  test("registers equal the relational bucket/rho groupBy-max formulation") {
    val rnd = new scala.util.Random(161)
    val keys = Seq.fill(8000)(rnd.nextLong(1L << 60).abs)
    val df = keys.toDF("x").repartition(8)
    val got = df.agg(HllRegistersAgg.registers(col("x")).as("regs"))
      .select(posexplode(col("regs")).as(Seq("pos", "r")))
      .filter(col("r") > 0)
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val want = df
      .select(HllRegistersAgg.bucket(col("x")).as("bkt"),
        HllRegistersAgg.rho(col("x")).as("rho"))
      .groupBy(col("bkt")).agg(max(col("rho")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want && got.nonEmpty)
  }

  test("all-zero suffix takes the max rho; merge is element-wise max") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val agg = HllRegistersAgg(Literal(0L),
      HllRegistersAgg.Bits, HllRegistersAgg.MaxRho)
    // key with bucket 3 and zero suffix -> rho = 52
    val buf = agg.createAggregationBuffer()
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    val zeroSuffix = 3L << (60 - HllRegistersAgg.Bits)
    val one = HllRegistersAgg(Literal(zeroSuffix),
      HllRegistersAgg.Bits, HllRegistersAgg.MaxRho)
    one.update(buf, row)
    assert(buf.regs(3) == HllRegistersAgg.MaxRho.toLong)
    val other = agg.createAggregationBuffer()
    other.regs(3) = 10L; other.regs(7) = 4L
    val m = agg.merge(buf, other)
    assert(m.regs(3) == HllRegistersAgg.MaxRho.toLong && m.regs(7) == 4L)
  }
}
