package graft.functions

import graft.mr.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The laws every native sketch owes [[LongSketchAgg]], checked once
  * per sketch from one table: the serialized state round-trips (empty,
  * partly filled, full) in its fixed byte layout, merging partial
  * states in any split and order gives the single-pass result, and the
  * planner runs each as a map-side partial aggregate.
  */
class SketchKernelSpec extends SparkSpec {
  import spark.implicits._


  /** One sketch: its aggregate over bound input slots, a random input
    * row (nulls included), a row count that fills the state, the
    * serialized size of a state image of `n` longs, and its Column
    * form over a frame `(g, x: BIGINT, v: DOUBLE)`.
    */
  private case class Sketch(
      agg: LongSketchAgg[_],
      row: scala.util.Random => InternalRow,
      fill: Int,
      bytes: Int => Int,
      column: Column)

  private def long(i: Int) = BoundReference(i, LongType, nullable = true)
  private def orNull(r: scala.util.Random, x: Any): Any = if (r.nextInt(20) == 0) null else x
  private def key(r: scala.util.Random): Any = orNull(r, r.nextLong(1L << 60).abs)
  private def small(r: scala.util.Random): Any = orNull(r, r.nextLong(40).abs)

  private val sketches = Seq(
    Sketch(HllRegistersAgg(long(0), HllRegistersAgg.Bits, HllRegistersAgg.MaxRho),
      r => InternalRow(key(r)), 5000, n => 8 * n,
      HllRegistersAgg.registers(col("x"))),
    Sketch(CmsSketchAgg(long(0), CmsSketchAgg.seedsA, CmsSketchAgg.seedsB, CmsSketchAgg.seedsC,
        CmsSketchAgg.Width, CmsSketchAgg.P, CmsSketchAgg.HalfBits),
      r => InternalRow(key(r)), 5000, n => 8 * n,
      CmsSketchAgg.sketch(col("x"))),
    Sketch(HistogramAgg(BoundReference(0, DoubleType, nullable = true), 0.0, 100.0, 64),
      r => InternalRow(orNull(r, r.nextDouble() * 100.0)), 5000, n => 8 * n,
      HistogramAgg.histogram(col("v"), 0.0, 100.0)),
    Sketch(KmvSketchAgg(long(0), 8),
      r => InternalRow(small(r)), 200, n => 4 + 8 * n,
      KmvSketchAgg.sketch(col("x"), 8)),
    Sketch(SamplePairsAgg(long(0), long(1), 8),
      r => InternalRow(small(r), orNull(r, r.nextLong(1000))), 200,
      n => 4 + 8 * n,
      SamplePairsAgg.sketch(col("x"), col("x"), 8)))

  private def image[S](agg: LongSketchAgg[S], st: S): Seq[Long] =
    agg.eval(st).asInstanceOf[ArrayData].toLongArray().toSeq

  private def build[S](agg: LongSketchAgg[S], rows: Seq[InternalRow]): S = {
    val st = agg.createAggregationBuffer()
    rows.foreach(agg.update(st, _))
    st
  }

  test("round trip: empty, partly filled, full states") {
    val rnd = new scala.util.Random(71)
    def check[S](sk: Sketch, agg: LongSketchAgg[S]): Unit =
      for (n <- Seq(0, 3, sk.fill)) {
        val st = build(agg, Seq.fill(n)(sk.row(rnd)))
        val bytes = agg.serialize(st)
        assert(bytes.length == sk.bytes(image(agg, st).size), s"${agg.prettyName} layout, $n rows")
        val back = agg.deserialize(bytes)
        assert(image(agg, back) == image(agg, st), s"${agg.prettyName}, $n rows")
        assert(agg.serialize(back).sameElements(bytes), s"${agg.prettyName}, $n rows")
      }
    sketches.foreach(sk => check(sk, sk.agg))
    // a full bottom-k state holds exactly k entries
    val kmv = sketches(3).agg.asInstanceOf[KmvSketchAgg]
    assert(image(kmv, build(kmv, (1L to 50L).map(InternalRow(_)))) == (1L to 8L))
  }

  test("merge: random splits and orders give one eval") {
    val rnd = new scala.util.Random(73)
    def check[S](sk: Sketch, agg: LongSketchAgg[S]): Unit =
      for (_ <- 1 to 20) {
        val rows = Seq.fill(rnd.nextInt(sk.fill))(sk.row(rnd))
        val want = image(agg, build(agg, rows))
        val parts = rows.groupBy(_ => rnd.nextInt(5)).values.toSeq
        val states = rnd.shuffle(parts.map(build(agg, _)) :+ agg.createAggregationBuffer())
        // a left fold, then a pairwise tree over the round-tripped states
        val folded = states.reduceLeft((a, b) => agg.merge(a, b))
        assert(image(agg, folded) == want, agg.prettyName)
        val again = rnd.shuffle(parts).map(p => agg.deserialize(agg.serialize(build(agg, p))))
        def tree(xs: Seq[S]): S =
          if (xs.size == 1) xs.head
          else { val (l, r) = xs.splitAt(xs.size / 2); agg.merge(tree(l), tree(r)) }
        assert(image(agg, tree(again :+ agg.createAggregationBuffer())) == want, agg.prettyName)
      }
    sketches.foreach(sk => check(sk, sk.agg))
  }

  test("plans show partial_<prettyName> for all five") {
    val df = (1 to 200).map(i => (s"g${i % 3}", i.toLong << 40, i * 0.4)).toDF("g", "x", "v")
    for (sk <- sketches) {
      val p = df.groupBy(col("g")).agg(sk.column.as("s")).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(p.contains(s"partial_${sk.agg.prettyName}"), p)
    }
  }
}
