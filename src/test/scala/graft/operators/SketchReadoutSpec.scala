package graft.operators

import graft.functions.{CmsSketchAgg, HistogramAgg, HllRegistersAgg, KmvSketchAgg, SamplePairsAgg}
import graft.mr.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared sketch read-outs keep the caller's grouping columns, so
  * the batch queries (String `source`/`event_type` keys) and the
  * monitors (Long `win_start_us` keys) read through the same code:
  * each read-out must give the same rows under either key type. Plus
  * the two edges the query specs do not reach: an under-filled KMV
  * sketch and a constant-value histogram on the global-domain path.
  */
class SketchReadoutSpec extends SparkSpec {
  import spark.implicits._

  // four groups of 20..5000 rows with repeats; group 0 has fewer
  // distinct values than the KMV k
  private lazy val events: DataFrame = {
    val rnd = new scala.util.Random(15)
    val rows = (0 until 4).flatMap { g =>
      Seq.fill(Seq(20, 300, 1500, 5000)(g))((g, rnd.nextInt(900 * (g + 1)).toLong))
    }
    rows.toDF("g", "v")
      .select(concat(lit("g"), col("g").cast("string")).as("gs"), col("g").cast("long").as("gl"),
        col("v"), Corpus.hllKey(col("v").cast("string")).as("x"))
  }

  /** `readout(key)` under the String key `gs` and the Long key `gl`
    * must give the same rows; the key is its first column.
    */
  private def sameUnderBothKeys(readout: String => DataFrame): Unit = {
    def rows(key: String, id: Any => Long) = readout(key).collect()
      .map(r => (id(r.get(0)) +: r.toSeq.tail).mkString("|")).sorted.toSeq
    val byString = rows("gs", k => k.toString.stripPrefix("g").toLong)
    val byLong = rows("gl", _.asInstanceOf[Long])
    assert(byString.nonEmpty)
    assert(byString == byLong)
  }

  test("every shared read-out gives the same rows under a String and a Long key") {
    sameUnderBothKeys(k => events.groupBy(col(k))
      .agg(KmvSketchAgg.sketch(col("x")).as("sk"))
      .select(col(k) +: KmvSketchAgg.readout(col("sk")): _*))
    sameUnderBothKeys(k => events.groupBy(col(k))
      .agg(SamplePairsAgg.sketch(col("x"), col("v")).as("pairs"))
      .select(col(k) +: SamplePairsAgg.readout(col("pairs"), "v"): _*))
    sameUnderBothKeys(k => HllRegistersAgg.readout(HllRegistersAgg.cellRows(
      events.groupBy(col(k)).agg(HllRegistersAgg.registers(col("x")).as("regs")),
      Seq(k), col("regs")), Seq(k)))
    sameUnderBothKeys { k =>
      val cells = CmsSketchAgg.cellRows(
        events.groupBy(col(k)).agg(CmsSketchAgg.sketch(col("x")).as("cells")),
        Seq(k), col("cells"))
      val probes = events.filter(col("v") < 40).select(col(k), col("v")).distinct()
      CmsSketchAgg.estimate(probes, Corpus.hllKey(col("v").cast("string")), cells, Seq(k))
    }
    sameUnderBothKeys { k =>
      val cells = HistogramAgg.cellRows(events.groupBy(col(k))
        .agg(HistogramAgg.histogram(col("v").cast("double"), 0.0, 3600.0).as("cells")),
        Seq(k), col("cells"))
      HistogramAgg.quantileEdges(cells, Seq(k), lit(0.0), lit(3600.0))
    }
  }

  test("an under-filled KMV sketch (fewer than k keys) reads out exactly") {
    val got = events.filter(col("gl") === 0L).groupBy(col("gl"))
      .agg(KmvSketchAgg.sketch(col("x")).as("sk"), countDistinct(col("x")).as("exact"))
      .select(col("exact") +: KmvSketchAgg.readout(col("sk")): _*)
      .collect().head
    val (exact, n, est) = (got.getLong(0), got.getLong(1), got.getLong(3))
    assert(exact < KmvSketchAgg.K)
    assert(n == exact && est == exact)
  }

  test("a constant-value histogram on the global-domain path reads its value") {
    val ev = Seq(("a", 7.5), ("a", 7.5), ("b", 7.5)).toDF("event_type", "v")
    val got = Relational.histMergeOf(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got == Map("GLOBAL" -> (3L, Seq(7.5, 7.5, 7.5)),
      "a" -> (2L, Seq(7.5, 7.5, 7.5)), "b" -> (1L, Seq(7.5, 7.5, 7.5))))
  }
}
