package graft.operators

import graft.mr.SparkSpec
import org.apache.spark.sql.functions._

/** Replayable histogram-quantile sketch (q160). The driver hash-matches
  * the full bin/edge replay; these fixtures pin the sketch's guarantee —
  * the reported edge is within one bin width of the true quantile in the
  * VALUE domain — plus merge invariance and the degenerate-group rule.
  */
class HistQuantileSpec extends SparkSpec {

  private def sketch(rows: Seq[(String, Double)], parts: Int = 4) = {
    import spark.implicits._
    Relational.histQuantilesOf(
      rows.toDF("event_type", "v").repartition(parts))
  }

  /** Deterministic pseudo-random doubles (LCG), one skewed group. */
  private def fixture: Seq[(String, Double)] = {
    var st = 12345L
    def next(): Double = {
      st = st * 6364136223846793005L + 1442695040888963407L
      ((st >>> 11).toDouble / (1L << 53).toDouble) // [0, 1)
    }
    (0 until 2000).map(_ => ("g1", next() * next() * 100.0)) ++
      (0 until 500).map(_ => ("g2", 5.0 + next() * 2.0))
  }

  test("estimates land within one bin width of the exact quantile") {
    val rows = sketch(fixture).collect()
    val byGroup = fixture.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    rows.foreach { r =>
      val g = r.getString(0)
      val xs = byGroup(g)
      val width = (xs.last - xs.head) / graft.functions.HistogramAgg.Bins
      Seq((50, 4), (95, 5), (99, 6)).foreach { case (pct, idx) =>
        val k = (xs.length * pct + 99) / 100 // ceil rank
        val exact = xs(k - 1)
        val est = r.getDouble(idx)
        assert(math.abs(est - exact) <= width + 1e-9,
          s"group $g p$pct: est $est vs exact $exact (width $width)")
      }
    }
  }

  test("sketch is merge-order invariant: stable under repartitioning") {
    val a = sketch(fixture, parts = 1).collect().map(_.toSeq).toSeq
    val b = sketch(fixture, parts = 7).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("a constant group reports the constant for every quantile") {
    val rows = sketch(Seq.fill(10)(("c", 7.5))).collect()
    val r = rows.head
    assert(r.getDouble(4) == 7.5 && r.getDouble(5) == 7.5 && r.getDouble(6) == 7.5)
  }

  test("q168 mergeability law: the GLOBAL row equals a direct one-group build") {
    import spark.implicits._
    // merged-cells global quantiles must equal building one histogram
    // over the whole data directly (same global bins) — the property
    // that lets shard sketches combine on a coordinator
    val df = fixture.toDF("event_type", "v")
    val merged = Relational.histMergeOf(df)
      .filter(col("scope") === "GLOBAL")
      .select(col("n"), col("p50_est"), col("p95_est"), col("p99_est"))
      .collect().head
    val direct = Relational.histMergeOf(df.withColumn("event_type", lit("all")))
      .filter(col("scope") === "GLOBAL")
      .select(col("n"), col("p50_est"), col("p95_est"), col("p99_est"))
      .collect().head
    assert(merged == direct)
  }

  test("q168 global estimates stay inside the one-bin-width envelope") {
    val r = Relational.histMergeOf {
      import spark.implicits._
      fixture.toDF("event_type", "v")
    }.filter(col("scope") === "GLOBAL").collect().head
    val xs = fixture.map(_._2).sorted
    val width = (xs.last - xs.head) / graft.functions.HistogramAgg.Bins
    Seq((50, 2), (95, 3), (99, 4)).foreach { case (pct, idx) =>
      val k = (xs.length * pct + 99) / 100
      val exact = xs(k - 1)
      assert(math.abs(r.getDouble(idx) - exact) <= width + 1e-9,
        s"p$pct: ${r.getDouble(idx)} vs $exact")
    }
  }
}
