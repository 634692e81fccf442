package graft.operators

import graft.mr.SparkSpec

/** Fixed-point EWMA (q165). The driver hash-matches the DuckDB
  * prefix-fold replay; these fixtures pin the fold semantics — seed,
  * ordering, tie-break, deviation timing — and input-order robustness.
  */
class EwmaSpec extends SparkSpec {

  /** Run the q165 pipeline over a planted events frame by writing it
    * as the events table of a temp sf dir (engine entry reads tables).
    */
  private def run(rows: Seq[(Long, Long, Long, Double)], parts: Int = 4) = {
    import spark.implicits._
    val dir = graft.Scope.lru.tempDir("graft_ewma").toString
    rows.toDF("event_id", "user_id", "ts_ms", "value")
      .repartition(parts)
      .select(org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.expr("timestamp_millis(ts_ms)").as("ts"),
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.lit("e").as("event_type"),
        org.apache.spark.sql.functions.col("value"),
        org.apache.spark.sql.functions.lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Temporal.q165Ewma(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
  }

  test("the fold matches the hand-computed recursion, seed included") {
    // user 7: values 100, 200, 50 (x = value * 1e6)
    val got = run(Seq(
      (1L, 7L, 1000L, 100.0), (2L, 7L, 2000L, 200.0), (3L, 7L, 3000L, 50.0)))
    // e0 = 1e8; e1 = (3*2e8 + 13*1e8)/16 = 118750000, dev1 = 1e8
    // e2 = (3*5e7 + 13*118750000)/16 = 105859375, dev2 = |5e7 - 118750000|
    assert(got(7L) == ((3L, 105859375L, 100000000L)), got)
  }

  test("a single-event user reports its own value and zero deviation") {
    val got = run(Seq((1L, 9L, 1000L, 42.5)))
    assert(got(9L) == ((1L, 42500000L, 0L)))
  }

  test("the fold orders by event time with event_id tie-break, not input order") {
    // same rows delivered in reverse + a same-timestamp tie pair
    val fwd = Seq(
      (1L, 3L, 1000L, 10.0), (2L, 3L, 2000L, 20.0),
      (3L, 3L, 2000L, 30.0), (4L, 3L, 3000L, 40.0))
    val rev = fwd.reverse
    assert(run(fwd) == run(rev))
  }

  test("result is partitioning-invariant") {
    val rows = (0 until 200).map(i =>
      (i.toLong, (i % 5).toLong, 1000L * i, (i * 37 % 100).toDouble))
    assert(run(rows, parts = 1) == run(rows, parts = 7))
  }
}
