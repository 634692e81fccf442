package graft.operators

import graft.mr.SparkSpec

/** Exact-moment outlier profiling (q91). The driver hash-matches the
  * DECIMAL-sum oracle; these fixtures pin the statistics on hand-sized
  * inputs: known mean/variance, the 2-sigma fence catching exactly the
  * planted spike, and a constant series producing zero variance and
  * zero outliers (no NaN from sqrt of a negative epsilon).
  */
class OutlierProfileSpec extends SparkSpec {

  test("q91 binding profiles every user with sane moments") {
    val rows = Relational.q91OutlierProfile(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n")
      val v = r.getAs[Double]("variance")
      val out = r.getAs[Long]("n_outliers")
      assert(n > 0 && v >= -1e-9 && out >= 0 && out <= n)
      // Chebyshev: at most 1/4 of mass can sit beyond 2 sigma
      assert(out <= n / 4 + 1)
    }
  }

  test("a planted spike is the only 2-sigma outlier") {
    import spark.implicits._
    // mirror the binding's computation over a controlled frame by
    // writing it as a tiny parquet dir shaped like the events table
    val dir = graft.Scope.lru.tempDir("q91fix").toString
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    (1L to 20L).map(i => (i, base.plusSeconds(i).toEpochMilli * 1000000L, 7L,
        "view", if (i == 20) 1000.0 else 10.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Relational.q91OutlierProfile(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n") == 20L)
    assert(r.head.getAs[Long]("n_outliers") == 1L) // only the 1000.0 spike
  }

  test("constant series: zero variance, zero outliers") {
    import spark.implicits._
    val dir = graft.Scope.lru.tempDir("q91fix2").toString
    (1L to 5L).map(i => (i, i * 1000000000L, 3L, "view", 42.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Relational.q91OutlierProfile(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Double]("variance") == 0.0)
    assert(r.head.getAs[Long]("n_outliers") == 0L)
  }
}
