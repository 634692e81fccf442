package graft.operators

import graft.mr.SparkSpec

/** Rolling active users (q101) and retention cohorts (q102). The
  * driver hash-matches both; these fixtures pin the window and cohort
  * arithmetic on hand-built event shapes written through the same
  * parquet path the bindings read.
  */
class ActiveUsersSpec extends SparkSpec {

  private val DayNs = 86400L * 1000 * 1000 * 1000

  private def writeEvents(dir: String, rows: Seq[(Long, Long, Long)]): Unit = {
    import spark.implicits._
    rows.zipWithIndex
      .map { case ((user, day, n), i) => (i.toLong, day * DayNs + n, user, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("WAU counts a user once across the trailing window; DAU is per-day") {
    val dir = graft.Scope.lru.tempDir("q101fix").toString
    // user 1 active days 0 and 2 (twice on day 2); user 2 active day 8
    writeEvents(dir, Seq((1L, 0L, 1L), (1L, 2L, 1L), (1L, 2L, 2L), (2L, 8L, 1L)))
    val got = Temporal.q101ActiveUsers(spark, dir)
      .collect().map(r => r.getAs[Long]("d") ->
        ((r.getAs[Long]("dau"), r.getAs[Long]("wau")))).toMap
    assert(got(0L) == ((1L, 1L)))  // day 0: user 1
    assert(got(2L) == ((1L, 1L)))  // day 2: user 1 still one distinct user
    assert(got(7L) == ((0L, 1L)))  // day 7: no events, user 1's day-2 still in window
    assert(got(8L) == ((1L, 2L)))  // day 8: user 2 plus user 1's day-2 (window [2..8])
    assert(!got.contains(9L))      // beyond the observed span
  }

  test("empty events table yields an empty frame, not an NPE") {
    val dir = graft.Scope.lru.tempDir("q101empty").toString
    writeEvents(dir, Seq.empty)
    assert(Temporal.q101ActiveUsers(spark, dir).collect().isEmpty)
  }

  test("cohort triangle: offsets, sizes, and rates") {
    val dir = graft.Scope.lru.tempDir("q102fix").toString
    // cohort week 0: users 1,2 (user 1 returns week 1); cohort week 1: user 3
    writeEvents(dir, Seq(
      (1L, 0L, 1L), (2L, 3L, 1L),    // week 0
      (1L, 7L, 1L), (3L, 8L, 1L)))   // week 1
    val got = Temporal.q102RetentionCohorts(spark, dir)
      .collect().map(r => (r.getAs[Long]("cohort_week"), r.getAs[Long]("week_offset")) ->
        ((r.getAs[Long]("n_users"), r.getAs[Long]("cohort_size"), r.getAs[Double]("retention"))))
      .toMap
    assert(got((0L, 0L)) == ((2L, 2L, 1.0)))
    assert(got((0L, 1L)) == ((1L, 2L, 0.5)))
    assert(got((1L, 0L)) == ((1L, 1L, 1.0)))
    assert(got.size == 3)
  }

  test("q101/q102 bindings: spans dense, rates within (0, 1]") {
    val d = "/root/testdata/sf0.001"
    val au = Temporal.q101ActiveUsers(spark, d).collect()
    assert(au.nonEmpty)
    val days = au.map(_.getAs[Long]("d"))
    assert(days.zip(days.tail).forall { case (a, b) => b == a + 1 })
    assert(au.forall(r => r.getAs[Long]("wau") >= r.getAs[Long]("dau")))
    val rc = Temporal.q102RetentionCohorts(spark, d).collect()
    assert(rc.nonEmpty)
    assert(rc.forall { r =>
      val rate = r.getAs[Double]("retention"); rate > 0.0 && rate <= 1.0
    })
  }
}
