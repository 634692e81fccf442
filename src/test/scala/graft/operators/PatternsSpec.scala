package graft.operators

import graft.mr.SparkSpec

/** Association rules (q104) and event transitions (q105). The driver
  * hash-matches both; these fixtures pin the rule arithmetic and the
  * Markov-step semantics on hand-built shapes.
  */
class PatternsSpec extends SparkSpec {

  test("q104: confidence is directional and respects the support floor") {
    val rows = Corpus.q104AssocRules(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val c = r.getAs[Double]("confidence")
      assert(c > 0.0 && c <= 1.0)
      assert(r.getAs[Long]("sup") >= 2L)
    }
    // confidence ordering is the output contract
    val cs = rows.map(_.getAs[Double]("confidence")).toSeq
    assert(cs == cs.sorted.reverse)
  }

  test("q105: transition counts follow the per-user timeline") {
    import spark.implicits._
    val DayNs = 86400L * 1000 * 1000 * 1000
    val dir = graft.Scope.lru.tempDir("q105fix").toString
    // user 1: view -> click -> view ; user 2: view -> view
    Seq(
      (1L, 1L * DayNs, 1L, "view"), (2L, 2L * DayNs, 1L, "click"),
      (3L, 3L * DayNs, 1L, "view"),
      (4L, 1L * DayNs, 2L, "view"), (5L, 2L * DayNs, 2L, "view"))
      .map { case (id, ts, u, t) => (id, ts, u, t, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Temporal.q105Transitions(spark, dir)
      .collect().map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("p")))).toMap
    assert(got(("view", "click")) == ((1L, 0.5))) // view -> {click, view}
    assert(got(("view", "view")) == ((1L, 0.5)))
    assert(got(("click", "view")) == ((1L, 1.0)))
    assert(got.size == 3)
  }
}
