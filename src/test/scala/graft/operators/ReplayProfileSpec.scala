package graft.operators

import graft.mr.SparkSpec
import org.apache.spark.sql.functions._

/** q170 — the replayable-HLL table profiler. The driver hash-matches
  * the full register state; these fixtures pin the SEMANTICS against
  * the exact q99 profiler: null accounting, the m=512 error envelope
  * on the raw estimate, and value-identity via the string cast.
  */
class ReplayProfileSpec extends SparkSpec {

  private lazy val rows = {
    import spark.implicits._
    (1L to 3000L).map { i =>
      (i,
        if (i % 7 == 0) null else s"text body ${i % 1200}",
        s"lang${i % 4}",
        i % 9)
    }.toDF("id", "body", "lang", "grp")
  }

  private val cols = Seq("id", "body", "lang", "grp")

  test("row and null counts match the exact profiler per column") {
    val exact = Relational.profileTable(rows, cols)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = Relational.replayProfileTable(rows, cols)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == exact)
  }

  test("raw estimates land inside the m=512 error envelope per column") {
    val exact = Relational.profileTable(rows, cols)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    Relational.replayProfileTable(rows, cols).collect().foreach { r =>
      val (c, est, small) =
        (r.getString(0), r.getDouble(5), r.getBoolean(6))
      val truth = exact(c).toDouble
      // raw-formula estimate: only meaningful outside the small-range
      // branch; inside it the corrected estimator (HllReplaySpec) rules
      if (!small)
        assert(math.abs(est - truth) / truth < 0.20,
          s"$c: est $est vs exact $truth")
    }
  }

  test("distinct nulls do not contribute registers: all-null-but-one column") {
    import spark.implicits._
    val df = (1L to 100L).map(i =>
      (i, if (i == 50) "only" else null)).toDF("id", "almost_null")
    val got = Relational.replayProfileTable(df, Seq("almost_null"))
      .collect().head
    assert(got.getLong(1) == 100L && got.getLong(2) == 99L)
    // one distinct value -> exactly one register hit
    assert(got.getLong(3) == graft.functions.HllRegistersAgg.M.toLong - 1L)
  }
}
