package graft

import graft.mr.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The shared timing loop behind Bench and every `graft.Dev`
  * subcommand: what one pass measures, that a failing query cannot
  * kill a loop, that each pass starts from an empty cache, and that
  * bad arguments fail with the usage line before any Spark work.
  */
class DevSpec extends SparkSpec {

  private def rows(n: Long): Dev.Query = (s, _) => s.range(n).toDF()

  test("timedPass counts the rows the query returns") {
    val p = Dev.timedPass(spark, rows(7), "unused")
    assert(p.rows == 7L)
    assert(p.sec >= 0.0)
    assert(p.cachedBytes == 0L)
  }

  test("a throwing query yields -1 and the loop moves on to the next query") {
    val boom: Dev.Query = (_, _) => sys.error("boom")
    val failed = Dev.timedPass(spark, boom, "unused")
    assert(failed.sec == -1.0 && failed.rows == -1L)
    val bests = Dev.time(spark, Seq("boom" -> boom, "ok" -> rows(3)), "unused", 2).toMap
    assert(bests("boom") == -1.0)
    assert(bests("ok") >= 0.0)
    assert(Dev.best(Seq(-1.0, 0.5, 0.25)) == 0.25)
  }

  test("each pass starts from an empty cache and reports what it left cached") {
    val seenAtStart = scala.collection.mutable.ArrayBuffer.empty[Int]
    val persisting: Dev.Query = { (s: SparkSession, _: String) =>
      seenAtStart += s.sparkContext.getRDDStorageInfo.length
      val df: DataFrame = s.range(1000).toDF("id").persist()
      df.count()
      df
    }
    val passes = (1 to 3).map(_ => Dev.timedPass(spark, persisting, "unused"))
    assert(seenAtStart.toSeq == Seq(0, 0, 0))
    assert(passes.forall(_.cachedBytes > 0L), passes)
    spark.catalog.clearCache()
  }

  test("a repeated timedPass of the same query compiles 0 classes") {
    // the odd literals keep the generated code unlike any other spec's,
    // so the first pass really compiles
    val agg: Dev.Query = (s, _) =>
      s.range(5000).selectExpr("id % 7919 AS k", "id * 104729 AS v").groupBy("k").sum("v")
    val first = Dev.timedPass(spark, agg, "unused")
    val again = (1 to 2).map(_ => Dev.timedPass(spark, agg, "unused"))
    assert(first.rows == 5000L && first.compiles > 0L, first)
    assert(again.map(_.compiles) == Seq(0L, 0L), again)
  }

  test("bad arguments fail with the usage line before any Spark work") {
    def rejects(args: String*)(why: String): Unit = {
      val e = intercept[IllegalArgumentException](Dev.parse(args.toArray))
      assert(e.getMessage.contains(why), e.getMessage)
      assert(e.getMessage.contains(Dev.Usage))
    }
    val q = SparkEntry.queries.keys.min
    rejects()("missing <sub>")
    rejects("bogus")("unknown subcommand 'bogus'")
    rejects("time", "q999_no_such_query", "sf")("unknown query 'q999_no_such_query'")
    rejects("time", q, "sf", "0")("passes must be a positive integer")
    rejects("time", q, "sf", "x")("passes must be a positive integer")
    rejects("idle", q, "sf", "-2")("passes must be a positive integer")
    rejects("ab", "k=v", q, "sf", "0")("rounds must be a positive integer")
    rejects("ab", "novalue", q, "sf")("is not k=v")
    rejects("time", q)("missing <sfDir>")
    rejects("time", "all", "sf")("unknown query 'all'")
    rejects("jobs", s"$q,$q", "sf")("jobs takes one query")
    rejects("time", q, "sf", "--fold-stale")("unknown flag '--fold-stale'")
    rejects("explain", q, "sf", "run")("unknown explain mode 'run'")
    // the good forms parse (and do nothing until handed a session)
    Dev.parse(Array("time", q, "sf"))
    Dev.parse(Array("idle", q, "sf", "2", "out.json", "--fold-stale"))
    Dev.parse(Array("explain", "all", "sf", "exec"))
  }
}
