package graft.sources

import java.nio.file.{Files, Paths}

import graft.Scope
import graft.mr.SparkSpec
import org.apache.spark.sql.types.{LongType, StringType, StructType}

class SourcesSpec extends SparkSpec {

  private val schema = new StructType()
    .add("id", LongType).add("name", StringType)

  private def writeLines(prefix: String, suffix: String, lines: Seq[String]): String = {
    val dir = Files.createTempDirectory(prefix)
    Files.write(Paths.get(dir.toString, s"part-0$suffix"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir.toString
  }

  test("jsonl: malformed lines are quarantined, clean rows parse, nothing is lost") {
    val path = writeLines("graft_jsonl_", ".json", Seq(
      """{"id": 1, "name": "a"}""",
      """{"id": broken""",
      """{"id": 3, "name": "c"}"""))
    Scope { sc =>
      val (clean, bad) = Sources.quarantine(sc, Sources.jsonl(spark, path, schema))
      assert(clean.columns.toSeq == Seq("id", "name"))
      assert(clean.collect().map(r => (r.getLong(0), r.getString(1))).toSet
        == Set((1L, "a"), (3L, "c")))
      val quarantined = bad.collect().map(_.getString(0))
      assert(quarantined.length == 1 && quarantined.head.contains("broken"))
    }
  }

  test("csv: a row with the wrong arity/type is quarantined with its raw line") {
    val path = writeLines("graft_csv_", ".csv", Seq(
      "id,name",
      "1,a",
      "not_a_number,b",
      "3,c"))
    Scope { sc =>
      val (clean, bad) = Sources.quarantine(sc, Sources.csv(spark, path, schema))
      assert(clean.collect().map(r => (r.getLong(0), r.getString(1))).toSet
        == Set((1L, "a"), (3L, "c")))
      assert(bad.collect().map(_.getString(0)).toSeq == Seq("not_a_number,b"))
    }
  }

  test("orc: round-trip preserves rows; scans prune and push down like parquet") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("orcsrc").toString + "/t"
    val rows = (1L to 100L).map(i => (i, s"name$i", i * 10L))
    Sources.writeOrc(rows.toDF("id", "name", "score"), dir)
    val schema3 = new StructType()
      .add("id", LongType).add("name", StringType).add("score", LongType)
    val back = Sources.orc(spark, dir, schema3)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      == rows.toSet)
    // columnar contract: projection prunes the read schema, the
    // filter reaches the ORC scan as a pushed predicate
    val q = back.filter(col("id") > 90).select(col("name"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,90)]"), plan)
    assert(plan.contains("ReadSchema: struct<id:bigint,name:string>"), plan)
    assert(q.collect().length == 10)
  }

  test("textLines reads the reference's native line-oriented shape") {
    val path = writeLines("graft_text_", ".txt", Seq("the quick", "brown fox"))
    import spark.implicits._
    assert(Sources.textLines(spark, path).as[String].collect().toSet
      == Set("the quick", "brown fox"))
  }
}
