package graft.operators

import graft.{Scope, Tables}
import graft.mr.SparkSpec
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Sources/sinks coverage: the reference returns in-memory objects
  * (tinymr.py:229-230); the engine's sinks are distributed writers.
  * Partitioned parquet is the 100 TB default layout — these tests pin
  * that partition pruning actually happens on read-back.
  */
class SinksSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  test("partitioned parquet sink round-trips and prunes partitions on read") {
    val tmp = Scope.lru.tempDir("graft_sink_").toString
    val docs = Tables.documents(spark, d)
    docs.write.partitionBy("lang").mode("overwrite").parquet(tmp)

    val back = spark.read.parquet(tmp)
    assert(back.count() == docs.count())

    val pruned = back.filter(col("lang") === "en")
    val plan = pruned.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("lang"), plan)
    // the en-partition count must match the unpartitioned filter
    assert(pruned.count() == docs.filter(col("lang") === "en").count())
  }

  test("csv and json sinks round-trip values") {
    import spark.implicits._
    val tmpCsv = Scope.lru.tempDir("graft_csv_").toString
    val tmpJson = Scope.lru.tempDir("graft_json_").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", -3.25)).toDF("id", "name", "v")

    df.write.mode("overwrite").option("header", "true").csv(tmpCsv)
    df.write.mode("overwrite").json(tmpJson)

    val csvBack = spark.read.option("header", "true").option("inferSchema", "true").csv(tmpCsv)
      .as[(Long, String, Double)].collect().toSet
    val jsonBack = spark.read.json(tmpJson)
      .select(col("id"), col("name"), col("v"))
      .as[(Long, String, Double)].collect().toSet
    assert(csvBack == Set((1L, "a", 1.5), (2L, "b", -3.25)))
    assert(jsonBack == Set((1L, "a", 1.5), (2L, "b", -3.25)))
  }

  test("orc sink round-trips values (columnar alternative to parquet)") {
    import spark.implicits._
    val tmp = Scope.lru.tempDir("graft_orc_").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", -3.25)).toDF("id", "name", "v")
    df.write.mode("overwrite").orc(tmp)
    val back = spark.read.orc(tmp).as[(Long, String, Double)].collect().toSet
    assert(back == Set((1L, "a", 1.5), (2L, "b", -3.25)))
  }

  test("text source reads lines (the reference's file-ingestion idiom)") {
    val tmp = Scope.lru.tempDir("graft_txt_").toString
    import spark.implicits._
    Seq("word something else", "else something word").toDF("value")
      .write.mode("overwrite").text(tmp)
    val lines = spark.read.textFile(tmp).collect().toSet
    assert(lines == Set("word something else", "else something word"))
  }
}
