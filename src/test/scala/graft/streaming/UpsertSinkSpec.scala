package graft.streaming

import graft.Scope
import graft.mr.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** foreachBatch upsert sink + Trigger.AvailableNow — the production
  * landing patterns: a changelog stream materialized as a queryable
  * keyed table with exactly-once-via-idempotence, and the run-to-
  * completion trigger a backfill job uses.
  */
class UpsertSinkSpec extends SparkSpec {

  test("foreachBatch upsert: three micro-batches land as last-writer-wins state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Scope.lru.tempDir("graft_upsert").toString
    val input = MemoryStream[(Long, Long, Double)]
    val q = UpsertSink.writer(
      input.toDF().toDF("k", "ver", "v"), dir, "k", "ver").start()
    try {
      input.addData((1L, 1L, 10.0), (2L, 1L, 20.0)); q.processAllAvailable()
      input.addData((1L, 2L, 11.0), (3L, 1L, 30.0)); q.processAllAvailable()
      input.addData((2L, 3L, 22.0), (1L, 0L, 9.0)); q.processAllAvailable()
    } finally q.stop()
    val got = UpsertSink.readState(spark, dir).get
      .as[(Long, Long, Double)].collect().toSet
    // key 1: ver 2 wins (the late ver-0 row must NOT clobber); key 2:
    // ver 3; key 3: its only row
    assert(got == Set((1L, 2L, 11.0), (2L, 3L, 22.0), (3L, 1L, 30.0)), got)
  }

  test("upsert merge is idempotent: replaying a batch changes nothing") {
    import spark.implicits._
    val dir = Scope.lru.tempDir("graft_upsert_replay").toString
    val b1 = Seq((1L, 1L, 10.0), (2L, 1L, 20.0)).toDF("k", "ver", "v")
    val b2 = Seq((1L, 2L, 11.0)).toDF("k", "ver", "v")
    UpsertSink.merge(spark, dir, b1, "k", "ver")
    UpsertSink.merge(spark, dir, b2, "k", "ver")
    val once = UpsertSink.readState(spark, dir).get
      .as[(Long, Long, Double)].collect().toSet
    // a retried foreachBatch re-delivers the SAME batch — the merge
    // must be a fixpoint (the exactly-once contract)
    UpsertSink.merge(spark, dir, b2, "k", "ver")
    val twice = UpsertSink.readState(spark, dir).get
      .as[(Long, Long, Double)].collect().toSet
    assert(once == twice && once == Set((1L, 2L, 11.0), (2L, 1L, 20.0)))
  }

  test("version wins even when the value column precedes it in the schema") {
    import spark.implicits._
    val dir = Scope.lru.tempDir("graft_upsert_vorder").toString
    // schema order (k, v, ver): a stale ver-1 row with the LARGER
    // value arrives after ver-2 — schema-order tie-breaking would let
    // it clobber; the contract says version orders first
    val b1 = Seq((1L, 11.0, 2L)).toDF("k", "v", "ver")
    val b2 = Seq((1L, 99.0, 1L)).toDF("k", "v", "ver")
    UpsertSink.merge(spark, dir, b1, "k", "ver")
    UpsertSink.merge(spark, dir, b2, "k", "ver")
    val got = UpsertSink.readState(spark, dir).get
      .as[(Long, Double, Long)].collect().toSet
    assert(got == Set((1L, 11.0, 2L)), got)
  }

  test("Trigger.AvailableNow drains a bounded source and terminates on its own") {
    import spark.implicits._
    val src = Scope.lru.tempDir("graft_avnow").toString
    Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 10:00:10"), "click"),
      (java.sql.Timestamp.valueOf("2024-01-01 10:00:40"), "click"),
      (java.sql.Timestamp.valueOf("2024-01-01 10:01:05"), "view"))
      .toDF("ts", "event_type").write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val q = EventStream.windowedCounts(stream)
      .writeStream.format("memory").queryName("avnow")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    // the backfill contract: no manual processAllAvailable/stop — the
    // trigger itself declares completion once the source is drained
    assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    val got = spark.table("avnow")
      .select("win_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val batch = EventStream.windowedCounts(spark.read.parquet(src))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(got == batch && batch.nonEmpty)
  }
}
