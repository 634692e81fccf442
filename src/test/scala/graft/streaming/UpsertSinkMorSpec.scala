package graft.streaming

import java.nio.file.{Files, Paths}

import graft.mr.SparkSpec

/** The log-structured (delta + merge-on-read) upsert sink layout: each
  * merge must land as an O(batch) delta directory — never a state
  * rewrite — while readState's compaction keeps the exact
  * last-writer-wins semantics UpsertSinkSpec pins. The pre-manifest
  * layout (a bare version id naming one fully compacted state) must
  * keep reading, as the chain's base.
  */
class UpsertSinkMorSpec extends SparkSpec {
  import spark.implicits._

  test("each merge appends only its own batch as an immutable delta") {
    val dir = graft.Scope.lru.tempDir("graft_upsert_mor").toString
    val b1 = Seq((1L, 1L, 10.0), (2L, 1L, 20.0)).toDF("k", "ver", "v")
    val b2 = Seq((1L, 2L, 11.0)).toDF("k", "ver", "v")
    UpsertSink.merge(spark, dir, b1, "k", "ver")
    UpsertSink.merge(spark, dir, b2, "k", "ver")
    val manifest = Files.readString(Paths.get(dir, "_latest"))
      .split("\n").map(_.trim).filter(_.nonEmpty)
    assert(manifest.head == "mor:k ver", manifest.head)
    val vids = manifest.tail
    assert(vids.length == 2, s"expected 2 deltas, got ${vids.toSeq}")
    // the second delta holds EXACTLY the second batch — the O(batch)
    // write contract (the r20 layout rewrote the whole state here)
    val d2 = spark.read.parquet(Paths.get(dir, vids(1)).toString)
      .as[(Long, Long, Double)].collect().toSet
    assert(d2 == Set((1L, 2L, 11.0)), d2)
    // and the compacted read is still last-writer-wins
    val got = UpsertSink.readState(spark, dir).get
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 11.0), (2L, 1L, 20.0)), got)
  }

  test("a pre-manifest bare-version _latest reads, and merges chain on it") {
    val dir = graft.Scope.lru.tempDir("graft_upsert_legacy").toString
    // hand-build the old layout: one compacted state + bare vid pointer
    Seq((1L, 1L, 10.0), (2L, 5L, 20.0)).toDF("k", "ver", "v")
      .write.parquet(Paths.get(dir, "v0").toString)
    Files.writeString(Paths.get(dir, "_latest"), "v0")
    val legacy = UpsertSink.readState(spark, dir).get
      .as[(Long, Long, Double)].collect().toSet
    assert(legacy == Set((1L, 1L, 10.0), (2L, 5L, 20.0)), legacy)
    // a merge on top must keep the base as chain element 0 — including
    // its version authority (the stale ver-1 row must not clobber k=2)
    UpsertSink.merge(spark, dir,
      Seq((1L, 2L, 11.0), (2L, 1L, 99.0)).toDF("k", "ver", "v"), "k", "ver")
    val got = UpsertSink.readState(spark, dir).get
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 11.0), (2L, 5L, 20.0)), got)
  }
}
