package graft.streaming

import java.sql.Timestamp

import graft.functions.{CmsSketchAgg, HllRegistersAgg}
import graft.mr.SparkSpec
import graft.operators.Corpus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamingSpec extends SparkSpec {

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  test("windowedCounts aggregates a MemoryStream into tumbling windows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val counts = EventStream.windowedCounts(
      input.toDF().toDF("ts", "event_type"))

    val q = counts.writeStream.format("memory").queryName("wc")
      .outputMode("update").start()
    try {
      input.addData((ts(0, 10), "click"), (ts(0, 40), "click"), (ts(1, 5), "view"))
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select("win_start", "event_type", "n").as[(Timestamp, String, Long)]
        .collect().toSet
      assert(rows.contains((ts(0), "click", 2L)))
      assert(rows.contains((ts(1), "view", 1L)))

      // late-but-within-watermark data updates the earlier window
      input.addData((ts(0, 55), "click"))
      q.processAllAvailable()
      val updated = spark.table("wc")
        .select("win_start", "event_type", "n").as[(Timestamp, String, Long)]
        .collect().toSet
      assert(updated.contains((ts(0), "click", 3L)))
    } finally q.stop()
  }

  test("hllWindowRegisters: streaming build across batches equals the batch build") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 3 windows x interleaved users, delivered in THREE micro-batches
    // with repeats across batches — register max must merge exactly
    val rows = (0 until 90).map(i => (ts(i % 30), (i * 7 % 25).toLong))
    val input = MemoryStream[(Timestamp, Long)]
    def regsOf(df: DataFrame) = HllRegistersAgg.cellRows(EventStream.windowSketch(df,
      Seq(HllRegistersAgg.registers(Corpus.hllKey(col("user_id").cast("string"))).as("regs"))),
      Seq("win_start"), col("regs"))
    val regs = regsOf(input.toDF().toDF("ts", "user_id"))
    val q = regs.writeStream.format("memory").queryName("hllregs")
      .outputMode("complete").start()
    try {
      rows.grouped(30).foreach { batch =>
        input.addData(batch: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("hllregs")
      .as[(Timestamp, Long, Long)].collect().toSet
    val batch = regsOf(rows.toDF("ts", "user_id"))
      .as[(Timestamp, Long, Long)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("cmsWindowCells: streaming build across batches equals the batch build") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = (0 until 90).map(i => (ts(i % 30), (i * 11 % 17).toLong))
    val input = MemoryStream[(Timestamp, Long)]
    def cellsOf(df: DataFrame) = CmsSketchAgg.cellRows(EventStream.windowSketch(df,
      Seq(CmsSketchAgg.sketch(Corpus.hllKey(col("user_id").cast("string"))).as("cells"))),
      Seq("win_start"), col("cells"))
    val cells = cellsOf(input.toDF().toDF("ts", "user_id"))
    val q = cells.writeStream.format("memory").queryName("cmscells")
      .outputMode("complete").start()
    try {
      rows.grouped(30).foreach { batch =>
        input.addData(batch: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("cmscells")
      .as[(Timestamp, Long, Long, Long)].collect().toSet
    val batch = cellsOf(rows.toDF("ts", "user_id"))
      .as[(Timestamp, Long, Long, Long)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("windowedCounts is batch/stream unified: same code on a batch frame") {
    import spark.implicits._
    val batch = Seq((ts(0, 10), "click"), (ts(0, 40), "click"), (ts(1, 5), "view"))
      .toDF("ts", "event_type")
    val got = EventStream.windowedCounts(batch)
      .as[(Timestamp, String, Long)].collect().toSet
    assert(got == Set((ts(0), "click", 2L), (ts(1), "view", 1L)))
  }

  test("sessionize emits closed sessions and keeps the open one in state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val gapNs = 60L * 1000000000 // 60 s
    val sessions = EventStream.sessionize(
      input.toDF().toDF("user_id", "ts_ns").as[EventStream.SessionEvent], gapNs)

    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      def ns(sec: Long): Long = sec * 1000000000
      input.addData((1L, ns(0)), (1L, ns(10)), (1L, ns(20)))
      q.processAllAvailable()
      assert(spark.table("sess").count() == 0) // session still open

      input.addData((1L, ns(600))) // 10 min later: closes first session
      q.processAllAvailable()
      val got = spark.table("sess")
        .as[EventStream.SessionSummary].collect().toSeq
      assert(got == Seq(EventStream.SessionSummary(1L, ns(0), ns(20), 3L)))
    } finally q.stop()
  }

  test("sessionizeWithTimeout flushes the open session when the watermark passes it") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gapMs = 60L * 1000 // 60 s
    val input = MemoryStream[(Long, Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "0 seconds")
      .as[EventStream.TimedEvent]
    val q = EventStream.sessionizeWithTimeout(events, gapMs)
      .writeStream.format("memory").queryName("sesst")
      .outputMode("append").start()
    try {
      // user 1: two events within the gap -> open session, no output
      input.addData((1L, ts(0, 10)), (1L, ts(0, 30)))
      q.processAllAvailable()
      assert(spark.table("sesst").count() == 0)

      // user 2 far in the future advances the watermark past user 1's
      // session end + gap...
      input.addData((2L, ts(10)))
      q.processAllAvailable()
      // ...and the NEXT batch fires user 1's event-time timeout
      input.addData((2L, ts(11)))
      q.processAllAvailable()
      val got = spark.table("sesst").as[EventStream.SessionSummaryMs].collect().toSeq
      assert(got.contains(
        EventStream.SessionSummaryMs(1L, ts(0, 10).getTime, ts(0, 30).getTime, 2L)), got.toString)
    } finally q.stop()
  }

  test("stream-static join enriches a stream against a broadcast dimension") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[(Timestamp, Long, Double)]
    val enriched = input.toDF().toDF("ts", "user_id", "value")
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"), "left")
    val q = enriched.writeStream.format("memory").queryName("enr")
      .outputMode("append").start()
    try {
      input.addData((ts(0), 1L, 5.0), (ts(1), 2L, 7.0), (ts(2), 9L, 1.0))
      q.processAllAvailable()
      val got = spark.table("enr")
        .select("user_id", "tier").as[(Long, Option[String])].collect().toSet
      assert(got == Set((1L, Some("gold")), (2L, Some("silver")), (9L, None)))
    } finally q.stop()
  }

  test("attributionJoin matches purchases to in-window clicks only (stream-stream)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val purchases = MemoryStream[(Timestamp, Long, Double)]
    val joined = EventStream.attributionJoin(
      clicks.toDF().toDF("ts", "user_id"),
      purchases.toDF().toDF("ts", "user_id", "value"),
      withinMinutes = 10)

    val q = joined.writeStream.format("memory").queryName("attr")
      .outputMode("append").start()
    try {
      clicks.addData((ts(0), 1L), (ts(2), 1L), (ts(30), 2L))
      // user 1 buys 5 min after TWO in-window clicks -> the join fans
      // out one row per (purchase, click) pair (the documented raw
      // semantics; last-click etc. is a downstream reduction); user 2
      // buys 25 min BEFORE their click (never attributable); user 3
      // never clicked
      purchases.addData((ts(5), 1L, 9.99), (ts(5), 2L, 1.0), (ts(5), 3L, 2.0))
      q.processAllAvailable()
      val got = spark.table("attr")
        .select("user_id", "click_ts", "value").as[(Long, Timestamp, Double)]
        .collect().toSet
      assert(got == Set((1L, ts(0), 9.99), (1L, ts(2), 9.99)))
    } finally q.stop()
  }

  test("sessionWindowStats merges events into gap-delimited session windows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val sess = EventStream.sessionWindowStats(
      input.toDF().toDF("ts", "user_id"), gap = "1 minute")

    // session windows only support append: a session emits once the
    // watermark passes its close — so advance the watermark explicitly
    val q = sess.writeStream.format("memory").queryName("sw")
      .outputMode("append").start()
    try {
      // two bursts for user 1 separated by > gap, one event for user 2
      input.addData((ts(0), 1L), (ts(0, 30), 1L), (ts(5), 1L), (ts(0), 2L))
      q.processAllAvailable()
      input.addData((ts(20), 9L)) // watermark -> 10:18, closes all above
      q.processAllAvailable()
      val got = spark.table("sw")
        .select("sess_start", "user_id", "n_events")
        .as[(Timestamp, Long, Long)].collect().toSet
      assert(got.contains((ts(0), 1L, 2L)), got)   // merged burst
      assert(got.contains((ts(5), 1L, 1L)), got)   // separate session
      assert(got.contains((ts(0), 2L, 1L)), got)
    } finally q.stop()
  }

  test("sessionWindowStats is batch/stream unified: same code on a batch frame") {
    import spark.implicits._
    val batch = Seq((ts(0), 1L), (ts(0, 30), 1L), (ts(5), 1L))
      .toDF("ts", "user_id")
    val got = EventStream.sessionWindowStats(batch)
      .select("user_id", "n_events").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 1L)))
  }

  test("nearDupDedupStream drops same-fingerprint docs, keeps distinct content") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val text1 = "the quick brown fox jumps over the lazy dog near the river bank today"
    val text2 = "distributed engines shuffle partitioned data across many executor nodes"
    val input = MemoryStream[(Timestamp, Long, String)]
    val dedup = EventStream.nearDupDedupStream(
      input.toDF().toDF("ts", "doc_id", "text").as[EventStream.Doc])

    val q = dedup.writeStream.format("memory").queryName("ndd")
      .outputMode("append").start()
    try {
      input.addData((ts(0), 1L, text1), (ts(0, 30), 2L, text1), (ts(1), 3L, text2))
      q.processAllAvailable()
      val ids = spark.table("ndd").select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 3L), ids) // doc 2 is a fingerprint-dup of doc 1
    } finally q.stop()
  }

  test("compaction catches a within-radius late near-dup the stream layer passes") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    // search for a perturbed text at Hamming 1..3 from base — the case
    // fingerprint-exact streaming dedup structurally cannot catch
    val baseSig = graft.operators.Dedup.simhash64(base)
    val nearText = (1 to 2000).iterator.map(i => s"$base extra$i")
      .find { t =>
        val h = java.lang.Long.bitCount(graft.operators.Dedup.simhash64(t) ^ baseSig)
        h >= 1 && h <= 3
      }
    assert(nearText.isDefined, "no radius-3 perturbation found in search budget")
    val input = MemoryStream[(Timestamp, Long, String)]
    val dedup = EventStream.nearDupDedupStream(
      input.toDF().toDF("ts", "doc_id", "text").as[EventStream.Doc])
    val q = dedup.writeStream.format("memory").queryName("nddc")
      .outputMode("append").start()
    try {
      input.addData((ts(0), 1L, base), (ts(1), 2L, nearText.get))
      q.processAllAvailable()
      val store = spark.table("nddc")
      // distinct fingerprints -> both survive the stream layer...
      assert(store.count() == 2L)
      // ...and the batch compaction pass drops the later near-dup
      val compacted = EventStream.compactNearDupStore(store)
        .select("doc_id").as[Long].collect().toSet
      assert(compacted == Set(1L), s"compacted to $compacted")
    } finally q.stop()
  }

  test("stream-then-compact equals the single-rule batch radius dedup") {
    import spark.implicits._
    // synthetic fingerprint store: random sigs plus later jittered
    // copies (0-3 flipped bits) and exact dups, shuffled arrival ids
    val rnd = new scala.util.Random(7)
    val bases = (0 until 40).map(i => (ts(i / 4, (i % 4) * 10), i.toLong, rnd.nextLong()))
    val extras = bases.take(15).zipWithIndex.map { case ((_, _, sig), j) =>
      val flips = rnd.nextInt(4) // 0 = exact dup, 1..3 = radius dup
      val jittered = (0 until flips).foldLeft(sig)((s, _) => s ^ (1L << rnd.nextInt(64)))
      (ts(10 + j / 4, (j % 4) * 10), 100L + j, jittered)
    }
    val all = bases ++ extras
    // the stream layer keeps the first arrival per exact fingerprint
    // (dropDuplicatesWithinWatermark semantics on a drained store)
    val ordered = all.sortBy { case (t, id, _) => (t.getTime, id) }
    val streamSurvivors = ordered
      .groupBy(_._3).values.map(_.minBy(r => (r._1.getTime, r._2))).toSeq
    // single-rule batch reference over EVERYTHING: drop iff an earlier
    // row (any, dropped or not) sits within Hamming 3
    val wantKept = ordered.filter { case (t, id, sig) =>
      !ordered.exists { case (t2, id2, sig2) =>
        (t2.getTime < t.getTime || (t2.getTime == t.getTime && id2 < id)) &&
          java.lang.Long.bitCount(sig ^ sig2) <= 3
      }
    }.map(_._2).toSet
    val got = EventStream.compactNearDupStore(
      streamSurvivors.toDF("ts", "doc_id", "simhash"))
      .select("doc_id").as[Long].collect().toSet
    assert(got == wantKept)
  }

  test("dedupStream drops duplicate keys within the watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val dedup = EventStream.dedupStream(input.toDF().toDF("ts", "doc_id"), "doc_id")

    val q = dedup.writeStream.format("memory").queryName("dd")
      .outputMode("append").start()
    try {
      input.addData((ts(0), 1L), (ts(0, 30), 1L), (ts(1), 2L))
      q.processAllAvailable()
      input.addData((ts(1, 30), 2L), (ts(2), 3L))
      q.processAllAvailable()
      val ids = spark.table("dd").select("doc_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("q93: streaming dedup absorbs planted redeliveries, equals batch counts") {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
    val d = "/root/testdata/sf0.001"
    val streamed = EventStream.q93StreamDedup(spark, d)
      .collect().map(_.toString).toSeq
    val batch = graft.Tables.events(spark, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("q93: an empty events input yields a typed empty frame, not a crash") {
    // an empty drain leaves no parquet parts in the spool; without the
    // drainToSpool hasParts guard this threw 'Unable to infer schema'
    val d = graft.Scope.lru.tempDir("graft_empty_sf").toString
    graft.Tables.events(spark, "/root/testdata/sf0.001").limit(0)
      .write.parquet(s"$d/events.parquet")
    val out = EventStream.q93StreamDedup(spark, d)
    assert(out.columns.toSeq == Seq("event_type", "n_events", "n_users"))
    assert(out.count() == 0)
  }

  test("q103: stream-static enrichment equals the batch join") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val d = "/root/testdata/sf0.001"
    val streamed = EventStream.q103StreamEnrich(spark, d)
      .collect().map(_.toString).toSeq
    val batch = graft.Tables.events(spark, d)
      .join(graft.Tables.customer(spark, d),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .orderBy(col("segment"))
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("transformWithState sessionizer equals flatMapGroupsWithState (bounded replay)") {
    // the Spark 4 arbitrary-state API v2 must reproduce the v1 operator
    // bit-for-bit on the same bounded stream; tws requires the RocksDB
    // state backend, which doubles as coverage of that pairing
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val gapNs = 30L * 60 * 1000000L // micros ("ns" naming is the q108 contract)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    def replay(f: org.apache.spark.sql.Dataset[EventStream.SessionEvent] => org.apache.spark.sql.Dataset[EventStream.SessionSummary],
        qname: String): Seq[String] = {
      val stream = spark.readStream.schema(graft.Tables.eventsRaw(spark, d).schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
      val src = graft.Tables.normalizeEventTime(stream)
        .select(col("user_id"), expr("ts div 1000").as("ts_ns")).as[EventStream.SessionEvent]
      val q = f(src).toDF().writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val out = spark.table(qname).collect().map(_.toString).sorted.toSeq
      spark.catalog.dropTempView(qname)
      out
    }
    val (tws, v1) = try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      (replay(EventStream.sessionizeTws(_, gapNs), "tws_probe"),
        replay(EventStream.sessionize(_, gapNs), "fmgws_probe"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(tws.nonEmpty)
    assert(tws == v1)
  }

  test("state-store reader: a checkpoint's keyed state is inspectable offline") {
    // the operational debugging surface: spark.read.format(\"statestore\")
    // opens a stopped query's checkpoint and exposes per-key state rows
    // — at 100 TB this is how you answer \"what is stuck in state\"
    // without replaying the job
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val ckpt = graft.Scope.lru.tempDir("state_read_").toString
    val stream = spark.readStream.schema(graft.Tables.eventsRaw(spark, d).schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      .select(col("user_id"), col("event_type"))
    val counts = stream.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val q = counts.writeStream.format("memory").queryName("state_read_probe")
      .option("checkpointLocation", ckpt).outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val state = spark.read.format("statestore").load(ckpt)
    // the value struct carries the AGGREGATION BUFFER (internal field
    // name `count`), not the output alias — the reader shows the
    // operator's state as stored, which is the point
    val rows = state.select(col("key.event_type"), col("value.count")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = graft.Tables.events(spark, d).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == truth, s"state $rows != batch truth $truth")
  }

  test("RocksDB state store: session aggregation equals the default backend") {
    // the production state backend at 100 TB/day: state spills to disk
    // instead of living on the JVM heap, so watermark-horizon state is
    // bounded by SSD, not executor memory. Must be semantics-free.
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    val rocks = try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      EventStream.q70StreamSessionize(spark, d).collect().map(_.toString).sorted.toSeq
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val default = EventStream.q70StreamSessionize(spark, d)
      .collect().map(_.toString).sorted.toSeq
    assert(rocks.nonEmpty)
    assert(rocks == default)
  }

  test("checkpoint recovery: a restarted query resumes exactly-once from its checkpoint") {
    // the exactly-once contract that makes streaming restartable at
    // scale: stop after batch 1, add data, restart on the SAME
    // checkpoint — already-committed files must not be re-counted and
    // new files must be picked up
    import org.apache.spark.sql.functions._
    val base = graft.Scope.lru.tempDir("ckpt_src_").toString
    val ckpt = graft.Scope.lru.tempDir("ckpt_dir_").toString
    import spark.implicits._
    def write(part: Int, rows: Seq[(Long, String)]): Unit =
      rows.toDF("us", "event_type")
        .select(timestamp_micros(col("us")).as("ts"), col("event_type"))
        .coalesce(1).write.mode("append").parquet(base)
    val t0 = 1700000000000000L // fixed epoch micros
    write(0, Seq((t0, "a"), (t0 + 1000000, "a"), (t0 + 61000000, "b")))
    val schema = spark.read.parquet(base).schema
    def counts = EventStream.windowedCounts(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(base))
    def start(qname: String) = counts.writeStream.format("memory").queryName(qname)
      .option("checkpointLocation", ckpt).outputMode("complete").start()
    val q1 = start("ckpt_a")
    try q1.processAllAvailable() finally q1.stop()
    val afterFirst = spark.table("ckpt_a")
      .select(col("win_start"), col("event_type"), col("n"))
      .collect().map(_.toSeq).toSet
    // second vintage lands while no query is running
    write(1, Seq((t0 + 2000000, "a"), (t0 + 62000000, "b")))
    val q2 = start("ckpt_b")
    try q2.processAllAvailable() finally q2.stop()
    val afterRestart = spark.table("ckpt_b")
      .select(col("win_start"), col("event_type"), col("n"))
      .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    assert(afterFirst.nonEmpty)
    // exactly-once: counts reflect BOTH files exactly once each
    val batch = spark.read.parquet(base)
      .select(window(col("ts"), "1 minute")("start").as("win_start"), col("event_type"))
      .groupBy(col("win_start"), col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    assert(afterRestart == batch,
      s"restarted totals $afterRestart != batch truth $batch")
  }

  test("ts normalization is pruned out of stream scans that never read ts") {
    // the canonical-ts projection (Tables.normalizeEventTime inside the
    // shared eventsStream helper) must stay FREE for consumers that
    // drop ts — Catalyst prunes the column before the parquet scan. A
    // regression here re-reads and re-converts ts on every micro-batch
    // of every ts-free stream (q103's whole cost profile).
    import org.apache.spark.sql.functions.{broadcast, col}
    import org.apache.spark.sql.streaming.OutputMode
    val d = "/root/testdata/sf0.001"
    val src = graft.Tables.normalizeEventTime(
      spark.readStream.schema(graft.Tables.eventsRaw(spark, d).schema)
        .option("pathGlobFilter", "events.parquet").parquet(d))
      .select(col("user_id"), col("value"))
    val dim = graft.Tables.customer(spark, d)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val q = src.join(broadcast(dim), "user_id")
      .writeStream.format("memory").queryName("prune_probe")
      .outputMode(OutputMode.Append).start()
    val plan = try {
      q.processAllAvailable()
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos)) { q.explain() }
      bos.toString
    } finally q.stop()
    val eventsScan = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("events.parquet"))
      .mkString("\n")
    assert(eventsScan.nonEmpty, s"no events FileScan found in:\n$plan")
    assert(eventsScan.contains("ReadSchema: struct<user_id:bigint,value:double>"),
      s"events scan reads more than (user_id, value):\n$eventsScan")
  }

  test("q76: streaming windowed counts over the bounded events table equal batch buckets") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val d = "/root/testdata/sf0.001"
    val streamed = EventStream.q76StreamWindowCounts(spark, d)
      .collect().map(_.toString).toSeq
    val batch = graft.Tables.events(spark, d)
      .selectExpr("ts div 1000 AS us", "event_type")
      .selectExpr("us - us % 60000000 AS win_start_us", "event_type")
      .groupBy(col("win_start_us"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("win_start_us"), col("event_type"))
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("q83: stream-stream attribution over the bounded events table equals batch join") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val streamed = EventStream.q83StreamAttribution(spark, d)
      .collect().map(_.toString).toSeq
    val e = graft.Tables.events(spark, d)
      .selectExpr("user_id", "ts div 1000 AS us", "event_type", "value")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("pus"), col("value"))
    val c = e.filter(col("event_type") === "view")
      .select(col("user_id").as("c_user"), col("us").as("cus"))
    val batch = p.join(c, p("user_id") === c("c_user") &&
        col("cus") <= col("pus") && col("cus") >= col("pus") - 600000000L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("attributed_value"),
        min(col("cus")).as("first_click_us"))
      .orderBy(col("user_id"))
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("asOfStream: state carries the latest right row across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EventStream.TaggedEvent]
    val out = EventStream.asOfStream(input.toDS())
    val q = out.toDF().writeStream.format("memory").queryName("asof_state")
      .outputMode("append").start()
    try {
      // batch 1: user 1 error before any click -> None; click 10 at t=5;
      // equal-time click ties 11 vs 12 -> greatest id wins for t=6 error
      input.addData(
        EventStream.TaggedEvent(1L, 2L, 1, 100L),
        EventStream.TaggedEvent(1L, 5L, 0, 10L),
        EventStream.TaggedEvent(1L, 6L, 0, 11L),
        EventStream.TaggedEvent(1L, 6L, 0, 12L),
        EventStream.TaggedEvent(1L, 6L, 1, 101L))
      q.processAllAvailable()
      // batch 2: a later error sees batch 1's click state; a stale
      // redelivery of click 10 must not regress the (6, 12) state
      input.addData(
        EventStream.TaggedEvent(1L, 5L, 0, 10L),
        EventStream.TaggedEvent(1L, 9L, 1, 102L),
        EventStream.TaggedEvent(2L, 3L, 1, 200L))
      q.processAllAvailable()
      val rows = spark.table("asof_state")
        .select("event_id", "asof_click_us", "asof_click_id")
        .collect()
        .map(r => r.getLong(0) ->
          ((Option(r.get(1)).map(_.asInstanceOf[Long]),
            Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
      assert(rows(100L) === ((None, None)))
      assert(rows(101L) === ((Some(6L), Some(12L)))) // equal time visible, max id
      assert(rows(102L) === ((Some(6L), Some(12L)))) // carried state, no regress
      assert(rows(200L) === ((None, None))) // keys are independent
    } finally q.stop()
  }

  test("q187: in-stream as-of equals the native batch operator on the bounded table") {
    val d = "/root/testdata/sf0.001"
    val streamed = graft.streaming.EventStream.q187StreamAsofState(spark, d)
      .collect().map(_.toString).toSeq
    val batch = graft.operators.Temporal.q180AsofNative(spark, d)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("q191: transformWithState as-of equals the fMGWS form and the batch operator") {
    val d = "/root/testdata/sf0.001"
    val tws = graft.streaming.EventStream.q191StreamAsofTws(spark, d)
      .collect().map(_.toString).toSeq
    val batch = graft.operators.Temporal.q180AsofNative(spark, d)
      .collect().map(_.toString).toSeq
    assert(tws.nonEmpty)
    assert(tws == batch)
  }

  test("q193: sliding KMV windows match the explicit 6-fold expansion") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.streaming.EventStream.q193StreamSlidingKmv(spark, d).collect()
    assert(rows.nonEmpty)
    // one row per slide-aligned window start, 10-minute grid
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    assert(rows.forall(_.getLong(0) % 600000000L == 0L))
    // sketch invariants: n_kmv <= k, and below k the estimate is exact
    rows.foreach { r =>
      assert(r.getLong(2) <= graft.functions.KmvSketchAgg.K.toLong)
      if (r.getLong(2) < graft.functions.KmvSketchAgg.K.toLong)
        assert(r.getLong(4) == r.getLong(1),
          s"below-k estimate not exact: $r")
    }
    // each window's distinct count >= any single 10-min sub-window's
    // (the trailing hour contains it) — spot-check via q175's tumbling
    val tumbling = graft.streaming.EventStream.q175StreamKmv(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      tumbling.get(r.getLong(0)).foreach { tenMin =>
        assert(r.getLong(1) >= tenMin, s"hour < its own first 10 min: $r")
      }
    }
  }

  test("q197: in-stream window quantiles equal the batch build of the same sample") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val streamed = graft.streaming.EventStream.q197StreamQuantile(spark, d)
      .collect().map(_.toString).toSeq
    // batch twin: the identical aggregation over the bounded table —
    // equality proves the incremental merge through the state store
    val sk = graft.Tables.events(spark, d)
      .filter(col("value").isNotNull)
      .select((expr("ts div 1000") - expr("ts div 1000") % 600000000L).as("k"),
        col("event_id"), col("value"))
      .groupBy(col("k"))
      .agg(graft.functions.SamplePairsAgg.sketch(
          graft.operators.Corpus.hllKey(col("event_id").cast("string")),
          round(col("value") * lit(1e6)).cast("long"),
          graft.functions.SamplePairsAgg.K).as("pairs"),
        count(lit(1)).as("n_events"))
    val batch = sk.select(col("k").as("win_start_us") +: col("n_events") +:
        graft.functions.SamplePairsAgg.readout(col("pairs"), "fx"): _*)
      .orderBy(col("win_start_us"))
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("q203: sliding quantile windows match the explicit 6-fold batch expansion") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val streamed = graft.streaming.EventStream
      .q203StreamSlidingQuantile(spark, d).collect().map(_.toString).toSeq
    // batch twin: every event in its 6 slide-aligned windows, same agg
    val sk = graft.Tables.events(spark, d)
      .filter(col("value").isNotNull)
      .select(expr("ts div 1000").as("ts_us"), col("event_id"), col("value"))
      .select(explode(sequence(lit(0L), lit(5L))).as("i"),
        col("ts_us"), col("event_id"), col("value"))
      .select((expr("ts_us - ts_us % 600000000") - col("i") * lit(600000000L))
        .as("k"), col("event_id"), col("value"))
      .groupBy(col("k"))
      .agg(graft.functions.SamplePairsAgg.sketch(
          graft.operators.Corpus.hllKey(col("event_id").cast("string")),
          round(col("value") * lit(1e6)).cast("long"),
          graft.functions.SamplePairsAgg.K).as("pairs"),
        count(lit(1)).as("n_events"))
    val batch = sk.select(col("k").as("win_start_us") +: col("n_events") +:
        graft.functions.SamplePairsAgg.readout(col("pairs"), "fx"): _*)
      .orderBy(col("win_start_us"))
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // each trailing hour holds >= its own first 10 minutes' events
    val tumbling = graft.streaming.EventStream.q197StreamQuantile(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    streamed.map(_.split(",")(0).drop(1).toLong).zip(
      streamed.map(_.split(",")(1).toLong)).foreach { case (w, n) =>
      tumbling.get(w).foreach(tn => assert(n >= tn, s"window $w"))
    }
  }

  test("cusumStream: carry is cumulative across micro-batches, O(1) per key") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EventStream.CusumEvent]
    val out = EventStream.cusumStream(input.toDS(), k = 50L, h = 100L)
    val q = out.toDF().writeStream.format("memory").queryName("cusum_state")
      .outputMode("update").start()
    try {
      // batch 1: steady at k -> s stays 0
      input.addData((0 until 5).map(i =>
        EventStream.CusumEvent(1L, i.toLong, i.toLong, 50L)): _*)
      q.processAllAvailable()
      // batch 2: +30 drift per event -> s climbs 30, 60, 90, 120, 150;
      // crosses h=100 at the 4th drifting event (ts 8)
      input.addData((5 until 10).map(i =>
        EventStream.CusumEvent(1L, i.toLong, i.toLong, 80L)): _*)
      q.processAllAvailable()
      val last = spark.table("cusum_state")
        .orderBy(org.apache.spark.sql.functions.col("n_events").desc)
        .collect().head
      assert(last.getLong(1) == 10L) // cumulative event count
      assert(last.getLong(2) == 150L) // max s
      assert(last.getLong(3) == 2L) // s in {120, 150} above h
      assert(last.getLong(4) == 8L) // first crossing ts
    } finally q.stop()
  }

  test("q194: streaming CUSUM equals the windowed batch form on the bounded table") {
    val d = "/root/testdata/sf0.001"
    val streamed = graft.streaming.EventStream.q194StreamCusum(spark, d)
      .collect().map(_.toString).toSeq
    val batch = graft.operators.Temporal.q185Cusum(spark, d)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("spool dirs are deleted once the consuming query materializes") {
    // compare against a pre-run snapshot: /tmp may hold spools from
    // OTHER (killed) JVMs, which only that JVM's sweep/hook may own
    val d = "/root/testdata/sf0.001"
    def spools(): Set[String] = {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      tmp.listFiles().iterator.map(_.getName)
        .filter(n => n.startsWith("graft_") && n.contains("_spool")).toSet
    }
    val before = spools()
    EventStream.q83StreamAttribution(spark, d).collect()
    val leaked = spools() -- before
    assert(leaked.isEmpty,
      s"leftover spool dirs after materialization: ${leaked.mkString(", ")}")
  }

  test("q70: streaming sessionize over the bounded events table equals batch q36") {
    val d = "/root/testdata/sf0.001"
    val streamed = EventStream.q70StreamSessionize(spark, d)
      .collect().map(_.toString).toSeq
    val batch = graft.operators.Temporal.q36Sessionize(spark, d)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  /** Run `body` with the RocksDB state store provider (required by
    * transformWithState), restoring the previous provider after.
    */
  private def withRocksDB[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      body
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("radiusDedupStream equals single-rule batch radius dedup across batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // random sigs + later jittered copies (0-3 flipped bits = dup,
    // exact included), arrival times strictly increasing so multi-batch
    // feeding never races the 0-second watermark
    val rnd = new scala.util.Random(11)
    val bases = (0 until 30).map(i => (ts(i / 6, (i % 6) * 10), i.toLong, rnd.nextLong()))
    val extras = bases.take(12).zipWithIndex.map { case ((_, _, sig), j) =>
      val flips = rnd.nextInt(4)
      val jittered = (0 until flips).foldLeft(sig)((s, _) => s ^ (1L << rnd.nextInt(64)))
      (ts(10 + j / 6, (j % 6) * 10), 100L + j, jittered)
    }
    val all = (bases ++ extras).sortBy(r => (r._1.getTime, r._2))
    // single-rule reference: drop iff ANY earlier row sits within r=3
    val wantKept = all.filter { case (t, id, sig) =>
      !all.exists { case (t2, id2, sig2) =>
        (t2.getTime < t.getTime || (t2.getTime == t.getTime && id2 < id)) &&
          java.lang.Long.bitCount(sig ^ sig2) <= 3
      }
    }.map(_._2).toSet
    val got = withRocksDB {
      val input = MemoryStream[(Timestamp, Long, Long)]
      val survivors = EventStream.radiusDedupStream(
        input.toDF().toDF("ts", "doc_id", "simhash").as[EventStream.RadiusFp])
      val q = survivors.writeStream.format("memory").queryName("rds")
        .outputMode("append").start()
      try {
        // three data batches + two ever-later sentinels: the second
        // sentinel's batch runs with a watermark past the first, which
        // flushes every real doc's window
        all.grouped(15).foreach { chunk => input.addData(chunk: _*); q.processAllAvailable() }
        input.addData((ts(50), -1L, 0L)); q.processAllAvailable()
        input.addData((ts(55), -2L, -1L)); q.processAllAvailable()
        spark.table("rds").filter(org.apache.spark.sql.functions.col("doc_id") >= 0)
          .select("doc_id").as[Long].collect().toSet
      } finally { q.stop(); spark.catalog.dropTempView("rds") }
    }
    assert(got == wantKept, s"stream kept $got, batch rule keeps $wantKept")
    // and the batch compaction operator agrees on the same store
    val batchGot = EventStream.compactNearDupStore(
      all.toDF("ts", "doc_id", "simhash")).select("doc_id").as[Long].collect().toSet
    assert(got == batchGot)
  }

  test("radiusDedupStream horizon: shadows age out of state, bounded by the watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sig = 0x5a5a5a5aL
    // A(id 1) and an EXACT copy B(id 3) ten minutes later; a far-off
    // mid row (id 2) advances the watermark past A + horizon first
    val feed = Seq(
      Seq((ts(0), 1L, sig)),
      Seq((ts(5), 2L, ~sig)),
      Seq((ts(10), 3L, sig)),
      Seq((ts(50), -1L, 0L)),
      Seq((ts(55), -2L, -1L)))
    def run(qname: String, horizonMs: Long): Set[Long] = withRocksDB {
      val input = MemoryStream[(Timestamp, Long, Long)]
      val survivors = EventStream.radiusDedupStream(
        input.toDF().toDF("ts", "doc_id", "simhash").as[EventStream.RadiusFp],
        horizonMs = horizonMs)
      val q = survivors.writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try {
        feed.foreach { chunk => input.addData(chunk: _*); q.processAllAvailable() }
        spark.table(qname).filter(org.apache.spark.sql.functions.col("doc_id") >= 0)
          .select("doc_id").as[Long].collect().toSet
      } finally { q.stop(); spark.catalog.dropTempView(qname) }
    }
    // 1-minute horizon: A has aged out of the bucket when B arrives
    assert(run("rdh_short", 60L * 1000) == Set(1L, 2L, 3L))
    // unbounded horizon: B is an exact dup of A and is dropped
    assert(run("rdh_long", Long.MaxValue / 4) == Set(1L, 2L))
  }

  test("sessionizeTwsTimeout flushes idle sessions like sessionizeWithTimeout") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gapMs = 60L * 1000
    def run(qname: String,
        f: org.apache.spark.sql.Dataset[EventStream.TimedEvent] =>
          org.apache.spark.sql.Dataset[EventStream.SessionSummaryMs]): Seq[EventStream.SessionSummaryMs] = {
      val input = MemoryStream[(Long, Timestamp)]
      val events = input.toDF().toDF("user_id", "ts")
        .withWatermark("ts", "0 seconds")
        .as[EventStream.TimedEvent]
      val q = f(events).writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try {
        input.addData((1L, ts(0, 10)), (1L, ts(0, 30)))
        q.processAllAvailable()
        assert(spark.table(qname).count() == 0) // session still open
        // advance the watermark past user 1's end + gap, then one more
        // batch to fire the timer
        input.addData((2L, ts(10)))
        q.processAllAvailable()
        input.addData((2L, ts(11)))
        q.processAllAvailable()
        spark.table(qname).as[EventStream.SessionSummaryMs].collect().toSeq
          .sortBy(s => (s.user_id, s.start_ms))
      } finally { q.stop(); spark.catalog.dropTempView(qname) }
    }
    val tws = withRocksDB { run("tws_timer", EventStream.sessionizeTwsTimeout(_, gapMs)) }
    assert(tws.contains(
      EventStream.SessionSummaryMs(1L, ts(0, 10).getTime, ts(0, 30).getTime, 2L)), tws.toString)
    // parity with the flatMapGroupsWithState timeout operator on the
    // same bounded feed
    val v1 = run("fmgws_timer", EventStream.sessionizeWithTimeout(_, gapMs))
    assert(tws == v1, s"tws $tws != fmgws $v1")
  }
}
