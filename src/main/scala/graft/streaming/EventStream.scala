package graft.streaming

import graft.Scope
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators (SURVEY.md §2.3 streaming row): the
  * reference is strictly batch (tinymr.py:29), so these are north-star
  * extensions, built so the SAME transformation serves batch and
  * streaming DataFrames — Spark's unified model. Watermarks bound state:
  * at 100 TB/day the window store only ever holds watermark-horizon
  * minutes of per-key state.
  */
object EventStream {

  /** Bounded-replay file-stream over the events table, `ts` normalized
    * to the canonical int64-nanos contract ([[graft.Tables.normalizeEventTime]])
    * so the replay sources are as schema-drift-proof as the batch
    * loaders. The source's `.schema(...)` must match the files on disk,
    * hence the RAW physical schema; normalization is a stateless
    * projection on top. The file-stream source wants a DIRECTORY; the
    * glob filter keeps the scan to the events table inside the shared
    * SF directory.
    */
  /** Streaming events source, layout-tolerant like the batch reader:
    * the driver testdata ships `events.parquet` as a single FILE (so
    * the stream lists the sf dir with a leaf-name glob), while
    * Spark-written data (MakeScale's synthesized scale factors, any
    * production lake) has `events.parquet/` as a DIRECTORY of part
    * files — listed directly, since pathGlobFilter matches leaf file
    * names and would match nothing. Both paths share the same schema
    * pin and ts normalization.
    */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val reader = s.readStream.schema(graft.Tables.eventsRaw(s, d).schema)
    val asDir = new java.io.File(s"$d/events.parquet")
    val src =
      if (asDir.isDirectory) reader.parquet(asDir.getPath)
      else reader.option("pathGlobFilter", "events.parquet").parquet(d)
    graft.Tables.normalizeEventTime(src)
  }

  /** State-exchange width cap for the bounded replay harness. A
    * stateful micro-batch pays a FIXED per-partition cost every
    * trigger — task scheduling plus state-store open/commit for every
    * store instance — so running a bounded replay at the session's
    * cluster-sized `spark.sql.shuffle.partitions` multiplies pure
    * overhead: measured 2.7x on the stream-stream interval joins
    * (q83: 6.1 s at width 32 vs 2.2 s at width 4, same query, same
    * host — the round-10 "in-bench inflation" in full; it reproduced
    * at bench slots 1-2, killing the heap-accretion theory). Results
    * are width-independent (state is hash-partitioned by key), so the
    * cap is a plan choice, not semantics. A PRODUCTION stream sizes
    * this to state volume (distinct keys in the watermark horizon) —
    * stateful queries pin the width from session conf at their first
    * batch, so set it before starting a real job and leave it alone
    * thereafter.
    */
  val ReplayStateWidth = 8

  /** Input bytes that justify one extra state partition beyond
    * [[ReplayStateWidth]]. The width-8 cap is a FIXED-COST win at
    * bench SF, but a bounded replay delivers the whole table into one
    * micro-batch, so state work grows with input while its
    * parallelism stays capped — the sf10 canary measured q93 at 11.8x
    * for 10x data (53 s), state ops serialized onto 8 of 32 cores.
    * Scaling width with input FILE bytes (free from listing metadata)
    * keeps small replays at the fixed-cost optimum (sf0.1 -> 0 extra,
    * sf1 -> 3 < 8: both unchanged) and lets big ones use the session
    * width (sf10 -> 38, clamped to the session's 32). Results are
    * width-independent by the documented contract.
    */
  val ReplayBytesPerPartition: Long = 4L << 20

  /** Input bytes past which a replay switches the state store to
    * RocksDB. The default HDFS-backed provider keeps every state
    * partition as an in-heap map — at the sf10 canary (162 MB events,
    * ~10M keys / ~9.5M sessions) that plus complete-mode re-emission
    * OOM'd the 8g replay JVM (q93 hung on a dead dispatcher; q70
    * killed executor tasks). RocksDB holds state off-heap in native
    * memory — the production choice for big keyed state — while
    * bench-sized replays (sf0.1 = 2 MB, sf1 = 16 MB) keep the
    * in-heap provider and its lower per-trigger overhead. Results
    * are provider-independent: the store is a key-value layout
    * choice, not semantics.
    */
  val RocksDbReplayBytes: Long = 64L << 20

  /** Total on-disk bytes of a table path — file or directory tree,
    * matching [[eventsStream]]'s layout tolerance. Recursive: a
    * partitioned/nested layout (part dirs under the table dir) must
    * not report near-0 bytes, which would silently disable the width
    * scaling and RocksDB gate and revert to the width-8 in-heap
    * behavior the sf10 canary showed can OOM.
    */
  private def tableBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) {
        val parts = f.listFiles()
        if (parts == null) 0L else parts.iterator.map(walk).sum
      } else if (f.isFile) f.length()
      else 0L
    walk(new java.io.File(path))
  }

  /** [[tableBytes]] of the events table under the sf dir. */
  private def eventsBytes(d: String): Long = tableBytes(s"$d/events.parquet")

  /** Run `body` with each `(key, value)` session conf set, restoring
    * (or unsetting) every key after — the conf is read at a streaming
    * query's start and first-batch planning, which happen
    * asynchronously after start(), so a replay's confs must hold for
    * the query's whole lifetime, not just across start().
    */
  private def withConfs[A](s: SparkSession, confs: Seq[(String, String)])(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Replays that mandate the RocksDB state backend run with the
    * provider AND changelog checkpointing on. Changelog checkpointing
    * is the production setting for RocksDB state: each batch commit
    * uploads only the batch's change set, and the full snapshot is
    * written by the background maintenance thread OFF the commit path.
    * Without it, every state partition's commit blocks on a full
    * RocksDB snapshot+upload — the r17 census measured q147's single
    * batch at ~1.1 s of which ~1.0 s was the 8 stores' commit time;
    * changelog cuts the commit to the (tiny) change set. Correctness
    * is unaffected for replays: results leave through the foreachBatch
    * spool before commit, and the checkpoint dir is temp-scoped.
    */
  private val RocksDbReplay = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Zero-data progress reporting unsuppressed — see
    * [[drainThenAwaitNoDataFlush]]. Scoped to the replay; a production
    * always-on stream keeps the 10 s default (the rate limit exists to
    * keep idle streams from flooding listeners).
    */
  private val PromptNoDataProgress =
    Seq("spark.sql.streaming.noDataProgressEventInterval" -> "100ms")

  /** Run `body` (a replay start+drain) with the state width capped at
    * max([[ReplayStateWidth]], inputBytes/[[ReplayBytesPerPartition]])
    * — never above the session width — plus `extra` confs, all
    * restored after the query STOPS.
    *
    * `stateHeavy` marks replays whose state is RESULT-shaped rather
    * than key-shaped (complete-mode aggregations holding every
    * session/window row, with wide per-group values): those switch to
    * the off-heap RocksDB provider past [[RocksDbReplayBytes]] of
    * input. Key-shaped state (dedup keys, join buffers of compact
    * rows) stays on the in-heap provider, which measured ~2x faster
    * at sf10 (q93: 8.8 s in-heap vs 18.3 s RocksDB) and does not
    * approach the heap ceiling once the sinks spool distributed.
    */
  private def withReplayStateWidth[A](
      s: SparkSession, inputBytes: Long, stateHeavy: Boolean = false,
      extra: Seq[(String, String)] = Nil)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key).toLong
    val scaled = math.max(ReplayStateWidth.toLong,
      math.min(prev, inputBytes / ReplayBytesPerPartition))
    val width = key -> math.max(1L, math.min(scaled, prev)).toString
    val rocks = if (stateHeavy && inputBytes > RocksDbReplayBytes) RocksDbReplay else Nil
    withConfs(s, width +: (rocks ++ extra)) {
      try body
      finally {
        // leave ZERO state-store residue: a bounded replay's providers
        // otherwise stay loaded after q.stop() and the maintenance task
        // snapshots/fs-scans them on its 60 s ticks — landing INSIDE
        // whichever later query is running (r16 measured q137 at 8.7 s
        // in its natural bench slot vs 4.6 s hoisted to slot 1, same
        // code). stop() unloads every provider and parks maintenance;
        // both restart lazily at the next replay's first store load. A
        // production continuous stream never calls this — it is the
        // bounded-replay harness's exit hygiene, not query semantics.
        // stop() is JVM-GLOBAL (it would yank providers out from under
        // any concurrently running streaming query), safe only because
        // this harness serializes replays; if a caller ever overlaps
        // queries on this session, skip the sweep — stale providers and
        // stray maintenance ticks are the lesser evil vs mid-run unload.
        if (s.streams.active.isEmpty)
          org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      }
    }
  }

  /** Session-lifetime replay-fixture cache. A replay SOURCE dir built
    * from a bounded table (sentinel unions, planted perturbation
    * copies) is a pure function of the sf dir, so repeated runs — the
    * bench's warmup+N passes, a notebook's re-executions — reuse ONE
    * build instead of writing a fresh temp dir per pass (r16 found 87
    * leaked q137 sentinel dirs + 46 q156 fixture dirs in /tmp: the
    * per-pass dirs were also never deleted). Fixtures are INPUTS, not
    * results, so they are owned by [[Scope.lru]]: they live until the
    * JVM-exit sweep.
    */
  private val fixtureDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def cachedFixture(key: String)(build: String => Unit): String =
    fixtureDirs.computeIfAbsent(key, _ => {
      val dir = Scope.lru.tempDir("graft_fixture").toString
      build(dir)
      dir
    })

  /** Drain everything available, then wait for the watermark-advance
    * NO-DATA micro-batch that flushes eviction-driven output (outer
    * join nulls, final per-key windows) — the one batch
    * `processAllAvailable` does not wait for, because it has no input
    * offsets to commit. The poll watches `recentProgress` for a
    * zero-input batch; observing its progress event means the batch —
    * including its foreachBatch sink write — has COMPLETED.
    *
    * The flush batch itself runs promptly, but Spark rate-limits
    * ZERO-data progress REPORTING to once per
    * `spark.sql.streaming.noDataProgressEventInterval` (default 10 s)
    * — so a poll on recentProgress waits up to 10 s for an event whose
    * batch finished long ago (r15's q137: 7.6-15.1 s standalone, all
    * suppression). The query must therefore start under
    * [[PromptNoDataProgress]] so the event lands within ~100 ms of the
    * flush; [[drainToSpool]]'s `awaitNoDataFlush` mode pairs the two.
    */
  private def drainThenAwaitNoDataFlush(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.processAllAvailable()
    // A zero-input event recorded BEFORE the final data batch must not
    // satisfy the wait (the 100 ms unsuppression makes mid-drain
    // no-data events likely): anchor on the last DATA batch observed
    // after the drain and require a zero-input event with a strictly
    // larger batchId. Batch ids are monotone in time, so any no-data
    // event past that anchor ran after all input was committed — and
    // the idle-trigger progress path reports currentBatchId
    // (= lastCommitted + 1), so the loop also exits promptly when no
    // eviction flush is pending.
    val lastData = q.recentProgress.iterator
      .filter(_.numInputRows > 0).map(_.batchId).foldLeft(-1L)(math.max)
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!q.recentProgress.exists(p =>
             p.numInputRows == 0 && p.batchId > lastData) &&
           System.nanoTime() < deadline)
      Thread.sleep(10)
    q.processAllAvailable()
  }

  /** Drain a bounded replay into a distributed parquet spool and
    * return the spooled frame — the result-safe replacement for a
    * result-sized memory sink. A memory-sink TABLE holds all its rows
    * in the JVM until the session ends (clearCache does not touch
    * it), so a session running many replays ACCUMULATES every
    * result — the sf10 sweep OOM'd on the sixth replay from the five
    * before it. The spool is executor-written, zero heap after the
    * drain, and append/complete both map naturally (complete
    * overwrites per trigger because it re-emits the whole answer).
    * Tiny sinks (windows x types, sketch cells) stay on the memory
    * sink ([[drainToMemory]]) and skip the ~0.2-0.4 s write+read
    * roundtrip.
    *
    * The spool dir is owned by `sc`: callers open it with
    * [[Scope.pinned]], so the spool is deleted strictly after the
    * final frame is materialized — a long-lived service session
    * releases each replay's /tmp footprint at query end. The pinned
    * frame is persisted MEMORY_AND_DISK: later actions serve from
    * cache, and memory pressure spills instead of recomputing through
    * the (deleted) spool files.
    *
    * `mapBatch` runs inside foreachBatch on each micro-batch before
    * the append — for replays whose per-batch output is safely
    * reducible (q93 appends pair-sized partial counts, not events),
    * keeping the spool partial-aggregate-sized instead of
    * result-sized. The empty-drain frame carries the MAPPED schema.
    * `awaitNoDataFlush` drains with [[drainThenAwaitNoDataFlush]]
    * under [[PromptNoDataProgress]].
    */
  private def drainToSpool(
      sc: Scope, s: SparkSession, out: DataFrame, name: String, inputBytes: Long,
      complete: Boolean = false, stateHeavy: Boolean = false,
      mapBatch: DataFrame => DataFrame = identity,
      awaitNoDataFlush: Boolean = false): DataFrame = {
    val spool = sc.tempDir(s"graft_${name}_spool").toString
    // analysis-only application to the (streaming) frame: yields the
    // post-map schema without starting anything
    val schema = mapBatch(out).schema
    val prompt = if (awaitNoDataFlush) PromptNoDataProgress else Nil
    withReplayStateWidth(s, inputBytes, stateHeavy, prompt) {
      val w = out.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          mapBatch(batch).write.mode(if (complete) "overwrite" else "append")
            .parquet(spool)
          ()
        }
      val q = (if (complete) w.outputMode(OutputMode.Complete) else w).start()
      try if (awaitNoDataFlush) drainThenAwaitNoDataFlush(q) else q.processAllAvailable()
      finally q.stop()
    }
    // a drained stream that never produced a batch leaves no files —
    // surface that as a typed empty frame, not a schema-inference crash
    val hasParts = {
      val parts = new java.io.File(spool).listFiles()
      parts != null && parts.exists(_.getName.endsWith(".parquet"))
    }
    if (hasParts) s.read.parquet(spool)
    else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Drain a bounded replay of a TINY result (windows x types, sketch
    * cells) into the memory sink `qname` and return its table. Complete
    * mode unless `mode` says otherwise.
    */
  private def drainToMemory(
      s: SparkSession, out: DataFrame, qname: String, inputBytes: Long,
      mode: OutputMode = OutputMode.Complete): DataFrame = {
    withReplayStateWidth(s, inputBytes) {
      val q = out.writeStream.format("memory").queryName(qname).outputMode(mode).start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(qname)
  }
  /** Tumbling-window event counts per type with late-data eviction.
    * On a batch frame `withWatermark` is a no-op and this is an ordinary
    * windowed aggregation — one code path, two execution modes.
    */
  def windowedCounts(
      events: DataFrame,
      windowLen: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("window.start").as("win_start"),
        col("event_type"), col("n"))

  /** Sliding-window event counts: windows of `windowLen` starting
    * every `slide` — each event lands in windowLen/slide overlapping
    * windows, the shape behind moving-average dashboards and rate
    * alarms (a tumbling window [[windowedCounts]] cannot express: a
    * spike straddling a tumble boundary splits across two windows and
    * both read half-height). State cost scales by the overlap factor:
    * watermark-horizon minutes of per-(window, key) rows times
    * windowLen/slide.
    */
  def slidingCounts(
      events: DataFrame,
      windowLen: String = "2 minutes",
      slide: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("window.start").as("win_start"),
        col("event_type"), col("n"))

  /** Streaming exact dedup on a key column, state bounded by watermark —
    * the streaming face of the batch dedup operators (graft.operators.Dedup).
    */
  def dedupStream(events: DataFrame, key: String, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(key)

  final case class SessionEvent(user_id: Long, ts_ns: Long)
  final case class SessionSummary(user_id: Long, start_ns: Long, end_ns: Long, n_events: Long)

  /** Custom-state sessionization via flatMapGroupsWithState — the
    * streaming form of the reference's reducer-over-grouped-values, with
    * the open session held as explicit keyed state. A session closes
    * when a later event arrives past the inactivity gap; closed sessions
    * are emitted, the open one stays in state (O(session length) state
    * per user, not O(history)).
    */
  def sessionize(events: Dataset[SessionEvent], gapNs: Long): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Long], SessionSummary](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[List[Long]]) =>
          val all = (state.getOption.getOrElse(Nil) ++ it.map(_.ts_ns)).sorted
          // split into gap-delimited sessions
          val sessions = all.foldLeft(List.empty[List[Long]]) {
            case (Nil, t) => List(List(t))
            case (cur :: done, t) if t - cur.head <= gapNs => (t :: cur) :: done
            case (acc, t) => List(t) :: acc
          }.map(_.reverse).reverse
          val (closed, open) = (sessions.dropRight(1), sessions.lastOption.getOrElse(Nil))
          state.update(open)
          closed.iterator.map(sess =>
            SessionSummary(user, sess.head, sess.last, sess.length.toLong))
      }
  }

  /** Open-session state for [[GapSessionProcessor]] — a case class so
    * the ValueState encoder is plain `Encoders.product` (public API).
    */
  final case class OpenSession(ts: Array[Long])

  /** [[sessionize]]'s rule on Spark 4's `transformWithState` API
    * (arbitrary stateful processing v2) — the designated successor of
    * `flatMapGroupsWithState`, with composable typed state slots
    * (Value/List/Map), timers decoupled from data arrival, and state
    * backed by RocksDB (disk-bounded, not heap-bounded — the backend
    * the 100 TB/day deployment runs). The open session lives in ONE
    * ValueState value rather than a ListState: the session is
    * gap-window-bounded and always read whole, so per-element list ops
    * would only add RocksDB round trips.
    */
  final class GapSessionProcessor(gapNs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessionEvent, SessionSummary] {
    @transient private var open: org.apache.spark.sql.streaming.ValueState[OpenSession] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[SessionEvent],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionSummary] = {
      val prior: List[Long] = if (open.exists()) open.get().ts.toList else Nil
      val all = (prior ++ rows.map(_.ts_ns)).sorted
      val sessions = all.foldLeft(List.empty[List[Long]]) {
        case (Nil, t) => List(List(t))
        case (cur :: done, t) if t - cur.head <= gapNs => (t :: cur) :: done
        case (acc, t) => List(t) :: acc
      }.map(_.reverse).reverse
      val (closed, openSess) = (sessions.dropRight(1), sessions.lastOption.getOrElse(Nil))
      if (openSess.isEmpty) open.clear() else open.update(OpenSession(openSess.toArray))
      closed.iterator.map(sess =>
        SessionSummary(user, sess.head, sess.last, sess.length.toLong))
    }
  }

  /** [[sessionize]] via [[GapSessionProcessor]] — identical semantics,
    * new engine surface; StreamingSpec pins the equivalence.
    */
  def sessionizeTws(events: Dataset[SessionEvent], gapNs: Long): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new GapSessionProcessor(gapNs),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** q147 — [[q108StreamCustomSessions]]'s bounded replay with the
    * session state machine on [[sessionizeTws]] (transformWithState +
    * mandatory RocksDB backend) instead of flatMapGroupsWithState: the
    * ninth streaming shape under driver hash-match, sharing q108's
    * closed-sessions oracle — so the NEW state API is end-to-end
    * oracle-checked, not just spec-pinned. The provider override is
    * scoped to this replay and restored after.
    */
  def q147TwsSessions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withConfs(s, RocksDbReplay) {
      val stream = eventsStream(s, d)
        .select(col("user_id"), expr("ts div 1000").as("ts_ns")).as[SessionEvent]
      val sessions = sessionizeTws(stream, 30L * 60 * 1000000L) // gap in MICROS
      // session-sized result -> spool (see drainToSpool)
      Scope.pinned { sc =>
        drainToSpool(sc, s, sessions.toDF(), "q147", eventsBytes(d))
          .select(col("user_id"), col("start_ns").as("start_us"),
            col("end_ns").as("end_us"), col("n_events"))
          .orderBy(col("user_id"), col("start_us"))
      }
    }
  }

  final case class TimedEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionSummaryMs(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)

  /** [[sessionize]] with event-time timeout: the open session also
    * closes when the stream's watermark passes its last event plus the
    * gap — sessions flush even if their user never sends another event.
    * The caller sets the watermark on `ts` BEFORE `.as[TimedEvent]`; the
    * watermarked column must reach this operator (Spark's event-time-
    * timeout analysis requires it in the input schema).
    */
  def sessionizeWithTimeout(
      events: Dataset[TimedEvent], gapMs: Long): Dataset[SessionSummaryMs] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Long], SessionSummaryMs](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[TimedEvent], state: GroupState[List[Long]]) =>
          if (it.isEmpty && state.hasTimedOut) {
            // watermark passed: flush the open session
            val open = state.getOption.getOrElse(Nil)
            state.remove()
            if (open.isEmpty) Iterator.empty
            else Iterator.single(SessionSummaryMs(user, open.head, open.last, open.length.toLong))
          } else {
            val all = (state.getOption.getOrElse(Nil) ++ it.map(_.ts.getTime)).sorted
            val sessions = all.foldLeft(List.empty[List[Long]]) {
              case (Nil, t) => List(List(t))
              case (cur :: done, t) if t - cur.head <= gapMs => (t :: cur) :: done
              case (acc, t) => List(t) :: acc
            }.map(_.reverse).reverse
            val (closed, open) = (sessions.dropRight(1), sessions.lastOption.getOrElse(Nil))
            state.update(open)
            if (open.nonEmpty)
              state.setTimeoutTimestamp(open.last + gapMs)
            closed.iterator.map(sess =>
              SessionSummaryMs(user, sess.head, sess.last, sess.length.toLong))
          }
      }
  }

  final case class Doc(ts: java.sql.Timestamp, doc_id: Long, text: String)

  /** Streaming near-dup dedup: each document is reduced to its 64-bit
    * SimHash fingerprint ([[graft.operators.Dedup.simhash64]]) and
    * deduplicated on that fingerprint within the watermark — the
    * streaming face of the batch q21 operator, as fuzzy-exact dedup:
    * docs whose shingle profiles collapse to the same fingerprint
    * (identical and boilerplate-near-identical content) are dropped,
    * with O(watermark-horizon) keyed state. Hamming-radius matching
    * (q21's 4x16-bit chunk LSH) needs multi-key candidate joins that
    * streaming state can't express bounded — at 100 TB/day the honest
    * streaming layer dedups fingerprint-exact and defers radius dedup
    * to the batch compaction pass.
    */
  def nearDupDedupStream(docs: Dataset[Doc], watermark: String = "10 minutes"): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .map(d => (d.ts, d.doc_id, graft.operators.Dedup.simhash64(d.text)))
      .toDF("ts", "doc_id", "simhash")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("simhash")
  }

  /** The batch compaction pass [[nearDupDedupStream]] defers radius
    * dedup to — run it periodically over the stream's accumulated
    * survivor store `(ts, doc_id, simhash)`. A survivor is dropped iff
    * an EARLIER survivor (arrival order: ts, then doc_id) sits within
    * Hamming `radius` of its fingerprint — the same shadowing
    * convention as [[graft.operators.Similarity.semDedup]], evaluated
    * against the full store rather than iteratively, which makes the
    * result order-free and (with the stream's exact-fingerprint layer)
    * EXACTLY the single-rule batch semantics: stream-then-compact ==
    * "drop every doc with an earlier within-radius neighbor", because
    * any stream-dropped shadow has an equal-fingerprint earlier
    * survivor standing in for it (StreamingSpec pins the equivalence).
    *
    * Scale shape: q21's 4x16-bit chunk LSH generates candidates — the
    * pigeonhole is exact for radius <= 3 (4 chunks, at most 3 differing
    * bits -> some chunk matches exactly), so recall is 1.0, not
    * probabilistic; per-bucket fan-out is capped ([[graft.operators
    * .LshJoin.MaxBucket]]) with drop stats surfaced on request by the
    * underlying generator. One shuffle on the chunk key, one verify
    * join, one anti-join back to the store.
    */
  def compactNearDupStore(store: DataFrame, radius: Int = 3): DataFrame = {
    require(radius >= 0 && radius <= 3,
      "4x16 chunk LSH candidate generation is complete only for radius <= 3")
    val s = store.sparkSession
    import s.implicits._
    val sigs = Scope.lru.persist(store.select(col("ts"), col("doc_id"), col("simhash")))
    val chunks = sigs.select(col("doc_id"), col("simhash")).as[(Long, Long)]
      .flatMap { case (id, sig) =>
        (0 until 4).iterator.map(c => (id, c, (sig >>> (c * 16)) & 0xffffL))
      }.toDF("doc_id", "chunk", "ck")
    val cand = graft.operators.LshJoin.boundedBucketPairs(
      chunks, "doc_id", graft.operators.LshJoin.MaxBucket, "chunk", "ck")
    val shadowed = cand
      .join(sigs.select(col("doc_id").as("a"), col("ts").as("ta"),
        col("simhash").as("sa")), "a")
      .join(sigs.select(col("doc_id").as("b"), col("ts").as("tb"),
        col("simhash").as("sb")), "b")
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= radius)
      .select(when(col("ta") < col("tb")
        || (col("ta") === col("tb") && col("a") < col("b")), col("b"))
        .otherwise(col("a")).as("doc_id"))
      .distinct()
    sigs.join(shadowed, Seq("doc_id"), "left_anti")
  }

  /** Driver binding (q117): [[compactNearDupStore]] under the DuckDB
    * oracle. The fingerprint store is SQL-REPRODUCIBLE: sim = the
    * first 8 bytes (big-endian, signed) of md5(text) — the q22 key
    * trick — with arrival = doc_id; every `doc_id % 13 == 0` doc
    * re-enters at arrival `doc_id + shift` with ONE deterministic bit
    * flipped (a radius-1 near-dup compaction MUST drop) and every
    * `doc_id % 29 == 0` doc at `doc_id + 2*shift` with eight
    * contiguous bits flipped (Hamming 8 — MUST survive). The oracle
    * states the rule quadratically (NOT EXISTS earlier-within-radius);
    * the Spark side's 4x16 chunk LSH is EXACT for radius <= 3, so the
    * two formulations provably agree — a hash mismatch here means a
    * real bug, not sampling noise.
    */
  def q117StreamCompaction(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.documents(s, d).select(col("doc_id"), col("text"))
    val shift = docs.agg(max(col("doc_id")) + lit(1L)).head().getLong(0)
    val fp = Scope.lru.persist(docs.as[(Long, String)]
      .map { case (id, t) => (id, id, graft.operators.Dedup.gramHash64(t)) }
      .toDF("ts", "doc_id", "simhash")) // base + two planted legs read it; LRU lifetime
    val near = fp.filter(col("doc_id") % 13 === 0)
      .select((col("ts") + shift).as("ts"), (col("doc_id") + shift).as("doc_id"),
        col("simhash").bitwiseXOR(
          expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 63 AS INT))")).as("simhash"))
    val far = fp.filter(col("doc_id") % 29 === 0)
      .select((col("ts") + lit(2L) * shift).as("ts"),
        (col("doc_id") + lit(2L) * shift).as("doc_id"),
        col("simhash").bitwiseXOR(
          expr("shiftleft(CAST(255 AS BIGINT), CAST((doc_id % 7) * 8 AS INT))")).as("simhash"))
    compactNearDupStore(fp.unionByName(near).unionByName(far))
      .select(col("ts").as("arrival"), col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Stream-stream interval join: each purchase paired with EVERY
    * same-user click inside the attribution window — one output row per
    * qualifying (purchase, click) pair, the join's raw fan-out. A
    * single-attribution policy (last-click: keep the max `click_ts` per
    * purchase) is a downstream aggregation the caller applies, because
    * inside the streaming query a per-purchase argmax needs its own
    * watermark-bounded aggregation state and not every consumer wants
    * the same policy (first-click, position-weighted, ...). Watermarks
    * on BOTH inputs plus the interval condition are what make this run
    * with bounded state — each side buffers only watermark-horizon
    * rows, and rows age out of the join buffer as the slower watermark
    * advances (without the interval bound Spark must buffer a side
    * forever). At 100 TB/day the state store holds minutes, not
    * history.
    */
  def attributionJoin(
      clicks: DataFrame,
      purchases: DataFrame,
      withinMinutes: Int = 10): DataFrame = {
    val c = clicks
      .withWatermark("ts", s"$withinMinutes minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val p = purchases
      .withWatermark("ts", s"$withinMinutes minutes")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value"))
    p.join(c, expr(
      s"""c_user = p_user
         |AND click_ts <= purchase_ts
         |AND click_ts >= purchase_ts - INTERVAL $withinMinutes MINUTES
         |""".stripMargin))
      .select(col("p_user").as("user_id"), col("click_ts"),
        col("purchase_ts"), col("value"))
  }

  /** LEFT-OUTER stream-stream interval join: every purchase emits —
    * paired with each same-user click inside the attribution window,
    * or as a single null-click row when no click precedes it (the
    * "unattributed conversion" signal an inner join [[attributionJoin]]
    * silently drops). The outer side makes this the hardest streaming
    * join shape: a null row can only be emitted once the engine PROVES
    * no future click can match, i.e. when BOTH watermarks have passed
    * the purchase's join window — so unmatched rows surface with
    * watermark latency, driven by state eviction, not by arrival. Both
    * watermarks plus the interval bound keep each buffer at
    * watermark-horizon rows, exactly as in the inner form; at 100 TB/
    * day the state store holds minutes, and the null rows stream out
    * continuously as the watermark advances.
    */
  def attributionJoinOuter(
      clicks: DataFrame,
      purchases: DataFrame,
      withinMinutes: Int = 10): DataFrame = {
    val c = clicks
      .withWatermark("ts", s"$withinMinutes minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val p = purchases
      .withWatermark("ts", s"$withinMinutes minutes")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value"))
    p.join(c, expr(
      s"""c_user = p_user
         |AND click_ts <= purchase_ts
         |AND click_ts >= purchase_ts - INTERVAL $withinMinutes MINUTES
         |""".stripMargin), "left_outer")
      .select(col("p_user").as("user_id"), col("click_ts"),
        col("purchase_ts"), col("value"))
  }

  /** q137 — [[attributionJoinOuter]] replayed over the bounded events
    * table under the batch LEFT JOIN oracle: per user, matched
    * (purchase, view) pairs plus the purchases NO view preceded — the
    * eighth streaming shape under driver hash-match, and the first
    * whose correctness depends on watermark-driven STATE EVICTION
    * (null rows only exist because the engine evicted an unmatched
    * purchase), not just on buffered matching.
    *
    * Replay mechanics: a purchase's null row is emitted only when both
    * watermarks pass its join window, and the watermark trails max
    * event time by the join delay — so purchases near the end of a
    * bounded table would stay in state forever and the drain would
    * lose their null rows. A SENTINEL pair (user -1, one view + one
    * purchase, 1 hour past the table's max event time, written to a
    * temp dir and unioned into both sides as a second file source)
    * pushes both watermarks past every real purchase; the
    * watermark-advance no-data micro-batch (numInputRows == 0) then
    * flushes every unmatched row, and the replay waits for that batch
    * before reading the sink. The sentinel joins itself and is
    * filtered from the rollup.
    */
  def q137StreamOuterAttribution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // sentinel dir = pure function of the sf dir -> built once per
    // session (see cachedFixture)
    val sentDir = cachedFixture(s"q137:$d") { dir =>
      val maxUs = graft.Tables.events(s, d)
        .agg(max(expr("ts div 1000"))).head().getLong(0)
      Seq(("view", maxUs + 3600L * 1000000L), ("purchase", maxUs + 3600L * 1000000L))
        .toDF("event_type", "us")
        .select(lit(-1L).as("user_id"), timestamp_micros(col("us")).as("ts"),
          col("event_type"), lit(0.0).as("value"))
        .write.mode("overwrite").parquet(dir)
    }
    val sentSchema = s.read.parquet(sentDir).schema
    def src = eventsStream(s, d)
      .select(col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("ts"),
        col("event_type"), col("value"))
      .unionByName(s.readStream.schema(sentSchema).parquet(sentDir))
    val joined = attributionJoinOuter(
      src.filter(col("event_type") === "view"),
      src.filter(col("event_type") === "purchase"))
    // pair-sized result -> spool (see drainToSpool); the drain awaits
    // the watermark-advance NO-DATA batch that flushes the outer-null
    // rows, with zero-data progress reporting unsuppressed so the
    // wait tracks the flush itself, not the 10 s reporting rate limit
    Scope.pinned { sc =>
      drainToSpool(sc, s, joined, "q137", eventsBytes(d), awaitNoDataFlush = true)
        .filter(col("user_id") =!= -1L)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("click_ts")).as("n_pairs"),
          count(when(col("click_ts").isNull, lit(1))).as("n_unattributed"),
          sum(when(col("click_ts").isNull, col("value").cast("decimal(18,6)")))
            .cast("double").as("unattributed_value"))
        .orderBy(col("user_id"))
    }
  }

  /** Session-window aggregation with the BUILT-IN `session_window`
    * (dynamic-gap windows merged by the engine) — the declarative
    * counterpart of [[sessionize]]'s explicit state: when per-session
    * counts/sums are all that's needed, the native operator keeps the
    * whole query inside Catalyst (codegen, state-store merge, watermark
    * eviction) with no user state function to maintain.
    */
  def sessionWindowStats(
      events: DataFrame,
      gap: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"))

  /** q70 — the streaming sessionizer under the SAME oracle as the batch
    * q36: the bounded `events` table is replayed through a file STREAM
    * source into a `session_window` aggregation, and the result must be
    * row-identical to the batch window formulation (the driver checks it
    * against q36's DuckDB SQL). This is the batch-equivalence harness
    * run — complete output mode so every session (including the final
    * open one) is emitted when the bounded source drains; a production
    * unbounded deployment uses the watermarked append-mode shapes above
    * ([[sessionWindowStats]], [[sessionizeWithTimeout]]), where state
    * stays watermark-bounded.
    *
    * Two precision details make stream == batch exact:
    *   - event time is truncated to MICROS before windowing (q36's
    *     `tsUs` contract; ts arrives as nanos-since-epoch LongType);
    *   - the gap is 30 minutes + 1 microsecond: `session_window` merges
    *     on STRICT overlap (next < prev_end) while the batch rule keeps
    *     `diff <= gap` in-session, so at micro resolution the +1us gap
    *     makes the strict merge reproduce the inclusive batch boundary.
    * The per-user session ordinal is a batch window over the (tiny,
    * per-session) sink table, not part of the streaming query.
    */
  def q70StreamSessionize(s: SparkSession, d: String): DataFrame = {
    val sessions = eventsStream(s, d)
      .select(col("user_id"),
        // integer `div`, not `/`: Long / Int is DOUBLE division in
        // Spark and at nanos-since-epoch magnitude the mantissa rounds
        // the microsecond up — q35/q36 use the same `div` truncation
        timestamp_micros(expr("ts div 1000")).as("tts"))
      .groupBy(session_window(col("tts"), "30 minutes 1 microsecond"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("tts"))).as("start_us"),
        max(unix_micros(col("tts"))).as("end_us"))
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
    // session-SIZED result -> spool (see drainToSpool); complete-mode
    // session aggregation is also the one RESULT-shaped state in the
    // suite, hence stateHeavy (RocksDB past the byte gate)
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("start_us"))
    Scope.pinned { sc =>
      drainToSpool(sc, s, sessions, "q70", eventsBytes(d),
        complete = true, stateHeavy = true)
        .withColumn("session_id", row_number().over(byUser).cast("long"))
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("start_us"), col("end_us"))
        .orderBy(col("user_id"), col("session_id"))
    }
  }

  /** q76 — [[windowedCounts]] (the UNCHANGED batch/stream-unified
    * operator) replayed over the bounded events table through the file
    * STREAM source, under the same DuckDB oracle as a batch tumbling
    * window: tumbling 1-minute windows are epoch-aligned, so the
    * oracle is plain `ts_us - ts_us % 60e6` bucket arithmetic. Complete
    * output mode for the bounded-replay harness (every window emitted
    * when the source drains; watermarked append is the production
    * mode). With q70 this puts both streaming aggregation shapes —
    * built-in tumbling window and session window — under driver
    * hash-match rather than spec-only.
    */
  def q76StreamWindowCounts(s: SparkSession, d: String): DataFrame = {
    val stream = eventsStream(s, d)
      .select(timestamp_micros(expr("ts div 1000")).as("ts"), col("event_type"))
    val counts = windowedCounts(stream)
    drainToMemory(s, counts, "q76_stream_windows", eventsBytes(d))
      .select(unix_micros(col("win_start")).as("win_start_us"),
        col("event_type"), col("n"))
      .orderBy(col("win_start_us"), col("event_type"))
  }

  /** q127 — [[slidingCounts]] replayed over the bounded events table:
    * the OVERLAPPING-window streaming shape (2-minute windows sliding
    * by 1) under the driver oracle. Every event materializes in
    * exactly two windows, which the SQL oracle reproduces by
    * generating both aligned starts per event (`floor(ts)` and
    * `floor(ts) - slide`) and re-counting — so the streaming window
    * operator's multi-assignment must agree with the explicit
    * enumeration bit-for-bit, the q76 replay-exactness contract over
    * a shape tumbling windows cannot express.
    */
  def q127StreamSliding(s: SparkSession, d: String): DataFrame = {
    val stream = eventsStream(s, d)
      .select(timestamp_micros(expr("ts div 1000")).as("ts"), col("event_type"))
    val counts = slidingCounts(stream)
    drainToMemory(s, counts, "q127_stream_sliding", eventsBytes(d))
      .select(unix_micros(col("win_start")).as("win_start_us"),
        col("event_type"), col("n"))
      .orderBy(col("win_start_us"), col("event_type"))
  }

  /** q83 — [[attributionJoin]] (the stream-stream interval join)
    * replayed over the bounded events table and checked against the
    * batch range-join SQL: every purchase joined to each same-user
    * view in the preceding 10 minutes, rolled up per user. With
    * q70/q76 this puts the LAST streaming shape — the two-sided
    * stateful join — under driver hash-match rather than spec-only.
    *
    * Replay exactness: the file source delivers the bounded table in
    * ONE micro-batch, so both join buffers hold the full day when
    * matching runs and the watermark (which only advances BETWEEN
    * batches) drops nothing — the append-mode inner join therefore
    * emits precisely the batch answer. A production unbounded run
    * feeds the same operator with the same 10-minute state bound;
    * only the source is different. The per-user rollup happens in
    * batch over the (already joined, much smaller) sink table, with
    * the DECIMAL(18,6) value-sum contract shared with q08/q36.
    */
  def q83StreamAttribution(s: SparkSession, d: String): DataFrame = {
    def src = eventsStream(s, d)
      .select(col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("ts"),
        col("event_type"), col("value"))
    val joined = attributionJoin(
      src.filter(col("event_type") === "view"),
      src.filter(col("event_type") === "purchase"))
    // pair-sized result -> spool, not memory sink (see drainToSpool)
    Scope.pinned { sc =>
      drainToSpool(sc, s, joined, "q83", eventsBytes(d))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("attributed_value"),
          min(unix_micros(col("click_ts"))).as("first_click_us"))
        .orderBy(col("user_id"))
    }
  }

  /** q93 — [[dedupStream]] (dropDuplicatesWithinWatermark) replayed
    * over the bounded events table with PLANTED replays (every
    * event_id % 37 == 0 row delivered twice — the at-least-once
    * redelivery a streaming dedup exists to absorb) and checked against
    * the batch answer: per-type counts of the ORIGINAL table, because a
    * correct dedup makes the duplicate deliveries invisible. With
    * q70/q76/q83 this puts the fourth streaming shape — keyed
    * dedup state — under driver hash-match rather than spec-only.
    *
    * Replay exactness: both file sources deliver within one
    * micro-batch interval, and duplicate keys land while the watermark
    * still holds every key in state, so within-watermark dedup removes
    * exactly the planted copies. A production unbounded run keeps the
    * same 10-minute state bound; redeliveries later than the watermark
    * are the documented at-most-once residue of ANY bounded-state
    * dedup.
    *
    * Sink shape (the sf10 lesson): an event-level memory sink holds
    * the WHOLE deduped table in driver heap — at 10M events that plus
    * the dedup state blew the 8g replay JVM (OOM'd the dispatcher,
    * which surfaced as a silent AQE hang). The sink is therefore
    * [[drainToSpool]] with a `mapBatch` DISTRIBUTED partial rollup:
    * each batch appends its per-(event_type, user_id) counts to a
    * parquet spool
    * (distinct-pair-sized, never event-sized, written by executors),
    * and the final answer folds the spool with a distributive
    * sum / countDistinct — cross-batch correct because per-pair
    * counts are additive and user sets union. Nothing event-sized
    * ever lands on the driver.
    */
  def q93StreamDedup(s: SparkSession, d: String): DataFrame = {
    def src = eventsStream(s, d)
      .select(col("event_id"),
        timestamp_micros(expr("ts div 1000")).as("ts"),
        col("event_type"), col("user_id"))
    val redelivered = src.union(src.filter(col("event_id") % 37 === 0))
    val deduped = dedupStream(redelivered, "event_id")
    Scope.pinned { sc =>
      drainToSpool(sc, s, deduped, "q93", eventsBytes(d),
        mapBatch = _.groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("n")))
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("n")).as("n"))
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_events"),
          count(lit(1)).as("n_users"))
        .orderBy(col("event_type"))
    }
  }

  /** q103 — stream-static broadcast enrichment under the batch oracle:
    * the event stream joined (stateless, per micro-batch) against the
    * STATIC customer dimension, rolled up per market segment. The
    * stream side never buffers state for this join and the dim is
    * broadcast — the 100 TB shape for attaching slowly-changing
    * reference data to a firehose. Stateless join => replay over the
    * bounded source equals the batch join with no watermark caveats;
    * the fifth streaming shape under driver hash-match.
    */
  def q103StreamEnrich(s: SparkSession, d: String): DataFrame = {
    val src = eventsStream(s, d)
      .select(col("user_id"), col("value"))
    val dim = graft.Tables.customer(s, d)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val enriched = src.join(broadcast(dim), "user_id")
    // EVENT-sized result — the largest memory sink the suite had;
    // spooled distributed (see drainToSpool)
    Scope.pinned { sc =>
      drainToSpool(sc, s, enriched, "q103", eventsBytes(d))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
        .orderBy(col("segment"))
    }
  }

  /** q108 — [[sessionize]] itself (the CUSTOM `flatMapGroupsWithState`
    * state function, not its declarative `session_window` cousin q70)
    * under the batch oracle. Append mode emits exactly the CLOSED
    * sessions — on a bounded one-micro-batch replay that is every
    * session except each user's most recent, which is precisely
    * SQL-expressible (gap-split sessions minus the per-user last), so
    * the hand-written state machine joins the five declarative
    * streaming shapes under driver hash-match.
    *
    * Event time is truncated to MICROS before entering state (`div
    * 1000`, the q35/q36 contract): the oracle's DuckDB reads the
    * nanos-parquet column as a micros TIMESTAMP, so nano-resolution
    * state would diverge from any SQL formulation. The inclusive
    * `diff <= gap` session rule needs no +1us adjustment here — the
    * state function implements the batch rule directly.
    */
  def q108StreamCustomSessions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stream = eventsStream(s, d)
      .select(col("user_id"), expr("ts div 1000").as("ts_ns")).as[SessionEvent]
    val sessions = sessionize(stream, 30L * 60 * 1000000L) // gap in MICROS
    // session-sized result -> spool (see drainToSpool)
    Scope.pinned { sc =>
      drainToSpool(sc, s, sessions.toDF(), "q108", eventsBytes(d))
        .select(col("user_id"), col("start_ns").as("start_us"),
          col("end_ns").as("end_us"), col("n_events"))
        .orderBy(col("user_id"), col("start_us"))
    }
  }

  /** Per-user running aggregate over an event stream — value sums per
    * user per window, the streaming analogue of the reducer-with-state
    * idiom.
    */
  def userWindowSums(
      events: DataFrame,
      windowLen: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("user_id"))
      .agg(sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("user_id"), col("sum_value"))

  // ---- in-stream radius near-dup (transformWithState) ----------------

  /** One fingerprinted arrival for [[radiusDedupStream]]. */
  final case class RadiusFp(ts: java.sql.Timestamp, doc_id: Long, simhash: Long)

  /** [[RadiusFp]] fanned out to one of its 4 chunk-LSH buckets. */
  final case class RadiusChunk(
      ck: Long, ts: java.sql.Timestamp, doc_id: Long, simhash: Long)

  /** Per-(doc, chunk) shadowing verdict; `ts` is re-emitted so the
    * downstream per-doc combine can ride the propagated watermark.
    */
  final case class RadiusVerdict(
      ts: java.sql.Timestamp, doc_id: Long, shadowed: Boolean)

  /** A fingerprint held in chunk-bucket state. */
  final case class StoredFp(tsMs: Long, docId: Long, simhash: Long)

  /** Keyed state for ONE 16-bit chunk bucket: every fingerprint whose
    * chunk landed here inside the horizon, SHADOWED ONES INCLUDED —
    * the single-rule semantics ([[compactNearDupStore]]: a doc is
    * dropped iff an earlier doc sits within radius, evaluated against
    * the full store, not iteratively), so a bucket must keep shadowed
    * fingerprints as potential shadowers of later arrivals.
    *
    * Ordering: "earlier" is (event-time ms, doc_id) — the arrival
    * order the batch compaction pass and the q117/q156 oracle both
    * use. Within a micro-batch the rows are sorted into that order
    * before state comparison, so batch boundaries are invisible to the
    * verdict: replaying the same rows in 1 batch or 50 yields
    * identical output (the stream==batch spec pins this).
    *
    * State bound: entries older than `horizonMs` behind the watermark
    * are trimmed on every visit, and an event-time timer at
    * (newest entry + horizon) sweeps buckets that stop receiving
    * traffic — the idle bucket does NOT live forever (the
    * GapSessionProcessor critique, fixed here from the start). Per
    * bucket the state is O(arrivals in horizon / 2^16 buckets).
    */
  final class RadiusDedupProcessor(radius: Int, horizonMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, RadiusChunk, RadiusVerdict] {
    @transient private var seen: org.apache.spark.sql.streaming.ListState[StoredFp] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      seen = getHandle.getListState[StoredFp]("seen",
        org.apache.spark.sql.Encoders.product[StoredFp],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    private def resetTimer(maxTsMs: Long): Unit = {
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      // saturating add: a "never evict" horizon must not overflow into
      // a timer in the past
      val expiry = maxTsMs + horizonMs
      if (expiry > maxTsMs) getHandle.registerTimer(expiry)
    }

    override def handleInputRows(ck: Long, rows: Iterator[RadiusChunk],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[RadiusVerdict] = {
      val wm = tv.getCurrentWatermarkInMs()
      val buf = scala.collection.mutable.ArrayBuffer.empty[StoredFp]
      seen.get().foreach(e => if (e.tsMs + horizonMs >= wm) buf += e)
      val out = rows.toArray.sortBy(r => (r.ts.getTime, r.doc_id)).map { r =>
        val tMs = r.ts.getTime
        val shadowed = buf.exists(e =>
          (e.tsMs < tMs || (e.tsMs == tMs && e.docId < r.doc_id)) &&
            java.lang.Long.bitCount(e.simhash ^ r.simhash) <= radius)
        buf += StoredFp(tMs, r.doc_id, r.simhash)
        RadiusVerdict(r.ts, r.doc_id, shadowed)
      }
      seen.put(buf.toArray)
      resetTimer(buf.iterator.map(_.tsMs).max)
      out.iterator
    }

    override def handleExpiredTimer(ck: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[RadiusVerdict] = {
      val wm = tv.getCurrentWatermarkInMs()
      val keep = seen.get().filter(_.tsMs + horizonMs >= wm).toArray
      if (keep.isEmpty) seen.clear()
      else { seen.put(keep); resetTimer(keep.iterator.map(_.tsMs).max) }
      Iterator.empty
    }
  }

  /** In-STREAM Hamming-radius near-dup dedup — the operator
    * [[nearDupDedupStream]]'s scaladoc used to defer to the batch
    * compaction pass, now expressed with bounded streaming state:
    * q21's 4x16-bit chunk LSH keys the state (exact for radius <= 3 by
    * pigeonhole: at most 3 differing bits leave at least one of 4
    * chunks identical), each chunk bucket holds the horizon's
    * fingerprints, and a document survives iff NO bucket finds an
    * earlier within-radius neighbor. Three stages, all streaming:
    *
    *  1. stateless 4-way chunk fan-out (doc -> 4 keyed rows);
    *  2. [[RadiusDedupProcessor]] per chunk bucket (transformWithState,
    *     event-time mode; emits per-chunk verdicts carrying the event
    *     time forward via the `eventTimeColumnName` overload — what
    *     lets a SECOND stateful operator run downstream);
    *  3. per-doc combine: a windowed ANY over the 4 chunk verdicts
    *     (append mode — a doc's verdict is final once the watermark
    *     passes it, because late chunks are impossible: all 4 ride the
    *     same input row).
    *
    * Same single-rule semantics as [[compactNearDupStore]] — a
    * shadowed doc still shadows later docs — so stream output ==
    * batch compaction output on the same rows (spec-pinned), and the
    * q156 driver replay hash-matches the q117 quadratic NOT-EXISTS
    * oracle. State per bucket is horizon-bounded; there is no
    * all-pairs anything: a doc is compared only against its 4 buckets'
    * residents, exactly the batch operator's candidate volume.
    */
  def radiusDedupStream(
      docs: Dataset[RadiusFp], radius: Int = 3,
      horizonMs: Long = Long.MaxValue / 4,
      watermarkDelay: String = "0 seconds"): DataFrame = {
    require(radius >= 0 && radius <= 3,
      "4x16 chunk LSH candidate generation is complete only for radius <= 3")
    val s = docs.sparkSession
    import s.implicits._
    val chunks = docs
      .withWatermark("ts", watermarkDelay)
      .flatMap { fp =>
        (0 until 4).iterator.map { c =>
          RadiusChunk((c.toLong << 16) | ((fp.simhash >>> (c * 16)) & 0xffffL),
            fp.ts, fp.doc_id, fp.simhash)
        }
      }
    val verdicts = chunks
      .groupByKey(_.ck)
      .transformWithState(new RadiusDedupProcessor(radius, horizonMs),
        "ts", OutputMode.Append())
    // the combine groups on the event-time WINDOW (what lets append
    // mode finalize a doc) plus an untagged copy of ts for the output
    // — two watermark-tagged columns in one grouping is rejected by
    // the stateful planner, so the copy is aliased with empty metadata
    verdicts.toDF()
      .select(col("ts"), col("doc_id"), col("shadowed"),
        col("ts").as("ts_plain", org.apache.spark.sql.types.Metadata.empty))
      .groupBy(window(col("ts"), "1 second"), col("ts_plain"), col("doc_id"))
      .agg(max(col("shadowed").cast("int")).as("n_shadowed"))
      .filter(col("n_shadowed") === 0)
      .select(col("ts_plain").as("ts"), col("doc_id"))
  }

  /** q156 — the q117 planted fixture (gramHash64 base corpus + 1-bit
    * "near" and 8-bit "far" copies at later arrivals) pushed through
    * [[radiusDedupStream]] as a bounded file-stream replay: the radius
    * decision happens IN the stream's keyed state, not in a batch
    * compaction afterwards, and the survivors hash-match the same
    * quadratic NOT-EXISTS DuckDB oracle (radius semantics provably
    * equal: chunk pigeonhole is exact for radius <= 3). Arrival order
    * is encoded in event time (base epoch + arrival seconds); a
    * sentinel row past everything (doc_id -1, the q137 trick) drags
    * the watermark over the last real doc so the final per-doc windows
    * flush, and is filtered from the output.
    */
  def q156StreamRadiusDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withConfs(s, RocksDbReplay) {
      val baseSec = 1704096000L // 2024-01-01 08:00:00 UTC
      // fingerprint + planted-leg fixture = pure function of the sf
      // dir -> built once per session (see cachedFixture); the
      // per-pass cost drops to the replay itself
      val fixtureDir = cachedFixture(s"q156:$d") { dir => Scope { sc =>
        val docs = graft.Tables.documents(s, d).select(col("doc_id"), col("text"))
        val shift = docs.agg(max(col("doc_id")) + lit(1L)).head().getLong(0)
        // base + two planted legs read it; freed after the write
        val fp = sc.persist(docs.as[(Long, String)]
          .map { case (id, t) => (id, id, graft.operators.Dedup.gramHash64(t)) }
          .toDF("arrival", "doc_id", "simhash"))
        val near = fp.filter(col("doc_id") % 13 === 0)
          .select((col("arrival") + shift).as("arrival"),
            (col("doc_id") + shift).as("doc_id"),
            col("simhash").bitwiseXOR(
              expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 63 AS INT))")).as("simhash"))
        val far = fp.filter(col("doc_id") % 29 === 0)
          .select((col("arrival") + lit(2L) * shift).as("arrival"),
            (col("doc_id") + lit(2L) * shift).as("doc_id"),
            col("simhash").bitwiseXOR(
              expr("shiftleft(CAST(255 AS BIGINT), CAST((doc_id % 7) * 8 AS INT))")).as("simhash"))
        val store = fp.unionByName(near).unionByName(far)
        val maxArrival = 3L * shift // arrivals are < 3*shift by construction
        store
          .unionByName(Seq((maxArrival + 3600L, -1L, 0L))
            .toDF("arrival", "doc_id", "simhash"))
          .select(timestamp_micros((col("arrival") + baseSec) * 1000000L).as("ts"),
            col("doc_id"), col("simhash"))
          .write.mode("overwrite").parquet(dir)
      }}
      val src = s.readStream
        .schema(s.read.parquet(fixtureDir).schema)
        .parquet(fixtureDir)
        .as[RadiusFp]
      val survivors = radiusDedupStream(src)
      // survivor (doc-sized) result -> spool (see drainToSpool); await
      // the watermark-advance NO-DATA batch that flushes the last
      // per-doc windows (unsuppressed — see drainThenAwaitNoDataFlush)
      Scope.pinned { sc =>
        drainToSpool(sc, s, survivors.toDF(), "q156", tableBytes(fixtureDir),
          awaitNoDataFlush = true)
          .filter(col("doc_id") >= 0L)
          .select(
            expr(s"CAST(unix_micros(ts) div 1000000 - $baseSec AS BIGINT)").as("arrival"),
            col("doc_id"))
          .orderBy(col("doc_id"))
      }
    }
  }

  // ---- timer-flushed tws sessionization ------------------------------

  /** [[GapSessionProcessor]] plus the missing deployment piece: an
    * EVENT-TIME TIMER closes the open session once the watermark
    * passes its last event + gap, so a user who goes quiet still gets
    * their session emitted and their state cleared — in a continuous
    * deployment [[sessionizeTws]]'s state otherwise grows by one
    * permanently-open session per idle user. The in-gap state machine
    * is byte-identical to [[GapSessionProcessor]]; only the flush path
    * is new ([[sessionizeWithTimeout]]'s contract, on the
    * transformWithState API). Times are epoch MILLIS
    * ([[SessionSummaryMs]]), the timer clock's unit.
    */
  final class GapSessionTimerProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TimedEvent, SessionSummaryMs] {
    @transient private var open: org.apache.spark.sql.streaming.ValueState[OpenSession] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[TimedEvent],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionSummaryMs] = {
      val prior: List[Long] = if (open.exists()) open.get().ts.toList else Nil
      val all = (prior ++ rows.map(_.ts.getTime)).sorted
      val sessions = all.foldLeft(List.empty[List[Long]]) {
        case (Nil, t) => List(List(t))
        case (cur :: done, t) if t - cur.head <= gapMs => (t :: cur) :: done
        case (acc, t) => List(t) :: acc
      }.map(_.reverse).reverse
      val (closed, openSess) = (sessions.dropRight(1), sessions.lastOption.getOrElse(Nil))
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (openSess.isEmpty) open.clear()
      else {
        open.update(OpenSession(openSess.toArray))
        getHandle.registerTimer(openSess.last + gapMs)
      }
      closed.iterator.map(sess =>
        SessionSummaryMs(user, sess.head, sess.last, sess.length.toLong))
    }

    override def handleExpiredTimer(user: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionSummaryMs] = {
      // the timer is deleted+re-registered on every input batch, so an
      // expiry always refers to the CURRENT open session
      val sess: List[Long] = if (open.exists()) open.get().ts.toList else Nil
      open.clear()
      if (sess.isEmpty) Iterator.empty
      else Iterator.single(
        SessionSummaryMs(user, sess.head, sess.last, sess.length.toLong))
    }
  }

  /** [[sessionizeWithTimeout]] on the transformWithState API —
    * identical flush semantics, new engine surface; the caller sets
    * the watermark on `ts` before `.as[TimedEvent]`, same contract.
    */
  def sessionizeTwsTimeout(
      events: Dataset[TimedEvent], gapMs: Long): Dataset[SessionSummaryMs] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new GapSessionTimerProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** Per-window HLL register build over a `(ts, user_id)` frame —
    * batch/stream UNIFIED (the [[windowedCounts]] contract): the q159
    * sketch's register update is `max` per (window, bucket), an
    * algebraic aggregate, so the STREAMING incremental merge literally
    * IS the sketch merge — no custom state processor, and state is
    * O(m) registers per open window instead of one entry per distinct
    * user (the whole point of sketching a cardinality monitor at
    * 100 TB/day: `dropDuplicates`-then-count state grows with the key
    * space; this is bounded by 512 longs x watermark-horizon windows).
    */
  def hllWindowRegisters(
      events: DataFrame,
      windowLen: String = "10 minutes",
      watermark: String = "20 minutes"): DataFrame = {
    val x = graft.operators.Corpus.hllKey(col("user_id").cast("string"))
    // registers build through the NATIVE HllRegistersAgg — one 4 KB
    // long[512] state row per window, single slot max per event —
    // where groupBy(window, bkt) held up to 512 state-store entries
    // per window. Exploding back to observed (bkt, r>0) rows AFTER
    // aggregation keeps the sink — and the oracle hash — identical.
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), x.as("x"))
      .groupBy(window(col("ts"), windowLen))
      .agg(graft.functions.HllRegistersAgg.registers(col("x")).as("regs"))
      .select(col("window.start").as("win_start"),
        posexplode(col("regs")).as(Seq("pos", "r")))
      .filter(col("r") > 0)
      .select(col("win_start"), col("pos").cast("long").as("bkt"), col("r"))
  }

  /** Per-window CMS cell build over a `(ts, user_id)` frame —
    * batch/stream unified like [[hllWindowRegisters]]: the q158
    * sketch's cell update is `count` per (window, row, bucket), an
    * algebraic SUM, so the streaming incremental merge IS the sketch
    * merge. State is depth·width = 2048 cells per open window — the
    * frequency monitor whose state does not grow with the key space.
    */
  def cmsWindowCells(
      events: DataFrame,
      windowLen: String = "10 minutes",
      watermark: String = "20 minutes"): DataFrame = {
    val w = graft.operators.Corpus.CmsReplayWidth
    // the grid is built by the NATIVE CmsSketchAgg — one long[2048]
    // state row per window, depth slot increments per event — where
    // the relational form crossJoined every event with the depth seed
    // rows (a 4x amplification through the shuffle) and held up to
    // 2048 state-store ENTRIES per window; the r15 sf10 sweep priced
    // that at 42 s, the suite's worst streaming constant. Exploding
    // the grid back to (j, bkt, c>0) rows AFTER aggregation keeps the
    // sink — and the oracle hash — identical.
    events
      .withWatermark("ts", watermark)
      .select(col("ts"),
        graft.operators.Corpus.cmsKey(col("user_id").cast("string")).as("x"))
      .groupBy(window(col("ts"), windowLen))
      .agg(graft.functions.CmsSketchAgg.sketch(col("x")).as("cells"))
      .select(col("window.start").as("win_start"),
        posexplode(col("cells")).as(Seq("pos", "c")))
      .filter(col("c") > 0)
      .select(col("win_start"),
        expr(s"CAST(pos div $w AS BIGINT)").as("j"),
        expr(s"CAST(pos % $w AS BIGINT)").as("bkt"),
        col("c"))
  }

  /** Per-window histogram cells over a `(ts, value)` frame —
    * batch/stream unified like [[cmsWindowCells]]: the q168
    * global-domain binning (bounds fixed ahead of the stream, the
    * production convention for a latency monitor) makes the cell
    * update a per-(window, bin) COUNT, an algebraic SUM, so the
    * streaming incremental merge IS the histogram merge. State is
    * [[graft.operators.Relational.HistBins]] cells per open window —
    * the quantile monitor whose state does not grow with row count.
    */
  def histWindowCells(
      events: DataFrame, vmin: Double, vmax: Double,
      windowLen: String = "10 minutes",
      watermark: String = "20 minutes"): DataFrame = {
    // bin counts through the NATIVE HistogramAgg — one long[64] state
    // row per window, single slot increment per event (the CmsSketchAgg
    // discipline; bin arithmetic IEEE-identical to the Column form, so
    // the exploded cells and the oracle hash are unchanged)
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("value").cast("double").as("v"))
      .groupBy(window(col("ts"), windowLen))
      .agg(graft.functions.HistogramAgg.histogram(col("v"), vmin, vmax).as("cells"))
      .select(col("window.start").as("win_start"),
        posexplode(col("cells")).as(Seq("pos", "c")))
      .filter(col("c") > 0)
      .select(col("win_start"), col("pos").cast("long").as("bin"), col("c"))
  }

  /** q174 — the FOURTEENTH streaming shape, completing the
    * sketch-in-stream trio (q161 HLL cardinality, q167 CMS frequency,
    * q174 histogram QUANTILES): per-window latency-style percentile
    * estimates from [[histWindowCells]] replayed over the bounded
    * events table, read out in batch by the q160/q168 integer-rank +
    * bin-edge arithmetic, with exact per-window percentiles riding as
    * report-only ground truth (rank read-out of the k-th order
    * statistic — tie-permutation-independent because the VALUE at rank
    * k is well-defined). The value domain comes from a 1-row batch
    * pre-pass; a production monitor pins it ahead of time. Because the
    * cells are order-independent sums, the DuckDB oracle replays the
    * entire stream query from the batch table — hash-matched like its
    * two siblings.
    */
  def q174StreamHist(s: SparkSession, d: String): DataFrame = {
    val bounds = graft.Tables.events(s, d)
      .agg(min(col("value").cast("double")).as("vmin"),
        max(col("value").cast("double")).as("vmax"))
      .collect()(0)
    val (vmin, vmax) = (bounds.getDouble(0), bounds.getDouble(1))
    val stream = eventsStream(s, d)
      .select(timestamp_micros(expr("ts div 1000")).as("ts"),
        col("value").cast("double").as("value"))
    val cells = histWindowCells(stream, vmin, vmax)
    val sink = drainToMemory(s, cells, "q174_stream_hist", eventsBytes(d))
      .select(unix_micros(col("win_start")).as("win_start_us"),
        col("bin"), col("c"))
    val ns = sink.groupBy(col("win_start_us")).agg(sum(col("c")).as("n"))
    val cum = sink.withColumn("cum",
        sum(col("c")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("win_start_us")).orderBy(col("bin"))))
      .join(broadcast(ns), "win_start_us")
    def kq(pct: Int) = expr(s"CAST((n * $pct + 99) DIV 100 AS BIGINT)")
    def pick(pct: Int, name: String) =
      min(when(col("cum") >= kq(pct), col("bin"))).as(name)
    val picks = cum.groupBy(col("win_start_us"), col("n"))
      .agg(pick(50, "b50"), pick(95, "b95"), pick(99, "b99"))
    val bw = lit((vmax - vmin) / graft.operators.Relational.HistBins.toDouble)
    def edge(c: org.apache.spark.sql.Column) =
      lit(vmin) + (c + lit(1L)).cast("double") * bw
    val est = picks.select(col("win_start_us"), col("n"),
      edge(col("b50")).as("p50_est"), edge(col("b95")).as("p95_est"),
      edge(col("b99")).as("p99_est"))
    // exact rider: k-th order statistic per window from the batch table
    val ev = graft.Tables.events(s, d)
      .select((expr("ts div 1000") - expr("ts div 1000") % 600000000L)
        .as("win_start_us"), col("value").cast("double").as("v"))
    val ranked = ev.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("win_start_us")).orderBy(col("v"))))
      .join(broadcast(ns), "win_start_us")
    def exact(pct: Int, name: String) =
      min(when(col("rn") >= kq(pct), col("v"))).as(name)
    val exacts = ranked.groupBy(col("win_start_us"))
      .agg(exact(50, "p50_exact"), exact(95, "p95_exact"),
        exact(99, "p99_exact"))
    est.join(exacts, "win_start_us")
      .orderBy(col("win_start_us"))
  }

  /** Per-window KMV sketch over user ids — batch/stream unified like
    * its three sketch-in-stream siblings: the KMV aggregate is
    * algebraic (order-independent, mergeable), so the streaming
    * incremental merge is literally the KMV set-union merge. State
    * per open window is at most k=64 longs — the smallest state of
    * the four monitors, and unlike HLL the sketch doubles as a
    * uniform SAMPLE of the window's distinct users (minwise hashing),
    * so the same state answers "how many" and "which ones,
    * representatively". The aggregate is the NATIVE
    * [[graft.functions.KmvSketchAgg]] (unboxed `long[]` buffer,
    * serialization only at partial/state boundaries) — the
    * `udaf(BottomKDistinct)` form it replaced paid an Encoder
    * round-trip plus an O(k) Vector copy per input row, the r13
    * canary's worst streaming decade ratio (q175 sf1→sf10 = 3.1×).
    */
  def kmvWindowSketch(
      events: DataFrame,
      windowLen: String = "10 minutes",
      watermark: String = "20 minutes"): DataFrame = {
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(graft.functions.KmvSketchAgg.sketch(
        graft.operators.Corpus.hllKey(col("user_id").cast("string")),
        graft.operators.Corpus.KmvK).as("sk"))
      .select(col("window.start").as("win_start"), col("sk"))
  }

  /** q175 — the FIFTEENTH streaming shape, making the sketch-in-stream
    * family a QUARTET (q161 HLL / q167 CMS / q174 histogram / q175
    * KMV): per-window distinct-user estimation from the q172 bottom-k
    * sketch built IN-STREAM, read out in batch by the same BigInt
    * (k−1)·H/kth-min arithmetic, exact per-window distinct counts
    * riding report-only. Because the sketch is order-independent, the
    * DuckDB oracle replays the entire stream query from the batch
    * table — the fourth sketch under full hash-match.
    */
  def q175StreamKmv(s: SparkSession, d: String): DataFrame = {
    val stream = eventsStream(s, d)
      .select(timestamp_micros(expr("ts div 1000")).as("ts"), col("user_id"))
    val sk = kmvWindowSketch(stream)
    val sink = drainToMemory(s, sk, "q175_stream_kmv", eventsBytes(d))
      .select(unix_micros(col("win_start")).as("k"), col("sk"))
    val est = graft.operators.Corpus.kmvReadoutLong(sink)
      .withColumnRenamed("k", "win_start_us")
    val exact = graft.Tables.events(s, d)
      .select((expr("ts div 1000") - expr("ts div 1000") % 600000000L)
        .as("win_start_us"), col("user_id"))
      .groupBy(col("win_start_us"))
      .agg(countDistinct(col("user_id")).as("n_distinct_exact"))
    est.join(exact, "win_start_us")
      .select(col("win_start_us"), col("n_distinct_exact"), col("n_kmv"),
        col("kth_min"), col("est_distinct"))
      .orderBy(col("win_start_us"))
  }

  /** One tagged CUSUM input row. */
  final case class CusumEvent(user_id: Long, ts_us: Long, event_id: Long, x: Long)

  /** O(1) per-key CUSUM carry: the prefix sum, its running min, and
    * the running output stats — the reflection identity s = p −
    * min(0, runmin(p)) needs nothing else, so the monitor's state per
    * user is six longs no matter how long the stream runs.
    */
  final case class CusumCarry(
      p: Long, minp: Long, n: Long, maxS: Long, nAbove: Long, firstCross: Long)

  /** q185's per-user CUSUM statistics. `first_cross_us` None = the
    * user never drifted past h.
    */
  final case class CusumStat(
      user_id: Long, n_events: Long, max_cusum: Long, n_above: Long,
      first_cross_us: Option[Long])

  /** The q185 one-sided CUSUM walked as keyed STREAM state: each
    * micro-batch's rows sort by (ts, event_id) and extend the carried
    * prefix sum + running min, so the statistic is exact over the
    * whole stream while state stays six longs per user — drift
    * detection is inherently a monitoring (streaming) concern, and
    * this is its deployable form. Emits the user's cumulative stats
    * every batch (Update semantics: latest row per user wins).
    * Cross-batch contract: per-key event-time-ordered delivery, as
    * q187.
    */
  def cusumStream(
      events: Dataset[CusumEvent], k: Long, h: Long): Dataset[CusumStat] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[CusumCarry, CusumStat](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[CusumEvent], state: GroupState[CusumCarry]) =>
          val rows = it.toArray.sortBy(e => (e.ts_us, e.event_id))
          var st = state.getOption.getOrElse(
            CusumCarry(0L, 0L, 0L, 0L, 0L, -1L))
          var i = 0
          while (i < rows.length) {
            val e = rows(i)
            val p = st.p + (e.x - k)
            val minp = if (st.n == 0L) p else math.min(st.minp, p)
            val s = p - math.min(0L, minp)
            st = CusumCarry(p, minp, st.n + 1L,
              math.max(st.maxS, s),
              st.nAbove + (if (s > h) 1L else 0L),
              if (st.firstCross >= 0L || s <= h) st.firstCross else e.ts_us)
            i += 1
          }
          state.update(st)
          Iterator.single(CusumStat(user, st.n, st.maxS, st.nAbove,
            if (st.firstCross < 0L) None else Some(st.firstCross)))
      }
  }

  /** q194 — the EIGHTEENTH streaming shape: [[cusumStream]] replayed
    * over the bounded events table under the SAME oracle as the
    * windowed batch form (q185). The allowance k comes from a batch
    * pre-pass (a production monitor pins it from history); h = 8k as
    * in q185.
    */
  def q194StreamCusum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val kVal = graft.Tables.events(s, d)
      .select(round(col("value") * lit(1e6)).cast("long").as("x"))
      .agg(expr("sum(x) div count(1)").as("k"))
      .collect()(0).getLong(0) // 1-row pre-pass, bounded
    val stream = eventsStream(s, d)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_id"),
        round(col("value") * lit(1e6)).cast("long").as("x"))
      .as[CusumEvent]
    val stats = cusumStream(stream, kVal,
      kVal * graft.operators.Temporal.CusumHMult)
    drainToMemory(s, stats.toDF(), "q194_stream_cusum", eventsBytes(d), OutputMode.Update)
      .select(col("user_id"), col("n_events"), col("max_cusum"),
        col("n_above"), col("first_cross_us"))
      .orderBy(col("user_id"))
  }

  /** q193 — the SEVENTEENTH streaming shape: the trailing-hour
    * distinct-user monitor ("how many distinct users in the last 60
    * minutes, updated every 10") via the KMV sketch over SLIDING
    * windows. Sliding windows are where sketching pays hardest: exact
    * distinct state duplicates the full per-window key SET across the
    * overlap factor (6× here), while the sketch duplicates k=64 longs
    * — per-window state is constant no matter how many users the hour
    * saw. Spark's window(slide) handles the 6-way row duplication;
    * the NATIVE [[graft.functions.KmvSketchAgg]] dedupes inside its
    * O(k) partials, so the duplication never reaches the shuffle as
    * distinct-set state. Order-independent ⇒ the DuckDB oracle
    * replays the whole query from the batch table (the q175 program
    * with the 6-fold window expansion made explicit).
    */
  def q193StreamSlidingKmv(s: SparkSession, d: String): DataFrame = {
    val stream = eventsStream(s, d)
      .select(timestamp_micros(expr("ts div 1000")).as("ts"), col("user_id"))
    val sk = stream
      .withWatermark("ts", "80 minutes")
      .groupBy(window(col("ts"), "60 minutes", "10 minutes"))
      .agg(graft.functions.KmvSketchAgg.sketch(
        graft.operators.Corpus.hllKey(col("user_id").cast("string")),
        graft.operators.Corpus.KmvK).as("sk"))
      .select(col("window.start").as("win_start"), col("sk"))
    val sink = drainToMemory(s, sk, "q193_stream_sliding_kmv", eventsBytes(d))
      .select(unix_micros(col("win_start")).as("k"), col("sk"))
    val est = graft.operators.Corpus.kmvReadoutLong(sink)
      .withColumnRenamed("k", "win_start_us")
    // exact rider: every event lands in its 6 slide-aligned windows
    val ev = graft.Tables.events(s, d)
      .select(expr("ts div 1000").as("ts_us"), col("user_id"))
      .select(explode(sequence(lit(0L), lit(5L))).as("i"),
        col("ts_us"), col("user_id"))
      .select((expr("ts_us - ts_us % 600000000") - col("i") * lit(600000000L))
        .as("win_start_us"), col("user_id"))
    val exact = ev.groupBy(col("win_start_us"))
      .agg(countDistinct(col("user_id")).as("n_distinct_exact"))
    est.join(exact, "win_start_us")
      .select(col("win_start_us"), col("n_distinct_exact"), col("n_kmv"),
        col("kth_min"), col("est_distinct"))
      .orderBy(col("win_start_us"))
  }

  /** Per-window bottom-k (hash, value) pair sample over a
    * `(ts, event_id, value)` frame — batch/stream unified like its
    * four sketch-in-stream siblings: the pair sample is algebraic
    * (order-independent, mergeable bottom-k union), so the streaming
    * incremental merge is exact. State per open window is 2k longs.
    */
  def samplePairsWindow(
      events: DataFrame,
      windowLen: String = "10 minutes",
      watermark: String = "20 minutes"): DataFrame = {
    events
      .filter(col("value").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(
        graft.functions.SamplePairsAgg.sketch(
          graft.operators.Corpus.hllKey(col("event_id").cast("string")),
          round(col("value") * lit(1e6)).cast("long"),
          graft.operators.Corpus.SampleK).as("pairs"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("pairs"),
        col("n_events"))
  }

  /** q197 — the NINETEENTH streaming shape: a per-window VALUE-QUANTILE
    * monitor from the q195 bottom-k pair sample built in-stream,
    * making the sketch-in-stream family a QUINTET (HLL cardinality /
    * CMS frequency / histogram / KMV distinct / sample quantiles).
    *
    * What the histogram monitor (q174) cannot do: q174's bins need the
    * value domain fixed AHEAD of the stream (its driver binding pays a
    * batch pre-pass for vmin/vmax — impossible for a truly unbounded
    * production stream) and read out as bin EDGES. The pair sample
    * needs no domain knowledge at all and reads out actual observed
    * values, at the cost of sampling error instead of binning error.
    * Same read-out as q195 (integer percentile-disc ranks), so the
    * DuckDB oracle replays the whole stream query from the batch
    * table — the fifth sketch under full hash-match.
    */
  def q197StreamQuantile(s: SparkSession, d: String): DataFrame = {
    val stream = eventsStream(s, d)
      .select(timestamp_micros(expr("ts div 1000")).as("ts"),
        col("event_id"), col("value"))
    val sk = samplePairsWindow(stream)
    val sink = drainToMemory(s, sk, "q197_stream_quantile", eventsBytes(d))
      .select(unix_micros(col("win_start")).as("k"), col("pairs"),
        col("n_events"))
    graft.operators.Corpus.quantileReadoutLong(sink)
      .withColumnRenamed("k", "win_start_us")
      .orderBy(col("win_start_us"))
  }

  /** q203 — the TWENTIETH streaming shape: the trailing-hour value
    * quantile updated every 10 minutes, i.e. [[q197StreamQuantile]]
    * slid the way [[q193StreamSlidingKmv]] slides the distinct
    * monitor. Sliding is where the sample pays hardest: an exact
    * per-window quantile duplicates the full value MULTISET across
    * the 6× overlap; the pair sample duplicates 2k longs. Spark's
    * window(slide) does the row duplication and the aggregate's O(k)
    * partials absorb it before the shuffle. Same read-out, same
    * oracle family — the whole stream query replays from the batch
    * table with the 6-fold expansion explicit.
    */
  def q203StreamSlidingQuantile(s: SparkSession, d: String): DataFrame = {
    val stream = eventsStream(s, d)
      .select(timestamp_micros(expr("ts div 1000")).as("ts"),
        col("event_id"), col("value"))
    val sk = stream
      .filter(col("value").isNotNull)
      .withWatermark("ts", "80 minutes")
      .groupBy(window(col("ts"), "60 minutes", "10 minutes"))
      .agg(
        graft.functions.SamplePairsAgg.sketch(
          graft.operators.Corpus.hllKey(col("event_id").cast("string")),
          round(col("value") * lit(1e6)).cast("long"),
          graft.operators.Corpus.SampleK).as("pairs"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("pairs"),
        col("n_events"))
    val sink = drainToMemory(s, sk, "q203_stream_sliding_quantile", eventsBytes(d))
      .select(unix_micros(col("win_start")).as("k"), col("pairs"),
        col("n_events"))
    graft.operators.Corpus.quantileReadoutLong(sink)
      .withColumnRenamed("k", "win_start_us")
      .orderBy(col("win_start_us"))
  }

  /** q211 — the TWENTY-FIRST streaming shape: the ExactSubstr census
    * (q208, Lee et al. '21) as an INGEST MONITOR. Documents arrive as
    * a stream (event time = arrival); per 100-second tumbling arrival
    * window the monitor emits every L-token text window shared by >=2
    * documents THAT ARRIVED TOGETHER — the duplication-burst signal a
    * crawl-ingest pipeline alarms on (a template flood or a re-crawl
    * storm shows up as a df spike long before the nightly batch census
    * q208 sees it; cross-batch duplication remains the batch pass's
    * job, exactly the q156-stream / q117-compaction division).
    *
    * Stream shape: per-doc DISTINCT windows flatMapped from each
    * arriving doc (the q208 census rule), watermarked windowed
    * COUNT — a pure algebraic aggregate, so the DuckDB oracle replays
    * the whole query from the batch table (the q161/q167 program) —
    * then `df >= 2` filtered IN-STREAM so the sink only materializes
    * duplicated cells (the q167 probe-slate discipline: state holds
    * the full per-window vocabulary, the spool holds only bursts).
    * Append mode + watermark = each arrival window emits ONCE, final,
    * when the watermark passes it — per-key state lives one watermark
    * horizon, the production bound; the replay flushes the last
    * windows with the sentinel + no-data-batch machinery shared with
    * q156/q137. At 100 TB/day the group key becomes the 128-bit
    * [[graft.operators.Curation.exactSubstrKey]] surrogate and the
    * emitted cells stay burst-sized; nothing else changes.
    *
    * Read-out: per arrival window `win_id` (= doc_id div 100 under
    * the fixture's 1 doc/sec arrival; windows align because the base
    * epoch is a multiple of the window length) — duplicated-window
    * count, duplicated doc mass, max df, top offender by the q208
    * (df, win) max-struct tiebreak.
    */
  def q211StreamExactSubstr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val L = graft.operators.Curation.ExactSubstrL
    withConfs(s, RocksDbReplay) {
      val baseSec = 1704096000L // 2024-01-01 08:00:00 UTC; % 100 == 0
      val fixtureDir = cachedFixture(s"q211:$d") { dir =>
        val docs = graft.Tables.documents(s, d)
          // a NULL doc_id has no arrival time in this fixture (ts
          // derives from the id): DROPPED, and the oracle SQL drops
          // the same rows with WHERE doc_id IS NOT NULL — the r18
          // advice item: without the filter a NULL id became a NULL
          // ts plus a null in the primitive-Long Doc encoder (runtime
          // failure) while the oracle silently kept the row
          .filter(col("doc_id").isNotNull)
          .select(col("doc_id"),
            concat(coalesce(col("text"), lit("")),
              when(col("doc_id") % 17 === 0,
                lit(graft.operators.Curation.exactSubstrPlant))
                .otherwise(lit(""))).as("text"))
        // empty-corpus guard: max() over zero rows is NULL, and a bare
        // getLong NPEs — an empty table must yield an empty monitor
        // result, not a dead fixture builder
        val maxRow = docs.agg(max(col("doc_id"))).head()
        val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
        docs
          .select(timestamp_micros((col("doc_id") + baseSec) * 1000000L)
            .as("ts"), col("doc_id"), col("text"))
          // sentinel past everything (the q137/q156 trick): drags the
          // watermark over the last real arrival window so append
          // mode flushes it; its lone marker cell has df=1 and dies
          // at the in-stream filter
          .unionByName(Seq((new java.sql.Timestamp(
              (baseSec + maxId + 100000L) * 1000L), -1L, ""))
            .toDF("ts", "doc_id", "text"))
          .write.mode("overwrite").parquet(dir)
      }
      val src = s.readStream
        .schema(s.read.parquet(fixtureDir).schema)
        .parquet(fixtureDir)
        .as[Doc]
      val cells = src
        .flatMap { doc =>
          if (doc.doc_id < 0L) Iterator.single((doc.ts, " wm"))
          else {
            // the BATCH census's own tokenize/grams — the oracle
            // equality depends on the stream window rule staying
            // byte-identical to exactSubstrWinRows, so it is shared,
            // not re-implemented
            graft.operators.Curation.grams(
                graft.operators.Curation.tokenize(doc.text), L)
              .toSet.iterator.map((w: String) => (doc.ts, w))
          }
        }
        .toDF("ts", "win")
        .withWatermark("ts", "10 seconds")
        .groupBy(window(col("ts"), "100 seconds"), col("win"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2L)
        .select(
          expr(s"(unix_micros(window.start) div 1000000 - ${baseSec}L) div 100")
            .as("win_id"),
          col("win"), col("df"))
      val sink = Scope.pinned { sc =>
        drainToSpool(sc, s, cells, "q211", tableBytes(s"$d/documents.parquet"),
          awaitNoDataFlush = true)
      }
      sink.groupBy(col("win_id"))
        .agg(
          count(lit(1)).as("n_dup_windows"),
          sum(col("df")).cast("long").as("dup_doc_mass"),
          max(col("df")).as("max_df"),
          max(struct(col("df"), col("win"))).as("top"))
        .select(col("win_id"), col("n_dup_windows"), col("dup_doc_mass"),
          col("max_df"), col("top.win").as("top_win"))
        .orderBy(col("win_id"))
    }
  }

  /** q167 — the TWELFTH streaming shape: a per-window event-frequency
    * monitor via the replayable CMS ([[cmsWindowCells]]) replayed over
    * the bounded events table, probed in batch for the fixed probe
    * slate (user_id < 10, the q22/q23 probe convention) with exact
    * per-window counts riding along. The q161 program applied to the
    * FREQUENCY sketch: cells are order-independent sums, so the DuckDB
    * oracle replays the entire stream query from the batch table.
    */
  def q167StreamCms(s: SparkSession, d: String): DataFrame = {
    val stream = eventsStream(s, d)
      .select(timestamp_micros(expr("ts div 1000")).as("ts"), col("user_id"))
    // the probe slate (user_id < 10, the q22/q23 convention) touches
    // at most 10 x depth (j, bkt) pairs — all computable from the
    // seeds alone, no data read. Filtering the emitted cells to that
    // slate BEFORE the sink cuts the materialized replay from
    // windows x 2048 dense-grid rows (8.8M at sf1 — where q167's
    // time actually went) to windows x <=40, while the state store
    // still holds the full grid: the monitor is unchanged, only the
    // bounded-replay sink stops materializing cells nothing probes.
    val probePairs = (0L until 10L).flatMap { u =>
      graft.operators.Corpus.cmsProbePairs(u).map { case (j, bkt) =>
        j * graft.operators.Corpus.CmsReplayWidth + bkt
      }
    }.distinct.sorted
    val w = graft.operators.Corpus.CmsReplayWidth
    val cells = cmsWindowCells(stream)
      .filter((col("j") * lit(w.toLong) + col("bkt"))
        .isin(probePairs: _*))
    val sink = drainToMemory(s, cells, "q167_stream_cms", eventsBytes(d))
      .select(unix_micros(col("win_start")).as("win_start_us"),
        col("j"), col("bkt"), col("c"))
    val ev = graft.Tables.events(s, d)
      .select((expr("ts div 1000") - expr("ts div 1000") % 600000000L)
        .as("win_start_us"), col("user_id"))
    val probes = ev.filter(col("user_id") < 10)
      .groupBy(col("win_start_us"), col("user_id"))
      .agg(count(lit(1)).as("exact_cnt"))
    val probed = probes
      .crossJoin(broadcast(graft.operators.Corpus.cmsSeedsDf(s)))
      .select(col("win_start_us"), col("user_id"), col("exact_cnt"), col("j"),
        graft.operators.Corpus.cmsBucketOf(
          graft.operators.Corpus.cmsKey(col("user_id").cast("string")),
          col("a"), col("b"), col("c")).as("bkt"))
    probed.join(sink, Seq("win_start_us", "j", "bkt"))
      .groupBy(col("win_start_us"), col("user_id"), col("exact_cnt"))
      .agg(min(col("c")).as("est_cnt"))
      .select(col("win_start_us"), col("user_id"), col("exact_cnt"),
        col("est_cnt"), (col("est_cnt") - col("exact_cnt")).as("over_err"))
      .orderBy(col("win_start_us"), col("user_id"))
  }

  /** q171 — the THIRTEENTH streaming shape: temporal (as-of)
    * enrichment of the event stream against a VERSIONED dimension —
    * every event gets the dimension row that was current AT ITS EVENT
    * TIME, not the latest one (q103 enriches against a static dim; a
    * plain stream-static join would time-travel attribute changes
    * backwards). Spark has no streaming as-of join; the production
    * pattern is exactly what runs here: resolve the as-of per
    * micro-batch inside foreachBatch — a broadcast join to the (small,
    * versioned) dimension, validity filter `valid_from <= ts`, and a
    * per-event argmax over the surviving versions. The stream holds NO
    * state (enrichment is stateless given the dim), the dim ships once
    * per executor as a broadcast, and the spool receives per-batch
    * (tier, event_type) partial rollups — pair-sized, additive across
    * batches, the q93 discipline. Events predating their user's first
    * version (or with no dim row at all) land in tier -1, the
    * "unknown" leg a real pipeline must keep rather than drop.
    *
    * The version table is synthesized deterministically so the DuckDB
    * oracle replays it: four versions per customer, activation times
    * spread across the event-time span with a per-user md5 phase (so
    * boundaries interleave event times differently per user), tier =
    * md5(user:version) % 5. Bounds come from a 1-row batch pre-pass —
    * a production deployment reads the SCD2 table q132 maintains.
    */
  def q171StreamAsofEnrich(s: SparkSession, d: String): DataFrame = {
    val bounds = graft.Tables.events(s, d)
      .agg(min(expr("ts div 1000")).as("min_us"),
        max(expr("ts div 1000")).as("max_us"))
      .collect()(0)
    val minUs = bounds.getLong(0)
    val span = bounds.getLong(1) - minUs + 1L
    val quarter = math.max(span / 4L, 1L)
    val phase = math.max(span / 8L, 1L)
    val key60 = graft.operators.Corpus.hllKey _
    val dim = graft.Tables.customer(s, d)
      .select(col("c_custkey").as("user_id"))
      .select(col("user_id"), explode(sequence(lit(0L), lit(3L))).as("i"))
      .select(col("user_id"),
        (lit(minUs) + col("i") * lit(quarter) +
          key60(col("user_id").cast("string")) % lit(phase)).as("vf_us"),
        (key60(concat(col("user_id").cast("string"), lit(":"),
          col("i").cast("string"))) % 5).as("tier"))
    val stream = eventsStream(s, d)
      .select(col("event_id"), expr("ts div 1000").as("ts_us"),
        col("event_type"), col("value"), col("user_id"))
    val enrichBatch: DataFrame => DataFrame = batch =>
      batch.join(broadcast(dim), Seq("user_id"), "left")
        .groupBy(col("event_id"), col("event_type"), col("value"))
        .agg(max(when(col("vf_us") <= col("ts_us"),
          struct(col("vf_us"), col("tier")))).as("bt"))
        .select(col("event_type"), col("value"),
          coalesce(col("bt.tier"), lit(-1L)).as("tier"))
        .groupBy(col("tier"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).as("v"))
    Scope.pinned { sc =>
      drainToSpool(sc, s, stream, "q171", eventsBytes(d), mapBatch = enrichBatch)
        .groupBy(col("tier"), col("event_type"))
        .agg(sum(col("n")).as("n_events"),
          sum(col("v")).cast("double").as("total_value"))
        .orderBy(col("tier"), col("event_type"))
    }
  }

  /** One row of the tagged two-sided as-of input: `side` 0 = right
    * (click, the enriching side), 1 = left (error, the enriched side)
    * — clicks sort before errors at equal event time, giving the
    * <=-visibility contract.
    */
  final case class TaggedEvent(user_id: Long, ts_us: Long, side: Int, event_id: Long)

  /** [[asOfStream]] output: every left event with the latest right
    * event at or before it (None = no right event yet).
    */
  final case class AsOfEnriched(
      event_id: Long, user_id: Long, ts_us: Long,
      asof_click_us: Option[Long], asof_click_id: Option[Long])

  /** TRUE stream-stream as-of join as keyed state — Spark has no
    * native one (its stream-stream equi/interval joins buffer BOTH
    * sides within a time bound; an as-of needs the latest-right-
    * so-far, unbounded lookback). The state is the collapsed form of
    * that unbounded lookback: ONE (ts, id) pair per key — the only
    * right row any future left row can match — so lookback is
    * infinite while state is O(keys), the fundamental win over a
    * buffered interval join. Within a micro-batch, rows are sorted by
    * (ts, side, id) (right before left at equal times, so an
    * equal-time right row IS visible; ascending id makes the
    * GREATEST id win ties by last-write). Across micro-batches the
    * contract is per-key in-order delivery (the Kafka
    * partition-by-key guarantee); a regressing tie-break is guarded
    * by a lexicographic compare, so replays of an already-seen right
    * row can never move state backwards. Production deployments with
    * an unbounded key domain add a state TTL; the bounded replay
    * keeps NoTimeout.
    */
  def asOfStream(tagged: Dataset[TaggedEvent]): Dataset[AsOfEnriched] = {
    import tagged.sparkSession.implicits._
    tagged.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), AsOfEnriched](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[TaggedEvent], state: GroupState[(Long, Long)]) =>
          val rows = it.toArray.sortBy(e => (e.ts_us, e.side, e.event_id))
          var cand = state.getOption
          val out = Array.newBuilder[AsOfEnriched]
          var i = 0
          while (i < rows.length) {
            val e = rows(i)
            if (e.side == 0) {
              // right row: last-write-wins within the sorted batch;
              // never regress across batches
              if (cand.forall(c => c._1 < e.ts_us ||
                  (c._1 == e.ts_us && c._2 < e.event_id)))
                cand = Some((e.ts_us, e.event_id))
            } else {
              out += AsOfEnriched(e.event_id, user, e.ts_us,
                cand.map(_._1), cand.map(_._2))
            }
            i += 1
          }
          cand.foreach(state.update)
          out.result().iterator
      }
  }

  /** The [[asOfStream]] candidate as a product type so the
    * transformWithState ValueState encoder is plain `Encoders.product`.
    */
  final case class AsOfCand(ts_us: Long, id: Long)

  /** [[asOfStream]]'s state machine on Spark 4's `transformWithState`
    * API, with the production knob fMGWS lacks: a per-key state TTL.
    * An unbounded key domain (users that appear once and vanish) grows
    * the latest-right map forever under NoTimeout; `TTLConfig` expires
    * idle keys' candidates in the state store itself — no timer
    * bookkeeping, no scan — so long-lived deployments hold state
    * proportional to the ACTIVE key set. The walk is byte-identical to
    * [[asOfStream]]; only the state plumbing differs.
    */
  final class AsOfProcessor(ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TaggedEvent, AsOfEnriched] {
    @transient private var cand: org.apache.spark.sql.streaming.ValueState[AsOfCand] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      cand = getHandle.getValueState[AsOfCand]("cand",
        org.apache.spark.sql.Encoders.product[AsOfCand],
        if (ttl == null) org.apache.spark.sql.streaming.TTLConfig.NONE
        else org.apache.spark.sql.streaming.TTLConfig(ttl))

    override def handleInputRows(user: Long, rows: Iterator[TaggedEvent],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[AsOfEnriched] = {
      val sorted = rows.toArray.sortBy(e => (e.ts_us, e.side, e.event_id))
      var c: Option[AsOfCand] = if (cand.exists()) Some(cand.get()) else None
      val out = Array.newBuilder[AsOfEnriched]
      var i = 0
      while (i < sorted.length) {
        val e = sorted(i)
        if (e.side == 0) {
          if (c.forall(p => p.ts_us < e.ts_us ||
              (p.ts_us == e.ts_us && p.id < e.event_id)))
            c = Some(AsOfCand(e.ts_us, e.event_id))
        } else {
          out += AsOfEnriched(e.event_id, user, e.ts_us,
            c.map(_.ts_us), c.map(_.id))
        }
        i += 1
      }
      c.foreach(cand.update)
      out.result().iterator
    }
  }

  /** [[asOfStream]] on transformWithState. `ttl = null` keeps state
    * forever (the bounded-replay setting); a Duration turns on
    * store-level expiry of idle keys (TTL is processing-time-based,
    * hence the ProcessingTime time mode when set).
    */
  def asOfStreamTws(
      tagged: Dataset[TaggedEvent],
      ttl: java.time.Duration = null): Dataset[AsOfEnriched] = {
    import tagged.sparkSession.implicits._
    tagged.groupByKey(_.user_id)
      .transformWithState(new AsOfProcessor(ttl),
        if (ttl == null) org.apache.spark.sql.streaming.TimeMode.None()
        else org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** q191 — q187's answer with the as-of state machine on
    * [[asOfStreamTws]] (transformWithState + mandatory RocksDB
    * backend) instead of flatMapGroupsWithState: the v2 state API's
    * as-of is end-to-end oracle-checked against the SAME replay as
    * the batch operator and the fMGWS form (the q147-vs-q108
    * discipline). The provider override is scoped and restored.
    */
  def q191StreamAsofTws(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withConfs(s, RocksDbReplay) {
      val tagged = eventsStream(s, d)
        .filter(col("event_type").isin("click", "error"))
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          when(col("event_type") === "click", 0).otherwise(1).as("side"),
          col("event_id"))
        .as[TaggedEvent]
      val enriched = asOfStreamTws(tagged)
      Scope.pinned { sc =>
        drainToSpool(sc, s, enriched.toDF(), "q191", eventsBytes(d))
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("asof_click_us"), col("asof_click_id"))
          .orderBy(col("event_id"))
      }
    }
  }

  /** q187 — the SIXTEENTH streaming shape: the q180 click-enrichment
    * as-of computed IN-STREAM by [[asOfStream]]'s keyed state (one
    * pair per user), replayed over the bounded events table under the
    * SAME DuckDB oracle as the native batch operator — the
    * stream-stream as-of lands under a full hash-match, not a
    * spec-only claim. q171 enriches against a versioned DIMENSION
    * with zero stream state; this joins two EVENT STREAMS with the
    * minimal state that makes unbounded lookback finite.
    */
  def q187StreamAsofState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tagged = eventsStream(s, d)
      .filter(col("event_type").isin("click", "error"))
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        when(col("event_type") === "click", 0).otherwise(1).as("side"),
        col("event_id"))
      .as[TaggedEvent]
    val enriched = asOfStream(tagged)
    Scope.pinned { sc =>
      drainToSpool(sc, s, enriched.toDF(), "q187", eventsBytes(d))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("asof_click_us"), col("asof_click_id"))
        .orderBy(col("event_id"))
    }
  }

  /** q161 — the ELEVENTH streaming shape: a windowed distinct-user
    * cardinality monitor via the replayable HLL ([[hllWindowRegisters]])
    * replayed over the bounded events table, registers folded to
    * estimates in batch by the SAME read-out as q159
    * (Corpus.hllReadout), exact per-window distinct counts riding
    * along as report-only ground truth. Because the register state is
    * order-independent, the DuckDB oracle replays the whole thing from
    * the batch events table — the sketch-in-stream pattern lands under
    * a full hash-match, not a spec-only claim.
    */
  def q161StreamHll(s: SparkSession, d: String): DataFrame = {
    val stream = eventsStream(s, d)
      .select(timestamp_micros(expr("ts div 1000")).as("ts"), col("user_id"))
    val regs = hllWindowRegisters(stream)
    val sink = drainToMemory(s, regs, "q161_stream_hll", eventsBytes(d))
      .select(unix_micros(col("win_start")).as("win_start_us"),
        col("bkt"), col("r"))
    val exact = graft.Tables.events(s, d)
      .select((expr("ts div 1000") - expr("ts div 1000") % 600000000L)
        .as("win_start_us"), col("user_id"))
      .groupBy(col("win_start_us"))
      .agg(countDistinct(col("user_id")).as("n_distinct_exact"))
    graft.operators.Corpus.hllReadout(sink, Seq("win_start_us"))
      .join(exact, "win_start_us")
      .select(col("win_start_us"), col("n_distinct_exact"), col("v_empty"),
        col("s_reg"), col("est_raw"), col("small_range"))
      .orderBy(col("win_start_us"))
  }
}
