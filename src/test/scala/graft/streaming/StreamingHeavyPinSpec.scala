package graft.streaming

import graft.mr.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** State-size and batch-shape pins for the STREAMING bench heavies
  * (q147, q156, q191) — the r16 verdict's gap: the batch heavies have
  * plan pins (HeavyPlanSpec) so a slow artifact provably means load,
  * but the streaming replays had no equivalent invariant, and q147's
  * r16 artifact number (4.96 s vs 1.9 s idle) burned a round of
  * adjudication that a pinned shape would have settled from the spec
  * run alone.
  *
  * For a stateful replay the useful pin is not exchange counts (the
  * micro-batch plan is driven by the stream runner) but the
  * `stateOperators` metrics off the progress events: TOTAL STATE ROWS
  * pins the per-key state contract (O(keys), never O(history) — the
  * thing that kills a 100 TB/day deployment), and the DATA-BATCH
  * COUNT pins the replay's delivery shape (a bounded source arrives
  * in exactly one batch; a second data batch means the source split
  * and per-batch state work doubled). Wall time itself is NOT pinned
  * — that is the bench's job; these pins make a bench jump
  * adjudicable: if they hold and the artifact is slow, it's load.
  *
  * The expected state sizes are computed from the INPUT tables, not
  * hard-coded: q147 holds exactly one open-session value per distinct
  * user, q191 exactly one as-of candidate per user with >=1 click,
  * q156 at most 4 chunk-bucket entries per fixture doc (the LSH
  * fan-out bound) across its two stateful operators.
  */
class StreamingHeavyPinSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  /** Run `body` (a replay that starts+stops its own queries) and
    * return (body result, every progress event observed). The
    * listener bus is async, so poll briefly after body returns until
    * at least one data batch landed.
    */
  private def withCensus[A](body: => A): (A, Seq[StreamingQueryProgress]) = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        buf.synchronized { buf += e.progress; () }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    try {
      val a = body
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (buf.synchronized(!buf.exists(_.numInputRows > 0)) &&
             System.nanoTime() < deadline)
        Thread.sleep(20)
      (a, buf.synchronized(buf.toSeq))
    } finally spark.streams.removeListener(l)
  }

  private def dataBatches(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0)

  test("q147 pin: one data batch; state rows == distinct users (O(keys), not O(history))") {
    val nEvents = graft.Tables.events(spark, d).count()
    val nUsers = graft.Tables.events(spark, d)
      .agg(countDistinct(col("user_id"))).head().getLong(0)
    val (rows, ps) = withCensus {
      graft.SparkEntry.queries("q147_tws_sessions")(spark, d).count()
    }
    assert(rows > 0)
    val data = dataBatches(ps)
    assert(data.size == 1, s"bounded replay must deliver ONE data batch, got ${data.size}")
    assert(data.head.numInputRows == nEvents,
      s"batch read ${data.head.numInputRows} rows, events table has $nEvents")
    val so = data.head.stateOperators
    assert(so.length == 1, s"one stateful operator expected, got ${so.length}")
    // every user ends the replay holding exactly ONE open-session value
    assert(so.head.numRowsTotal == nUsers,
      s"state rows ${so.head.numRowsTotal} != distinct users $nUsers — " +
        "per-key state contract broken (state must be O(users))")
  }

  test("q191 pin: one data batch; state rows == distinct users with a click") {
    // numInputRows counts SOURCE rows — the click/error filter runs
    // after the stream source, so the whole events table is read
    val nInput = graft.Tables.events(spark, d).count()
    val nClickUsers = graft.Tables.events(spark, d)
      .filter(col("event_type") === "click")
      .agg(countDistinct(col("user_id"))).head().getLong(0)
    val (rows, ps) = withCensus {
      graft.SparkEntry.queries("q191_stream_asof_tws")(spark, d).count()
    }
    assert(rows > 0)
    val data = dataBatches(ps)
    assert(data.size == 1, s"bounded replay must deliver ONE data batch, got ${data.size}")
    assert(data.head.numInputRows == nInput,
      s"batch read ${data.head.numInputRows} rows, events table has $nInput")
    val so = data.head.stateOperators
    assert(so.length == 1, s"one stateful operator expected, got ${so.length}")
    // AsOfProcessor stores one candidate per user that has seen a click
    assert(so.head.numRowsTotal == nClickUsers,
      s"state rows ${so.head.numRowsTotal} != users-with-clicks $nClickUsers — " +
        "per-key state contract broken (state must be O(users))")
  }

  test("q156 pin: state bounded by the 4-way LSH fan-out of the fixture (never all-pairs)") {
    val docs = graft.Tables.documents(spark, d).select(col("doc_id"))
    val n = docs.count()
    val near = docs.filter(col("doc_id") % 13 === 0).count()
    val far = docs.filter(col("doc_id") % 29 === 0).count()
    val fixtureDocs = n + near + far + 1L // base + planted legs + sentinel
    val (rows, ps) = withCensus {
      graft.SparkEntry.queries("q156_stream_radius_dedup")(spark, d).count()
    }
    assert(rows > 0)
    val data = dataBatches(ps)
    assert(data.size == 1, s"bounded replay must deliver ONE data batch, got ${data.size}")
    assert(data.head.numInputRows == fixtureDocs,
      s"batch read ${data.head.numInputRows} rows, fixture has $fixtureDocs")
    // two stateful operators: per-chunk radius state + the windowed
    // per-doc combine; each holds at most the 4-way chunk fan-out
    val so = data.head.stateOperators
    assert(so.length == 2, s"two stateful operators expected, got ${so.length}")
    so.foreach { op =>
      assert(op.numRowsTotal > 0 && op.numRowsTotal <= 4L * fixtureDocs,
        s"${op.operatorName}: state rows ${op.numRowsTotal} outside " +
          s"(0, ${4L * fixtureDocs}] — LSH fan-out bound broken")
    }
  }

  test("q211 pin: state == per-window vocabulary at the data batch, EVICTED to the sentinel cell after the flush") {
    import spark.implicits._
    val L = graft.operators.Curation.ExactSubstrL
    val docs = graft.Tables.documents(spark, d)
    val nDocs = docs.count()
    // expected state keys: distinct (arrival window, text window) pairs
    // — the per-window VOCABULARY (never rows x positions), computed
    // from the input table with the operator's own census rule
    val vocabPairs = docs
      .select((col("doc_id") / 100).cast("long").as("win_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 17 === 0,
            lit(graft.operators.Curation.exactSubstrPlant))
            .otherwise(lit(""))).as("t"))
      .as[(Long, String)]
      .flatMap { case (w, t) =>
        graft.operators.Curation.grams(
            graft.Tokens.Space(t), L)
          .toSet.iterator.map((win: String) => (w, win))
      }
      .distinct().count()
    val (rows, ps) = withCensus {
      graft.SparkEntry.queries("q211_stream_exact_substr")(spark, d).count()
    }
    assert(rows > 0)
    val data = dataBatches(ps)
    assert(data.size == 1, s"bounded replay must deliver ONE data batch, got ${data.size}")
    assert(data.head.numInputRows == nDocs + 1L, // + sentinel
      s"batch read ${data.head.numInputRows} rows, fixture has ${nDocs + 1}")
    val so = data.head.stateOperators
    assert(so.length == 1, s"one stateful operator expected, got ${so.length}")
    assert(so.head.numRowsTotal == vocabPairs + 1L, // + the sentinel marker cell
      s"state rows ${so.head.numRowsTotal} != vocabulary ${vocabPairs + 1} — " +
        "the census state must be per-window-vocabulary sized")
    // the production bound: append mode EVICTS each arrival window when
    // the watermark passes it — after the no-data flush batch only the
    // sentinel's own (never-closing) window cell may remain in state
    val afterFlush = ps.reverse.find(p =>
      p.numInputRows == 0 && p.stateOperators.nonEmpty)
    assert(afterFlush.nonEmpty, "no post-flush progress event observed")
    assert(afterFlush.get.stateOperators.head.numRowsTotal == 1L,
      s"post-flush state ${afterFlush.get.stateOperators.head.numRowsTotal} != 1 — " +
        "watermark eviction contract broken (state must be one horizon, not history)")
  }
}
