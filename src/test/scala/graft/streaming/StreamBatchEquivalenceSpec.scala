package graft.streaming

import graft.mr.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins the driver-oracled stream==batch equivalences (q70 / q76 / q83 /
  * q93 / q103 / q108 / q127 / q137) on a PERTURBED copy of the events fixture — not
  * the driver corpus — so the boundary contracts they encode (micros
  * `div` truncation, the +1us session gap, one-micro-batch replay
  * exactness, planted-redelivery invisibility, stateless dim join)
  * can't silently regress between driver runs. Each binding's bounded
  * replay is compared against an independently-written batch
  * formulation over the same perturbed table.
  */
class StreamBatchEquivalenceSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = graft.Scope.lru.tempDir("stream_eq_").toString
    val base = graft.Tables.events(spark, "/root/testdata/sf0.001")
    // deterministic perturbation: +-5s timestamp jitter and a value
    // shift, both keyed off event_id — different session/window/join
    // boundaries than any driver-corpus run
    base.select(
      col("event_id"),
      (col("ts") + (col("event_id") % 11 - lit(5)) * lit(1000000000L)).as("ts"),
      col("user_id"), col("event_type"),
      (col("value") + (col("event_id") % 3).cast("double") * lit(0.25)).as("value"),
      col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/_ev")
    // the stream source's pathGlobFilter expects events.parquet to be a
    // single FILE (the testdata layout), not a Spark output directory
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(d, "_ev"))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    java.nio.file.Files.copy(part, java.nio.file.Paths.get(d, "events.parquet"))
    graft.Tables.customer(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(s"$d/customer.parquet")
    d
  }

  private def events: DataFrame = graft.Tables.events(spark, dir)
  private val us = expr("ts div 1000")

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("q70 session replay equals the inclusive-gap batch sessionizer") {
    val gapUs = 30L * 60 * 1000000
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val batch = events.select(col("user_id"), us.as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("fresh",
        when(col("prev").isNull || col("us") - col("prev") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("fresh")).over(cum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("start_us"), col("end_us"))
    val got = EventStream.q70StreamSessionize(spark, dir)
    assert(got.count() > 0)
    assert(rows(got) == rows(batch))
  }

  test("q76 tumbling replay equals epoch-aligned bucket arithmetic") {
    val batch = events
      .select((us - us % 60000000L).as("win_start_us"), col("event_type"))
      .groupBy(col("win_start_us"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val got = EventStream.q76StreamWindowCounts(spark, dir)
    assert(got.count() > 0)
    assert(rows(got) == rows(batch))
  }

  test("q127 sliding replay assigns every event to BOTH covering windows") {
    // explicit two-start enumeration (the oracle's shape): an event at
    // t lands in the aligned windows starting floor(t) and floor(t)-1m,
    // each at FULL height — the property a tumbling window can't give
    val starts = events
      .select((us - us % 60000000L).as("s1"), col("event_type"))
      .select(explode(array(col("s1"), col("s1") - 60000000L)).as("win_start_us"),
        col("event_type"))
    val batch = starts.groupBy(col("win_start_us"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val got = EventStream.q127StreamSliding(spark, dir)
    assert(got.count() > 0)
    assert(rows(got) == rows(batch))
    // overlap invariant: total mass is exactly twice the event count
    assert(got.agg(sum(col("n"))).head().getLong(0) == 2L * events.count())
  }

  test("q83 interval-join replay equals the batch range join") {
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id"), us.as("click_us"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), us.as("p_us"), col("value"))
    val batch = p.join(v, Seq("user_id"))
      .filter(col("click_us") <= col("p_us") &&
        col("click_us") >= col("p_us") - 600000000L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("attributed_value"),
        min(col("click_us")).as("first_click_us"))
    val got = EventStream.q83StreamAttribution(spark, dir)
    assert(got.count() > 0)
    assert(rows(got) == rows(batch))
  }

  test("q137 outer-join replay evicts and emits every unmatched purchase") {
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id"), us.as("view_us"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), us.as("p_us"), col("value"))
    val joined = p.join(v,
      p("user_id") === v("user_id") &&
        col("view_us") <= col("p_us") &&
        col("view_us") >= col("p_us") - 600000000L,
      "left_outer")
    val batch = joined
      .groupBy(p("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("view_us")).as("n_pairs"),
        count(when(col("view_us").isNull, lit(1))).as("n_unattributed"),
        sum(when(col("view_us").isNull, col("value").cast("decimal(18,6)")))
          .cast("double").as("unattributed_value"))
    val got = EventStream.q137StreamOuterAttribution(spark, dir)
    assert(got.count() > 0)
    // the outer path must actually run: the fixture has purchases with
    // no preceding view, and every one must surface as a null row
    assert(got.agg(sum(col("n_unattributed"))).head().getLong(0) > 0)
    assert(rows(got) == rows(batch))
  }

  test("q93 dedup replay makes the planted redeliveries invisible") {
    val batch = events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
    val got = EventStream.q93StreamDedup(spark, dir)
    assert(got.count() > 0)
    assert(rows(got) == rows(batch))
  }

  test("q108 custom-state replay emits exactly the closed (non-last) sessions") {
    val gapUs = 30L * 60 * 1000000
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = events.select(col("user_id"), us.as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("fresh",
        when(col("prev").isNull || col("us") - col("prev") > gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("fresh")).over(cum))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"),
        count(lit(1)).as("n_events"))
    val batch = sess
      .withColumn("rr", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("sid").desc)))
      .filter(col("rr") > 1)
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
    val got = EventStream.q108StreamCustomSessions(spark, dir)
    assert(got.count() > 0)
    assert(rows(got) == rows(batch))
  }

  test("q103 stream-static enrich equals the batch dimension join") {
    val dim = graft.Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val batch = events.select(col("user_id"), col("value"))
      .join(dim, "user_id")
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
    val got = EventStream.q103StreamEnrich(spark, dir)
    assert(got.count() > 0)
    assert(rows(got) == rows(batch))
  }

  test("q171 as-of enrich replay equals an independent batch as-of join") {
    // independent batch formulation: same synthesized version table,
    // as-of resolved with a DESC row_number window instead of the
    // engine's per-batch struct-argmax
    val ev = events.select(col("event_id"),
      expr("ts div 1000").as("ts_us"), col("event_type"),
      col("value"), col("user_id"))
    val b = ev.agg(min(col("ts_us")), max(col("ts_us"))).collect()(0)
    val minUs = b.getLong(0)
    val span = b.getLong(1) - minUs + 1L
    val key60 = (c: org.apache.spark.sql.Column) =>
      conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")
    val dim = graft.Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"),
        explode(sequence(lit(0L), lit(3L))).as("i"))
      .select(col("user_id"),
        (lit(minUs) + col("i") * lit(math.max(span / 4, 1L)) +
          key60(col("user_id")) % lit(math.max(span / 8, 1L))).as("vf_us"),
        (key60(concat(col("user_id").cast("string"), lit(":"),
          col("i").cast("string"))) % 5).as("tier"))
    val valid = ev.join(dim, Seq("user_id"))
      .filter(col("vf_us") <= col("ts_us"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_id")).orderBy(col("vf_us").desc)))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("event_type"), col("value"), col("tier"))
    val missed = ev.join(
        valid.select(col("event_id")), Seq("event_id"), "left_anti")
      .select(col("event_id"), col("event_type"), col("value"),
        lit(-1L).as("tier"))
    val batch = valid.unionByName(missed)
      .groupBy(col("tier"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
    val got = EventStream.q171StreamAsofEnrich(spark, dir)
    assert(got.count() > 0)
    // the unknown-version leg must exist on this fixture: user ids
    // below the customer key range and events before the first version
    assert(got.filter(col("tier") === -1L).count() > 0)
    assert(rows(got) == rows(batch))
  }

  test("q175 KMV replay equals an independent batch rank formulation") {
    // independent of the aggregator: distinct keys per window, rank,
    // take k, same BigInt estimate
    val k = graft.functions.KmvSketchAgg.K
    val keys = events
      .select((expr("ts div 1000") - expr("ts div 1000") % 600000000L)
        .as("win_start_us"),
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("x"))
      .distinct()
    val ranked = keys.withColumn("rn", row_number().over(
      Window.partitionBy(col("win_start_us")).orderBy(col("x"))))
      .filter(col("rn") <= k)
    val sk = ranked.groupBy(col("win_start_us"))
      .agg(count(lit(1)).as("n_kmv"), max(col("x")).as("kth_min"))
    val batch = sk.collect().map { r =>
      val nk = r.getLong(1); val kth = r.getLong(2)
      val est = if (nk < k) nk
        else (BigInt(k - 1) * graft.functions.KmvSketchAgg.Domain / kth).toLong
      (r.getLong(0), nk, kth, est)
    }.sortBy(_._1).toSeq
    val got = EventStream.q175StreamKmv(spark, dir)
      .select(col("win_start_us"), col("n_kmv"), col("kth_min"),
        col("est_distinct"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(got.nonEmpty)
    assert(got == batch)
  }

  test("q174 histogram replay: estimate bounds the exact quantile within one bin") {
    val out = EventStream.q174StreamHist(spark, dir).collect()
    assert(out.nonEmpty)
    val vs = events.agg(
      min(col("value").cast("double")), max(col("value").cast("double")))
      .collect()(0)
    val binWidth = (vs.getDouble(1) - vs.getDouble(0)) /
      graft.functions.HistogramAgg.Bins.toDouble
    // the estimate is the RIGHT edge of the bin holding the exact
    // quantile: exact <= est and est - exact <= one bin width (plus
    // float slack) — the q160 value-domain guarantee, per window
    out.foreach { r =>
      for ((est, exact) <- Seq((2, 5), (3, 6), (4, 7))) {
        val e = r.getDouble(est); val x = r.getDouble(exact)
        assert(x <= e + 1e-9, s"win ${r.getLong(0)}: exact $x above est $e")
        assert(e - x <= binWidth + 1e-9,
          s"win ${r.getLong(0)}: est $e more than one bin above exact $x")
      }
    }
  }
}
