package graft.operators

import graft.{Scope, Tables}
import graft.functions.SamplePairsAgg
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal operators: as-of join and sessionization.
  *
  * Spark has no built-in as-of join; the scalable shape used here is the
  * union + sorted carry-forward trick: tag both sides, shuffle ONCE by
  * key, sort within partitions by (time, side), and carry the most
  * recent right-side payload forward with an IGNORE NULLS window. That
  * is one shuffle of each input — no range-exploded cross join — and
  * at 100 TB it degrades linearly, never quadratically.
  */
object AsOfJoin {

  /** For every left row, attach the latest `right` payload whose time is
    * <= the left row's time (ties: right side sorts first, so an
    * equal-time right row IS visible to the left row).
    *
    * @param payload  columns of `right` to carry (exposed as
    *                 `asof_<name>`); both frames must share `key` and
    *                 `time` column names.
    * @param tieBreak payload columns ordering right rows that share a
    *                 (key, time) — REQUIRED for deterministic results
    *                 whenever right-side (key, time) can repeat;
    *                 without it the carried payload among tied rows is
    *                 arrival-order dependent.
    */
  def lastBefore(
      left: DataFrame, right: DataFrame,
      key: String, time: String, payload: Seq[String],
      tieBreak: Seq[String] = Nil): DataFrame = {
    val l = left.withColumn("_side", lit(1))
    val r = right
      .select((key +: time +: payload).map(col): _*)
      .withColumn("_carry", struct(payload.map(col): _*))
      .drop(payload: _*)
      .withColumn("_side", lit(0))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    // left rows carry null _carry fields; tie-break columns order only
    // the right rows that collide on (key, time)
    val orderCols = col(time) +: col("_side") +: tieBreak.map(c => col(s"_carry.$c"))
    val w = Window.partitionBy(col(key))
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carried = unioned.withColumn("_asof", last(col("_carry"), ignoreNulls = true).over(w))
    val out = carried.filter(col("_side") === 1)
    payload.foldLeft(out) { (df, p) =>
      df.withColumn(s"asof_$p", col(s"_asof.$p"))
    }.drop("_side", "_carry", "_asof")
  }
}

object Temporal {

  /** Event time at microsecond precision: ts is nanos-since-epoch
    * (nanosAsLong), truncated to micros so results are bit-identical
    * with timestamp engines that carry microsecond precision (DuckDB
    * truncates TIMESTAMP(NANOS) parquet to micros on read).
    */
  private def tsUs: Column = expr("ts div 1000")

  /** As-of join on the event stream: for every error event, the
    * timestamp of that user's most recent earlier click. Tie order is
    * (ts_us, event_id) to stay bit-identical with the oracle.
    */
  def q35AsofJoin(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(tsUs, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("asof_click_us",
        last(when(col("event_type") === "click", tsUs), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"),
        tsUs.as("ts_us"), col("asof_click_us"))
      .orderBy(col("event_id"))
  }

  /** Gap-based sessionization (30-minute inactivity) as the standard
    * two-window plan: lag -> new-session flag -> running sum = session
    * id -> per-session aggregate. One shuffle by user; both windows
    * share the same partitioning.
    */
  def q36Sessionize(s: SparkSession, d: String): DataFrame = {
    val GapUs = 30L * 60 * 1000 * 1000
    val byUser = Window.partitionBy(col("user_id")).orderBy(tsUs, col("event_id"))
    Tables.events(s, d)
      .withColumn("prev_ts", lag(tsUs, 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || tsUs - col("prev_ts") > GapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(tsUs).as("start_us"),
        max(tsUs).as("end_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Ordered-funnel analysis (q80): how many users reach each stage of
    * view -> click -> purchase, where each stage must occur strictly
    * AFTER the user's earliest qualifying previous stage (the standard
    * product-analytics funnel; an unordered "did all three ever
    * happen" join overcounts users who purchased before ever
    * viewing).
    *
    * Scale shape — ONE exchange, zero self-joins: the three stage
    * timestamps are whole-partition (unordered-frame) window minima
    * chained over the SAME user partitioning, so Catalyst plans one
    * hash exchange and evaluates the cascade in place; the naive
    * formulation (three self-joins on user_id with inequality
    * predicates) would shuffle the event table three times and
    * explode on power users. Event time compares at microsecond
    * truncation (the tsUs contract, oracle-identical).
    */
  /** Funnel conversion window: a stage counts only within 24 h of the
    * previous stage's anchor (the product-analytics norm — without a
    * window every long-lived user eventually "converts" and the funnel
    * saturates; at this corpus's event density 24 h yields a
    * discriminative 90/35/25-shaped split).
    */
  val FunnelWindowUs: Long = 24L * 3600 * 1000 * 1000

  def q80Funnel(s: SparkSession, d: String): DataFrame =
    funnelStages(
      Tables.events(s, d).select(col("user_id"), col("event_type"), tsUs.as("us")),
      Seq("view", "click", "purchase"), FunnelWindowUs)

  /** [[q80Funnel]]'s core over any `(user_id, event_type, us)` frame
    * and ordered stage list: per-stage reached-user counts, each stage
    * strictly after — and within `maxGapUs` of — the user's earliest
    * qualifying previous stage.
    */
  private[operators] def funnelStages(
      events: DataFrame, stages: Seq[String], maxGapUs: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val withMins = stages.zipWithIndex.foldLeft(events) { case (df, (st, i)) =>
      val cond =
        if (i == 0) col("event_type") === st
        else col("event_type") === st &&
          col("us") > col(s"_s${i - 1}") &&
          col("us") <= col(s"_s${i - 1}") + maxGapUs
      df.withColumn(s"_s$i", min(when(cond, col("us"))).over(byUser))
    }
    // fold ascending so the OUTERMOST when tests the deepest stage:
    // a stage-3 user has _s0.._s2 all non-null and must report 3
    val stageExpr = stages.indices.foldLeft(lit(0L)) { (acc, i) =>
      when(col(s"_s$i").isNotNull, (i + 1).toLong).otherwise(acc)
    }
    withMins
      .select(col("user_id"), stageExpr.as("stage"))
      .distinct()
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("stage"))
  }

  /** Time-series regularization: resample an irregular per-key event
    * stream onto a dense daily grid, carrying the last observed value
    * forward across gap days (LOCF — the standard alignment step before
    * any windowed model over unevenly sampled telemetry).
    *
    * Scale shape: ONE shuffle on the key. The per-day collapse is a
    * hash aggregate (last event of each (key, day) picked by a
    * row_number over (ts, id) — deterministic under ties); the grid is
    * `sequence`+`explode` over each key's own [first, last] day span,
    * so grid size is bounded by sum-of-spans, never keys x global
    * range; the carry-forward is an IGNORE NULLS window over the SAME
    * key partitioning the aggregate produced, so AQE plans the
    * aggregate, explode, and window into one exchange's lineage. The
    * carried value is copied verbatim (no arithmetic) — bit-exact
    * against the oracle. A key idle for years makes its span, not its
    * event count, the cost — callers resampling sparse decades pick a
    * coarser unit (the `dayUs` parameter is the unit).
    *
    * @param events `(key, us, id, v)` — event time in micros, `id`
    *               breaking (key, day, us) ties, `v` the carried value.
    * @return `(key, d, v, was_gap)` — one row per key per day in the
    *         key's span; `was_gap` = 1 when no event that day.
    */
  def gapFillLocf(events: DataFrame, dayUs: Long = 86400000000L): DataFrame = {
    // integer `div`, not float `/`: float quotients near day boundaries
    // round into the wrong bucket once us * (1/dayUs) outgrows double
    // ulp spacing, and DuckDB's `//` is integer division
    val d = expr(s"us div $dayUs")
    // persisted: the span aggregate AND the grid join both consume it,
    // and its subtree (scan + per-day window) would otherwise run
    // twice; one compact row per (key, active day). Lifetime: LRU /
    // clearCache, the lazily-returned-frame contract.
    val perDay = Scope.lru.persist(events
      .withColumn("d", d)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("key"), col("d"))
          .orderBy(col("us").desc, col("id").desc)))
      .filter(col("_rn") === 1)
      .select(col("key"), col("d"), col("v")))
    val grid = perDay.groupBy(col("key"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("key"), explode(sequence(col("d0"), col("d1"))).as("d"))
    val carry = Window.partitionBy(col("key")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(perDay, Seq("key", "d"), "left")
      .select(col("key"), col("d"),
        last(col("v"), ignoreNulls = true).over(carry).as("v"),
        when(col("v").isNull, 1L).otherwise(0L).as("was_gap"))
  }

  /** Rolling active users (q101): per day, the distinct-user count for
    * that day (DAU) and for the trailing 7-day window (WAU) — the
    * canonical product-analytics pair. A windowed COUNT(DISTINCT) is
    * not SQL-expressible (and a per-day range self-join re-shuffles the
    * event table once per day); instead each (user, active-day) row
    * FANS OUT to the <= 7 window days it contributes to — an equi-
    * shaped groupBy whose shuffle is bounded at 7x the compact
    * user-day frame, never the raw event stream. The day span is two
    * longs collected to the driver (the documented bounded-scalar
    * contract).
    */
  def q101ActiveUsers(s: SparkSession, d: String): DataFrame = {
    val ud = Scope.lru.persist(Tables.events(s, d)
      .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
      .distinct()) // feeds span, DAU, and WAU; lifetime: LRU/clearCache
    val span = ud.agg(min(col("day")), max(col("day"))).head()
    if (span.isNullAt(0)) { // empty events table: empty frame, not an NPE
      import s.implicits._
      return Seq.empty[(Long, Long, Long)].toDF("d", "dau", "wau")
    }
    val (d0, d1) = (span.getLong(0), span.getLong(1))
    val wau = ud
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("d"))
      .filter(col("d").between(d0, d1))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("wau"))
    val dau = ud.groupBy(col("day").as("d"))
      .agg(countDistinct(col("user_id")).as("dau"))
    wau.join(dau, Seq("d"), "left")
      .select(col("d"), coalesce(col("dau"), lit(0L)).as("dau"), col("wau"))
      .orderBy(col("d"))
  }

  /** Retention cohorts (q102): users grouped by first-active week, the
    * classic triangle — for each (cohort week, week offset) the
    * distinct returning users and the retention rate against the
    * cohort's size. Shape: ONE user-keyed shuffle attaches each
    * (user, active-week) row to its cohort (the per-user min-week
    * aggregate, broadcast-joined back), then a (cohort, offset)
    * hash aggregate; rate is a single final division, exact on both
    * engines.
    */
  def q102RetentionCohorts(s: SparkSession, d: String): DataFrame = {
    val uw = Scope.lru.persist(Tables.events(s, d)
      .select(col("user_id"), expr("((ts div 1000) div 86400000000) div 7").as("week"))
      .distinct()) // feeds cohort assignment and the return scan
    val cohort = uw.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val ret = uw.join(cohort, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    val sizes = ret.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_users").as("cohort_size"))
    ret.join(sizes, "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_users"), col("cohort_size"),
        (col("n_users").cast("double") / col("cohort_size")).as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Event-type transition matrix (q105): global counts of consecutive
    * (previous type -> type) steps per user timeline, with the row-
    * normalized transition probability — the first-order Markov view of
    * behavioral sequences (the sequential-patterns counterpart to
    * q80's funnel, which fixes the order a priori; this discovers it).
    * ONE user-keyed window (lag over (us, event_id) — deterministic
    * under ties) then a 25-cell hash aggregate; probability is an
    * integer-sum window plus one division, exact on both engines.
    */
  def q105Transitions(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(tsUs, col("event_id"))
    val steps = Tables.events(s, d)
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    steps
      .withColumn("p",
        col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Driver binding: daily LOCF-filled value series per user over the
    * events table. Oracle: the same grid built with `generate_series`
    * and an IGNORE NULLS window in DuckDB.
    */
  def q86GapFill(s: SparkSession, d: String): DataFrame =
    gapFillLocf(Tables.events(s, d)
      .select(col("user_id").as("key"), tsUs.as("us"),
        col("event_id").as("id"), col("value").as("v")))
      .select(col("key").as("user_id"), col("d"), col("v"), col("was_gap"))
      .orderBy(col("user_id"), col("d"))

  /** Result size for [[q115PathMining]]. */
  val TopPaths = 25

  /** Sequential-pattern mining (q115): the top-k event-type
    * SUBSEQUENCES (gaps allowed, order preserved) of length 1..3 by
    * user support — q105's first-order transitions generalized to the
    * sequence patterns a funnel designer actually hunts for
    * (PrefixSpan's problem statement, Pei et al. ICDE '01; support =
    * distinct users containing the pattern, the sequential a-priori
    * measure).
    *
    * Scale shape: ONE shuffle (groupByKey on user), then a single
    * linear scan per user maintaining two running sets — types seen
    * strictly before the cursor and 2-patterns completed strictly
    * before it — so each event extends patterns in O(|A| + |A|^2) for
    * alphabet A (event-type cardinality, ~10 here; the sets are
    * alphabet-bounded, NOT event-bounded). The per-user emission is
    * the DISTINCT pattern set, so support aggregation shuffles at most
    * |A|+|A|^2+|A|^3 rows per user, and the global top-k plans as
    * TakeOrdered. The oracle states the same thing naively: three
    * self-joins + DISTINCT — quadratic-to-cubic per user, fine at
    * sf0.01, exactly the plan this operator exists to avoid at 100 TB.
    * A mega-user bounds at |A|-polynomial state, not event count; the
    * scan itself is the per-user event stream once.
    */
  def pathMining(events: DataFrame, k: Int = TopPaths): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val support = events
      .select(col("user_id"), col("us"), col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Long, Long, String)]) =>
        val types = it.toArray.sortBy(e => (e._2, e._3)).map(_._4)
        val seen1 = scala.collection.mutable.HashSet.empty[String]
        val seen2 = scala.collection.mutable.HashSet.empty[(String, String)]
        val out3 = scala.collection.mutable.HashSet.empty[String]
        types.foreach { t =>
          // triples first (pairs completed STRICTLY before the cursor),
          // then new pairs (first element strictly before), then the
          // cursor type itself — the order is what makes i<j<k strict
          out3 ++= seen2.iterator.map { case (a, b) => s"$a>$b>$t" }
          seen2 ++= seen1.iterator.map(a => (a, t))
          seen1 += t
        }
        seen1.iterator ++ seen2.iterator.map { case (a, b) => s"$a>$b" } ++ out3.iterator
      }
      .toDF("path")
    support.groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path").asc)
      .limit(k)
  }

  /** Driver binding (q115): mined paths over the events table. Oracle:
    * the three-way self-join + DISTINCT formulation in SQL.
    */
  def q115PathMining(s: SparkSession, d: String): DataFrame =
    pathMining(Tables.events(s, d)
      .select(col("user_id"), tsUs.as("us"), col("event_id"), col("event_type")))

  /** Multi-touch linear attribution (q130): split each conversion's
    * credit EQUALLY across the user's last `maxTouches` touch events
    * preceding it in the event timeline — the standard position-free
    * marketing-attribution model between the two extremes q83's
    * stream attribution covers (last-touch) and a full Shapley run.
    * Conversions with no preceding touch route their full credit to
    * the `direct` channel, so total credit is conserved: SUM(credit)
    * == number of conversions, an invariant the spec pins.
    *
    * Exactness: credits are integer multiples of 1/L where L =
    * lcm(1..maxTouches) — each touch in a size-n window earns L/n
    * "grains" (exact BIGINT because n divides L), grains sum as
    * integers, and the only floating-point step is ONE final division
    * by L — so the result is bit-identical across engines, unlike the
    * usual SUM(1.0/n) whose value depends on accumulation order.
    *
    * Scale shape: two event-sized hash exchanges, no self-join. Pass
    * 1 (user partition): a DESCENDING running count of conversions
    * assigns every event the id of the next conversion at-or-after
    * it. Pass 2 ((user, conversion) partition): row_number ranks the
    * window's touches by recency and an unordered window count sizes
    * it — Catalyst evaluates both on one exchange+sort. The naive
    * formulation (touches join conversions on user + ts inequality)
    * explodes quadratically on power users; this stays linear.
    *
    * @param events `(user_id, us, event_id, event_type)`.
    * @return per channel: event count, exact credit grains, credit.
    */
  def linearAttribution(
      events: DataFrame, conversionType: String, touchTypes: Seq[String],
      maxTouches: Int = 4): DataFrame = {
    require(maxTouches >= 1 && maxTouches <= 12,
      s"maxTouches must be in [1,12], got $maxTouches")
    val grains = (1 to maxTouches).foldLeft(1L) { (l, n) =>
      val g = java.math.BigInteger.valueOf(l)
        .gcd(java.math.BigInteger.valueOf(n.toLong)).longValueExact()
      l / g * n
    }
    val isConv = col("event_type") === conversionType
    val desc = Seq(col("us").desc, col("event_id").desc)
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(desc: _*).rowsBetween(Window.unboundedPreceding, 0)
    val byConv = Window.partitionBy(col("user_id"), col("conv_g"))
    val credits = events
      .filter(isConv || col("event_type").isInCollection(touchTypes))
      .withColumn("conv_g", sum(when(isConv, 1L).otherwise(0L)).over(byUser))
      .filter(col("conv_g") >= 1)
      .withColumn("rn", row_number().over(byConv.orderBy(desc: _*)))
      .withColumn("n_t",
        sum(when(!isConv && col("rn") <= maxTouches + 1, 1L).otherwise(0L))
          .over(byConv))
    val touchCredit = credits
      .filter(!isConv && col("rn") <= maxTouches + 1)
      .select(col("event_type").as("channel"),
        expr(s"${grains}L div n_t").as("g"))
    val directCredit = credits.filter(isConv && col("n_t") === 0)
      .select(lit("direct").as("channel"), lit(grains).as("g"))
    touchCredit.unionByName(directCredit)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("g")).as("credit_grains"))
      .withColumn("credit",
        col("credit_grains").cast("double") / lit(grains.toDouble))
      .orderBy(col("channel"))
  }

  /** Driver binding (q130): purchases attributed over click/view/
    * signup touches, last-4 window. Oracle: the identical two-window
    * SQL with `12 // n` integer grains.
    */
  def q130LinearAttribution(s: SparkSession, d: String): DataFrame =
    linearAttribution(
      Tables.events(s, d)
        .select(col("user_id"), tsUs.as("us"), col("event_id"), col("event_type")),
      conversionType = "purchase",
      touchTypes = Seq("click", "view", "signup"),
      maxTouches = 4)

  /** Concurrency histogram (q131): the classic sweep-line over a set
    * of `[start_us, end_us]` intervals — how much wall-clock time was
    * spent at each concurrency level (0 = idle gaps inside the
    * observed span, peak level = max simultaneous intervals). The
    * capacity-planning primitive behind "how many sessions were open
    * at once": each interval contributes `+1` at its start and `-1`
    * just past its inclusive end, and the running delta sum ordered by
    * `(ts, delta)` (departures before arrivals on ties, so touching
    * intervals never stack) IS the concurrency level after that
    * boundary; the level holds until the next boundary.
    *
    * Scale shape: the global running sum is [[graft.operators.Curation]]'s
    * two-phase scan specialized to TIME buckets — boundaries land in
    * `bucketUs`-wide buckets (bucket order = time order by
    * construction), each bucket computes its local running sum and
    * local LEAD under one bucket-partitioned window, and the
    * driver folds per-bucket delta totals into exclusive level
    * offsets plus each bucket's successor start time (the LEAD of a
    * bucket-final boundary), rejoined via one broadcast. One data
    * shuffle; no SinglePartition window; bucket row counts are bounded
    * by arrival rate x bucketUs, not corpus size.
    *
    * @param intervals `(start_us, end_us)`, end inclusive,
    *                  end >= start.
    * @return `(level, total_us)` ordered by level; Σ total_us spans
    *         min(start) to max(end)+1 exactly.
    */
  def concurrencyHistogram(
      intervals: DataFrame, bucketUs: Long = 3600L * 1000 * 1000): DataFrame = {
    require(bucketUs >= 1, s"bucketUs must be positive, got $bucketUs")
    val s = intervals.sparkSession
    import s.implicits._
    val deltas = intervals.select(col("start_us").as("ts"), lit(1L).as("delta"))
      .unionByName(intervals.select((col("end_us") + 1).as("ts"), lit(-1L).as("delta")))
      .withColumn("bucket", expr(s"ts div ${bucketUs}L"))
    // driver fold: per-bucket delta totals -> exclusive level offsets,
    // plus the next non-empty bucket's first boundary (for cross-bucket
    // LEAD); boundary count is ~2 rows per interval / bucketUs window
    val stats = deltas.groupBy(col("bucket"))
      .agg(sum(col("delta")).as("bt"), min(col("ts")).as("t0"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val offs = stats.map(_._1).zip(stats.map(_._2).scanLeft(0L)(_ + _))
    val succ = stats.drop(1).map(t => Option(t._3)) :+ None
    val aux = offs.zip(succ)
      .map { case ((b, off), nxt) => (b, off, nxt) }
      .toSeq.toDF("bucket", "off", "nxt0")
    val w = Window.partitionBy(col("bucket")).orderBy(col("ts"), col("delta"))
    deltas
      .withColumn("lvl_local",
        sum(col("delta")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("lead_local", lead(col("ts"), 1).over(w))
      .join(broadcast(aux), Seq("bucket"))
      .withColumn("level", col("off") + col("lvl_local"))
      .withColumn("dur", coalesce(col("lead_local"), col("nxt0")) - col("ts"))
      .groupBy(col("level"))
      .agg(sum(coalesce(col("dur"), lit(0L))).as("total_us"))
      .orderBy(col("level"))
  }

  /** Driver binding (q131): concurrency profile of q36's 30-minute-gap
    * user sessions. Oracle: the same sweep with one plain global
    * window — the bucketed two-phase scan must reproduce it
    * bit-for-bit.
    */
  def q131Concurrency(s: SparkSession, d: String): DataFrame =
    concurrencyHistogram(q36Sessionize(s, d).select(col("start_us"), col("end_us")))

  /** EWMA smoothing factor as an exact rational: alpha = 3/16. The
    * update e_t = (3·x_t + 13·e_{t−1}) div 16 is INTEGER arithmetic on
    * 1e6-fixed-point values — replayable (truncating division on
    * nonnegative operands agrees between engines), unlike a float
    * alpha whose recursion compounds rounding divergence.
    */
  val EwmaNum = 3L
  val EwmaDen = 16L

  /** Per-user fixed-point EWMA over the event value series (q165):
    * the sequential time-series primitive — exponential smoothing plus
    * the max per-event deviation from the running smooth (the anomaly
    * magnitude a monitoring rule thresholds). The recursion is
    * order-DEPENDENT, the one shape the window/aggregate algebra can't
    * express: each user's history is folded in (ts, event_id) order
    * inside one typed `mapGroups` closure — per-user state is the
    * bounded-history assumption every sessionization here already
    * makes, and users parallelize freely (ONE shuffle by user, no
    * window, no iteration). The DuckDB oracle replays the exact fold
    * with a struct-element `list_reduce`.
    */
  def q165Ewma(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_id"),
        round(col("value") * lit(1e6)).cast("long").as("x"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (u, it) =>
        val rows = it.toArray.sortBy(r => (r._2, r._3))
        var e = rows.head._4
        var maxDev = 0L
        var i = 1
        while (i < rows.length) {
          val x = rows(i)._4
          val dev = math.abs(x - e)
          if (dev > maxDev) maxDev = dev
          e = (EwmaNum * x + (EwmaDen - EwmaNum) * e) / EwmaDen
          i += 1
        }
        (u, rows.length.toLong, e, maxDev)
      }
      .toDF("user_id", "n_events", "ewma_fp", "max_dev_fp")
      .orderBy(col("user_id"))
  }

  /** q180: the click-enrichment as-of through the NATIVE operator
    * ([[graft.plans.NativeAsOf]] — custom logical plan, planner
    * strategy, streaming-merge exec, filter-transposition rule): every
    * error event gains that user's latest click AT OR BEFORE its time
    * (ties: greatest click event_id). Same pipeline role as q35 but
    * deliberately its own semantics (q35's window formulation is
    * strictly-previous-ROW; this is the <=-time contract every as-of
    * engine documents), its own physical shape (two co-partitioned
    * exchanges + O(1)-state merge; no window, no union), and its own
    * full DuckDB replay.
    */
  def q180AsofNative(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), tsUs.as("ts_us"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), tsUs.as("ts_us"))
    graft.plans.NativeAsOf
      .asOf(errors, clicks, Seq("user_id"), "ts_us", tieBreak = Seq("click_id"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof_ts_us").as("asof_click_us"), col("asof_click_id"))
      .orderBy(col("event_id"))
  }

  /** Tolerance bound for [[q183AsofTolerance]]: 10 minutes in micros —
    * an error's "causing" click must be recent, not just previous.
    */
  val AsofToleranceUs: Long = 600000000L

  /** q183: the q180 enrichment under a `merge_asof(tolerance=…)`
    * bound — the latest click at or before each error counts only if
    * it happened within [[AsofToleranceUs]]; staler matches null out.
    * Same native operator, same O(1)-state merge (the bound is one
    * long compare on the already-projected time slot), same two
    * exchanges — the tolerance never becomes a join predicate that
    * would force a range-join rewrite.
    */
  def q183AsofTolerance(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), tsUs.as("ts_us"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), tsUs.as("ts_us"))
    graft.plans.NativeAsOf
      .asOf(errors, clicks, Seq("user_id"), "ts_us",
        tieBreak = Seq("click_id"), tolerance = Some(AsofToleranceUs))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof_ts_us").as("asof_click_us"), col("asof_click_id"))
      .orderBy(col("event_id"))
  }

  /** CUSUM decision-interval threshold as a multiple of the allowance
    * (h = 8k): fixed so both engines derive it from the same integer.
    */
  val CusumHMult = 8L

  /** q185: one-sided CUSUM changepoint detection per user (Page '54) —
    * the SEQUENTIAL drift monitor the distributional drift checks
    * (q100 histogram drift, q110 source drift) can't express: those
    * compare two populations; CUSUM walks each user's event stream in
    * time order and accumulates evidence s_i = max(0, s_{i-1} + x_i −
    * k), flagging the first time the statistic crosses h. Everything
    * is exact fixed-point (the q165 `round(value·1e6)` idiom): the
    * allowance k is the floor of the global fixed-point mean, h = 8k.
    *
    * The recursion is NOT computed recursively: by the reflection
    * identity s_i = p_i − min(0, min_{j≤i} p_j) with p the prefix sum
    * of (x − k), the whole statistic is two stacked running windows —
    * per-user partitioned, codegen'd, zero driver iteration, and an
    * unrolled-free SQL replay. At 100 TB the cost is one shuffle on
    * user_id; the windows stream each partition once.
    *
    * @return per user: event count, the max CUSUM statistic, how many
    *         samples sat above h, and the first crossing time (null
    *         when the user never drifts).
    */
  def q185Cusum(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), tsUs.as("ts_us"),
        round(col("value") * lit(1e6)).cast("long").as("x"))
    // allowance: floor of the global mean, one broadcast row (never a
    // driver collect) — IntegralDivide truncates, DuckDB // floors;
    // identical on this non-negative domain
    val kRow = e.agg(expr("sum(x) div count(1)").as("k"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = e.crossJoin(broadcast(kRow))
      .withColumn("p", sum(col("x") - col("k")).over(w))
    val cusum = p
      .withColumn("s", col("p") - least(min(col("p")).over(w), lit(0L)))
    cusum
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("s")).as("max_cusum"),
        sum(when(col("s") > col("k") * lit(CusumHMult), 1L)
          .otherwise(0L)).as("n_above"),
        min(when(col("s") > col("k") * lit(CusumHMult), col("ts_us")))
          .as("first_cross_us"))
      .orderBy(col("user_id"))
  }

  /** q192: TWO-SIDED CUSUM — the deployment form of q185: an upward
    * chart (s⁺, accumulating x − k) AND a downward chart (s⁻,
    * accumulating k − x) walk each user's stream together, so both a
    * surge and a collapse in the metric are flagged. Each side is the
    * same reflection identity on its own prefix sum; since the
    * downward prefix is the NEGATED upward one, both charts fall out
    * of ONE cumulative sum plus a running min AND a running max —
    * still two stacked windows over one user_id shuffle, no second
    * pass. Same exact fixed-point conventions as q185 (allowance =
    * floored global mean, threshold 8k per side).
    */
  def q192CusumTwoSided(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), tsUs.as("ts_us"),
        round(col("value") * lit(1e6)).cast("long").as("x"))
    val kRow = e.agg(expr("sum(x) div count(1)").as("k"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = e.crossJoin(broadcast(kRow))
      .withColumn("p", sum(col("x") - col("k")).over(w))
    // s_up from the running MIN of p; s_down from the running MAX
    // (the negated series' running min) — one cumsum serves both
    val cusum = p
      .withColumn("s_up", col("p") - least(min(col("p")).over(w), lit(0L)))
      .withColumn("s_dn", greatest(max(col("p")).over(w), lit(0L)) - col("p"))
    val h = col("k") * lit(CusumHMult)
    cusum
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("s_up")).as("max_cusum_up"),
        max(col("s_dn")).as("max_cusum_down"),
        sum(when(col("s_up") > h, 1L).otherwise(0L)).as("n_above_up"),
        sum(when(col("s_dn") > h, 1L).otherwise(0L)).as("n_above_down"),
        min(when(col("s_up") > h || col("s_dn") > h, col("ts_us")))
          .as("first_cross_us"))
      .orderBy(col("user_id"))
  }

  /** q188: NEAREST as-of through the native operator — every error
    * event gains that user's click closest in time in EITHER
    * direction (distance ties to the earlier click; same-time ties
    * within a side keep the side's own rule: greatest id backward,
    * smallest id forward). The merge already holds both candidates —
    * the retained row and the lookahead — so nearest costs one extra
    * long compare, still O(1) state.
    */
  def q188AsofNearest(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), tsUs.as("ts_us"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), tsUs.as("ts_us"))
    graft.plans.NativeAsOf
      .asOf(errors, clicks, Seq("user_id"), "ts_us",
        tieBreak = Seq("click_id"), direction = "nearest")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof_ts_us").as("near_click_us"), col("asof_click_id"))
      .orderBy(col("event_id"))
  }

  /** q184: FORWARD as-of through the native operator — every error
    * event gains that user's EARLIEST view at or after its time (the
    * "next action after the failure" read; ties resolve to the
    * smallest view event_id, first in child sort order). Direction is
    * a compare-sign flip inside the same one-pass merge: the exec
    * consumes right rows strictly behind the left row and matches the
    * lookahead itself, still one retained row + one lookahead of
    * state.
    */
  def q184AsofForward(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), tsUs.as("ts_us"))
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), tsUs.as("ts_us"))
    graft.plans.NativeAsOf
      .asOf(errors, views, Seq("user_id"), "ts_us",
        tieBreak = Seq("view_id"), direction = "forward")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof_ts_us").as("next_view_us"), col("asof_view_id"))
      .orderBy(col("event_id"))
  }

  /** q204: robust outlier detection via median/MAD — the monitor
    * family's robust member: z-scores (exact-moment profiling, q47)
    * break down when the contamination itself inflates the mean and
    * std; median and MAD have a 50% breakdown point (Hampel '74).
    * Exact per-group medians cost a corpus sort per group at 100 TB,
    * so both location and scale come from the q195 bottom-k pair
    * sample: three LINEAR passes (sample → deviation sample → count),
    * each map-side combined with 2k longs of state per group, medians
    * broadcast back as O(groups) rows. The outlier test
    * |x − med| > 3·1.4826·MAD is evaluated as the integer comparison
    * dev·10000 > 44478·mad, so the whole query hash-matches its
    * replay.
    */
  def q204MadOutliers(s: SparkSession, d: String): DataFrame =
    madOutliersOf(Tables.events(s, d))

  /** [[q204MadOutliers]] over any `(event_type, event_id, value)` frame. */
  private[graft] def madOutliersOf(events: DataFrame): DataFrame = Scope.pinned { sc =>
    val fx = sc.persist(events
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        graft.operators.Corpus.hllKey(col("event_id").cast("string")).as("h"),
        round(col("value") * lit(1e6)).cast("long").as("v")))
    // sample p50 of a (event_type, h, metric) frame — the q195
    // read-out restricted to the median
    def sampleP50(df: DataFrame, metric: String, name: String): DataFrame = df
      .groupBy(col("event_type"))
      .agg(SamplePairsAgg.sketch(col("h"), col(metric)).as("pairs"))
      .select(col("event_type"), SamplePairsAgg.quantile(col("pairs"), 50).as(name))
    val med = sampleP50(fx, "v", "med_fx")
    val dev = fx.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("v") - col("med_fx")))
    val mad = sampleP50(dev, "dev", "mad_fx")
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(col("med_fx")).as("med_fx"), // constant per group
        max(col("mad_fx")).as("mad_fx"),
        // widened BEFORE the multiply: dev and mad are value-domain
        // longs, and a long product would wrap silently past 2^63
        // (dev >= ~9.2e14) while the DuckDB replay multiplies in
        // HUGEINT — decimal(19,0) holds any long, and the products
        // stay at 24 digits, far under the decimal ceiling
        sum(when(col("dev").cast("decimal(19,0)") * lit(10000L).cast("decimal(5,0)")
            > col("mad_fx").cast("decimal(19,0)") * lit(44478L).cast("decimal(5,0)"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** q198: exact-arithmetic OLS trend per event_type — the drift-RATE
    * signal completing the monitor family: the two-population checks
    * (q100/q110) detect THAT a distribution moved, CUSUM (q185/q192)
    * detects WHEN a level shifted; the regression slope says how fast
    * a metric is drifting and in which direction.
    *
    * The slope num/den ((nΣxy−ΣxΣy) / (nΣx²−(Σx)²)) is computed
    * entirely in integers: x = minutes since epoch (BIGINT floor), y
    * the 1e6 fixed-point value, per-row products in longs (bounded:
    * x<2^26, y<2^31), sums widened to DECIMAL(38,0) — so engine and
    * DuckDB (HUGEINT) agree bit-for-bit, where a float OLS never
    * hashes. Emitted as a sign plus |slope|·1440 (fx units per day,
    * truncating division on nonnegative operands, so `/` = `//`).
    *
    * Scale shape: ONE partial-aggregated pass over events (five
    * map-side-combined sums per group), then O(groups) driver-free
    * read-out rows. No window, no sort, no second pass — the moment
    * matrix is the whole query, which is why OLS is the 100 TB-safe
    * trend detector.
    */
  def q198Trend(s: SparkSession, d: String): DataFrame =
    trendOf(Tables.events(s, d))

  /** [[q198Trend]] over any `(event_type, ts: Long nanos, value)` frame. */
  private[graft] def trendOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val e = events
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("(ts div 1000) div 60000000").as("x"), // minutes since epoch
        round(col("value") * lit(1e6)).cast("long").as("y"))
    val d38 = "decimal(38,0)"
    val m = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("sx"),
        sum(col("y").cast(d38)).as("sy"),
        // per-row products widened BEFORE the multiply: y is a
        // value-domain long (|value| > ~3e5 would push x*y past 2^63
        // and a long product wraps silently, where the DuckDB oracle
        // multiplies in HUGEINT) — decimal(12,0) holds any
        // minutes-epoch x, decimal(25,0) any long y, and the product
        // precision (38) never overflows
        sum((col("x").cast("decimal(12,0)") * col("y").cast("decimal(25,0)"))
          .cast(d38)).as("sxy"),
        sum((col("x").cast("decimal(12,0)") * col("x").cast("decimal(12,0)"))
          .cast(d38)).as("sxx"))
    m.as[(String, Long, java.math.BigDecimal, java.math.BigDecimal,
        java.math.BigDecimal, java.math.BigDecimal)]
      .map { case (et, n, sx0, sy0, sxy0, sxx0) =>
        val (sx, sy, sxy, sxx) =
          (BigInt(sx0.toBigInteger), BigInt(sy0.toBigInteger),
            BigInt(sxy0.toBigInteger), BigInt(sxx0.toBigInteger))
        val num = sxy * n - sx * sy
        val den = sxx * n - sx * sx // >= 0 by Cauchy-Schwarz
        val slope =
          if (den == 0) 0L else (num.abs * 1440 / den).toLong
        (et, n, num.signum.toLong, slope)
      }
      .toDF("event_type", "n_events", "trend_sign", "slope_fx_per_day")
      .orderBy(col("event_type"))
  }
}
