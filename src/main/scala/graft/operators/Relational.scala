package graft.operators

import graft.{Scope, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational operator layer — the analytics capabilities the reference's
  * MapReduce idioms exist to express (SURVEY.md §2.2/§2.3), as declarative
  * DataFrame plans so Catalyst handles pushdown, partial aggregation, join
  * selection and AQE.
  *
  * Determinism note: money columns are summed as DECIMAL (exact, order
  * independent) and only cast to DOUBLE at the end, so results hash-match
  * the DuckDB oracle regardless of distributed reduction order. Every
  * query ends in a total ORDER BY for a deterministic row order.
  */
object Relational {

  /** Exact, order-independent revenue term:
    * extendedprice * (1 - discount) in decimal arithmetic.
    */
  private def discPrice: Column =
    col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1) - col("l_discount")).cast(DecimalType(8, 2))

  /** Q1-style pricing summary: scan + filter + group-agg with partial
    * aggregation (reference idiom: word count / in-mapper combining,
    * docs.rst:139-159, 197-283 — Catalyst's HashAggregate partial/final
    * replaces the hand-rolled combiner).
    */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        sum(discPrice * (lit(1) + col("l_tax")).cast(DecimalType(8, 2))).cast("double").as("sum_charge"),
        (sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Filter + projection — must reach the parquet scan as PushedFilters +
    * pruned ReadSchema (verified in PlanSpec).
    */
  def q2FilterProject(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 45 && col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** 3-way join (broadcast dim) + group-agg: revenue per market segment. */
  def q3JoinAgg(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(discPrice).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("c_mktsegment"))
  }

  /** Q5-style 6-way join through the star schema: revenue per nation where
    * the customer and supplier share a nation. All dims broadcast; only
    * lineitem⋈orders shuffles.
    */
  def q4JoinMulti(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d)
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d)
    val sup = Tables.supplier(s, d)
    l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c),
        o("o_custkey") === c("c_custkey") && c("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(discPrice).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Left-semi join (EXISTS): orders containing a near-max-quantity item. */
  def q5SemiJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d).filter(col("l_quantity") >= 49).select(col("l_orderkey"))
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Left-anti join (NOT EXISTS): customers with no high-value order. */
  def q6AntiJoin(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_totalprice") > 150000)
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Window ranking: top-3 customers per market segment by balance
    * (reference idiom: top-k via Counter.most_common, docs.rst:57-58 —
    * generalized to per-group ranking).
    */
  def q7WindowTopK(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"), col("rn"))
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  /** Running (cumulative) sum per user over event time — decimal-exact.
    * Event time ordered at microsecond precision (`ts div 1000` of the
    * nanos long) to match micro-precision timestamp engines exactly.
    */
  def q8WindowRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(expr("ts div 1000"), col("event_id"))
    Tables.events(s, d)
      .withColumn("running",
        sum(col("value").cast(DecimalType(18, 6))).over(w).cast("double"))
      .select(col("user_id"), col("event_id"), col("running"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** SQL front door (q149): the five-table TPC-H-ish revenue rollup
    * expressed as ONE ANSI SQL string through `spark.sql(...)` over
    * registered temp views — the entry path a shared-cluster SQL user
    * takes (the DataFrame bindings everywhere else are the library
    * path). Catalyst sees the identical logical plan either way:
    * SqlEntrySpec pins optimized-plan equality against the DataFrame
    * twin, so this is proven to be the same engine, not a parallel
    * implementation. DECIMAL money conventions as in q03.
    */
  def q149SqlEntry(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
    Tables.orders(s, d).createOrReplaceTempView("v_orders")
    Tables.customer(s, d).createOrReplaceTempView("v_customer")
    Tables.nation(s, d).createOrReplaceTempView("v_nation")
    Tables.region(s, d).createOrReplaceTempView("v_region")
    s.sql("""
      SELECT r_name AS region, n_name AS nation,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_items
      FROM v_lineitem
      JOIN v_orders ON l_orderkey = o_orderkey
      JOIN v_customer ON o_custkey = c_custkey
      JOIN v_nation ON c_nationkey = n_nationkey
      JOIN v_region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY region, nation""")
  }

  /** Recursive CTE (q150) — new SQL surface in Spark 4 (SPARK-24497):
    * bounded-hop reachability over the q53 co-purchase edge set from
    * the seed parts (partkey < 100 among high-quantity items), hop
    * count as the recursion depth, UNION-ALL body with an explicit
    * hop bound and a min(hop) rollup — the BOM/lineage-walk shape that
    * previously required driver-side iteration (the q53/q73 loops).
    * The iterative operators stay the scale path (per-round lineage
    * truncation, persisted edges); this pins the SQL front door on the
    * same semantics. Deterministic: min(hop) per reachable part.
    */
  def q150RecursiveCte(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
    s.sql("""
      WITH RECURSIVE hi AS (
        SELECT l_orderkey, l_partkey FROM v_lineitem WHERE l_quantity >= 49),
      e AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM hi a JOIN hi b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      reach(p, hop) AS (
        SELECT DISTINCT l_partkey AS p, 0 AS hop FROM hi WHERE l_partkey < 100
        UNION ALL
        SELECT e.dst AS p, r.hop + 1 AS hop
        FROM reach r JOIN e ON e.src = r.p
        WHERE r.hop < 2)
      SELECT p AS l_partkey, CAST(MIN(hop) AS BIGINT) AS min_hops
      FROM reach GROUP BY p
      ORDER BY l_partkey""")
  }

  /** LATERAL correlated subquery (q151): per nation, the top-2
    * customers by account balance through a LATERAL ORDER BY/LIMIT —
    * the per-group top-k expressed the way a SQL user writes it (the
    * engine plans the same WindowGroupLimit family as the q07
    * DataFrame form). Deterministic via the (acctbal DESC, custkey)
    * tie-break.
    */
  def q151LateralTopN(s: SparkSession, d: String): DataFrame = {
    Tables.nation(s, d).createOrReplaceTempView("v_nation")
    Tables.customer(s, d).createOrReplaceTempView("v_customer")
    s.sql("""
      SELECT n_name AS nation, c.c_name AS customer, c.c_acctbal AS acctbal
      FROM v_nation,
      LATERAL (
        SELECT c_name, c_acctbal FROM v_customer
        WHERE c_nationkey = n_nationkey
        ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
      ORDER BY nation, acctbal DESC, customer""")
  }

  /** VARIANT semi-structured shredding (q152) — Spark 4's open VARIANT
    * type: `parse_json` once into a binary variant, typed
    * `variant_get` extraction in the aggregate. At 100 TB this is the
    * semi-structured path that beats per-access JSON string re-parsing
    * (the q39 `get_json_object` family): one parse, many typed reads,
    * and engines can shred the variant columnar. The oracle reads the
    * same fields through DuckDB's JSON accessors — different decoder,
    * same typed values, so a shredding bug on either side mismatches.
    */
  def q152VariantShred(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("k")).as("n_distinct_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** Collation-aware grouping (q154) — Spark 4 collations: group under
    * UTF8_LCASE so case variants land in one group WITHOUT rewriting
    * the data, and report the per-group raw-spelling count — the
    * dirty-categorical normalization audit. Case variation is planted
    * deterministically (event_id % 3 → UPPER), since the corpus itself
    * is clean; the output representative is `lower(...)` re-collated to
    * binary, so it is deterministic and parquet-plain. The oracle
    * groups by `lower(v)` — for ASCII the two semantics provably
    * coincide, which is exactly the cross-check.
    */
  def q154CollationGroup(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        when(col("event_id") % 3 === 0, upper(col("event_type")))
          .otherwise(col("event_type")).as("et"))
      .groupBy(expr("collate(et, 'UTF8_LCASE')").as("k"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("et")).as("n_spellings"))
      .select(expr("collate(lower(k), 'UTF8_BINARY')").as("event_type_ci"),
        col("n_events"), col("n_spellings"))
      .orderBy(col("event_type_ci"))

  /** Trailing event-time interval aggregate (q148): per event, the
    * DECIMAL-exact value sum and event count over the user's trailing
    * 10 minutes of EVENT TIME — a RANGE frame over the micros key, the
    * window family q08's ROWS frames can't express (a burst of events
    * inside one minute all share nearly the same trailing window; a
    * rows-based frame would see fixed row counts instead of a time
    * horizon). This is the rolling-exposure shape behind rate limits
    * and spend caps.
    *
    * Determinism: RANGE frames are defined by the ORDER BY VALUE (the
    * micros key), not row position, so peers (equal timestamps) share
    * one frame on both engines and no row-order tie-break is needed.
    * Scale: one user-partitioned window — never a global sort.
    */
  def q148RangeWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-600000000L, 0L) // trailing 10 minutes, inclusive
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"), col("value"))
      .withColumn("trail_sum",
        sum(col("value").cast(DecimalType(18, 6))).over(w).cast("double"))
      .withColumn("trail_n", count(lit(1)).over(w))
      .select(col("user_id"), col("event_id"), col("trail_sum"), col("trail_n"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** lag(): per-user delta between consecutive event values. */
  def q9WindowLag(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(expr("ts div 1000"), col("event_id"))
    Tables.events(s, d)
      .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("value"), col("delta"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Global top-k: ORDER BY ... LIMIT k (TakeOrderedAndProject — no full
    * sort at scale).
    */
  def q10TopKOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** Multi-distinct aggregation (reference idiom: len(set(values)) per key,
    * docs.rst:396-397).
    */
  def q11DistinctAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** ROLLUP hierarchy totals. */
  def q12Rollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("sum_qty"), col("n"))
      .orderBy(col("rflag"), col("lstatus"))

  /** Set ops: symmetric difference of BUILDING-segment customers and
    * big-spender customers — UNION/INTERSECT/EXCEPT in one plan.
    */
  def q13SetOps(s: SparkSession, d: String): DataFrame = {
    val a = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    val b = Tables.orders(s, d)
      .filter(col("o_totalprice") > 200000)
      .select(col("o_custkey").as("k"))
    a.union(b).distinct()
      .except(a.intersect(b))
      .orderBy(col("k"))
  }

  /** THE canonical reference program (docs.rst:139-159): word count over
    * the documents corpus, top-100. `split`+`explode`+`groupBy.count` is
    * the declarative form of mapper-emit + shuffle + reducer-sum, with
    * Catalyst's partial aggregation playing the in-mapper combiner.
    */
  def q14WordCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(100)

  /** Date-part extraction + group-agg: monthly order volume. */
  def q15DateAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total"))
      .orderBy(col("yr"), col("mo"))

  /** CUBE: all grouping combinations. */
  def q30Cube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("sum_qty"), col("n"))
      .orderBy(col("rflag"), col("lstatus"))

  /** GROUPING SETS: two independent one-dimension aggregates in one pass. */
  def q31GroupingSets(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("sum_qty"), col("n"))
      .orderBy(col("rflag"), col("lstatus"))

  /** String scalar-function suite: upper/lower/substr/length/concat/LIKE.
    * The predicate is deliberately selective-but-nonempty on this corpus
    * (p_type values are single upper-case words: LARGE/STANDARD match).
    */
  def q32StringFuncs(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(lower(col("p_type")).like("%ar%"))
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        substring(col("p_name"), 1, 12).as("name_prefix"),
        length(col("p_name")).cast("long").as("name_len"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"))
      .orderBy(col("p_partkey"))

  /** UNION ALL with a source tag (multi-input concatenation — the
    * reference's multi-file ingestion idiom, docs.rst:358).
    */
  def q33UnionAll(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(lit("o").as("src"))
      .union(Tables.lineitem(s, d).select(lit("l").as("src")))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("src"))

  /** Range join: facts against a broadcast band dimension on a non-equi
    * interval condition. With the dim broadcast this is a
    * BroadcastNestedLoopJoin over k bands — O(n·k) with k tiny, never a
    * shuffle; for large band tables the equi-join rewrite is bucketizing
    * the fact value to a band id first.
    */
  def q38RangeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = Seq(("low", 0.0, 10.0), ("mid", 10.0, 25.0), ("high", 25.0, 100.0))
      .toDF("band", "lo", "hi")
    Tables.lineitem(s, d)
      .join(broadcast(bands),
        col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy(col("band"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
      .orderBy(col("band"))
  }

  /** JSON scalar functions: extract a field from the event props blob
    * and aggregate it — codegen'd get_json_object, no UDF.
    */
  def q39Json(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))

  /** Array aggregation: collect_list made deterministic via sort_array,
    * serialized to CSV for engine-portable comparison.
    */
  def q40ArrayAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(array_join(sort_array(collect_list(col("event_type"))), ",").as("events_csv"))
      .orderBy(col("user_id"))

  /** Pivot: per-user event-type counts as columns (explicit value list —
    * at scale an implicit pivot would need a distinct-scan first).
    */
  private val PivotEventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** The wide zero-filled per-user event-type counts, UNSORTED — shared
    * by q41 (which orders it for output) and q140 (which melts it; an
    * orderBy here would cost the melt a wasted range exchange).
    */
  private def pivotWide(s: SparkSession, d: String): DataFrame = {
    val pivoted = Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", PivotEventTypes)
      .agg(count(lit(1)))
    PivotEventTypes.foldLeft(pivoted) { (df, t) =>
      df.withColumn(t, coalesce(col(t), lit(0L)))
    }
  }

  def q41Pivot(s: SparkSession, d: String): DataFrame =
    pivotWide(s, d).orderBy(col("user_id"))

  /** Unpivot / melt (q140): the inverse of [[q41Pivot]] — the wide
    * zero-filled per-user event-type counts back to long
    * (user_id, event_type, n) via the native `Dataset.unpivot`
    * (SQL melt). Wide-to-long is the missing half of the reshape
    * surface: pivot for reporting, melt for feeding long-format
    * consumers (plotting, ML feature stores, the q99-style profilers).
    *
    * Scale shape: unpivot is an Expand over the wide frame — row count
    * multiplies by the measure-column count but NO exchange is added;
    * the only shuffles in the composed plan are the pivot's own
    * two-phase aggregate and the output sort (the melt reads the
    * UNSORTED wide frame — composing over q41's sorted output would
    * pay a wasted range exchange). The oracle rebuilds the same long
    * frame relationally (users x types, zero-filled left join).
    */
  def q140Unpivot(s: SparkSession, d: String): DataFrame =
    pivotWide(s, d)
      .unpivot(Array(col("user_id")), PivotEventTypes.map(col).toArray,
        "event_type", "n")
      .orderBy(col("user_id"), col("event_type"))

  /** Sketch-based approximate aggregates — the 100 TB path where exact
    * distinct counts/quantiles would shuffle full key sets: HLL++ and
    * KLL-style quantile sketches are O(1) state per group and
    * map-combinable. No SQL oracle (approximate by design) -> rows-only.
    */
  def q37ApproxStats(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("median_qty"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000)).as("p95_price"))
      .orderBy(col("l_returnflag"))

  /** Bin count of the replayable histogram-quantile sketch (q160). */
  val HistBins = 64

  /** Replayable histogram quantile sketch (q160): q37's
    * `percentile_approx` surface re-seated on a transparent structure —
    * per-group fixed-bin histograms over the [min, max] value domain,
    * quantiles read off as bin upper edges. Completes the replayable
    * sketch trio (q158 count-min = frequency, q159 HLL = cardinality,
    * this = quantiles): exact percentiles need a full sort per group;
    * this needs TWO map-side-combinable passes (bounds+count, then bin
    * counts) with O(bins) state per group, merge = cell-wise sum —
    * the shape that survives when the per-group row count stops
    * fitting a sort. The estimate's guarantee is value-domain: the
    * true q-quantile lies inside the reported bin, so the edge is
    * within one bin width (max−min)/64 of it — HistQuantileSpec pins
    * the bound against exact percentiles; the driver hash-matches
    * every bin/edge/count because binning and edges are plain IEEE
    * arithmetic both engines execute identically (ranks are computed
    * in INTEGER arithmetic — ceil(q·n) = (n·q% + 99) div 100 — to keep
    * floats out of the comparison path).
    */
  def q160HistQuantiles(s: SparkSession, d: String): DataFrame =
    histQuantilesOf(Tables.events(s, d)
      .select(col("event_type"), col("value").cast("double").as("v")))

  /** [[q160HistQuantiles]] over any `(event_type, v: double)` frame
    * (HistQuantileSpec drives randomized and degenerate groups through
    * this).
    */
  private[operators] def histQuantilesOf(ev: DataFrame): DataFrame = {
    val bounds = ev.groupBy(col("event_type"))
      .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"),
        count(lit(1)).as("n"))
    val b = lit(HistBins.toDouble)
    val binned = ev.join(broadcast(bounds), "event_type")
      // constant groups (vmax == vmin) pin to bin 0 rather than 0/0
      .withColumn("bin", when(col("vmax") === col("vmin"), lit(0L))
        .otherwise(least(
          floor((col("v") - col("vmin")) * b / (col("vmax") - col("vmin")))
            .cast("long"),
          lit(HistBins - 1L))))
      .groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("c"))
    // per-group cumulative over <= 64 rows, group-partitioned window
    val cum = binned.withColumn("cum",
        sum(col("c")).over(
          Window.partitionBy(col("event_type")).orderBy(col("bin"))))
      .join(broadcast(bounds), "event_type")
    def kq(pct: Int) = expr(s"CAST((n * $pct + 99) DIV 100 AS BIGINT)")
    def pick(pct: Int, name: String) =
      min(when(col("cum") >= kq(pct), col("bin"))).as(name)
    val picks = cum
      .groupBy(col("event_type"), col("n"), col("vmin"), col("vmax"))
      .agg(pick(50, "b50"), pick(95, "b95"), pick(99, "b99"))
    def edge(c: Column) =
      col("vmin") + (c + lit(1L)).cast("double") * ((col("vmax") - col("vmin")) / b)
    picks.select(col("event_type"), col("n"), col("vmin"), col("vmax"),
        edge(col("b50")).as("p50_est"), edge(col("b95")).as("p95_est"),
        edge(col("b99")).as("p99_est"))
      .orderBy(col("event_type"))
  }

  /** Histogram-sketch MERGE (q168): [[q160HistQuantiles]]'s missing
    * algebraic half. q160's per-group bins ride each group's own
    * [min, max], so they cannot merge ACROSS groups; this variant bins
    * every group on the GLOBAL domain — one extra 1-row bounds
    * pre-pass — making per-group histograms unit-compatible: the
    * global histogram is their plain cell-wise SUM (how 1000 shards'
    * quantile sketches combine on a coordinator). Output: quantile
    * edges per scope — each event_type AND the 'GLOBAL' row computed
    * from the MERGED cells, never from a re-scan. One window,
    * scope-partitioned (no SinglePartition even for the global
    * read-out: the merged cells are just another scope).
    */
  def q168HistMerge(s: SparkSession, d: String): DataFrame =
    histMergeOf(Tables.events(s, d)
      .select(col("event_type"), col("value").cast("double").as("v")))

  /** [[q168HistMerge]] over any `(event_type, v: double)` frame. */
  private[operators] def histMergeOf(ev: DataFrame): DataFrame = Scope.pinned { sc =>
    val b = lit(HistBins.toDouble)
    val bounds = ev.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    val binned = sc.persist(ev.crossJoin(broadcast(bounds))
      .withColumn("bin", when(col("vmax") === col("vmin"), lit(0L))
        .otherwise(least(
          floor((col("v") - col("vmin")) * b / (col("vmax") - col("vmin"))).cast("long"),
          lit(HistBins - 1L))))
      .groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("c")))
    // THE MERGE: the global histogram is the cell-wise sum of the
    // per-scope histograms (shared bin space makes this exact)
    val cells = binned.select(col("event_type").as("scope"), col("bin"), col("c"))
      .unionByName(binned.groupBy(col("bin")).agg(sum(col("c")).as("c"))
        .select(lit("GLOBAL").as("scope"), col("bin"), col("c")))
    val ns = cells.groupBy(col("scope")).agg(sum(col("c")).as("n"))
    val cum = cells.withColumn("cum",
        sum(col("c")).over(Window.partitionBy(col("scope")).orderBy(col("bin"))))
      .join(broadcast(ns), "scope")
    def kq(pct: Int) = expr(s"CAST((n * $pct + 99) DIV 100 AS BIGINT)")
    def pick(pct: Int, name: String) =
      min(when(col("cum") >= kq(pct), col("bin"))).as(name)
    val picks = cum.groupBy(col("scope"), col("n"))
      .agg(pick(50, "b50"), pick(95, "b95"), pick(99, "b99"))
      .crossJoin(broadcast(bounds))
    def edge(c: Column) =
      col("vmin") + (c + lit(1L)).cast("double") * ((col("vmax") - col("vmin")) / b)
    picks.select(col("scope"), col("n"),
        edge(col("b50")).as("p50_est"), edge(col("b95")).as("p95_est"),
        edge(col("b99")).as("p99_est"))
      .orderBy(col("scope"))
  }

  /** Correlated-style scalar-subquery filter: customers whose average
    * order value exceeds 1.2x the global average — per-group aggregate
    * joined against a broadcast global scalar (the decorrelated plan a
    * subquery would produce anyway).
    */
  def q47AboveAvg(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val perCust = o.groupBy(col("o_custkey"))
      .agg(
        (sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double") / count(lit(1)))
          .as("avg_price"),
        count(lit(1)).as("n_orders"))
    val global = o.agg(
      (sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double") / count(lit(1)))
        .as("g_avg"))
    perCust.crossJoin(broadcast(global))
      .filter(col("avg_price") > col("g_avg") * 1.2)
      .select(col("o_custkey"), col("avg_price"), col("n_orders"))
      .orderBy(col("o_custkey"))
  }

  /** HAVING: post-aggregation predicate. */
  def q48Having(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 40)
      .orderBy(col("l_partkey"))

  /** Bloom-pruned join (sideways information passing): revenue of
    * lineitems belonging to high-value orders, with the fact side
    * pre-filtered by a Bloom filter of the qualifying order keys BEFORE
    * the exact semi join. The filter is built distributed
    * (`stat.bloomFilter` tree-merges per-partition filters), probes
    * inside whole-stage codegen ([[graft.functions.BloomMightContain]]),
    * and false positives are removed by the exact join that follows —
    * so the result is exactly the semi join and the bloom's only effect
    * is cutting the fact-side shuffle by the build side's selectivity
    * (~96% of lineitem rows dropped pre-exchange here). At 100 TB the
    * fact exchange is the dominant cost; this is the pattern AQE's
    * runtime row-level filtering automates, expressed explicitly so the
    * capacity/FPP trade is under operator control.
    */
  /** Distributed Bloom build with the empty-input hole patched:
    * `DataFrameStatFunctions.bloomFilter` NPEs when the frame has zero
    * rows (the underlying aggregate yields null bytes), but an empty
    * build side is a legitimate runtime state for a pruned join — it
    * must produce the all-false filter, not a crash. Capacity comes
    * from a cheap count over the (already filtered, narrow) build side;
    * at scale use a fixed capacity budget instead of the extra action.
    */
  private[operators] def bloomFilterOf(
      df: DataFrame, column: String, fpp: Double): org.apache.spark.util.sketch.BloomFilter = {
    val n = df.count()
    if (n == 0) org.apache.spark.util.sketch.BloomFilter.create(1, fpp)
    else df.stat.bloomFilter(column, n, fpp)
  }

  def q54BloomJoin(s: SparkSession, d: String): DataFrame = {
    val keys = Tables.orders(s, d)
      .filter(col("o_totalprice") > 200000)
      .select(col("o_orderkey"))
    val bloom = bloomFilterOf(keys, "o_orderkey", 0.01)
    // broadcast HANDOFF, not a plan literal: the filter grows with the
    // build side (~5.5 MiB at sf1) and a literal rides in EVERY task
    // binary — the broadcast ships once per executor
    val bcast = s.sparkContext.broadcast(bloom)

    val pruned = Tables.lineitem(s, d)
      .filter(graft.functions.BloomMightContainBc.column(col("l_orderkey"), bcast))
    pruned.join(keys, pruned("l_orderkey") === keys("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(discPrice).cast("double").as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** Exact global NTILE without the single-reducer sort: SQL's
    * `NTILE(k) OVER (ORDER BY ...)` plans as a ONE-partition window —
    * the "curse of the last reducer" for global ranking, unusable at
    * 100 TB. This is the distributed-exact alternative: range-exchange
    * on (score, id), in-partition sort, per-partition row counts
    * (bounded collect: one long per partition), exclusive prefix sum
    * broadcast back, and a streaming per-partition pass assigning the
    * true global rank and the standard NTILE bucket formula. Output is
    * independent of partition boundaries (any range placement yields
    * the same global ranks), so it is deterministic and bit-identical
    * to the single-partition NTILE.
    *
    * @param scored `(id: Long, score: Long)`; ties broken by id — the
    *               (score, id) pair must be unique for a total order.
    * @return `(id, score, bucket)` with bucket in 1..k, sizes differing
    *         by at most one, earlier buckets taking the remainder —
    *         exactly SQL NTILE semantics.
    */
  def exactNtile(scored: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val s = scored.sparkSession
    import s.implicits._
    val ordered = Scope.lru.persist(scored.select(col("score"), col("id")).as[(Long, Long)]
      .repartitionByRange(col("score"), col("id"))
      .sortWithinPartitions(col("score"), col("id"))) // lifetime as in [[Curation.packSequences]]
    val partCounts = ordered
      .mapPartitions { it =>
        var n = 0L
        it.foreach(_ => n += 1)
        Iterator.single((org.apache.spark.TaskContext.getPartitionId(), n))
      }
      .collect().sortBy(_._1)
    val n = partCounts.map(_._2).sum
    val offsets = new Array[Long](partCounts.map(_._1).maxOption.getOrElse(-1) + 1)
    var acc = 0L
    partCounts.foreach { case (pid, c) => offsets(pid) = acc; acc += c }
    val bc = s.sparkContext.broadcast(offsets)
    val q = n / k
    val rem = n % k
    ordered.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var r = if (pid < bc.value.length) bc.value(pid) else 0L
      it.map { case (score, id) =>
        r += 1
        // SQL NTILE: first (n % k) buckets hold (n/k + 1) rows
        val bucket =
          if (q == 0) r // fewer rows than buckets: row r -> bucket r
          else if (r <= rem * (q + 1)) (r - 1) / (q + 1) + 1
          else rem + (r - rem * (q + 1) - 1) / q + 1
        (id, score, bucket)
      }
    }.toDF("id", "score", "bucket")
  }

  /** Driver binding: quality stratification of the document corpus —
    * 8 exact length octiles (score = n_chars, ties by doc_id), rolled
    * up to per-bucket stats. Oracle: plain NTILE(8) in DuckDB; the
    * two-phase plan must reproduce it bucket-for-bucket.
    */
  def q87NtileStratify(s: SparkSession, d: String): DataFrame =
    exactNtile(
      Tables.documents(s, d)
        .select(col("doc_id").as("id"), col("n_chars").as("score")), 8)
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("score")).as("min_chars"),
        max(col("score")).as("max_chars"),
        sum(col("score")).as("sum_chars"))
      .orderBy(col("bucket"))

  /** Statistical profiling + outlier detection (q91): per-user event
    * value moments and the 2-sigma outlier count. Determinism: the
    * naive `stddev` aggregate accumulates doubles in reduction order —
    * not reproducible distributed, never oracle-matchable. Here both
    * moments are DECIMAL sums (exact, order-free); mean and population
    * variance are derived in a FIXED handful of double ops
    * (cast-divide, multiply-subtract) that both engines evaluate
    * identically, so even the sigma threshold comparisons agree
    * bit-for-bit. Two passes over events, both on the same user_id
    * shuffle; the stats side is one row per user, so Catalyst
    * broadcasts it back for the outlier recount.
    */
  def q91OutlierProfile(s: SparkSession, d: String): DataFrame = {
    val v = col("value").cast(DecimalType(18, 6))
    val stats = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(v).as("sx"),
        sum(v * v).as("sxx"))
      .withColumn("mean", col("sx").cast("double") / col("n"))
      .withColumn("variance",
        col("sxx").cast("double") / col("n") - col("mean") * col("mean"))
    Tables.events(s, d)
      .join(stats, "user_id")
      .groupBy(col("user_id"))
      .agg(
        first(col("n")).as("n"),
        first(col("mean")).as("mean"),
        first(col("variance")).as("variance"),
        sum(when(abs(col("value") - col("mean")) >
          lit(2.0) * sqrt(col("variance")), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy(col("user_id"))
  }

  /** Pairwise Pearson correlation matrix (q133) over DECIMAL moments —
    * the q91 exactness recipe generalized to covariances: ONE
    * aggregation pass computes per-group count plus every first and
    * second moment (`Σx`, `Σx²`, `Σxy` for each pair) as DECIMAL sums,
    * which are order-free and engine-exact, and the correlation
    *   r = (n·Σxy − ΣxΣy) / (√(n·Σx²−(Σx)²) · √(n·Σy²−(Σy)²))
    * is then a FIXED sequence of correctly-rounded double ops on those
    * exact inputs — so the result is bit-identical across engines,
    * unlike built-in `corr()` whose double accumulation is
    * order-dependent (and unlike naive two-pass mean-centered sums,
    * which shuffle twice). Zero-variance columns yield null (guarded
    * on the SAME double comparison both sides).
    *
    * Scale shape: one shuffle (the groupBy), k(k+3)/2 + 1 map-side
    * partial sums; the pair explosion happens AFTER aggregation on the
    * group-sized frame via one `explode` — the input is never
    * re-scanned per pair.
    */
  def correlationMatrix(
      df: DataFrame, grp: String, cols: Seq[String],
      scale: Int = 2): DataFrame = {
    require(cols.size >= 2, "correlationMatrix: need at least two columns")
    val d = (c: String) => col(c).cast(DecimalType(18, scale))
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val moments = cols.map(c => sum(d(c)).as(s"s_$c")) ++
      cols.map(c => sum(d(c) * d(c)).as(s"s_${c}_$c")) ++
      pairs.map { case (x, y) => sum(d(x) * d(y)).as(s"s_${x}_$y") }
    val m = df.groupBy(col(grp))
      .agg(count(lit(1)).as("n"), moments: _*)
    val pairStructs = array(pairs.map { case (x, y) =>
      struct(lit(x).as("var_x"), lit(y).as("var_y"),
        col(s"s_$x").cast("double").as("sx"),
        col(s"s_$y").cast("double").as("sy"),
        col(s"s_${x}_$x").cast("double").as("sxx"),
        col(s"s_${y}_$y").cast("double").as("syy"),
        col(s"s_${x}_$y").cast("double").as("sxy"))
    }: _*)
    val nD = col("n").cast("double")
    val vx = nD * col("p.sxx") - col("p.sx") * col("p.sx")
    val vy = nD * col("p.syy") - col("p.sy") * col("p.sy")
    m.select(col(grp), col("n"), explode(pairStructs).as("p"))
      .withColumn("corr",
        when(vx <= 0 || vy <= 0, lit(null).cast("double"))
          .otherwise((nD * col("p.sxy") - col("p.sx") * col("p.sy")) /
            (sqrt(vx) * sqrt(vy))))
      .select(col(grp), col("p.var_x").as("var_x"),
        col("p.var_y").as("var_y"), col("n"), col("corr"))
      .orderBy(col(grp), col("var_x"), col("var_y"))
  }

  /** Driver binding (q133): quantity/extendedprice/discount
    * correlations per return flag. Oracle: the identical moment sums
    * and double formula in SQL.
    */
  def q133CorrMatrix(s: SparkSession, d: String): DataFrame =
    correlationMatrix(Tables.lineitem(s, d), "l_returnflag",
      Seq("l_quantity", "l_extendedprice", "l_discount"))

  /** Grouped least-squares trend (q136): per group, the OLS line
    * y = slope·x + intercept and its r² — the "is this segment
    * growing and how fast" primitive (per-source token drift, per-
    * priority price trend) that [[correlationMatrix]]'s r alone
    * doesn't give. Same exactness recipe: one aggregation pass of
    * DECIMAL moments (order-free, engine-exact), then a FIXED
    * sequence of correctly-rounded double ops —
    *   slope = (n·Σxy − ΣxΣy) / (n·Σx² − (Σx)²)
    *   intercept = (Σy − slope·Σx) / n
    *   r² = (n·Σxy − ΣxΣy)² / ((n·Σx² − (Σx)²) · (n·Σy² − (Σy)²))
    * — so results are bit-identical across engines. Zero x-variance
    * gives null slope/intercept/r²; zero y-variance gives null r²
    * (guards compare the same doubles both sides).
    *
    * Scale shape: one shuffle (the groupBy) carrying five partial
    * sums + count; nothing per-pair, nothing iterative.
    */
  def groupedOls(
      df: DataFrame, grp: String, x: String, y: String,
      scale: Int = 2): DataFrame = {
    val dx = col(x).cast(DecimalType(18, scale))
    val dy = col(y).cast(DecimalType(18, scale))
    val m = df.groupBy(col(grp)).agg(
      count(lit(1)).as("n"),
      sum(dx).cast("double").as("sx"),
      sum(dy).cast("double").as("sy"),
      sum(dx * dx).cast("double").as("sxx"),
      sum(dy * dy).cast("double").as("syy"),
      sum(dx * dy).cast("double").as("sxy"))
    val nD = col("n").cast("double")
    val vx = nD * col("sxx") - col("sx") * col("sx")
    val vy = nD * col("syy") - col("sy") * col("sy")
    val cov = nD * col("sxy") - col("sx") * col("sy")
    m.withColumn("slope",
        when(vx <= 0, lit(null).cast("double")).otherwise(cov / vx))
      .withColumn("intercept",
        when(vx <= 0, lit(null).cast("double"))
          .otherwise((col("sy") - (cov / vx) * col("sx")) / nD))
      .withColumn("r2",
        when(vx <= 0 || vy <= 0, lit(null).cast("double"))
          .otherwise((cov * cov) / (vx * vy)))
      .select(col(grp), col("n"), col("slope"), col("intercept"), col("r2"))
      .orderBy(col(grp))
  }

  /** Driver binding (q136): order-value trend per priority class, x =
    * integer days since epoch. Oracle: identical moments and double
    * formula in SQL.
    */
  def q136OlsTrend(s: SparkSession, d: String): DataFrame =
    groupedOls(
      Tables.orders(s, d)
        .withColumn("xd", datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")),
      "o_orderpriority", "xd", "o_totalprice")

  /** Snapshot diff (change-data-capture audit): classify every key of
    * two table versions as insert / delete / update / unchanged via ONE
    * full-outer join on the key with the compared attributes carried as
    * structs — no per-column join cascade, no row hashing (struct
    * equality compares in place; a hash would add a collision caveat
    * for zero plan benefit). At 100 TB both snapshots shuffle once on
    * the key — or not at all when stored bucketed by it, the natural
    * layout for versioned tables.
    *
    * Attribute nulls compare with `<=>` so a null-to-value transition
    * classifies as update, not unchanged.
    */
  def snapshotDiff(old: DataFrame, neu: DataFrame,
      key: String, attrs: Seq[String]): DataFrame = {
    val o = old.select(col(key), struct(attrs.map(col): _*).as("_o"))
    val n = neu.select(col(key), struct(attrs.map(col): _*).as("_n"))
    o.join(n, Seq(key), "full_outer")
      .select(col(key),
        when(col("_o").isNull, "insert")
          .when(col("_n").isNull, "delete")
          .when(col("_o") <=> col("_n"), "unchanged")
          .otherwise("update").as("change_type"))
  }

  /** The deterministic "next-day" orders snapshot shared by q94 and
    * q100: keys % 53 deleted, % 31 status-flipped, % 97 cloned as
    * inserts (delete wins on overlap, same precedence in the oracles).
    */
  private def nextOrdersSnapshot(cur: DataFrame): DataFrame = {
    val upd = cur.filter(col("o_orderkey") % 53 =!= 0)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 31 === 0, lit("X")).otherwise(col("o_orderstatus")))
    val ins = cur.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
    upd.unionByName(ins)
  }

  /** Apply a changelog to a snapshot — upsert/merge compaction, the
    * merge-on-read operator of lakehouse tables (Delta/Hudi/Iceberg
    * compaction jobs; SQL MERGE's batch form) and q94's inverse: q94
    * derives the change set between two snapshots, this REPLAYS one.
    * The base rides along as version-0 upserts; per key the highest
    * version wins; a key whose winning operation is a delete leaves
    * the table (so delete-then-reinsert at a later version survives).
    *
    * Scale shape: ONE shuffle on the key (the window partitioning) —
    * the standard daily-compaction job, AQE handling key skew; no
    * broadcast assumption on either side, so a 100 TB base and a
    * large changelog both stream through the same exchange.
    * Determinism contract: versions must be unique per key (the
    * changelog's ordering IS the semantics; ties would make the
    * winner arrival-dependent).
    *
    * @param changelog base columns + `versionCol` (BIGINT > 0) +
    *                  `opCol` ('U' upsert / 'D' delete).
    */
  def applyChangelog(
      base: DataFrame, changelog: DataFrame, key: String,
      versionCol: String = "version", opCol: String = "op"): DataFrame = {
    val b = base.withColumn(versionCol, lit(0L)).withColumn(opCol, lit("U"))
    val w = Window.partitionBy(col(key)).orderBy(col(versionCol).desc)
    b.unionByName(changelog)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col(opCol) =!= "D")
      .drop("_rn", opCol)
  }

  /** Driver binding (q119): [[applyChangelog]] over orders with a
    * deterministic synthesized changelog — updates at version 1
    * (keys % 7), deletes at version 2 (% 11), second updates at
    * version 3 (% 21: keys divisible by 231 exercise
    * delete-then-reinsert), inserts under shifted keys (% 97). Oracle:
    * the same union + ROW_NUMBER latest-wins rule in SQL.
    */
  def q119ApplyChangelog(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
    def leg(cond: Column, status: Column, price: Column, v: Long, op: String) =
      base.filter(cond).select(col("o_orderkey"), status.as("o_orderstatus"),
        price.as("price"), lit(v).as("version"), lit(op).as("op"))
    val changelog = leg(col("o_orderkey") % 7 === 0, lit("U7"), col("price") + lit(10), 1L, "U")
      .unionByName(leg(col("o_orderkey") % 11 === 0, col("o_orderstatus"), col("price"), 2L, "D"))
      .unionByName(leg(col("o_orderkey") % 21 === 0, lit("U21"), col("price") + lit(20), 3L, "U"))
      .unionByName(base.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"), lit("I").as("o_orderstatus"),
          col("price"), lit(1L).as("version"), lit("U").as("op")))
    applyChangelog(base, changelog, "o_orderkey")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("price").cast("double").as("o_totalprice"), col("version"))
      .orderBy(col("o_orderkey"))
  }

  /** SCD Type-2 dimension build (q132): turn a per-key version stack
    * into validity intervals — the slowly-changing-dimension shape
    * every warehouse keeps for "what did this row say WHEN". Two
    * rules: (1) change detection — a version whose tracked attributes
    * are null-safely identical to the previous version is a NO-OP and
    * does NOT open a new interval (re-stating a value must not
    * fragment history); (2) interval stitching — each surviving
    * version is valid from its own version number until the next
    * surviving version's (`valid_to` null = current, flagged).
    * [[applyChangelog]] keeps only the final state (SCD-1); this keeps
    * the whole history, which is why it cannot be a groupBy — order
    * along the version axis is the semantics.
    *
    * Scale shape: ONE shuffle — change detection (lag), interval
    * stitching (lead), and the current flag are three window
    * functions over the SAME key partitioning, so Catalyst plans a
    * single exchange+sort and evaluates the cascade in place. The
    * naive two-step (self-join each version to its successor) would
    * shuffle the stack twice and explode on hot keys.
    *
    * @param changelog one row per (key, version) carrying `attrs`;
    *                  versions unique per key (ties would make
    *                  precedence arrival-dependent).
    * @return per surviving version: key, attrs, `valid_from`,
    *         `valid_to` (null = open), `is_current`.
    */
  def scd2Build(
      changelog: DataFrame, key: String, version: String,
      attrs: Seq[String]): DataFrame = {
    require(attrs.nonEmpty, "scd2Build: no tracked attributes")
    val byKey = Window.partitionBy(col(key)).orderBy(col(version))
    val changed = attrs
      .map(a => !(col(a) <=> lag(col(a), 1).over(byKey)))
      .reduce(_ || _)
    val first = lag(col(version), 1).over(byKey).isNull
    changelog
      .withColumn("_keep", first || changed)
      .filter(col("_keep"))
      // second window over the SAME partitioning: lead sees only
      // surviving rows, which is exactly the stitching rule
      .withColumn("valid_to", lead(col(version), 1).over(byKey))
      .withColumn("is_current", col("valid_to").isNull)
      .withColumn("valid_from", col(version))
      .drop("_keep", version)
  }

  /** Driver binding (q132): rebuild order-status history from a
    * four-version synthetic changelog (base snapshot as version 0,
    * then q119's U7/U21 mutation legs plus a DELIBERATE no-op leg
    * re-stating base values at version 2 — collapsed unless version 1
    * changed the row first, in which case version 2 is a genuine
    * revert interval). Oracle: identical lag/lead SQL.
    */
  def q132Scd2(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d).select(col("o_orderkey"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
    def leg(cond: Column, status: Column, price: Column, v: Long) =
      base.filter(cond).select(col("o_orderkey"), status.as("status"),
        price.as("price"), lit(v).as("version"))
    val changelog = leg(lit(true), col("status"), col("price"), 0L)
      .unionByName(leg(col("o_orderkey") % 7 === 0, lit("U7"), col("price") + lit(10), 1L))
      .unionByName(leg(col("o_orderkey") % 11 === 0, col("status"), col("price"), 2L))
      .unionByName(leg(col("o_orderkey") % 21 === 0, lit("U21"), col("price") + lit(20), 3L))
    scd2Build(changelog, "o_orderkey", "version", Seq("status", "price"))
      .select(col("o_orderkey"), col("status"),
        col("price").cast("double").as("price"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy(col("o_orderkey"), col("valid_from"))
  }

  /** Driver binding for [[snapshotDiff]] over [[nextOrdersSnapshot]]. */
  def q94SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val cur = Tables.orders(s, d)
    snapshotDiff(cur, nextOrdersSnapshot(cur), "o_orderkey",
      Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("change_type"))
  }

  /** Generic schema-driven table profiler (q99): per column, row/null/
    * exact-distinct counts in long format — the data-quality snapshot a
    * pipeline takes before trusting a new drop.
    *
    * Plan shape: one union leg per column, each a SINGLE-distinct
    * aggregate. Catalyst's one-distinct rewrite plans each leg as
    * partial-aggregate-by-value -> exchange of the column's DISTINCT
    * values -> final count — no Expand anywhere, and each leg's scan
    * prunes to its one column, so the total read is the table once
    * (columnar) and the total exchange is sum of per-column distinct
    * partials. The previous form — ONE agg with N countDistinct
    * columns — planned as a single Expand x (N+1) of the full scan:
    * rows x 17 through the exchange for lineitem, a multi-PB shuffle at
    * the 100 TB analogue and the #2 cost in the r7 bench. For
    * cardinalities where even per-column exact distinct stops paying,
    * use [[approxProfileTable]].
    */
  def profileTable(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    cols.map { c =>
      df.select(col(c)).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("column_name"), col("n_rows"),
          coalesce(col("n_nulls"), lit(0L)).as("n_nulls"), col("n_distinct"))
    }.reduce(_ unionAll _)
      .orderBy(col("column_name"))
  }

  /** [[profileTable]]'s scale mode: identical long-format output with
    * `approx_count_distinct` (HLL++, Heule '13) cardinalities — every
    * column's metrics in ONE pass over the table with O(columns x
    * sketch) aggregation state and no Expand, the form to reach for
    * when per-column exact distinct passes stop paying at 100 TB.
    * Approximate by design -> not oracle-bound; ApproxSpec pins the
    * error envelope against [[profileTable]].
    */
  def approxProfileTable(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame = {
    require(cols.nonEmpty)
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_nn_$c"),
        approx_count_distinct(col(c), rsd).as(s"_nd_$c"))
    } :+ count(lit(1)).as("_n")
    val stackExpr = cols.map(c => s"'$c', _nn_$c, _nd_$c").mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr("_n",
        s"stack(${cols.length}, $stackExpr) AS (column_name, n_nulls, n_distinct)")
      .select(col("column_name"), col("_n").as("n_rows"),
        col("n_nulls"), col("n_distinct"))
      .orderBy(col("column_name"))
  }

  /** The lineitem columns q99 profiles — ONE list shared by the Spark
    * side and (by construction) the hand-unrolled DuckDB oracle, so a
    * fixture schema change breaks loudly instead of silently profiling
    * different column sets (ProfileSpec asserts the fixture still
    * matches).
    */
  val LineitemProfileCols: Seq[String] = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")

  /** Driver binding: profile every lineitem column (pinned list). */
  def q99ProfileTable(s: SparkSession, d: String): DataFrame =
    profileTable(Tables.lineitem(s, d), LineitemProfileCols)

  /** [[approxProfileTable]]'s REPLAYABLE twin (q170): the same
    * long-format one-pass profile with the distinct estimate from the
    * q159 published-hash HLL instead of Spark's internal HLL++ —
    * every register, count, and raw estimate driver-hash-checkable,
    * completing the replayable-sketch program for the profiler family
    * (q113 keeps the built-in as the rows-only scale sibling).
    *
    * Plan shape: columns melt to `(column_name, val)` rows via
    * `stack` (a generator — no Expand), then (a) per-column row/null
    * counts and (b) the m=512 register build over non-null values:
    * `groupBy(column_name, bucket).max(rho)` — the map-side partial
    * max IS the sketch, aggregation state O(cols·m) regardless of
    * cardinality, NO distinct shuffle anywhere. Value identity is
    * `CAST(col AS STRING)`, bilateral for BIGINT/VARCHAR columns
    * (float/timestamp rendering differs cross-engine — profile those
    * with q113's rows-only mode). Columns must have >= 1 non-null
    * value to appear (an all-null column has no registers).
    */
  def replayProfileTable(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    val stackArgs = cols.map(c => s"'$c', cast($c as string)").mkString(", ")
    def melted = df.selectExpr(
      s"stack(${cols.length}, $stackArgs) AS (column_name, val)")
    val counts = melted.groupBy(col("column_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("val").isNull, 1L).otherwise(0L)).as("n_nulls"))
    val x = Corpus.hllKey(col("val"))
    val regs = melted.filter(col("val").isNotNull)
      .select(col("column_name"),
        Corpus.hllBucket(x).as("bkt"), Corpus.hllRho(x).as("rho"))
      .groupBy(col("column_name"), col("bkt")).agg(max(col("rho")).as("r"))
    Corpus.hllReadout(regs, Seq("column_name"))
      .join(counts, "column_name")
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        col("v_empty"), col("s_reg"), col("est_raw"), col("small_range"))
      .orderBy(col("column_name"))
  }

  /** The documents columns q170 profiles — BIGINT/VARCHAR only (the
    * bilateral-cast contract above), pinned like [[LineitemProfileCols]].
    */
  val DocumentsProfileCols: Seq[String] =
    Seq("doc_id", "text", "lang", "source", "n_chars")

  /** Driver binding (q170): replayable profile of every documents
    * column.
    */
  def q170ProfileReplay(s: SparkSession, d: String): DataFrame =
    replayProfileTable(Tables.documents(s, d), DocumentsProfileCols)

  /** Driver binding (q113): [[approxProfileTable]] over the same
    * pinned lineitem columns as q99 — the one-pass HLL++ scale mode
    * production callers reach for first, now exercised under the
    * driver instead of only ScalaTest. Approximate by design ->
    * rows-only; ApproxSpec pins the rsd error envelope against the
    * exact q99 and the driver pins rows == column count.
    */
  def q113ApproxProfile(s: SparkSession, d: String): DataFrame =
    approxProfileTable(Tables.lineitem(s, d), LineitemProfileCols)

  /** Histogram drift between table versions (q100): L1 distance of the
    * order-value distribution, current vs [[nextOrdersSnapshot]], in
    * $50k buckets — the monitoring gate that catches a bad ingest
    * before it trains. Integer cents bucketing (decimal-exact) and
    * BIGINT counts keep every cell hash-matchable; PSI-style ratio
    * scores would need ln and live outside the oracle's determinism
    * rules, so the report stays in count space.
    */
  def q100HistDrift(s: SparkSession, d: String): DataFrame = {
    // integer `div` (matching DuckDB `//`), never float division, and
    // cents via DECIMAL so the bucket edge is exact
    val bucket = expr(
      "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 5000000")
      .as("bucket")
    def hist(df: DataFrame, n: String): DataFrame =
      df.select(bucket).groupBy(col("bucket")).agg(count(lit(1)).as(n))
    val cur = Tables.orders(s, d)
    hist(cur, "n_cur")
      .join(hist(nextOrdersSnapshot(cur), "n_new"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("l1", abs(col("n_cur") - col("n_new")))
      .orderBy(col("bucket"))
  }

  /** Winsorized robust mean (q95): per-returnflag price mean with the
    * tails clipped at the exact 5th/95th percentiles. Determinism: the
    * clipped-value sum would accumulate percentile DOUBLES in reduction
    * order — not reproducible; instead inliers sum as DECIMAL (exact,
    * order-free) and the clipped tails enter as count x bound in ONE
    * fixed double-op sequence, so the mean hash-matches. The exact
    * `percentile` aggregate interpolates bit-identically to DuckDB's
    * `quantile_cont` (the q74 contract); two passes over lineitem on
    * the same returnflag exchange, the one-row-per-flag stats side
    * broadcast back.
    */
  def q95Winsorize(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val stats = li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        percentile(col("l_extendedprice"), lit(0.05)).as("lo"),
        percentile(col("l_extendedprice"), lit(0.95)).as("hi"))
    li.join(stats, "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(
        first(col("n")).as("n"),
        first(col("lo")).as("lo"),
        first(col("hi")).as("hi"),
        sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L)).as("n_high"),
        sum(when(col("l_extendedprice") >= col("lo") && col("l_extendedprice") <= col("hi"),
          col("l_extendedprice").cast(DecimalType(18, 2))).otherwise(lit(null)))
          .as("s_in"))
      .withColumn("win_mean",
        (col("s_in").cast("double") + col("n_low") * col("lo") + col("n_high") * col("hi"))
          / col("n"))
      .select(col("l_returnflag"), col("n"), col("lo"), col("hi"),
        col("n_low"), col("n_high"), col("win_mean"))
      .orderBy(col("l_returnflag"))
  }

  /** Robust outlier rows via the median/MAD rule (the Hampel filter;
    * Leys '13): per group, median m and MAD = median(|x − m|); a row
    * is an outlier when |x − m| > k · 1.4826 · MAD (1.4826 rescales
    * MAD to σ under normality, k = 3 is the usual Hampel cut). The
    * median/MAD pair has a 50% breakdown point — resistant to the
    * very tails it flags — where the q91 moment z-score's mean/σ are
    * dragged by them and q95's winsorized mean bounds influence but
    * doesn't FLAG rows. MAD = 0 (at least half the group sits at the
    * median) degenerates to flagging every row off the median — the
    * documented Hampel behavior; z is null then, never NaN/Infinity.
    *
    * Exactness: `percentile` is Spark's exact sort-based aggregate,
    * bit-identical to DuckDB's quantile_cont (the q74/q95 contract);
    * deviation, threshold, and z are a FIXED sequence of double ops,
    * so flags and z hash-match across engines.
    *
    * Scale shape: two map-side-combined aggregation passes (medians,
    * then MADs over deviations) plus one filter pass — the price of
    * EXACT medians (q37's approx_percentile sketch collapses this to
    * one pass when tolerance allows; this operator is the exact end
    * of that dial). Both stats frames are group-count rows and
    * broadcast; exact-percentile state is one counter per distinct
    * value per group.
    */
  def madOutliers(
      df: DataFrame, grp: String, value: String,
      k: Double = 3.0): DataFrame = {
    val med = df.groupBy(col(grp))
      .agg(percentile(col(value), lit(0.5)).as("med"))
    val withDev = df.join(broadcast(med), grp)
      .withColumn("dev", abs(col(value) - col("med")))
    val mad = withDev.groupBy(col(grp))
      .agg(percentile(col("dev"), lit(0.5)).as("mad"))
    withDev.join(broadcast(mad), grp)
      .filter(col("dev") > lit(k * 1.4826) * col("mad"))
      .withColumn("z",
        when(col("mad") > 0, col("dev") / (lit(1.4826) * col("mad")))
          .otherwise(lit(null).cast("double")))
  }

  /** Driver binding (q138): per-source document-length outliers — the
    * "this document's length is anomalous for its source" curation
    * flag, robust to the junk it detects. k = 1.5 rather than the
    * Hampel 3.0 default because the synthetic corpus has tight length
    * spread (3σ-equivalent flags nothing at test scale; the cut is a
    * binding choice, the operator keeps the standard default). Oracle:
    * identical two-pass median/MAD SQL.
    */
  def q138MadOutliers(s: SparkSession, d: String): DataFrame =
    madOutliers(
      Tables.documents(s, d).select(col("source"), col("doc_id"),
        size(filter(split(col("text"), " "), x => x =!= "")).cast("long").as("n_tok")),
      "source", "n_tok", k = 1.5)
      .select(col("source"), col("doc_id"), col("n_tok"),
        col("med"), col("mad"), col("z"))
      .orderBy(col("source"), col("doc_id"))

  /** CASE/math scalar functions feeding an aggregation. */
  def q16CaseMath(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .withColumn("bucket",
        when(col("l_quantity") < 10, "low")
          .when(col("l_quantity") < 25, "mid")
          .otherwise("high"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("l_extendedprice")).cast("long")).as("sum_rounded"),
        max(floor(col("l_discount") * 100).cast("long")).as("max_disc_pct"))
      .orderBy(col("bucket"))

  /** Merge two per-group partial aggregation states — incremental view
    * maintenance for the distributive aggregates (Gray et al. '97's
    * cube taxonomy: SUM/COUNT/MIN/MAX compose; AVG rides as SUM+COUNT).
    * At the 100 TB analogue this is the move that turns a daily
    * full-table rescan into scanning ONLY the delta: the stored
    * summary and the delta's summary full-outer merge on the group
    * key, groups present on one side pass through, groups on both
    * sides combine state-wise. MIN/MAX merging is sound for
    * INSERT-ONLY deltas (a delete can expose a new extremum that only
    * the base rows know) — the append-only ingest contract; deletes
    * route through [[q119ApplyChangelog]]-style key compaction
    * instead.
    *
    * Both inputs carry `(key..., n, tot, dmin, dmax)` with `tot`
    * DECIMAL — state merge must stay exact, a double re-sum would
    * drift from the recompute-from-scratch oracle.
    */
  def mergeAggStates(stored: DataFrame, delta: DataFrame, key: Seq[String]): DataFrame = {
    val d = delta.select(delta.columns.toIndexedSeq.map(c =>
      if (key.contains(c)) col(c) else col(c).as(s"d_$c")): _*)
    stored.join(d, key, "full_outer")
      .select(key.map(col) ++ Seq(
        (coalesce(col("n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n"),
        (coalesce(col("tot"), lit(0).cast(DecimalType(18, 2))) +
          coalesce(col("d_tot"), lit(0).cast(DecimalType(18, 2)))).as("tot"),
        least(col("dmin"), col("d_dmin")).as("dmin"), // least/greatest skip NULLs
        greatest(col("dmax"), col("d_dmax")).as("dmax")): _*)
  }

  /** Orders at or after this date form q128's delta batch. */
  val IncrementalCutoff = "1996-01-01"

  /** Driver binding (q128): per-customer order summaries maintained
    * incrementally — base rows before [[IncrementalCutoff]] stand in
    * for the stored summary, the rest arrive as the delta batch, and
    * [[mergeAggStates]] combines the two partial states. Oracle: one
    * flat GROUP BY over the whole table — the merged state must be
    * indistinguishable from recomputation, including customers who
    * exist on only one side of the cutoff.
    */
  def q128IncrementalAgg(s: SparkSession, d: String): DataFrame = {
    def summarize(df: DataFrame): DataFrame = df
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("tot"),
        min(col("o_orderdate")).as("dmin"),
        max(col("o_orderdate")).as("dmax"))
    val orders = Tables.orders(s, d)
    val cut = lit(IncrementalCutoff).cast("timestamp")
    val merged = mergeAggStates(
      summarize(orders.filter(col("o_orderdate") < cut)),
      summarize(orders.filter(col("o_orderdate") >= cut)),
      Seq("o_custkey"))
    merged.select(col("o_custkey"), col("n"),
        col("tot").cast("double").as("total_price"),
        col("dmin").cast("date").cast("string").as("first_order"),
        col("dmax").cast("date").cast("string").as("last_order"))
      .orderBy(col("o_custkey"))
  }
}
