package graft.operators

import graft.Scope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Bounded LSH candidate-pair generation shared by the near-dup operators
  * (MinHash bands, SimHash chunks, hyperplane signatures).
  *
  * The naive shape — a self-join of the bucket table on the bucket key —
  * is O(m²) in the largest bucket: one hot bucket (boilerplate pages,
  * empty documents, a degenerate signature) can dominate the whole job at
  * corpus scale. The standard mitigation from the set-similarity-join
  * literature ("Set Similarity Joins on MapReduce: An Experimental
  * Survey", VLDB 2018 — filter-and-verify with frequency-based pruning)
  * is to drop buckets above a size cap before pair generation: a bucket
  * shared by thousands of documents carries almost no similarity signal
  * (its members collide on one band out of many), and the pairs it would
  * emit are re-verified by the exact measure anyway, so recall loss is
  * confined to pairs whose *only* shared bucket is ubiquitous.
  *
  * Plan shape, sized for 100 TB:
  *   1. bucket histogram — `groupBy(bucket).count()`: map-side partial
  *      aggregation, output is one row per distinct bucket;
  *   2. hot-bucket list — `count > cap`: by construction a FEW rows, so
  *      it broadcasts; the full bucket table is filtered with a broadcast
  *      left-anti join, never shuffled for the filter;
  *   3. pair generation — `groupBy(bucket).collect_list(id)`: one shuffle
  *      on the bucket key; every list is ≤ cap elements (hot buckets are
  *      already gone), so per-group memory and emitted pairs are bounded
  *      by cap and cap·(cap−1)/2 respectively.
  */
object LshJoin {

  /** Default bucket-size cap. At cap=64 a surviving bucket emits at most
    * 2016 pairs — bounded work per bucket regardless of corpus size.
    */
  val MaxBucket = 64

  /** Distinct candidate pairs (a < b) of ids sharing a bucket, with
    * buckets of more than `cap` DISTINCT ids dropped. `bucketCols`
    * together identify a bucket (e.g. (band, bandHash)); duplicate
    * (id, bucket) rows are deduplicated up front, so the cap, the drop
    * stats and the pair fan-out all count distinct members — a bucket
    * with many duplicate rows of few ids is neither dropped nor
    * inflated. `idCol` must be of an integral type (pairs carry BIGINT
    * ids — anything else fails fast here rather than as a deep analysis
    * error).
    */
  def boundedBucketPairs(
      buckets: DataFrame, idCol: String, cap: Int, bucketCols: String*): DataFrame =
    boundedBucketPairsWithStats(buckets, idCol, cap, bucketCols: _*)._1

  /** [[boundedBucketPairs]] plus a one-row stats frame
    * `(n_dropped_buckets BIGINT, n_dropped_members BIGINT)` quantifying
    * what the cap discarded (members = DISTINCT ids of the dropped
    * buckets, matching the cap's own accounting) — at 100 TB an
    * operator must be able to observe the recall loss, not just benefit
    * from the bound. The bucket histogram is computed once: the (by
    * construction tiny) hot list is persisted and feeds both the
    * anti-join filter and the metric aggregation.
    */
  def boundedBucketPairsWithStats(
      buckets: DataFrame, idCol: String, cap: Int, bucketCols: String*): (DataFrame, DataFrame) = {
    val s = buckets.sparkSession
    import s.implicits._
    buckets.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"boundedBucketPairs: id column '$idCol' must be integral (widened to BIGINT), got $other")
    }
    val withB = buckets.select(
      col(idCol).cast(LongType).as("id"), struct(bucketCols.map(col): _*).as("bucket"))
    // the cap counts DISTINCT members — inside the histogram aggregate,
    // NOT via a pre-distinct of the full table, which would wide-shuffle
    // the largest frame in the pipeline a second time (the anti-join
    // probe side below re-reads it). Persisted so the histogram subtree
    // runs once for both the anti-join and the stats agg. Lifetime:
    // tiny by construction (<= rows/cap buckets); a lazily returned
    // frame has no scope to unpersist in, so reclamation is LRU
    // eviction / clearCache — the harness clears per query, long-lived
    // sessions evict
    val hot = Scope.lru.persist(withB.groupBy(col("bucket"))
      .agg(countDistinct(col("id")).as("n"))
      .filter(col("n") > cap))
    val stats = hot.agg(
      count(lit(1)).as("n_dropped_buckets"),
      coalesce(sum(col("n")), lit(0L)).as("n_dropped_members"))
    val ok = withB.join(broadcast(hot), Seq("bucket"), "left_anti")
    val pairs = ok.groupBy(col("bucket")).agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(col("ids")).as[Seq[Long]]
      .flatMap { ids =>
        // distinct here handles residual duplicate (id, bucket) rows
        // (possible only for callers like q53; the LSH callers emit one
        // row per id per bucket) — bounded: surviving buckets hold
        // <= cap distinct ids, and duplication factors are small where
        // they exist at all
        val v = ids.distinct.sorted
        for { i <- v.indices.iterator; j <- (i + 1) until v.length }
          yield (v(i), v(j))
      }
      .toDF("a", "b")
      .distinct()
    (pairs, stats)
  }

  /** [[boundedBucketPairs]] for EXACT-graph callers (oracle-matched
    * graph bindings like triangles / k-core / connected components),
    * where a cap that actually BINDS would silently drop edges only on
    * this side of an uncapped oracle. The guard is TASK-SIDE: the same
    * single groupBy + pair fan-out as the capped path, with a
    * `require` on the bucket's distinct size inside the generator —
    * an over-cap bucket fails the job loudly instead of diverging,
    * and no histogram pass / hot-list broadcast / separate stats
    * action is needed (a first cut ran the capped plan plus an eager
    * stats probe; that extra scan+aggregate job cost ~0.5 s per graph
    * query at sf0.1). Note the guard is a correctness tripwire, not a
    * memory bound — the bucket's id list is materialized before the
    * check fires, so genuinely flood-prone bucket columns belong on
    * the capped API, which drops hot buckets BEFORE the collect.
    */
  def exactBucketPairs(
      buckets: DataFrame, idCol: String, cap: Int, bucketCols: String*): DataFrame =
    exactPairsCore(buckets, idCol, cap, bucketCols).distinct()

  /** [[exactBucketPairs]] minus the trailing pair-level distinct, for
    * callers whose id lands in EXACTLY ONE bucket (a PARTITION of the
    * id space — semDedup's sign signature — rather than a multi-probe
    * or multi-order bucketing): the same (a, b) pair can then never be
    * emitted by two buckets, so the dedup shuffle the general form
    * pays (one full pass over the pair set) is provably dead work.
    */
  def exactBucketPairsPartitioned(
      buckets: DataFrame, idCol: String, cap: Int, bucketCols: String*): DataFrame =
    exactPairsCore(buckets, idCol, cap, bucketCols)

  /** [[exactBucketPairsPartitioned]] with GRACEFUL over-cap degrade for
    * operators whose semantics genuinely require every in-bucket pair
    * (semDedup — the r18 advice item: a skewed corpus that previously
    * computed correctly, if slowly, must not start FAILING at the cap,
    * and the in-flight `require` is not even a memory bound because the
    * bucket's id list is materialized before it fires). Buckets are
    * ROUTED by a histogram pass: populations ≤ `cap` take the
    * list-collect generator (one aggregate, no join); populations
    * > `cap` never reach a `collect_list` at all — their pairs come
    * from a co-partitioned self-join on the bucket key, which
    * sort-merge spills instead of holding the bucket in one aggregation
    * buffer, so a degenerate corpus (every embedding in one sign
    * bucket) completes with bounded memory and honest quadratic work
    * rather than killing the job. The emitted pair SET is identical to
    * the un-routed generator on every input — ExactPairsRoutedSpec pins
    * equality across the cap boundary — so results never depend on
    * which route fired. Same partition precondition as the
    * partitioned variant (each id in exactly one bucket); duplicate
    * (id, bucket) rows are deduped per route (the list path's
    * `ids.distinct`, the join path's pre-distinct — hot-rows-sized).
    * Costs one extra aggregate over the (narrow) bucket frame vs the
    * single-pass generator; the hot list is tiny by construction and
    * broadcasts to both routes.
    *
    * The two persisted intermediates (the corpus-sized narrow bucket
    * frame and the tiny hot-bucket list) are owned by `sc`: materialize
    * the returned pair frame (or anything derived from it) before the
    * scope closes — releasing earlier just re-derives the subtree.
    */
  def exactBucketPairsRouted(sc: Scope,
      buckets: DataFrame, idCol: String, cap: Int, bucketCols: String*): DataFrame = {
    val s = buckets.sparkSession
    buckets.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"exactBucketPairsRouted: id column '$idCol' must be integral (widened to BIGINT), got $other")
    }
    // persisted: THREE consumers (histogram, anti-join route, semi-join
    // route) would otherwise each re-derive the upstream subtree — for
    // semDedup that is the full embeddings scan + quantization, tripled.
    // Narrow (id + bucket), spills under MEMORY_AND_DISK; lifetime is
    // the caller's scope
    val withB = sc.persist(buckets.select(
      col(idCol).cast(LongType).as("id"), struct(bucketCols.map(col): _*).as("bucket")))
    // tiny by construction (<= rows/cap buckets); persisted so the
    // histogram subtree runs once for both routes
    val hot = sc.persist(withB.groupBy(col("bucket"))
      .agg(countDistinct(col("id")).as("n"))
      .filter(col("n") > cap)
      .select(col("bucket")))
    val small = withB.join(broadcast(hot), Seq("bucket"), "left_anti")
    // every surviving bucket holds <= cap distinct ids: the require can
    // only fire on a histogram/anti-join inconsistency (a real bug)
    val smallPairs = exactPairsCore(small, "id", cap, Seq("bucket"))
    val hotRows = withB.join(broadcast(hot), Seq("bucket"), "left_semi")
      .distinct() // (id, bucket) dedup BEFORE the quadratic fan-out
    val hotPairs = hotRows.as("x")
      .join(hotRows.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
    smallPairs.unionByName(hotPairs)
  }

  private def exactPairsCore(
      buckets: DataFrame, idCol: String, cap: Int,
      bucketCols: Seq[String]): DataFrame = {
    val s = buckets.sparkSession
    import s.implicits._
    buckets.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"exactBucketPairs: id column '$idCol' must be integral (widened to BIGINT), got $other")
    }
    buckets
      .select(col(idCol).cast(LongType).as("id"),
        struct(bucketCols.map(col): _*).as("bucket"))
      .groupBy(col("bucket")).agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(col("ids")).as[Seq[Long]]
      .flatMap { ids =>
        val v = ids.distinct.sorted
        require(v.length <= cap,
          s"exactBucketPairs: bucket holds ${v.length} distinct ids (cap $cap) — " +
            "exact graph semantics would silently lose edges under the capped " +
            "API; raise the cap or use boundedBucketPairs deliberately")
        for { i <- v.indices.iterator; j <- (i + 1) until v.length }
          yield (v(i), v(j))
      }
      .toDF("a", "b")
  }

  /** The dropped (oversized) buckets — one row per bucket with its
    * member-ROW count (callers with duplicate (id, bucket) rows should
    * pre-distinct if they need distinct-member counts; the bounded
    * pair generators do). Exposed so callers/tests can observe how much
    * the cap discarded (`.count()` it for a drop metric).
    */
  def hotBuckets(buckets: DataFrame, cap: Int, bucketCols: String*): DataFrame =
    buckets
      .groupBy(struct(bucketCols.map(col): _*).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > cap)
}
