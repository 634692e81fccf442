package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's recommended session configuration — the
  * settings every entry point (Verify/Bench/Dev, and a production
  * submit) should share, with the 100 TB reasoning attached to each
  * knob instead of scattered per-main. `local[cpus]` here is the test
  * harness; on a cluster the same `configure` applies to the builder
  * produced by spark-submit.
  */
object GraftSession {

  /** Apply the engine's config to any builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b
      // sized to the parallelism actually available — the 200 default
      // over-fragments small/medium stages; at cluster scale set to
      // 2-3x total executor cores and let AQE coalesce down
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // AQE re-plans at runtime: coalesces post-shuffle partitions,
      // switches to broadcast when a side turns out small, splits skewed
      // join partitions — all three matter more, not less, at 100 TB
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // deterministic timestamps for the DuckDB differential oracle
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS): read as nanos-since-epoch
      // LongType (same total order; queries never output raw ts)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the engine's native functions (fixed_dot, fixed_quantize,
      // bloom_might_contain, fingerprints) for every session
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // ObjectHashAggregate (every TypedImperativeAggregate: the KMV/
      // CMS sketch states, collect_*, percentile) falls back to
      // SORT-based aggregation once a partition's hash map passes this
      // many groups — the 128 default silently turns a windowed sketch
      // build into a full sort of the input (the window count alone
      // exceeds it). Sketch states are KB-bounded by construction, so
      // 64k in-memory groups is ≤ ~1 GB worst case against a far
      // larger sort
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      // compiled codegen classes live in one JVM-wide cache, 100 entries
      // by default — smaller than the engine's working set (one q219
      // call compiles ~160 classes, a corpus/streaming pass ~385), so a
      // repeated plan shape was evicted and recompiled (Janino) on
      // every call. 1024 entries hold the working set; the retained
      // bytecode costs ~19 KB of heap per entry. A static conf: it
      // takes effect only on the builder, before the first session
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // the whole-stage codegen stage id is part of the generated class
      // name, and AQE numbers stages in a different order from run to
      // run — identical code (…ForCodegenStage2 vs …Stage5) then misses
      // the cache. Without the id, equal source is one cache key
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Entries in Spark's compiled-class cache (see [[configure]]). */
  val CodegenCacheEntries: Int = 1024

  /** Local harness session: `local[cpus]` with shuffle partitions = cpus.
    * `extraConf` lets a harness layer extra settings on top of the
    * standard config.
    */
  def local(cpus: Int, ui: Boolean = false,
            extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.ui.enabled", ui.toString)
    val configured = configure(b, cpus)
    extraConf.foldLeft(configured) { case (bb, (k, v)) => bb.config(k, v) }
      .getOrCreate()
  }

  /** Harness cpu count from the driver contract env var. */
  def envCpus(default: Int = 4): Int =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString).toInt
}
