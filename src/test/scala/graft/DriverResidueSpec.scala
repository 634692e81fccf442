package graft

import graft.mr.SparkSpec
import graft.operators.Curation
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit}
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Millis, Seconds, Span}

import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue, CountDownLatch, ForkJoinPool, TimeUnit}
import scala.jdk.CollectionConverters._

/** What a query leaves on the driver is bounded: [[GraftSession]] caps
  * Spark's four stage-submission thread pools and the status store's
  * history, so repeated queries stop piling up idle threads and
  * finished-execution records, and it turns off per-session artifact
  * isolation, so a streaming query's clone session does not get an
  * executor class loader (and a recompile) of its own. Counts, not heap
  * readings, so the spec is deterministic. The batch probe is the q219
  * core (`exactSubstrUpsertReplay`), which runs many shuffle stages per
  * call and its raw appends on a pool thread that must carry the
  * caller's local properties.
  */
class DriverResidueSpec extends SparkSpec with Eventually {
  import spark.implicits._

  /** Pool conf → the name prefix of the pool's threads. */
  private val pools = Seq(
    "spark.sql.shuffleExchange.maxThreadThreshold" -> "shuffle-exchange-",
    "spark.sql.resultQueryStage.maxThreadThreshold" -> "ResultQueryStageExecution-",
    "spark.sql.broadcastExchange.maxThreadThreshold" -> "broadcast-exchange-",
    "spark.sql.subquery.maxThreadThreshold" -> "subquery-")

  private val settings = Seq(
    "spark.sql.ui.retainedExecutions" -> "10",
    "spark.ui.retainedJobs" -> "50",
    "spark.ui.retainedStages" -> "50",
    "spark.ui.retainedTasks" -> "1000",
    "spark.sql.artifact.isolation.enabled" -> "false")

  private val poolThreads = GraftSession.DriverPoolThreads

  /** CodegenReuseSpec's three batches: a duplicated span across batches. */
  private def batches(): Seq[DataFrame] = {
    val L = Curation.ExactSubstrL
    def span(tag: String, n: Int): String = (1 to n).map(i => s"$tag$i").mkString(" ")
    val dup = span("dr", L)
    Seq(
      Seq(("s", 1L, span("solo", 2 * L)), ("s", 2L, s"${span("x", L)} $dup")),
      Seq(("s", 4L, s"$dup ${span("y", L)}")),
      Seq(("s", 5L, span("other", 2 * L)))).map(_.toDF("source", "doc_id", "text"))
  }

  test("the session carries the driver pool, status-history and artifact settings") {
    pools.foreach { case (k, _) => assert(sc.getConf.get(k) == poolThreads.toString, k) }
    settings.foreach { case (k, v) => assert(sc.getConf.get(k) == v, k) }
  }

  test("q219's raw appends run their jobs under the caller's local properties") {
    // start every common-pool worker now, while this thread does not
    // hold the property: a worker copies its creator's properties once,
    // so none of them can pick it up by being created later
    val common = ForkJoinPool.commonPool()
    val started = new CountDownLatch(common.getParallelism)
    (1 to common.getParallelism).map(_ => CompletableFuture.runAsync(() => {
      started.countDown(); started.await(30, TimeUnit.SECONDS); ()
    }, common)).foreach(_.join())
    val key = "graft.driverResidue.caller"
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    def prop(e: SparkListenerJobStart, k: String): String =
      Option(e.properties).map(_.getProperty(k)).orNull
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((prop(e, "spark.job.description"), prop(e, key)))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "replay")
      try Curation.exactSubstrUpsertReplay(batches()).collect()
      finally sc.setLocalProperty(key, null)
      // the listener bus delivers in order: once it has delivered this
      // job, it has delivered every job the replay started
      sc.setLocalProperty(key, "marker")
      try sc.parallelize(Seq(1)).count() finally sc.setLocalProperty(key, null)
      eventually(timeout(Span(30, Seconds)), interval(Span(100, Millis))) {
        assert(jobs.asScala.exists(_._2 == "marker"))
      }
    } finally sc.removeSparkListener(listener)
    val replay = jobs.asScala.toSeq.filter(j => Option(j._1).exists(_.startsWith("q219 ")))
    val appends = replay.filter(_._1.endsWith(": raw append"))
    info(s"${replay.size} q219 jobs, ${appends.size} of them raw appends")
    assert(appends.nonEmpty, "no raw-append job seen")
    val foreign = replay.filterNot(_._2 == "replay")
    assert(foreign.isEmpty, s"q219 jobs without the caller's property: ${foreign.map(_._1).mkString(", ")}")
    spark.catalog.clearCache()
  }

  test("three q219 replays leave each stage pool within its cap and the " +
    "status store within its retained executions") {
    (1 to 3).foreach(_ => Curation.exactSubstrUpsertReplay(batches()).collect())
    // idle pool threads live 60 s, so every thread these replays
    // started is still here
    val names = Thread.getAllStackTraces.keySet.asScala.toSeq.map(_.getName)
    val live = pools.map { case (_, prefix) => prefix -> names.count(_.startsWith(prefix)) }
    info(s"live pool threads (cap $poolThreads): ${live.map { case (p, n) => s"$p* $n" }.mkString(", ")}")
    live.foreach { case (prefix, n) =>
      assert(n <= poolThreads, s"$n live $prefix* threads, cap $poolThreads")
    }
    // the status store drops finished executions asynchronously, after
    // the listener bus delivers their end events
    val store = spark.asInstanceOf[classic.SparkSession].sharedState.statusStore
    val retained = sc.getConf.get("spark.sql.ui.retainedExecutions").toLong
    eventually(timeout(Span(30, Seconds)), interval(Span(1, Seconds))) {
      assert(store.executionsCount() <= retained,
        s"status store holds ${store.executionsCount()} executions, cap $retained")
    }
    spark.catalog.clearCache()
  }

  test("a second identical streaming query compiles at most 5 % of the " +
    "classes the first one compiled") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // each run starts in a fresh clone session; the odd modulus keeps
    // this plan's code out of whatever earlier suites cached
    def compiles(): Long = {
      val c0 = Dev.compiled()
      val input = MemoryStream[Long]
      val q = input.toDF().groupBy((col("value") % 7919).as("k"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("driver_residue_stream")
        .outputMode("complete").start()
      try { input.addData(1L to 500L); q.processAllAvailable() } finally q.stop()
      assert(spark.table("driver_residue_stream").count() == 500)
      Dev.compiled() - c0
    }
    val (first, second) = (compiles(), compiles())
    info(s"compiles: first query $first, second query $second")
    assert(first > 0, "the first streaming query compiled nothing")
    assert(second * 20 <= first, s"second query compiled $second classes, first $first")
  }
}
