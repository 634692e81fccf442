package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Closed-loop benchmark runner: one client, one operation at a time.
  *
  * After the session starts, an untimed warm-up pass runs every
  * operation once, dumps each query result for the oracle comparison,
  * and records the reference digest of every operation. Timed passes
  * then repeat the operation list until `--seconds` have elapsed; each
  * operation is the build plus a full-row digest action, and its digest
  * must equal the reference. With `--trace 1` passes alternate between
  * untraced and traced, and traced passes record spans around each
  * layer call. The run record is written as JSON for `run.py`.
  *
  * Usage: Main --workload W --data SF_DIR --mr MR_DIR --out OUT_DIR
  *             --seconds S --trace 0|1 --cpus N [--only a,b] [--corrupt a,b]
  */
object Main extends AdaptiveSparkPlanHelper {

  /** Registry queries of each workload (name prefixes) and whether the
    * workload runs the MapReduce jobs. Both are subsets of the workload
    * lists they were drawn from, sized so that every run fits the
    * benchmark's time budget (README.md). */
  val workloads: Map[String, (Seq[String], Boolean)] = Map(
    "mr_olap_lazy" -> (Seq("q01", "q86", "q102", "q150", "q180"), true),
    "corpus_stream_eager" -> (Seq("q79", "q209", "q211", "q219"), false))

  final case class Op(name: String, kind: String,
                      build: Boolean => DataFrame, check: Option[() => DataFrame])

  final case class Span(id: Int, name: String, parent: Int, op: String,
                        startNs: Long, endNs: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val t0 = System.nanoTime()
    val workload = a("workload")
    val (dataDir, mrDir, outDir) = (a("data"), a("mr"), a("out"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val corrupt = a.get("corrupt").map(_.split(",").toSet).getOrElse(Set.empty)
    val only = a.get("only").map(_.split(",").toSet)

    val spark = GraftSession.local(cpus, extraConf = Map(
      "spark.local.dir" -> s"$outDir/spark-local",
      "spark.sql.warehouse.dir" -> s"$outDir/warehouse"))
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val tSession = System.nanoTime()

    val probe = new Probe
    sc.addSparkListener(probe)
    val streamProbe = new StreamProbe
    spark.streams.addListener(streamProbe)
    val counters = new MrCounters(sc)

    val (queryIds, withMr) = workloads(workload)
    val registry = SparkEntry.queries
    val queryOps = queryIds.map { id =>
      val name = registry.keys.find(_.startsWith(id + "_"))
        .getOrElse(sys.error(s"no registry query $id"))
      Op(name, "query", _ => registry(name)(spark, dataDir), None)
    }
    val mrOps = if (withMr) MrJobs.ops(spark, mrDir, counters).map {
      case (n, run, check) => Op(n, "mr", run, Some(check))
    } else Nil
    val ops = (mrOps ++ queryOps).filter(o => only.forall(_.contains(o.name)))
    only.foreach { names =>
      val unknown = names -- ops.map(_.name)
      if (unknown.nonEmpty) sys.error(s"--only names no operation of $workload: " +
        unknown.toSeq.sorted.mkString(", "))
    }

    val dumpDir = s"$outDir/dump"
    Files.createDirectories(Paths.get(dumpDir))
    Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"), Json.value(
      SparkEntry.oracleSql.filter { case (k, _) => ops.exists(_.name == k) }))

    val spans = mutable.ArrayBuffer.empty[Span]
    def span(name: String, parent: Int, op: String, s: Long, e: Long): Int = {
      spans += Span(spans.size, name, parent, op, s - t0, e - t0)
      spans.size - 1
    }
    val reference = mutable.HashMap.empty[String, String]
    val opRecs = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]

    def runOp(pass: Int, idx: Int, op: Op, warmup: Boolean, traced: Boolean,
              passSpan: Int): Unit = {
      spark.catalog.clearCache()
      def phase(p: String): Unit = sc.setLocalProperty(Probe.TagKey, s"$pass:$idx:$p")
      val mr0 = counters.snapshot
      val w0 = System.currentTimeMillis()
      val s0 = System.nanoTime()
      var (sBuild, sPlan, sEnd) = (s0, s0, s0)
      val rec = mutable.LinkedHashMap[String, Any](
        "pass" -> pass, "idx" -> idx, "op" -> op.name, "kind" -> op.kind,
        "warmup" -> warmup, "traced" -> traced)
      var ok = false
      try {
        phase("build")
        var df = op.build(traced)
        if (corrupt(op.name)) df = df.unionByName(df.limit(1))
        sBuild = System.nanoTime()
        if (warmup && op.kind == "query") {
          phase("action")
          df.coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/${op.name}")
          sPlan = sBuild
          sEnd = System.nanoTime()
          phase("check")
          val (d, n) = Digest.of(spark.read.parquet(s"$dumpDir/${op.name}"))
          reference(op.name) = d
          rec ++= Seq("digest" -> d, "rows" -> n)
          ok = true
        } else {
          val f = Digest.frame(df)
          phase("plan")
          if (traced) f.queryExecution.executedPlan
          sPlan = System.nanoTime()
          phase("action")
          val (d, n) = Digest.render(f.collect().head)
          sEnd = System.nanoTime()
          val tracker = f.queryExecution.tracker.phases
          def ph(k: String) = tracker.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
          rec ++= Seq("digest" -> d, "rows" -> n,
            "analysis_s" -> ph("analysis"), "optimization_s" -> ph("optimization"),
            "planning_s" -> ph("planning"))
          if (traced) rec("exchanges") =
            collect(f.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }.size
          if (warmup) {
            phase("check")
            val (ref, _) = Digest.of(op.check.get())
            reference(op.name) = ref
          }
          ok = reference.get(op.name).contains(d)
          if (!ok) rec("error") = s"digest $d != reference ${reference.get(op.name).orNull}"
        }
      } catch {
        case e: Throwable =>
          rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(500)
          sEnd = System.nanoTime()
      } finally sc.setLocalProperty(Probe.TagKey, null)
      val w1 = System.currentTimeMillis()
      val cached = sc.getRDDStorageInfo
      val mr1 = counters.snapshot
      rec ++= Seq("ok" -> ok, "start_ms" -> w0, "end_ms" -> w1,
        "lat_s" -> (sEnd - s0) / 1e9, "build_s" -> (sBuild - s0) / 1e9,
        "plan_s" -> (sPlan - sBuild) / 1e9, "action_s" -> (sEnd - sPlan) / 1e9,
        "rdds_left" -> cached.length,
        "retained_bytes" -> cached.map(r => r.memSize + r.diskSize).sum,
        "mr" -> mr1.map { case (k, v) => k -> (v - mr0(k)) })
      if (traced) {
        val id = s"$pass/${op.name}"
        val opSpan = span("op", passSpan, id, s0, sEnd)
        span(if (op.kind == "mr") "mr.build" else "operators.build", opSpan, id, s0, sBuild)
        span("plans.plan", opSpan, id, sBuild, sPlan)
        span("exec.action", opSpan, id, sPlan, sEnd)
      }
      opRecs += rec
    }

    // heap pools without the allocation nursery, whose peak is always
    // its full size: their peak is the most data the heap held at once
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && !p.getName.contains("Eden"))
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    val passRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runPass(pass: Int, warmup: Boolean, traced: Boolean): Unit = {
      heapPools.foreach(_.resetPeakUsage())
      val g0 = gcMs
      val s = System.nanoTime()
      val passSpan = if (traced) span("pass", -1, s"$pass", s, s) else -1
      ops.zipWithIndex.foreach { case (op, i) => runOp(pass, i, op, warmup, traced, passSpan) }
      val e = System.nanoTime()
      if (traced) spans(passSpan) = spans(passSpan).copy(endNs = e - t0)
      val g1 = gcMs
      val peak = heapPools.map(_.getPeakUsage.getUsed).sum
      // the second collection frees what Spark's ContextCleaner released
      // after the first one (broadcasts, shuffle state of dropped plans)
      System.gc()
      Thread.sleep(100)
      System.gc()
      val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      passRecs += Map("pass" -> pass, "warmup" -> warmup, "traced" -> traced,
        "wall_s" -> (e - s) / 1e9, "gc_s" -> (g1 - g0) / 1000.0,
        "heap_peak_mb" -> peak / 1048576.0, "heap_live_mb" -> live / 1048576.0)
    }

    runPass(0, warmup = true, traced = false)
    val tSetup = System.nanoTime()
    span("session.start", -1, "", t0, tSession)

    // whole passes until the time is up. A traced run alternates
    // untraced and traced passes, at least three, and ends on an
    // untraced one, so the traced passes are not all earlier (colder,
    // the JIT still compiling) than the untraced ones.
    var pass = 0
    do {
      pass += 1
      runPass(pass, warmup = false, traced = trace && pass % 2 == 0)
    } while ((trace && (pass < 3 || pass % 2 == 0)) ||
             (System.nanoTime() - tSetup) / 1e9 < seconds)

    probe.drain(sc)
    streamProbe.drain()

    // attribute jobs, tasks, SQL executions and micro-batches to operations
    def key(r: collection.Map[String, Any]) = (r("pass").asInstanceOf[Int], r("idx").asInstanceOf[Int])
    def opAt(ms: Long) = opRecs.find(r =>
      r("start_ms").asInstanceOf[Long] <= ms && ms <= r("end_ms").asInstanceOf[Long]).map(key)
    val perOp = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[(String, JobRec)]]
    probe.jobs.foreach { j =>
      val target = Option(j.tag).map(_.split(":")) match {
        case Some(Array(p, i, ph)) => Some((p.toInt, i.toInt) -> ph)
        case _ => opAt(j.startMs).map(_ -> "untagged")
      }
      target.foreach { case (k, ph) =>
        perOp.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += (ph -> j)
      }
    }
    opRecs.foreach { r =>
      val js = perOp.getOrElse(key(r), mutable.ArrayBuffer.empty)
      val aggs = mutable.LinkedHashMap.empty[String, TaskAgg]
      val jobsJson = js.map { case (ph, j) =>
        val owned = j.stages.filter(s => probe.stageOwner(s).contains(j.id))
        val agg = aggs.getOrElseUpdate(ph, new TaskAgg)
        owned.foreach(s => probe.stageAgg.get(s).foreach(agg += _))
        Map("phase" -> ph, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "stages" -> owned.count(probe.ranStages.contains),
          "shuffle_stages" -> owned.count(probe.shuffleStages.contains))
      }
      val (w0, w1) = (r("start_ms").asInstanceOf[Long], r("end_ms").asInstanceOf[Long])
      val batches = streamProbe.batches.filter(b => b.startMs >= w0 && b.startMs <= w1)
      r ++= Seq(
        "jobs" -> jobsJson,
        "tasks" -> aggs.map { case (k, v) => k -> Json.Raw(v.json) }.toMap,
        "sql_executions" -> probe.sqlStartMs.count(t => t >= w0 && t <= w1),
        "batches" -> batches.map(b => Map("run" -> b.runId, "batch" -> b.batchId,
          "rows" -> b.inputRows, "ms" -> b.durationMs,
          "state_rows" -> b.stateRows, "state_bytes" -> b.stateBytes)))
    }

    val storageMb = sc.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0
    val out = Json.obj(
      "workload" -> workload, "cpus" -> cpus, "nproc" -> Runtime.getRuntime.availableProcessors,
      "seconds" -> seconds, "trace" -> trace,
      "storage_memory_mb" -> storageMb,
      "passes" -> passRecs, "ops" -> opRecs.map(_.toMap),
      "spans" -> spans.filter(s => trace || s.name == "session.start").map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9)))
    Files.writeString(Paths.get(s"$outDir/run.json"), out)
    spark.stop()
    sys.exit(0)
  }
}
