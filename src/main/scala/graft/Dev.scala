package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** Dev harness: every timing and inspection loop behind one main, all
  * of them on [[timedPass]] — the pass [[Bench]] times the suite with.
  * Arguments are validated before the session starts, so a typo fails
  * with [[Usage]] instead of after a warmup pass. SPARK_GRAFT_CPUS sets
  * the session width, as for Bench: time at the bench's width or the
  * numbers are not comparable.
  *
  *   sbt "runMain graft.Dev time q137_stream_outer_attribution <sfDir>"
  */
object Dev {
  type Query = (SparkSession, String) => DataFrame

  val Usage: String =
    """usage: runMain graft.Dev <sub> ...
      |  time    <q,...> <sfDir> [passes=3]            warmup + best-of-N per query
      |  ab      <k=v,...> <q,...> <sfDir> [rounds=3]  interleaved off/on conf pairs in one JVM
      |  scale   <q,...> <sfDirA> <sfDirB> [passes=2]  per-query best at two scales, and the ratio
      |  jobs    <q> <sfDir>                           per-job and per-micro-batch lines of one timed pass
      |  idle    <q,...> <sfDir> [passes=3] [out=BASELINE_IDLE.json] [--fold-stale]
      |  explain <q,...|all> <sfDir> [exec]            formatted plan, or the final adaptive plan""".stripMargin

  /** One measured pass: `sec` is -1 for a failed pass (then `rows` is -1
    * too); `cachedBytes` is what the query's own persists left in the
    * storage pool after its action.
    */
  final case class Pass(sec: Double, rows: Long, cachedBytes: Long)

  /** Clear the cache, then build AND count the query inside the timed
    * region — the eager jobs a query runs while its DataFrame is built
    * are part of its cost.
    */
  def timedPass(spark: SparkSession, query: Query, sfDir: String): Pass = {
    spark.catalog.clearCache() // identical (empty) storage state per pass
    val t0 = System.nanoTime()
    val rows =
      try query(spark, sfDir).count()
      catch { case _: Throwable => return Pass(-1.0, -1L, 0L) }
    val sec = (System.nanoTime() - t0) / 1e9
    Pass(sec, rows, spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)
  }

  /** Best (min) of the timed passes that succeeded; -1 if none did. */
  def best(timed: Seq[Double]): Double = timed.filter(_ >= 0).minOption.getOrElse(-1.0)

  /** Warmup + `passes` timed passes of one query, one line each; returns
    * the timed seconds (warmup dropped).
    */
  private[graft] def timed(spark: SparkSession, name: String, query: Query,
      sfDir: String, passes: Int): Seq[Double] =
    (0 to passes).map { i =>
      val p = timedPass(spark, query, sfDir)
      println(f"[dev] $name $sfDir pass $i${if (i == 0) " (warmup)" else ""}: " +
        f"${p.sec}%.3f s, ${p.rows} rows")
      p.sec
    }.drop(1)

  /** `time`: per-query best-of-`passes`; a failing query reports -1 and
    * the loop moves on.
    */
  private[graft] def time(spark: SparkSession, queries: Seq[(String, Query)],
      sfDir: String, passes: Int): Seq[(String, Double)] =
    queries.map { case (name, q) =>
      val b = best(timed(spark, name, q, sfDir, passes))
      println(f"[dev] $name best-of-$passes: $b%.3f s")
      name -> b
    }

  /** `ab`: each query runs `rounds` alternating (off, on) pass pairs
    * after a shared warmup, so both arms sample the same host drift —
    * a fresh-JVM A/B confounds the conf with JIT state and whatever
    * co-tenants did in between. Only runtime-settable SQL confs apply.
    */
  private def ab(spark: SparkSession, confs: Seq[(String, String)],
      queries: Seq[(String, Query)], sfDir: String, rounds: Int): Unit = {
    val base = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    def setArm(on: Boolean): Unit =
      (if (on) confs.map { case (k, v) => k -> Some(v) } else base).foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    def pass(q: Query, on: Boolean): Double = { setArm(on); timedPass(spark, q, sfDir).sec }
    val bests = queries.map { case (name, q) =>
      pass(q, on = false) // shared warmup at the base conf
      val (offs, ons) = (1 to rounds).map(_ => (pass(q, on = false), pass(q, on = true))).unzip
      val (off, on) = (best(offs), best(ons))
      println(f"$name%-34s off=$off%6.3f on=$on%6.3f (${on / off * 100}%5.1f%%) " +
        f"load1=${Bench.load1()}%.2f offs=${offs.map(t => f"$t%.2f").mkString(",")} " +
        s"ons=${ons.map(t => f"$t%.2f").mkString(",")}")
      (off, on)
    }
    setArm(on = false)
    val (off, on) = (bests.map(_._1).sum, bests.map(_._2).sum)
    println(f"TOTAL off=$off%.3f on=$on%.3f (${on / off * 100}%5.1f%%)")
  }

  /** `scale`: the same queries at two scale factors in one session. A
    * 10× data ratio timing near (or under) 10× is linear; materially
    * above means super-linear work and needs a plan diff.
    */
  private def scale(spark: SparkSession, queries: Seq[(String, Query)],
      dirA: String, dirB: String, passes: Int): Unit = {
    val rows = queries.map { nq =>
      (nq._1, time(spark, Seq(nq), dirA, passes).head._2, time(spark, Seq(nq), dirB, passes).head._2)
    }
    println("query,t_a,t_b,ratio")
    rows.foreach { case (n, a, b) => println(f"$n,$a%.3f,$b%.3f,${b / a}%.2f") }
  }

  /** `jobs`: after an untimed warmup, one timed pass printing every
    * Spark job's wall time with its description (or call site) and
    * every streaming micro-batch's input rows, phase durations and
    * state-operator rows — for multi-job operators where one total
    * cannot say which action is slow.
    */
  private def jobs(spark: SparkSession, name: String, query: Query, sfDir: String): Unit = {
    timedPass(spark, query, sfDir) // warmup: JIT, codegen, parquet footers
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // the phase label if the operator set one, else the call site
        // Spark names the job's first stage after
        val site = Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.headOption.map(_.name)).getOrElse("?")
          .replaceAll("\\s+", " ").trim
        starts.put(js.jobId, (js.time, site)): Unit
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.get(je.jobId)).foreach { case (t0, site) =>
          println(f"[job ${je.jobId}%4d] ${(je.time - t0) / 1000.0}%7.3f s  $site")
        }
    })
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val durs = p.durationMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v}ms" }
        val state = p.stateOperators.map(so => s"${so.operatorName}:total=${so.numRowsTotal}," +
          s"upd=${so.numRowsUpdated},commit=${so.allUpdatesTimeMs + so.commitTimeMs}ms")
        println(s"[batch ${p.batchId}] in=${p.numInputRows} ${(durs ++ state).mkString(" ")}")
      }
    })
    val p = timedPass(spark, query, sfDir)
    Thread.sleep(300) // let trailing job-end events print
    println(f"[total] ${p.sec}%.3f s, ${p.rows} rows ($name, $sfDir)")
  }

  /** `explain`: the formatted plan, or with `exec` the FINAL adaptive
    * plan after running the query — the only way to see what AQE did
    * (exchange reuse, join conversions, coalesced partitions).
    */
  private def explain(spark: SparkSession, queries: Seq[(String, Query)],
      sfDir: String, exec: Boolean): Unit =
    queries.foreach { case (name, q) =>
      println(s"\n================ $name ================")
      try {
        val df = q(spark, sfDir)
        // collect THIS Dataset: count() would execute a different plan
        // and leave this one's adaptive plan un-finalized
        if (exec) { df.collect(); println(df.queryExecution.executedPlan) }
        else df.explain("formatted")
      } catch { case e: Throwable => println(s"explain failed: $e") }
    }

  private def usage(why: String): Nothing =
    throw new IllegalArgumentException(s"$why\n$Usage")

  /** Validate `args` without touching Spark and return the subcommand,
    * ready to run on a session.
    */
  private[graft] def parse(args: Array[String]): SparkSession => Unit = {
    val (flags, pos) = args.toSeq.partition(_.startsWith("--"))
    val sub = pos.headOption.getOrElse(usage("missing <sub>"))
    def at(i: Int, what: String): String = pos.lift(i).getOrElse(usage(s"missing <$what>"))
    def list(i: Int, what: String): Seq[String] = {
      val xs = at(i, what).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (xs.isEmpty) usage(s"empty <$what>") else xs
    }
    def queries(i: Int): Seq[(String, Query)] =
      if (sub == "explain" && pos.lift(i).contains("all")) SparkEntry.queries.toSeq.sortBy(_._1)
      else list(i, "q,...").map(n =>
        n -> SparkEntry.queries.getOrElse(n, usage(s"unknown query '$n'")))
    def positive(i: Int, default: Int, what: String): Int =
      pos.lift(i).fold(Option(default))(_.toIntOption).filter(_ >= 1)
        .getOrElse(usage(s"$what must be a positive integer"))
    val allowedFlags = if (sub == "idle") Set("--fold-stale") else Set.empty[String]
    flags.find(f => !allowedFlags(f)).foreach(f => usage(s"unknown flag '$f'"))
    sub match {
      case "time" =>
        val (qs, sf, n) = (queries(1), at(2, "sfDir"), positive(3, 3, "passes"))
        spark => time(spark, qs, sf, n)
      case "ab" =>
        val confs = list(1, "k=v,...").map(_.split("=", 2) match {
          case Array(k, v) => k -> v
          case _ => usage(s"conf '${pos(1)}' is not k=v,...")
        })
        val (qs, sf, n) = (queries(2), at(3, "sfDir"), positive(4, 3, "rounds"))
        spark => ab(spark, confs, qs, sf, n)
      case "scale" =>
        val (qs, a, b, n) = (queries(1), at(2, "sfDirA"), at(3, "sfDirB"), positive(4, 2, "passes"))
        spark => scale(spark, qs, a, b, n)
      case "jobs" =>
        val (qs, sf) = (queries(1), at(2, "sfDir"))
        if (qs.size != 1) usage("jobs takes one query")
        spark => jobs(spark, qs.head._1, qs.head._2, sf)
      case "idle" =>
        val (qs, sf, n) = (queries(1), at(2, "sfDir"), positive(3, 3, "passes"))
        val out = pos.lift(4).getOrElse("BASELINE_IDLE.json")
        val foldStale = flags.contains("--fold-stale")
        spark => IdleBaseline.run(spark, qs, sf, n, out, foldStale)
      case "explain" =>
        val (qs, sf) = (queries(1), at(2, "sfDir"))
        val exec = pos.lift(3) match {
          case None => false
          case Some("exec") => true
          case Some(x) => usage(s"unknown explain mode '$x'")
        }
        spark => explain(spark, qs, sf, exec)
      case other => usage(s"unknown subcommand '$other'")
    }
  }

  def main(args: Array[String]): Unit = {
    val run =
      try parse(args)
      catch { case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2) }
    val spark = GraftSession.local(GraftSession.envCpus())
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark) finally spark.stop()
  }
}

/** `Dev idle`: BASELINE_IDLE.json, the committed idle-prior table for
  * the bench heavies — per-query best-of-N measured standalone at a
  * quiet moment, with the /proc/loadavg samples around each measurement
  * next to the number, so a later regression can be adjudicated against
  * it without re-timing from scratch. Regenerate when a heavy's code
  * changes (rm the file first, or pass just the changed heavy —
  * untouched prior entries carry through unmodified). Per-query load
  * samples are SELF-INCLUSIVE (the tool's own threads dominate them);
  * the trust signal is the run-level `load1_ambient_start` /
  * `ambient_loaded` pair, sampled before any query runs.
  */
object IdleBaseline {

  /** Above this ambient load1 the whole table is suspect (the bench
    * gate uses the same 2.5).
    */
  val MaxTrustedLoad = 2.5

  /** Prior table parsed from an existing BASELINE_IDLE.json: per-query
    * best seconds, raw entry JSON (for verbatim carry-through), and
    * per-entry git_head provenance (entries written before the
    * per-entry stamp existed fall back to the FILE-level head).
    */
  private[graft] case class Prior(
      bests: Map[String, Double],
      entries: Map[String, String],
      heads: Map[String, String])

  private val NoPrior = Prior(Map.empty, Map.empty, Map.empty)

  /** Parse an existing table, enforcing the context check: a prior from
    * a different sf_dir or cpu count measures a different quantity and
    * is ignored wholesale (a best from sf0.1 must never cap an sf10
    * table). Returns None on context mismatch.
    */
  private[graft] def parsePrior(txt: String, sfDir: String, cpus: Int): Option[Prior] = {
    def field(k: String): Option[String] =
      ("\"" + k + "\": \"?([^\",\n]+)\"?").r
        .findFirstMatchIn(txt).map(_.group(1))
    val sameContext = field("sf_dir").contains(sfDir) &&
      field("cpus").contains(cpus.toString)
    if (!sameContext) None
    else {
      // anchored to the 4-space per-entry indent: the 2-space outer
      // "queries" key must NOT match (it once did, emitting a bogus
      // nested entry that broke the JSON)
      val entries = """(?m)^    "(q[^"]+)": (\{[^}]*\})""".r
        .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toMap
      val bests = entries.flatMap { case (n, e) =>
        """"best_sec": ([0-9.]+)""".r.findFirstMatchIn(e)
          .map(m => n -> m.group(1).toDouble)
      }
      val fileHead = field("git_head").getOrElse("?")
      val heads = entries.map { case (n, e) =>
        n -> """"git_head": "([^"]+)"""".r.findFirstMatchIn(e)
          .map(_.group(1)).getOrElse(fileHead)
      }
      Some(Prior(bests, entries, heads))
    }
  }

  /** The stale-fold guard: the prior best for a query being REGENERATED
    * this run folds into the min only when its git_head provenance
    * matches the current head (or --fold-stale overrides) — if the
    * heavy's code legitimately got slower, folding the old min would
    * keep an unreproducible number alive forever. Entries NOT
    * regenerated this run carry through verbatim, regardless of head.
    */
  private[graft] def foldablePrior(
      prior: Prior, name: String, gitHead: String, foldStale: Boolean): Option[Double] =
    prior.bests.get(name).filter { _ =>
      foldStale || prior.heads.get(name).forall(_ == gitHead)
    }

  /** Measure `queries`, fold in the context-checked prior table at
    * `out` (co-tenant bursts swing single sweeps, so the committed
    * best is the MIN over sessions), and rewrite it. A query whose
    * passes all fail keeps its prior entry.
    */
  private[graft] def run(spark: SparkSession, queries: Seq[(String, Dev.Query)],
      sfDir: String, passes: Int, out: String, foldStale: Boolean): Unit = {
    val ambient = Bench.load1() // before any query: the honest idle signal
    val cpus = GraftSession.envCpus()
    val gitHead = sys.process.Process(Seq("git", "rev-parse", "--short", "HEAD")).!!.trim
    val outPath = java.nio.file.Paths.get(out)
    val prior =
      if (!java.nio.file.Files.exists(outPath)) NoPrior
      else parsePrior(java.nio.file.Files.readString(outPath), sfDir, cpus).getOrElse {
        println(s"[idle] existing $out is from a DIFFERENT context (sf_dir/cpus mismatch) — ignored")
        NoPrior
      }
    val measured = queries.flatMap { case (name, q) =>
      val l0 = Bench.load1()
      val times = Dev.timed(spark, name, q, sfDir, passes)
      val l1 = Bench.load1()
      val foldable = foldablePrior(prior, name, gitHead, foldStale)
      if (foldable.isEmpty) prior.bests.get(name).foreach { p =>
        println(s"[idle] $name: prior best ${p}s is from git_head ${prior.heads(name)} " +
          s"!= $gitHead — NOT folded (pass --fold-stale to override)")
      }
      val fresh = Dev.best(times)
      if (fresh < 0) { println(s"[idle] $name: every pass failed — entry not updated"); None }
      else {
        val b = math.min(fresh, foldable.getOrElse(Double.MaxValue))
        println(f"[idle] $name%-36s best-of-$passes $b%6.3f s  load1 $l0%.2f -> $l1%.2f")
        val ps = times.map(t => f"$t%.3f").mkString("[", ", ", "]")
        // git_head stamps the entry so a later fold can tell per entry
        // whether the code moved, which the file-level head cannot
        Some(name -> (f"""{"best_sec": $b%.3f, "passes_sec": $ps, """ +
          s""""load1_self_inclusive_before": $l0, "load1_self_inclusive_after": $l1, """ +
          s""""git_head": "$gitHead"}"""))
      }
    }.toMap
    // a subset regeneration must never delete the rest of the table
    val carried = prior.entries -- measured.keys
    val body = (measured ++ carried).toSeq.sortBy(_._1)
      .map { case (n, e) => s"""    "$n": $e""" }.mkString(",\n")
    val json =
      s"""{
         |  "sf_dir": "$sfDir",
         |  "cpus": $cpus,
         |  "passes": $passes,
         |  "load1_ambient_start": $ambient,
         |  "ambient_loaded": ${ambient > MaxTrustedLoad},
         |  "max_trusted_load1": $MaxTrustedLoad,
         |  "generated_at": "${java.time.Instant.now()}",
         |  "git_head": "$gitHead",
         |  "methodology": "Dev.timedPass loop: warmup + best-of-N, catalog cache cleared per pass, one JVM, queries serialized; best_sec is the MIN over sessions (re-running folds the existing file in when sf_dir+cpus match, since co-tenant bursts swing single sweeps; unregenerated entries carry through verbatim); each entry is stamped with the git_head it was measured at, and a regenerated query's prior min is NOT folded when that stamp differs from the current head (--fold-stale overrides) — so a legitimately-slower heavy cannot keep an unreproducible faster number alive; ambient load sampled before any query runs (mid-run samples include the tool's own threads)",
         |  "queries": {
         |$body
         |  }
         |}
         |""".stripMargin
    java.nio.file.Files.writeString(outPath, json)
    println(s"wrote $out (${measured.size} measured + ${carried.size} carried)")
  }
}
