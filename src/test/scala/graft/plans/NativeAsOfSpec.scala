package graft.plans

import graft.mr.SparkSpec
import graft.operators.AsOfJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** The native as-of operator: semantics pinned to the union+window
  * formulation (`AsOfJoin.lastBefore`) on randomized fixtures, the
  * physical plan pinned to the two-exchange no-window merge shape,
  * and the `PushFilterThroughAsOfJoin` rule pinned down to the
  * parquet scan's PushedFilters.
  */
class NativeAsOfSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  test("matches the union+window formulation on a randomized fixture") {
    val rnd = new scala.util.Random(180)
    // keys with: many ties (same key+time on the right), keys missing
    // on the right, keys missing on the left, empty-partition keys
    val left = Seq.tabulate(300) { i =>
      (rnd.nextInt(12).toLong, rnd.nextInt(40).toLong, i.toLong)
    }.toDF("k", "t", "lid")
    val right = Seq.tabulate(200) { i =>
      (rnd.nextInt(15).toLong, rnd.nextInt(40).toLong, i.toLong, s"p$i")
    }.toDF("k", "t", "rid", "payload")

    val native = NativeAsOf.asOf(left, right, Seq("k"), "t", tieBreak = Seq("rid"))
      .select(col("k"), col("t"), col("lid"),
        col("asof_t"), col("asof_rid"), col("asof_payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        ((Option(r.get(3)), Option(r.get(4)), Option(r.get(5))))).toMap

    val viaWindow = AsOfJoin.lastBefore(
      left, right,
      key = "k", time = "t", payload = Seq("rid", "payload"), tieBreak = Seq("rid"))
    // lastBefore carries only payload columns; recover asof_t via rid
    val ridToT = right.select("rid", "t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val winRows = viaWindow.collect().map { r =>
      val rid = Option(r.getAs[Any]("asof_rid")).map(_.asInstanceOf[Long])
      (r.getAs[Long]("k"), r.getAs[Long]("t"), r.getAs[Long]("lid")) ->
        ((rid.map(ridToT), rid.map(x => x: Any), Option(r.getAs[Any]("asof_payload"))))
    }.toMap

    assert(native.size === 300 && winRows.size === 300)
    native.foreach { case (id, (nt, nrid, npay)) =>
      val (wt, wrid, wpay) = winRows(id)
      assert(nrid.map(_.asInstanceOf[Long]) === wrid.map(_.asInstanceOf[Long]), s"row $id")
      assert(npay === wpay, s"row $id")
      assert(nt.map(_.asInstanceOf[Long]) === wt, s"row $id")
    }
  }

  test("tie and boundary semantics: <= visibility, greatest tie-break wins, nulls for no match") {
    val left = Seq((1L, 10L, "l1"), (1L, 5L, "l2"), (2L, 7L, "l3"), (3L, 1L, "l4"))
      .toDF("k", "t", "tag")
    val right = Seq(
      (1L, 10L, 1L, "a"), (1L, 10L, 2L, "b"), // tie at the exact left time
      (1L, 4L, 3L, "c"),
      (2L, 8L, 4L, "d")) // after l3: invisible
      .toDF("k", "t", "rid", "v")
    val got = NativeAsOf.asOf(left, right, Seq("k"), "t", tieBreak = Seq("rid"))
      .select(col("tag"), col("asof_rid"), col("asof_v"))
      .collect().map(r => r.getString(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(got("l1") === ((Some(2L), Some("b")))) // <= includes equal time; rid 2 > 1
    assert(got("l2") === ((Some(3L), Some("c"))))
    assert(got("l3") === ((None, None))) // right exists but only later
    assert(got("l4") === ((None, None))) // key absent on the right
  }

  test("plan shape: two exchanges, no window, no union, merge preserves left order") {
    val left = Seq.tabulate(50)(i => (i.toLong % 5, i.toLong, i.toLong)).toDF("k", "t", "lid")
    val right = Seq.tabulate(50)(i => (i.toLong % 7, i.toLong, s"p$i")).toDF("k", "t", "p")
    val df = NativeAsOf.asOf(left, right, Seq("k"), "t")
    val plan = executed(df)
    assert(collectWithSubqueries(plan) { case e: AsOfJoinExec => e }.size === 1)
    assert(collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }.size === 2)
    assert(collectWithSubqueries(plan) { case w: WindowExec => w }.isEmpty)
  }

  test("PushFilterThroughAsOfJoin: left-only filters reach the left scan; key filters mirror right") {
    val dir = graft.Scope.lru.tempDir("asof_push").toString
    Seq.tabulate(100)(i => (i.toLong % 10, i.toLong, i.toLong))
      .toDF("k", "t", "lid").write.mode("overwrite").parquet(s"$dir/l")
    Seq.tabulate(100)(i => (i.toLong % 10, i.toLong, s"p$i"))
      .toDF("k", "t", "p").write.mode("overwrite").parquet(s"$dir/r")
    val l = spark.read.parquet(s"$dir/l")
    val r = spark.read.parquet(s"$dir/r")
    val df = NativeAsOf.asOf(l, r, Seq("k"), "t").filter(col("k") === 3 && col("lid") > 10)
    // both conjuncts sit below the join after optimization; the key
    // one is mirrored to the right child too
    val opt = df.queryExecution.optimizedPlan
    val joins = opt.collect { case j: AsOfJoinPlan => j }
    assert(joins.size === 1)
    val j = joins.head
    def hasFilterOn(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.collect { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }.nonEmpty ||
        p.collect { case rel: org.apache.spark.sql.execution.datasources.LogicalRelation => rel }.isEmpty
    // no Filter may remain ABOVE the join
    assert(opt.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.child.isInstanceOf[AsOfJoinPlan] => f
    }.isEmpty, s"filter not pushed:\n$opt")
    // and the scans themselves must carry pushed filters
    val scans = collectWithSubqueries(executed(df)) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size === 2)
    val pushedK = scans.count(_.metadata.getOrElse("PushedFilters", "").contains("EqualTo(k,3"))
    assert(pushedK === 2, scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString(" | "))
    // results are unchanged by the pushes
    assert(df.count() ===
      NativeAsOf.asOf(l, r, Seq("k"), "t").collect()
        .count(row => row.getAs[Long]("k") == 3 && row.getAs[Long]("lid") > 10))
  }

  test("column pruning reaches the scans: an unselected right payload column is never read") {
    // pruning flows through the foreign node via Catalyst's GENERIC
    // ColumnPruning case (it works because AsOfJoinPlan#expressions
    // exposes the key/time/tie-break attrs); this pin makes a silent
    // break impossible — if the node ever stops exposing them, the
    // right scan's ReadSchema regrows the dropped column
    val dir = graft.Scope.lru.tempDir("asof_prune").toString
    Seq.tabulate(60)(i => (i.toLong % 5, i.toLong, i.toLong))
      .toDF("k", "t", "lid").write.mode("overwrite").parquet(s"$dir/l")
    Seq.tabulate(60)(i => (i.toLong % 5, i.toLong, s"keep$i", s"drop$i"))
      .toDF("k", "t", "wanted", "unused").write.mode("overwrite").parquet(s"$dir/r")
    val l = spark.read.parquet(s"$dir/l")
    val r = spark.read.parquet(s"$dir/r")
    val df = NativeAsOf.asOf(l, r, Seq("k"), "t")
      .select(col("k"), col("lid"), col("asof_wanted"))
    val scans = collectWithSubqueries(executed(df)) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size === 2)
    val readSchemas = scans.map(_.metadata.getOrElse("ReadSchema", ""))
    assert(readSchemas.exists(_.contains("wanted")), readSchemas.mkString(" | "))
    assert(readSchemas.forall(!_.contains("unused")),
      s"unused right column survived pruning: ${readSchemas.mkString(" | ")}")
  }

  // plain-Scala reference for the merge_asof knob set: per left row,
  // filter candidates by direction/strictness/tolerance, then argmax
  // (backward: greatest (t, rid)) or argmin (forward: smallest (t, rid))
  private def bruteAsOf(
      left: Seq[(Long, Long, Long)], right: Seq[(Long, Long, Long)],
      direction: String, allowExact: Boolean,
      tolerance: Option[Long]): Map[Long, Option[Long]] = {
    def directed(k: Long, t: Long, forward: Boolean): Option[Long] = {
      val cands = right.filter { case (rk, rt, _) =>
        rk == k &&
          (if (forward) { if (allowExact) rt >= t else rt > t }
           else { if (allowExact) rt <= t else rt < t }) &&
          tolerance.forall(tol =>
            (if (forward) rt - t else t - rt) <= tol)
      }
      if (cands.isEmpty) None
      else if (forward) Some(cands.minBy { case (_, rt, rid) => (rt, rid) }._3)
      else Some(cands.maxBy { case (_, rt, rid) => (rt, rid) }._3)
    }
    val rt = right.map { case (_, t, rid) => rid -> t }.toMap
    left.map { case (k, t, lid) =>
      lid -> (direction match {
        case "nearest" =>
          // closer of the two directed picks; distance ties to backward
          (directed(k, t, forward = false), directed(k, t, forward = true)) match {
            case (Some(b), Some(f)) =>
              if (t - rt(b) <= rt(f) - t) Some(b) else Some(f)
            case (b, f) => b.orElse(f)
          }
        case d => directed(k, t, d == "forward")
      })
    }.toMap
  }

  private def runAsOf(
      left: Seq[(Long, Long, Long)], right: Seq[(Long, Long, Long)],
      direction: String, allowExact: Boolean,
      tolerance: Option[Long]): Map[Long, Option[Long]] =
    NativeAsOf.asOf(
        left.toDF("k", "t", "lid"), right.toDF("k", "t", "rid"),
        Seq("k"), "t", tieBreak = Seq("rid"),
        direction = direction, allowExactMatches = allowExact,
        tolerance = tolerance)
      .select(col("lid"), col("asof_rid"))
      .collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
      .toMap

  test("forward / strict / tolerance knobs match brute force on randomized fixtures") {
    val rnd = new scala.util.Random(183)
    for (trial <- 1 to 4) {
      val left = Seq.tabulate(200) { i =>
        (rnd.nextInt(10).toLong, rnd.nextInt(30).toLong, i.toLong)
      }
      val right = Seq.tabulate(150) { i =>
        (rnd.nextInt(12).toLong, rnd.nextInt(30).toLong, i.toLong)
      }
      for {
        dir <- Seq("backward", "forward", "nearest")
        ax <- Seq(true, false)
        tol <- Seq(None, Some(0L), Some(3L))
        if !(dir == "nearest" && !ax) // nearest requires allowExact
      } {
        val got = runAsOf(left, right, dir, ax, tol)
        val want = bruteAsOf(left, right, dir, ax, tol)
        assert(got === want, s"trial $trial dir=$dir allowExact=$ax tol=$tol")
      }
    }
  }

  test("tolerance null-out and forward tie-break pinned on a tiny fixture") {
    val left = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 102L))
    val right = Seq(
      (1L, 8L, 1L), // 2 before lid 100 — in a tol=2, out of tol=1
      (1L, 25L, 2L), (1L, 25L, 3L), // forward tie for lid 101 at t=25
      (2L, 5L, 4L)) // exact-time row for lid 102
    // backward, tol=2: lid 100 matches rid 1; tol=1: nulls out
    assert(runAsOf(left, right, "backward", true, Some(2L))(100L) === Some(1L))
    assert(runAsOf(left, right, "backward", true, Some(1L))(100L) === None)
    // forward ties resolve to the SMALLEST tieBreak
    assert(runAsOf(left, right, "forward", true, None)(101L) === Some(2L))
    // strict drops the exact-time match; allowExact keeps it
    assert(runAsOf(left, right, "backward", true, None)(102L) === Some(4L))
    assert(runAsOf(left, right, "backward", false, None)(102L) === None)
    assert(runAsOf(left, right, "forward", false, None)(102L) === None)
  }

  test("knob variants keep the two-exchange no-window plan shape") {
    val left = Seq.tabulate(50)(i => (i.toLong % 5, i.toLong, i.toLong)).toDF("k", "t", "lid")
    val right = Seq.tabulate(50)(i => (i.toLong % 7, i.toLong, s"p$i")).toDF("k", "t", "p")
    val df = NativeAsOf.asOf(left, right, Seq("k"), "t",
      direction = "forward", allowExactMatches = false, tolerance = Some(5L))
    val plan = executed(df)
    assert(collectWithSubqueries(plan) { case e: AsOfJoinExec => e }.size === 1)
    assert(collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }.size === 2)
    assert(collectWithSubqueries(plan) { case w: WindowExec => w }.isEmpty)
  }

  test("empty right side and empty left partitions") {
    val left = Seq((1L, 1L, "x"), (2L, 2L, "y")).toDF("k", "t", "tag")
    val empty = Seq.empty[(Long, Long, String)].toDF("k", "t", "v")
    val got = NativeAsOf.asOf(left, empty, Seq("k"), "t").collect()
    assert(got.length === 2 && got.forall(_.isNullAt(3)))
    val gotL = NativeAsOf.asOf(empty, left.withColumnRenamed("tag", "v"), Seq("k"), "t").collect()
    assert(gotL.isEmpty)
  }
}
