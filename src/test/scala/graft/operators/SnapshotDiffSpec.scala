package graft.operators

import graft.mr.SparkSpec
import org.apache.spark.sql.functions._

/** Snapshot diff (q94) and winsorized mean (q95). Driver hash-matches
  * both; these fixtures pin the classification table — including the
  * null-transition case the `<=>` comparison exists for — and the
  * winsorized mean against a hand-computed value.
  */
class SnapshotDiffSpec extends SparkSpec {

  test("insert / delete / update / unchanged / null-transition classify correctly") {
    import spark.implicits._
    val old = Seq(
      (1L, Option("a"), 10.0), (2L, Option("b"), 20.0),
      (3L, Option("c"), 30.0), (4L, None: Option[String], 40.0))
      .toDF("k", "status", "price")
    val neu = Seq(
      (1L, Option("a"), 10.0),               // unchanged
      (2L, Option("z"), 20.0),               // update
      (4L, Option("now-set"), 40.0),         // null -> value: update, not unchanged
      (5L, Option("new"), 50.0))             // insert; 3 deleted
      .toDF("k", "status", "price")
    val got = Relational.snapshotDiff(old, neu, "k", Seq("status", "price"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("change_type")).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "update", 3L -> "delete",
      4L -> "update", 5L -> "insert"))
  }

  test("q94 binding: all four change classes present, counts consistent") {
    val d = "/root/testdata/sf0.01"
    val got = Relational.q94SnapshotDiff(spark, d)
      .collect().map(r => r.getAs[String]("change_type") -> r.getAs[Long]("n_rows")).toMap
    assert(got.keySet == Set("insert", "delete", "update", "unchanged"))
    val total = graft.Tables.orders(spark, d).count()
    assert(got("delete") + got("update") + got("unchanged") == total)
  }

  test("applyChangelog: latest version wins, deletes remove, delete-then-reinsert survives") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "v")
    val changelog = Seq(
      (1L, "a1", 1L, "U"), (1L, "a2", 2L, "U"), // two updates: v2 wins
      (2L, "b", 1L, "D"),                       // plain delete
      (3L, "c", 1L, "D"), (3L, "c2", 2L, "U"),  // delete then reinsert
      (5L, "e", 1L, "U"))                       // insert of a new key
      .toDF("k", "v", "version", "op")
    val got = Relational.applyChangelog(base, changelog, "k")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[Long]("version"))).toSet
    assert(got == Set(
      (1L, "a2", 2L), // latest update
      (3L, "c2", 2L), // reinserted after delete
      (4L, "d", 0L),  // untouched base row
      (5L, "e", 1L))) // fresh insert; key 2 deleted
  }

  test("profileTable counts nulls and distincts per column in one pass") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Option("a")), (Some(1L), Option("b")),
      (None: Option[Long], Option("b")), (Some(3L), None: Option[String]))
      .toDF("x", "y")
    val got = Relational.profileTable(df, Seq("x", "y"))
      .collect().map(r => r.getAs[String]("column_name") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_nulls"), r.getAs[Long]("n_distinct"))))
      .toMap
    assert(got("x") == ((4L, 1L, 2L))) // distinct ignores null: {1, 3}
    assert(got("y") == ((4L, 1L, 2L))) // {a, b}
  }

  test("q99's profile plan has no Expand and its column list matches the fixture") {
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.01")
    // the oracle SQL hand-unrolls exactly these columns — a fixture
    // schema change must break HERE, not silently profile a different set
    assert(li.columns.toSeq == Relational.LineitemProfileCols)
    // the multi-countDistinct single-agg form planned an Expand x 17 of
    // the scan (rows x columns through the exchange); the union-per-column
    // form must not
    val plan = Relational.q99ProfileTable(spark, "/root/testdata/sf0.01")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"profile plan still Expands:\n$plan")
  }

  test("approxProfileTable: exact nulls/rows, distincts within the rsd envelope") {
    val d = "/root/testdata/sf0.01"
    val li = graft.Tables.lineitem(spark, d)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[String]("column_name") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_nulls"), r.getAs[Long]("n_distinct"))))
        .toMap
    val exact = toMap(Relational.profileTable(li, Relational.LineitemProfileCols))
    val approx = toMap(Relational.approxProfileTable(li, Relational.LineitemProfileCols))
    for (c <- Relational.LineitemProfileCols) {
      val (er, en, ed) = exact(c); val (ar, an, ad) = approx(c)
      assert(ar == er && an == en, s"$c: rows/nulls must be exact")
      // HLL++ at rsd=0.05: allow 5 sigma
      assert(math.abs(ad - ed) <= math.max(4.0, 0.25 * ed), s"$c: $ad vs exact $ed")
    }
  }

  test("q100 drift: L1 cells reconcile with the q94 change counts") {
    val d = "/root/testdata/sf0.01"
    val drift = Relational.q100HistDrift(spark, d).collect()
    val diff = Relational.q94SnapshotDiff(spark, d)
      .collect().map(r => r.getAs[String]("change_type") -> r.getAs[Long]("n_rows")).toMap
    val totalCur = drift.map(_.getAs[Long]("n_cur")).sum
    val totalNew = drift.map(_.getAs[Long]("n_new")).sum
    // updates keep their price bucket, so net histogram movement is
    // exactly inserts minus deletes
    assert(totalNew - totalCur == diff("insert") - diff("delete"))
    assert(drift.map(_.getAs[Long]("l1")).sum >= math.abs(diff("insert") - diff("delete")))
  }

  test("winsorized mean equals the hand-computed clip") {
    import spark.implicits._
    val dir = graft.Scope.lru.tempDir("q95fix").toString
    // values 1..20 for flag A: p05 = 1.95, p95 = 19.05 (linear interp),
    // one value clipped low (1), one high (20)
    (1 to 20).map(i => ("A", i.toDouble))
      .toDF("l_returnflag", "l_extendedprice")
      .withColumn("l_orderkey", lit(1L)).withColumn("l_partkey", lit(1L))
      .withColumn("l_suppkey", lit(1L)).withColumn("l_quantity", lit(1.0))
      .withColumn("l_discount", lit(0.0)).withColumn("l_tax", lit(0.0))
      .withColumn("l_linestatus", lit("O"))
      .withColumn("l_shipdate", current_timestamp())
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = Relational.q95Winsorize(spark, dir).collect().head
    val lo = r.getAs[Double]("lo"); val hi = r.getAs[Double]("hi")
    assert(math.abs(lo - 1.95) < 1e-12 && math.abs(hi - 19.05) < 1e-12)
    assert(r.getAs[Long]("n_low") == 1L && r.getAs[Long]("n_high") == 1L)
    val expect = ((2 to 19).map(_.toDouble).sum + lo + hi) / 20.0
    assert(math.abs(r.getAs[Double]("win_mean") - expect) < 1e-12)
  }
}
