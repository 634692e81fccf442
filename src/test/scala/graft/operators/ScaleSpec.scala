package graft.operators

import graft.Tables
import graft.mr.SparkSpec
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scale-technique specs: bucketed (exchange-free) joins and salted
  * skew aggregation. These pin the mechanisms the engine relies on when
  * the same plans run against 100 TB.
  */
class ScaleSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // the in-memory catalog forgets tables between JVMs but the files
    // survive — clear the physical locations too
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("b_orders", "b_lineitem")) {
      val dir = new java.io.File(wh, t)
      if (dir.exists()) {
        import scala.reflect.io.Directory
        new Directory(dir).deleteRecursively()
      }
    }
    Tables.orders(spark, d).write
      .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.lineitem(spark, d).write
      .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")

    val joined = spark.table("b_lineitem").hint("MERGE")
      .join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")

    // and it computes the right thing
    val n = joined.count()
    val expected = Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(n == expected)
  }

  test("dynamic partition pruning reaches a partitioned-parquet fact scan") {
    val dir = graft.Scope.lru.tempDir("graft_dpp_").toString
    Tables.orders(spark, d).write
      .partitionBy("o_orderstatus").mode("overwrite").parquet(dir)
    val fact = spark.read.parquet(dir)
    // selective dim: one status survives the filter, so DPP should
    // prune the other status partitions from the fact scan at runtime
    val dim = Tables.orders(spark, d)
      .select(col("o_orderstatus").as("s"), col("o_custkey"))
      .filter(col("o_custkey") < 3)
      .select(col("s")).distinct()
    val joined = fact.join(dim, fact("o_orderstatus") === dim("s"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamic partition pruning subquery on the fact scan:\n$plan")
    // and the pruned plan still computes the right thing
    val expected = Tables.orders(spark, d).as("o")
      .join(dim, col("o.o_orderstatus") === col("s"))
      .count()
    assert(joined.count() == expected)
  }

  test("salted aggregation equals direct aggregation") {
    val li = Tables.lineitem(spark, d)
    val direct = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("s"))
      .collect().map(r => (r.getString(0), r.getDecimal(1))).toMap
    val salted = Skew.saltedSum(
        li, col("l_returnflag"), col("l_quantity").cast(DecimalType(18, 2)), "s")
      .collect().map(r => (r.getString(0), r.getDecimal(1))).toMap
    assert(salted.view.mapValues(_.doubleValue).toMap ==
      direct.view.mapValues(_.doubleValue).toMap)
  }

  test("q90 salted revenue equals the plain one-phase GROUP BY bit-for-bit") {
    val got = Skew.q90SaltedRevenue(spark, d)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val plain = Tables.lineitem(spark, d)
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1) - col("l_discount")).cast(DecimalType(8, 2))).cast("double").as("revenue"))
      .orderBy(col("l_suppkey"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == plain)
  }

  test("salted join equals the plain join row-for-row, and spreads the dim x salt") {
    val li = Tables.lineitem(spark, d).select(col("l_orderkey"), col("l_quantity"))
    val ord = Tables.orders(spark, d)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    val salted = Skew.saltedJoin(li, ord, "l_orderkey")
    val plain = li.join(ord, "l_orderkey")
    // identical multiset of rows: the salt is a physical rewrite only
    def key(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("l_orderkey"), col("l_quantity"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .collect().map(_.toSeq).toSet
    assert(key(salted) == key(plain))
    // the dim side replicates once per salt value (Generate/explode in
    // the plan) and the join condition carries the salt column
    val p = salted.queryExecution.executedPlan.toString
    assert(p.contains("Generate explode"), p)
    assert(p.contains("_salt"), p)
  }

  test("salted join rejects inputs that already carry a _salt column") {
    import spark.implicits._
    val fact = Seq((1L, "a")).toDF("k", "_salt")
    val dim = Seq((1L, "x")).toDF("k", "v")
    intercept[IllegalArgumentException](Skew.saltedJoin(fact, dim, "k"))
    intercept[IllegalArgumentException](Skew.saltedJoin(dim, fact, "k"))
  }

  test("LSH hot buckets are dropped before pair generation") {
    import spark.implicits._
    // one hot bucket with 200 members (naively 19,900 pairs) and one
    // healthy 3-member bucket: only the healthy bucket's pairs survive
    val hot = (0L until 200L).map(id => (id, 0, 7L))
    val small = Seq((1000L, 1, 9L), (1001L, 1, 9L), (1002L, 1, 9L))
    val buckets = (hot ++ small).toDF("doc_id", "band", "bh")
    val pairs = LshJoin.boundedBucketPairs(buckets, "doc_id", 64, "band", "bh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1000L, 1001L), (1000L, 1002L), (1001L, 1002L)))
    val dropped = LshJoin.hotBuckets(buckets, 64, "band", "bh").collect()
    assert(dropped.length == 1 && dropped.head.getLong(1) == 200L)
  }

  test("bounded pairs equal the naive self-join when no bucket is hot") {
    import spark.implicits._
    val buckets = Seq(
      (1L, 0, 5L), (2L, 0, 5L), (3L, 0, 5L),  // bucket A: 3 pairs
      (2L, 1, 8L), (4L, 1, 8L),               // bucket B: pair (2,4)
      (1L, 1, 9L),                            // singleton: no pairs
      (2L, 2, 5L), (4L, 2, 5L)                // bucket C: (2,4) again -> distinct
    ).toDF("doc_id", "band", "bh")
    val bounded = LshJoin.boundedBucketPairs(buckets, "doc_id", 64, "band", "bh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bounded == naive)
    assert(bounded == Set((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L)))
  }

  test("the cap counts DISTINCT ids: duplicate rows neither drop a bucket nor emit self-pairs") {
    import spark.implicits._
    // 3 distinct ids emitted 40x each = 120 raw rows > cap 64, but only
    // 3 distinct members — the bucket must survive (raw-row counting
    // would silently drop it) and emit exactly its 3 clean pairs
    val dups = for (rep <- 0 until 40; id <- Seq(1L, 2L, 3L)) yield (id, 0, 5L)
    val buckets = dups.toDF("doc_id", "band", "bh")
    val (pairs, stats) =
      LshJoin.boundedBucketPairsWithStats(buckets, "doc_id", 64, "band", "bh")
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(stats.collect().head.getLong(0) == 0L) // nothing dropped
  }

  test("drop-count stats surface the discarded hot buckets") {
    import spark.implicits._
    val hot = (0L until 200L).map(id => (id, 0, 7L))
    val small = Seq((1000L, 1, 9L), (1001L, 1, 9L))
    val buckets = (hot ++ small).toDF("doc_id", "band", "bh")
    val (pairs, stats) =
      LshJoin.boundedBucketPairsWithStats(buckets, "doc_id", 64, "band", "bh")
    assert(pairs.count() == 1L) // only the healthy 2-member bucket
    val r = stats.collect().head
    assert(r.getLong(0) == 1L, s"n_dropped_buckets=${r.getLong(0)}")
    assert(r.getLong(1) == 200L, s"n_dropped_members=${r.getLong(1)}")
    // healthy-only input: zero drops, stats still one well-typed row
    val (_, s2) = LshJoin.boundedBucketPairsWithStats(
      Seq((1L, 0, 5L), (2L, 0, 5L)).toDF("doc_id", "band", "bh"), "doc_id", 64, "band", "bh")
    val r2 = s2.collect().head
    assert(r2.getLong(0) == 0L && r2.getLong(1) == 0L)
  }

  test("the drop-count metrics ride on the near-dup query outputs") {
    for (out <- Seq(Dedup.q20DedupMinhash(spark, d),
        Dedup.q21DedupSimhash(spark, d),
        Similarity.q44DedupEmbed(spark, d))) {
      assert(out.columns.contains("n_dropped_buckets"))
      assert(out.columns.contains("n_dropped_members"))
      val first = out.limit(1).collect().head
      assert(first.getLong(first.fieldIndex("n_dropped_buckets")) >= 0L)
      assert(first.getLong(first.fieldIndex("n_dropped_members")) >= 0L)
    }
  }

  test("non-integral id column fails fast with a clear message") {
    import spark.implicits._
    val bad = Seq(("x", 0, 5L)).toDF("doc_id", "band", "bh")
    val e = intercept[IllegalArgumentException](
      LshJoin.boundedBucketPairs(bad, "doc_id", 64, "band", "bh"))
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("hot-bucket filter plans a broadcast anti-join, not a shuffle of the bucket table") {
    import spark.implicits._
    val buckets = (0L until 100L).map(id => (id, (id % 10).toInt, id % 5))
      .toDF("doc_id", "band", "bh")
    val p = LshJoin.boundedBucketPairs(buckets, "doc_id", 64, "band", "bh")
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("LeftAnti") && p.contains("Broadcast"), p)
  }

  test("salted plan aggregates in two keyed phases") {
    val p = Skew.saltedSum(
        Tables.lineitem(spark, d), col("l_returnflag"), col("l_quantity"), "s")
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("SPARK_PARTITION_ID"), p)
    // two logical groupBys -> at least two HashAggregate pairs
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }
}
