package graft.operators

import graft.Scope
import graft.mr.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `exactBucketPairsRouted` — the graceful-degrade pair generator under
  * semDedup (r18 advice). The law: the emitted pair SET is identical to
  * the un-routed exact generator on EVERY input, whichever route each
  * bucket takes — the cap may only decide HOW pairs are produced
  * (collect fan-out vs spill-safe self-join), never WHICH pairs exist.
  */
class ExactPairsRoutedSpec extends SparkSpec {
  import spark.implicits._

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The routed generator's pair set, collected inside its scope. */
  private def routedPairs(df: DataFrame, cap: Int): Set[(Long, Long)] =
    Scope { sc => pairsOf(LshJoin.exactBucketPairsRouted(sc, df, "id", cap, "bucket")) }

  private def brute(rows: Seq[(Long, Long)]): Set[(Long, Long)] =
    rows.groupBy(_._2).values.flatMap { bucket =>
      val ids = bucket.map(_._1).distinct.sorted
      for { i <- ids.indices; j <- (i + 1) until ids.length }
        yield (ids(i), ids(j))
    }.toSet

  test("routed == un-routed == brute force when every bucket is under the cap") {
    val rnd = new scala.util.Random(7211)
    val rows = (1L to 300L).map(i => i -> rnd.nextInt(40).toLong)
    val df = rows.toDF("id", "bucket")
    val routed = routedPairs(df, 64)
    val unrouted = pairsOf(
      LshJoin.exactBucketPairsPartitioned(df, "id", 64, "bucket"))
    assert(routed == unrouted && routed == brute(rows))
  }

  test("an over-cap bucket takes the self-join route and still emits the FULL " +
    "pair set (the input that used to fail the require)") {
    // one mega-bucket of 90 ids at cap 16, plus normal buckets around it
    val rows = (1L to 90L).map(_ -> 0L) ++
      (100L to 140L).map(i => i -> (i % 4 + 1))
    val df = rows.toDF("id", "bucket")
    intercept[org.apache.spark.SparkException] {
      LshJoin.exactBucketPairsPartitioned(df, "id", 16, "bucket").count()
    }
    val routed = routedPairs(df, 16)
    assert(routed == brute(rows),
      "over-cap route lost or invented pairs vs brute force")
    assert(routed.size == 90 * 89 / 2 + brute(rows.drop(90)).size)
  }

  test("duplicate (id, bucket) rows are deduped on BOTH routes") {
    val base = (1L to 30L).map(_ -> 0L) ++ (40L to 45L).map(_ -> 1L)
    val dup = base ++ base ++ base.take(5)
    val routed = routedPairs(dup.toDF("id", "bucket"), 16) // bucket 0 over cap
    assert(routed == brute(base))
  }

  test("cap boundary: a bucket of exactly cap ids stays on the collect route " +
    "(no require trip), one past it routes away — same pairs either side") {
    for (n <- Seq(16L, 17L)) {
      val rows = (1L to n).map(_ -> 0L)
      val routed = routedPairs(rows.toDF("id", "bucket"), 16)
      assert(routed == brute(rows), s"boundary n=$n diverged")
    }
  }

  test("the releasable overload's thunk unpersists BOTH pinned intermediates " +
    "(repeated calls in a long-lived session must not accumulate cache)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rows = (1L to 40L).map(i => i -> (i % 4))
    Scope { sc =>
      val pr = LshJoin.exactBucketPairsRouted(sc, rows.toDF("id", "bucket"), "id", 8, "bucket")
      val got = pairsOf(pr) // materializes -> both persists are live
      assert(got == brute(rows))
      val during = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(during.size == 2,
        s"expected exactly the bucket frame + hot list pinned, got ${during.size}")
    }
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty,
      s"closed scope left ${after.size} RDD(s) pinned")
  }
}
