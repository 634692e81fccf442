package graft.operators

import graft.Scope
import graft.mr.SparkSpec
import org.apache.spark.sql.DataFrame

/** Sign-bucket semantic dedup (q89). The driver hash-matches a full
  * SQL replay; these fixtures pin the semantics on planted geometry:
  * scaled copies are dropped toward their lowest-id original, distinct
  * directions survive, opposite-sign vectors never pair (blocking
  * contract), and the shadow chain picks the SMALLEST qualifying id.
  */
class SemDedupSpec extends SparkSpec {

  private def emb(rows: Seq[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def run(rows: Seq[(Long, Seq[Float])],
      threshold: Double = 0.99): Seq[(Long, Long)] =
    Scope { sc =>
      Similarity.semDedup(sc, emb(rows), threshold = threshold)
        .collect()
        .map(r => r.getAs[Long]("dropped_id") -> r.getAs[Long]("kept_id"))
        .sortBy(_._1).toSeq
    }

  test("scaled copies drop toward the lowest-id original") {
    val v = Seq(0.6f, 0.8f, 0.1f, 0.2f)
    val got = run(Seq(
      1L -> v,
      2L -> v.map(x => x * 2.0f),   // same direction: cosine 1
      3L -> v.map(x => x * 0.5f),   // same direction again
      4L -> Seq(0.8f, -0.6f, 0.1f, 0.2f))) // different direction AND bucket
    assert(got == Seq(2L -> 1L, 3L -> 1L))
  }

  test("opposite-sign vectors never pair: blocking is part of the contract") {
    val v = Seq(0.6f, 0.8f, 0.1f, 0.2f)
    // cosine(v, -v) = -1 anyway, but even a hypothetical high-cosine
    // cross-bucket pair is out of scope by construction
    assert(run(Seq(1L -> v, 2L -> v.map(-_))) == Seq.empty)
  }

  test("near-but-not-identical directions respect the threshold") {
    val v = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val w = Seq(1.0f, 0.2f, 0.0f, 0.0f) // cosine ~ 0.981
    assert(run(Seq(1L -> v, 2L -> w), threshold = 0.99) == Seq.empty)
    assert(run(Seq(1L -> v, 2L -> w), threshold = 0.97) == Seq(2L -> 1L))
  }

  test("a corpus collapsing into ONE over-cap sign bucket DEGRADES (spill-safe " +
    "self-join route) instead of failing — identical drop semantics (r18 advice)") {
    // 1050 all-positive vectors -> every one lands in the all-ones sign
    // bucket, 26 past SemDedupMaxBucket = 1024; the pre-r19 require
    // killed this job even though the quadratic work is tiny here
    assert(Similarity.SemDedupMaxBucket < 1050)
    val rnd = new scala.util.Random(4099)
    val base = (1L to 1047L).map { i =>
      // distinct directions, pairwise cosine far under the threshold
      i -> Seq.fill(4)(0.05f + rnd.nextFloat())
    }
    val copies = Seq(
      2001L -> base(0)._2.map(_ * 2.0f),  // scaled copy of id 1
      2002L -> base(0)._2.map(_ * 0.5f),  // and another
      2003L -> base(4)._2.map(_ * 3.0f))  // scaled copy of id 5
    val got = run(base ++ copies, threshold = 0.999999)
    assert(got == Seq(2001L -> 1L, 2002L -> 1L, 2003L -> 5L),
      s"over-cap route changed the drop semantics: $got")
  }

  test("partition precondition of the no-pair-dedup routing (r18 advice): the " +
    "q89 input frame carries each vec_id exactly once, so each id has ONE " +
    "sign bucket and no pair can be emitted twice") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val planted = emb.filter(col("vec_id") < 15)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val input = emb.select(col("vec_id"), col("embedding")).unionByName(planted)
    val (rows, ids) = (input.count(),
      input.select(col("vec_id")).distinct().count())
    assert(rows == ids,
      s"q89's input has duplicate vec_ids ($rows rows, $ids ids): the bucket " +
        "assignment is no longer a partition and the routed generator would " +
        "silently double-count pairs — use the dedup'd general form instead")
  }

  test("q89 binding drops exactly the planted copies") {
    val got = Similarity.q89SemDedup(spark, "/root/testdata/sf0.01").collect()
    assert(got.length == 15)
    assert(got.forall { r =>
      r.getAs[Long]("dropped_id") == r.getAs[Long]("kept_id") + 10000 &&
        r.getAs[Double]("cosine") > 0.999
    })
  }

  test("semDedupSignBitsFor: the cost-knob derivation holds expected bucket " +
    "population at cap/2, returns the default at driver-corpus scale, and " +
    "clamps to 32 bits and the embedding dimensionality") {
    import Similarity.{semDedupSignBitsFor, SemDedupSignBits}
    // driver corpus (500 + 15 planted): derived == default, so q89's
    // hash cannot move if a caller switches to the derivation
    assert(semDedupSignBitsFor(515L) == SemDedupSignBits)
    assert(semDedupSignBitsFor(0L) == SemDedupSignBits)
    // each added bit halves the expected population: 500k vectors at
    // 10 bits sit at ~488 <= 512, at 9 bits ~976 > 512
    assert(semDedupSignBitsFor(500000L) == 10)
    assert(semDedupSignBitsFor(500000000L) == 20)
    // monotone in n
    val widths = Seq(1L, 1000L, 100000L, 10000000L, 1000000000L)
      .map(semDedupSignBitsFor(_))
    assert(widths == widths.sorted)
    // clamps: 32 bits absolute, and never wider than the dimensionality
    assert(semDedupSignBitsFor(Long.MaxValue) == 32)
    assert(semDedupSignBitsFor(Long.MaxValue, dim = 16) == 16)
  }
}
