package graft.operators

import graft.mr.SparkSpec
import org.apache.spark.sql.functions.{col, lit, max}

/** Replayable HyperLogLog (q159). The driver hash-matches the register
  * state and raw estimate; these fixtures pin what the sketch is FOR —
  * the corrected estimator's accuracy against known cardinalities (the
  * ln correction is engine-side only, so this spec is its gate), the
  * small-range branch, and merge-order invariance.
  */
class HllReplaySpec extends SparkSpec {

  /** `n` docs of 3 distinct tokens each, all trigrams globally distinct
    * => exactly n distinct trigrams in one source.
    */
  private def corpus(n: Int, parts: Int) = {
    import spark.implicits._
    (0 until n).map(i => ("s0", s"a$i b$i c$i")).toDF("source", "text")
      .repartition(parts)
  }

  private def state(n: Int, parts: Int = 4): (Long, Long, Long, Double) = {
    val r = Corpus.hllDistinctOf(corpus(n, parts)).collect()
    assert(r.length == 1)
    val row = r.head
    (row.getLong(1), row.getLong(2), row.getLong(3), row.getDouble(4))
  }

  test("corrected estimate lands within HLL's error envelope (raw branch)") {
    // 5000 distinct trigrams >> 2.5m = 1280: the raw-formula regime.
    // Standard error is 1.04/sqrt(512) ~ 4.6%; 3 sigma ~ 14%
    val (exact, vEmpty, sReg, _) = state(5000)
    assert(exact == 5000L)
    val est = graft.functions.HllRegistersAgg.corrected(sReg, vEmpty)
    assert(math.abs(est - 5000.0) / 5000.0 < 0.14, s"est $est")
  }

  test("small-range branch: linear counting kicks in and is tight") {
    // 100 distinct trigrams << 1280: est_raw must flag small_range and
    // the corrected (linear-counting) estimate is within a few percent
    val (exact, vEmpty, sReg, raw) = state(100)
    assert(exact == 100L)
    assert(raw <= 2.5 * graft.functions.HllRegistersAgg.M && vEmpty > 0)
    val est = graft.functions.HllRegistersAgg.corrected(sReg, vEmpty)
    // linear counting's own sampling error at n=100, m=512 is ~3.2%;
    // the fixed-hash draw here lands at +5.1% (~1.6 sigma)
    assert(math.abs(est - 100.0) / 100.0 < 0.10, s"est $est")
  }

  test("register state is merge-order invariant: stable under repartitioning") {
    assert(state(800, parts = 1) == state(800, parts = 7))
  }

  test("registers are monotone: a superset corpus never lowers the estimate") {
    val (_, _, sSmall, _) = state(400)
    val (_, _, sBig, _) = state(1200) // first 400 docs identical
    // more distinct keys can only raise registers, so the integer
    // register sum can only fall, and the estimate only rise
    assert(sBig <= sSmall)
  }

  /** Two sources with a PLANTED overlap: s1 = grams 0..2999,
    * s2 = grams 2000..4999 ⟹ |A| = |B| = 3000, |A∩B| = 1000.
    */
  private def overlapCorpus = {
    import spark.implicits._
    val mk = (i: Int) => s"a$i b$i c$i"
    ((0 until 3000).map(i => ("s1", mk(i))) ++
      (2000 until 5000).map(i => ("s2", mk(i))))
      .toDF("source", "text").repartition(5)
  }

  test("union-is-max law: merged registers equal the concatenated corpus's") {
    import spark.implicits._
    val docs = overlapCorpus
    // registers of the concatenated corpus (both sources collapsed)
    val concat = Corpus.hllRegisters(docs.withColumn("source", lit("all")))
      .select(col("bkt"), col("r")).as[(Long, Long)].collect().toMap
    // bucket-wise max of the two sources' separate registers
    val merged = Corpus.hllRegisters(docs)
      .groupBy(col("bkt")).agg(max(col("r")).as("r"))
      .as[(Long, Long)].collect().toMap
    assert(merged == concat && concat.nonEmpty)
  }

  test("inclusion-exclusion overlap estimate tracks the planted truth") {
    val row = Corpus.hllOverlapOf(overlapCorpus, exactRider = true).collect().head
    assert(row.getString(0) == "s1" && row.getString(1) == "s2")
    assert(row.getLong(2) == 1000L, s"exact shared = ${row.getLong(2)}")
    val est = row.getDouble(6)
    // three raw estimates' errors compound; 25% is the loose 3-sigma
    // class for m=512 inclusion-exclusion at this overlap fraction
    assert(math.abs(est - 1000.0) / 1000.0 < 0.25, s"est_overlap $est")
  }

  test("estimate-only default drops the exact rider but not a single estimate") {
    val lean = Corpus.hllOverlapOf(overlapCorpus)
    assert(lean.columns.toSeq ==
      Seq("src_a", "src_b", "est_a", "est_b", "est_union", "est_overlap"))
    val full = Corpus.hllOverlapOf(overlapCorpus, exactRider = true)
      .select("src_a", "src_b", "est_a", "est_b", "est_union", "est_overlap")
    assert(lean.collect().toSeq == full.collect().toSeq)
  }

  test("rollup total level equals the single-source sketch of the whole corpus") {
    import spark.implicits._
    val rolled = Corpus.hllRollupOf(overlapCorpus).collect()
    // per-source rows (lvl 0) for both sources plus one total row (lvl 1)
    assert(rolled.count(_.getLong(0) == 0L) == 2)
    val total = rolled.filter(_.getLong(0) == 1L)
    assert(total.length == 1 && total.head.getString(1) == "<all>")
    // the rolled-up total must be BIT-IDENTICAL to sketching the
    // concatenated corpus as one source — union is register max at
    // any grain
    val one = Corpus.hllRollupOf(
      overlapCorpus.withColumn("source", lit("x"))).collect()
      .filter(_.getLong(0) == 1L).head
    assert(total.head.getLong(2) == one.getLong(2)) // n_hit
    assert(total.head.getDouble(3) == one.getDouble(3)) // est_raw
  }
}
