package graft.operators

import graft.Scope
import graft.mr.SparkSpec
import org.apache.spark.sql.DataFrame

/** The census-apply Bloom's BYTE BUDGET (r19 verdict item #1b): the
  * probe is an optimization whose bit array is driver-resident and
  * broadcast, so an unbounded duplicated vocabulary (10¹⁰–10¹¹ keys at
  * 100 TB) must not size it — above [[Curation.ExactSubstrBloomMaxBytes]]
  * the array is CLAMPED (fpp degrades, prune stays valid: a Bloom
  * never drops true members), and past [[Curation.ExactSubstrBloomSkipFpp]]
  * the probe is SKIPPED (unpruned exchange, same join). This spec pins
  * the only thing that matters: the REWRITE IS BYTE-IDENTICAL through
  * all three probe modes, and the clamp actually bounds the bits.
  */
class ExactSubstrBloomCapSpec extends SparkSpec {
  import spark.implicits._

  private val L = Curation.ExactSubstrL

  private def span(tag: String, n: Int): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  // a corpus with a real duplicated vocabulary: a shared L-token span
  // planted into many docs (cross-doc duplication), unique filler
  // around it; doc_ids avoid %17 so the global plant stays out
  private def corpus: DataFrame = {
    val shared = span("dup", 3 * L) // 2L+1 duplicated windows inside it
    (1 to 120).filter(_ % 17 != 0).map { i =>
      ("s", i.toLong, s"${span(s"u$i-a", L)} $shared ${span(s"u$i-b", L)}")
    }.toDF("source", "doc_id", "text")
  }

  /** Doc-grain rewrite through a dupOf with the given byte budget. */
  private def rewriteAt(maxBytes: Long)
      : (Map[Long, (String, Long)], Option[Long]) = Scope { sc =>
    val docs = corpus
    val planted = Curation.exactSubstrPlanted(docs)
    val (dup, bloom) =
      Curation.exactSubstrDupOf(sc,
        Curation.exactSubstrOccState(docs, hashKeys = false), maxBytes)
    val out = Curation.exactSubstrApplyCuts(planted,
        Curation.exactSubstrCuts(planted, dup, bloom, hashKeys = false))
      .collect()
      .map(r => r.getLong(1) -> ((r.getString(2), r.getLong(4))))
      .toMap
    val bits = bloom.map(_.value.bitSize())
    (out, bits)
  }

  test("the rewrite is byte-identical through the full, CLAMPED, and " +
    "SKIPPED probe modes; the clamp genuinely bounds the bit array") {
    // the duplicated vocabulary: windows overlapping the shared span
    val state = Curation.exactSubstrOccState(corpus, hashKeys = false)
    val nDup = Scope { sc => Curation.exactSubstrDupOf(sc, state)._1.count() }
    assert(nDup > 10, s"fixture too weak: only $nDup duplicated windows")

    // budgets straddling the two thresholds: optimal bits ~ 9.57/key,
    // clamp viable down to ~1.44 bits/key (fpp 0.5), skip below that
    val clampBytes = math.max(1L, nDup * 4 / 8) // ~4 bits/key: clamp, fpp ~ .37
    val skipBytes = 1L                          // 8 bits total: skip

    val (full, fullBits) = rewriteAt(Curation.ExactSubstrBloomMaxBytes)
    val (clamped, clampedBits) = rewriteAt(clampBytes)
    val (skipped, skippedBits) = rewriteAt(skipBytes)

    assert(fullBits.nonEmpty, "full budget must build a probe")
    assert(clampedBits.nonEmpty, "clamp budget must still build a probe")
    assert(clampedBits.get <= clampBytes * 8 + 64, // word-rounding headroom
      s"clamped bit array ${clampedBits.get} exceeds the $clampBytes-byte budget")
    assert(clampedBits.get < fullBits.get,
      "the clamp changed nothing - budget not actually below optimal")
    assert(skippedBits.isEmpty, "the 1-byte budget must SKIP the probe")

    assert(clamped == full, "CLAMPED probe changed the rewrite")
    assert(skipped == full, "SKIPPED probe changed the rewrite")
    // sanity: the shared span was actually deduplicated somewhere
    assert(full.values.map(_._2).sum > 0L, "no tokens removed - dead fixture")
  }

  test("expected-fpp geometry: the skip decision fires exactly when the " +
    "clamped filter would pass most non-members") {
    assert(Curation.bloomExpectedFpp(1000L, 10000L) < 0.01,
      "10 bits/key must beat fpp 0.01")
    assert(Curation.bloomExpectedFpp(1000L, 1443L) < 0.51,
      "~1.44 bits/key sits at the 0.5 boundary")
    assert(Curation.bloomExpectedFpp(1000L, 1000L) > 0.5,
      "1 bit/key must be past the skip threshold")
  }
}
