package graft.operators

import graft.Scope
import graft.mr.SparkSpec

/** q209 — the ExactSubstr dedup TRANSFORM (Lee et al. '21 §4): byte-
  * exact planted-span fixtures over [[Curation.exactSubstrRewrite]]
  * pin the semantics the DuckDB oracle then re-checks at driver SF —
  * the >=2-docs duplication rule, the keep-first total order
  * (doc_id asc, then position asc, INCLUDING within the keeper doc),
  * overlapping-cut merging into maximal spans, and the rewritten text
  * itself, asserted character for character.
  */
class ExactSubstrDedupSpec extends SparkSpec {
  import spark.implicits._

  private val L = Curation.ExactSubstrL

  /** Doc-grain rewrite results keyed by doc_id:
    * (rewritten, n_toks, n_removed, n_spans, max_span).
    */
  private def rewrite(rows: Seq[(String, Long, String)],
      hashKeys: Boolean = false)
      : Map[Long, (String, Long, Long, Long, Long)] = {
    Scope { sc =>
      val rw = Curation.exactSubstrRewrite(sc,
        rows.toDF("source", "doc_id", "text"), hashKeys)
      rw.collect().map(r => r.getLong(1) ->
        ((r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    }
  }

  private def rollup(rows: Seq[(String, Long, String)]) =
    Curation.exactSubstrDedupOf(rows.toDF("source", "doc_id", "text"))

  private def span(tag: String, n: Int): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  // doc_ids avoid multiples of 17 throughout so the global plant stays
  // out of the semantics under test (PlantSpec covers it separately)

  test("keep-first: the lower doc_id keeps the span, the higher loses it — byte-exact") {
    val s8 = span("s", L)
    val got = rewrite(Seq(
      ("a", 1L, s8),                     // exactly the span: 1 window
      ("b", 2L, s"b1 b2 $s8 b3 b4")))    // span at positions 2..9
    assert(got(1L) == ((s8, 8L, 0L, 0L, 0L)), s"keeper doc: ${got(1L)}")
    assert(got(2L) == (("b1 b2 b3 b4", 12L, 8L, 1L, 8L)), s"loser doc: ${got(2L)}")
  }

  test("overlapping cut windows merge into ONE maximal span covering their union") {
    val t10 = span("t", 10) // 3 overlapping 8-windows
    val got = rewrite(Seq(
      ("a", 4L, t10),              // keeper of all 3 windows
      ("a", 5L, s"z1 $t10 z2")))   // loses all 3 -> union = 10 tokens
    assert(got(4L) == ((t10, 10L, 0L, 0L, 0L)))
    assert(got(5L) == (("z1 z2", 12L, 10L, 1L, 10L)), s"merged: ${got(5L)}")
  }

  test("two far-apart cuts stay two spans; starts exactly L apart merge into one") {
    val u = span("u", L); val v = span("v", L)
    val far = rewrite(Seq(
      ("a", 7L, u), ("a", 8L, v),
      ("b", 9L, s"$u m1 m2 $v"))) // cut starts 0 and 10: gap 10 > L
    assert(far(9L) == (("m1 m2", 18L, 16L, 2L, 8L)), s"far: ${far(9L)}")
    val touch = rewrite(Seq(
      ("a", 7L, u), ("a", 8L, v),
      ("b", 9L, s"$u $v"))) // cut starts 0 and 8: contiguous -> one span
    assert(touch(9L) == (("", 16L, 16L, 1L, 16L)), s"touch: ${touch(9L)}")
  }

  test("keep-first holds WITHIN the keeper doc: its second occurrence is cut too") {
    val s8 = span("s", L)
    val got = rewrite(Seq(
      ("a", 1L, s"$s8 g1 g2 $s8"), // occurrences at pos 0 (kept) and 10 (cut)
      ("b", 2L, s"h1 $s8")))       // occurrence at pos 1 (cut)
    assert(got(1L) == ((s"$s8 g1 g2", 18L, 8L, 1L, 8L)), s"keeper: ${got(1L)}")
    assert(got(2L) == (("h1", 9L, 8L, 1L, 8L)))
  }

  test("a window repeated only WITHIN one doc is corpus-unique and never cut") {
    val s8 = span("s", L)
    val got = rewrite(Seq(
      ("a", 1L, s"$s8 $s8"),
      ("b", 2L, span("q", 16))))
    assert(got(1L)._3 == 0L && got(1L)._1 == s"$s8 $s8", s"got ${got(1L)}")
  }

  test("short and null docs pass through untouched, token-normalized") {
    val got = rewrite(Seq(
      ("a", 1L, "too short"),
      ("b", 2L, null.asInstanceOf[String]),
      ("c", 3L, "  spaced   out  ")))
    assert(got(1L) == (("too short", 2L, 0L, 0L, 0L)))
    assert(got(2L) == (("", 0L, 0L, 0L, 0L)))
    assert(got(3L) == (("spaced out", 2L, 0L, 0L, 0L))) // single-space rejoin
  }

  test("hashed (100 TB) key mode rewrites byte-identically to string mode") {
    val s8 = span("s", L); val t10 = span("t", 10)
    val rows = Seq(
      ("a", 1L, s"$s8 g1 g2 $s8"), ("b", 2L, s"h1 $s8"),
      ("a", 4L, t10), ("a", 5L, s"z1 $t10 z2"), ("c", 6L, span("w", 20)))
    assert(rewrite(rows) == rewrite(rows, hashKeys = true))
  }

  test("per-source rollup: counts, token mass, span census, md5 witnesses") {
    val s8 = span("s", L)
    val out = rollup(Seq(
      ("a", 1L, s8),
      ("b", 2L, s"b1 b2 $s8 b3 b4"),
      ("b", 3L, "tiny doc")))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a"); val b = out("b")
    assert(a.getLong(1) == 1L && a.getLong(2) == 0L) // n_docs, docs_modified
    assert(a.getLong(3) == 8L && a.getLong(4) == 0L && a.getLong(5) == 8L)
    assert(b.getLong(1) == 2L && b.getLong(2) == 1L)
    assert(b.getLong(3) == 14L && b.getLong(4) == 8L && b.getLong(5) == 6L)
    assert(b.getLong(6) == 1L && b.getLong(7) == 8L) // spans, max_span
    assert(b.getLong(8) == 2L) // distinct rewritten texts
    // sig_max is MAX(md5(rewritten)) — recompute the expectation
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(b.getString(9) == Seq("b1 b2 b3 b4", "tiny doc").map(md5hex).max)
  }

  test("a violated unique-doc_id precondition degrades locally (clamped), never crashes the job") {
    // two rows share doc_id=5: a long doc whose duplicated span sits
    // past the short doc's end. The merged cut set is wrong BY
    // CONTRACT (doc_id is the identity), but the clamp keeps every
    // cut inside its own row's token range — no
    // ArrayIndexOutOfBoundsException killing a 100 TB job mid-run.
    val s8 = span("s", L)
    val rows = Seq(
      ("a", 5L, s"${span("f", 12)} $s8"), // span at pos 12..19
      ("a", 5L, span("g", L)),            // only 8 tokens
      ("b", 6L, s"x1 $s8"))               // makes the span duplicated
    val got = Scope { sc =>
      Curation.exactSubstrRewrite(sc, rows.toDF("source", "doc_id", "text"))
        .collect() // must not throw
    }
    assert(got.length == 3)
  }

  test("the %17 plant itself deduplicates: interior plant windows survive only once") {
    // two planted docs (ids 0 and 17) share the 3 interior plant
    // windows; the keeper is doc 0, so doc 17 loses the union of the
    // interior windows = tokens 2..9 of its 10-token plant tail
    val got = rewrite(Seq(
      ("a", 0L, span("p", 16)),
      ("b", 17L, span("q", 16))))
    assert(got(0L)._3 == 0L, s"keeper planted doc: ${got(0L)}")
    assert(got(17L)._3 == 10L, s"loser planted doc: ${got(17L)}")
    // the plant is 10 tokens; windows at plant offsets 0..2 are the
    // interior shared ones -> union covers all 10 plant tokens ONLY if
    // offsets 0 and 2 chain (gap 2 < L) -> one span of exactly 10
    assert(got(17L)._4 == 1L && got(17L)._5 == 10L)
    assert(got(17L)._1 == span("q", 16), s"content must survive: ${got(17L)._1}")
  }
}
