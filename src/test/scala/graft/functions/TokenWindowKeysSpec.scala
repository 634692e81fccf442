package graft.functions

import graft.mr.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** `token_window_keys` — the two-seed rolling 128-bit window keys under
  * the ExactSubstr rewrite's hashed (100 TB) mode. The load-bearing law
  * is EQUALITY-CLASS FIDELITY: the keys must group window positions
  * exactly as the window STRINGS do (equal windows — same key, always;
  * distinct windows — distinct keys, up to a ~2⁻¹²² two-seed
  * collision), because the rewrite's census, join and keep-first
  * tiebreak all run on the key. Tokenization must be byte-identical to
  * `Tokens.Space` (split on single spaces, drop empties) or the
  * two key modes would disagree about which windows even exist.
  */
class TokenWindowKeysSpec extends SparkSpec {
  import spark.implicits._

  private val L = graft.operators.Curation.ExactSubstrL

  /** (pos -> (h1,h2)) via the SQL/codegen path. */
  private def keysOf(text: String, l: Int = L): Seq[(Int, Long, Long)] =
    Seq(Tuple1(text)).toDF("t")
      .select(explode(call_function("token_window_keys", col("t"), lit(l))).as("w"))
      .select(col("w.pos"), col("w.h1"), col("w.h2"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))

  private def gramsOf(text: String, l: Int = L): Seq[String] =
    graft.operators.Curation.grams(
      graft.Tokens.Space(text), l).toSeq

  test("keys partition positions EXACTLY like window strings on random corpora " +
    "(small vocabulary forces heavy genuine repetition)") {
    val vocab = Vector("a", "b", "ab", "ba", "aa")
    val rnd = new scala.util.Random(1031)
    for (_ <- 1 to 40) {
      val text = Seq.fill(L + rnd.nextInt(6 * L))(
        vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val grams = gramsOf(text)
      val keys = keysOf(text)
      assert(keys.map(_._1) == grams.indices.toList,
        s"positions drifted from the string-window grain on: $text")
      for (i <- grams.indices; j <- grams.indices) {
        val same = grams(i) == grams(j)
        assert(((keys(i)._2, keys(i)._3) == (keys(j)._2, keys(j)._3)) == same,
          s"key equality diverged from window equality at ($i,$j) on: $text")
      }
    }
  }

  test("tokenization is byte-identical to Curation.tokenize: runs of spaces, " +
    "leading/trailing spaces, and empties collapse the same way") {
    val span = (1 to L).map(i => s"w$i").mkString(" ")
    val messy = s"  w1   w2 w3  w4 w5 w6 w7   w8  "
    // same token stream => same single window as the clean span
    assert(keysOf(messy).map(k => (k._2, k._3)) ==
      keysOf(span).map(k => (k._2, k._3)))
    assert(keysOf(messy).size == 1)
  }

  test("multibyte UTF-8 tokens key correctly (0x20 never occurs inside a " +
    "multibyte sequence, so the byte walk needs no decoding)") {
    val uni = Seq("héllo", "wörld", "日本語", "δοκιμή", "emoji🙂", "tök", "ほげ", "ñ")
    val t1 = uni.mkString(" ")
    val t2 = uni.updated(3, "δοκιμη").mkString(" ") // one accent differs
    assert(keysOf(t1).size == 1 && keysOf(t2).size == 1)
    assert(keysOf(t1) != keysOf(t2))
    assert(keysOf(t1) == keysOf(t1))
  }

  test("a leading NUL byte cannot vanish from a token (the +1 byte offset): " +
    "'\\u0000a' and 'a' tokens must key differently") {
    val tail = (1 to L - 1).map(i => s"x$i").mkString(" ")
    val nul = 0.toChar
    assert(keysOf(s"${nul}a $tail") != keysOf(s"a $tail"))
  }

  test("degenerate inputs: null -> null, empty/blank/short -> empty array") {
    val rows = Seq(Option.empty[String], Some(""), Some("   "),
      Some((1 to L - 1).map(i => s"t$i").mkString(" ")))
      .toDF("t")
      .select(call_function("token_window_keys", col("t"), lit(L)).as("ks"))
      .collect().toSeq
    assert(rows.head.isNullAt(0), "null text must key to null")
    assert(rows.tail.forall(r => !r.isNullAt(0) && r.getSeq[Row](0).isEmpty),
      "blank and sub-L texts must key to an EMPTY window set")
  }

  test("FORCED collisions: a mod-2-narrowed SINGLE key demonstrably merges " +
    "distinct windows; the same narrowing with the second seed present still " +
    "partitions positions exactly like the window strings") {
    import org.apache.spark.sql.graftshim.GraftColumns
    def hooked(text: String, narrowMod: Long, single: Boolean): Seq[(Long, Long)] =
      Seq(Tuple1(text)).toDF("t")
        .select(explode(GraftColumns.ofExpr(TokenWindowKeys(
          GraftColumns.exprOf(col("t")), L, narrowMod, single))).as("w"))
        .select(col("w.h1"), col("w.h2"))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    def classesOf[A](xs: Seq[A]): Seq[Seq[Int]] =
      xs.zipWithIndex.groupBy(_._1).values.map(_.map(_._2).sorted).toSeq.sortBy(_.head)
    val vocab = Vector("a", "b", "c")
    val rnd = new scala.util.Random(5003)
    var singleCorrupted = false
    for (_ <- 1 to 30) {
      val text = Seq.fill(2 * L + rnd.nextInt(4 * L))(
        vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val want = classesOf(gramsOf(text))
      // narrowed single key: h1 in {0, 1}, h2 zeroed -> distinct windows
      // collide as soon as a document has 3+ distinct windows
      if (classesOf(hooked(text, 2L, single = true)) != want)
        singleCorrupted = true
      // same narrowing, second seed PRESENT: h2 rescues every time
      assert(classesOf(hooked(text, 2L, single = false)) == want,
        s"two-seed narrowed mode diverged from window strings on: $text")
    }
    assert(singleCorrupted,
      "the single-key fixture never collided - the forcing is too weak to prove anything")
  }

  test("the SQL builder rejects a non-foldable, NULL, or non-integer L with " +
    "a named AnalysisException, not an opaque eval error or an NPE") {
    import org.apache.spark.sql.AnalysisException
    def msgOf(sql: String): String =
      intercept[AnalysisException] {
        spark.sql(sql).collect()
      }.getMessage
    // non-foldable: a column reference as L
    assert(msgOf("SELECT token_window_keys(t, n) FROM " +
      "(SELECT 'a b c' AS t, 2 AS n)").contains("non-null integer literal"),
      "column-ref L must name the contract")
    // NULL literal
    assert(msgOf("SELECT token_window_keys('a b c', NULL)")
      .contains("non-null integer literal"), "NULL L must name the contract")
    // non-integer literal
    assert(msgOf("SELECT token_window_keys('a b c', 'two')")
      .contains("non-null integer literal"), "string L must name the contract")
    // wrong arity
    assert(msgOf("SELECT token_window_keys('a b c')")
      .contains("argument"), "1-arg call must fail cleanly")
    // the happy path still works through the same builder
    assert(spark.sql("SELECT size(token_window_keys('a b c d', 2)) AS n")
      .head().getInt(0) == 3)
  }

  test("rolling recurrence == direct per-window evaluation (the O(1) slide " +
    "introduces no drift over long documents)") {
    val vocab = Vector("p", "q", "r")
    val rnd = new scala.util.Random(2039)
    val toks = Seq.fill(30 * L)(vocab(rnd.nextInt(vocab.length)))
    val whole = keysOf(toks.mkString(" "))
    for (p <- whole.indices) {
      // direct: key the L-token window as its own document (pos 0)
      val solo = keysOf(toks.slice(p, p + L).mkString(" "))
      assert(solo.size == 1 && (solo.head._2, solo.head._3) ==
        (whole(p)._2, whole(p)._3),
        s"rolled key at pos $p diverged from the direct evaluation")
    }
  }
}
