package graft

import graft.mr.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Every [[Tokens]] model's forms agree on one table of edge texts:
  * the Column form, the Scala form and (where the model has one) the
  * byte walk. Spark's `lower()` and Java's `toLowerCase(Locale.ROOT)`
  * must fold alike for the Column and Scala forms to agree, so the
  * table runs under the JVM default locale and again under Turkish,
  * where `"I".toLowerCase()` is a dotless i (U+0131).
  */
class TokensSpec extends SparkSpec {
  import spark.implicits._

  private val texts: Seq[String] = Seq(
    // null, empty and whitespace-only
    null, "", " ", "   ", " \t\r\n\u000B\u000C ",
    // leading, trailing and repeated spaces
    "a b c", " lead", "trail ", "  both  ends  ", "a  b   c",
    // runs of TAB, CR, LF, U+000B, U+000C, and NBSP (a token character)
    "a\tb", "a\t\tb c", "a\rb", "a\r\nb", "a\nb\n\nc", "a\u000Bb", "a\u000B\u000Bb",
    "a\u000Cb", "a\u000C \u000Cb", "a\u00A0b", "a\u00A0 \u00A0b",
    // dotted and dotless I (U+0130, U+0131), final sigma (U+03A3)
    "\u0130", "\u0131", "I", "\u0130I \u0131i", "\u03A3\u0391\u03A3",
    "\u03A3\u0391\u03A3 \u03A3\u0391\u03A3.", "\u0130stanbul \u03A3\u0391\u03A3",
    // combining marks
    "e\u0301", "cafe\u0301 caf\u00E9", "\u0301 \u0301x", "A\u0308\u0308 \u00C4",
    // 4-byte UTF-8 (U+1F600, U+1D518)
    "\uD83D\uDE00", "a\uD83D\uDE00b \uD83D\uDE00", "\uD835\uDD18\uD835\uDD2B ok",
    "x\uD83D\uDE00\t\uD835\uDD18",
    // the alnum model's separators
    "Hello, WORLD! 42x-y_z", "--a--b--", "...", "A1 b2\tC3")

  /** One row per text, in table order. */
  private def column(f: Column => Column): Seq[Option[Seq[String]]] =
    texts.zipWithIndex.toDF("t", "i").orderBy("i").select(f(col("t")))
      .as[Option[Seq[String]]].collect().toSeq

  private def hashes(f: Column => Column): Seq[Seq[Long]] =
    texts.zipWithIndex.toDF("t", "i").orderBy("i").select(f(col("t")))
      .as[Seq[Long]].collect().toSeq

  private def walked(text: String, ws: Boolean): Seq[String] = {
    val w = Tokens.walk(UTF8String.fromString(text), ws)
    (0 until w.count).map(i => new String(w.bytes, w.start(i), w.len(i), "UTF-8"))
  }

  private def show(t: String): String =
    if (t == null) "null" else t.flatMap(c => if (c < 0x7f && c >= 0x20) c.toString else f"\\u${c.toInt}%04x")

  /** Every (form, text) where a form disagrees with the model's Scala
    * form, under the current JVM default locale.
    */
  private def disagreements(): Seq[String] = {
    val bad = Seq.newBuilder[String]
    def check(ok: Boolean, form: String, t: String): Unit = if (!ok) bad += s"$form '${show(t)}'"
    // Space: both Column forms, Scala and the single-space walk
    val plain = column(Tokens.Space.col)
    val orEmpty = column(Tokens.Space.colOrEmpty)
    for ((t, i) <- texts.zipWithIndex) {
      val want = Tokens.Space(t).toSeq
      check(orEmpty(i).contains(want), "Space.colOrEmpty", t)
      check(plain(i) == Option(t).map(_ => want), "Space.col", t)
      if (t != null) check(walked(t, ws = false) == want, "Space walk", t)
    }
    // SpaceLower and WsLower: the Column form folds with Spark lower()
    // and walks the bytes; n = 1 grams are the tokens' md5 prefixes
    val lowerSpace = hashes(Tokens.SpaceLower.gramHashes(_, 1))
    val lowerWs = hashes(Tokens.WsLower.gramHashes(_, 1, distinct = false, sorted = false))
    for ((t, i) <- texts.zipWithIndex) {
      val sl = Tokens.SpaceLower(t).toSeq
      val wl = Tokens.WsLower(t).toSeq
      check(lowerSpace(i) == sl.map(Dedup.gramHash64), "SpaceLower Column", t)
      check(lowerWs(i) == wl.map(Dedup.gramHash64), "WsLower Column", t)
      check(walked(Tokens.fold(t), ws = false) == sl, "SpaceLower walk", t)
      check(walked(Tokens.fold(t), ws = true) == wl, "WsLower walk", t)
    }
    // Alnum: the Column form's raw pieces, empties dropped
    val alnum = column(Tokens.Alnum.pieces)
    for ((t, i) <- texts.zipWithIndex)
      check(alnum(i).map(_.filter(_.nonEmpty)) == Option(t).map(_ => Tokens.Alnum(t).toSeq),
        "Alnum Column", t)
    bad.result()
  }

  test("Column, Scala and byte-walk forms agree on edge texts, default locale") {
    assert(disagreements().isEmpty)
  }

  test("Turkish locale: Spark lower() follows the JVM locale on non-ASCII " +
    "text, so only the folding Column forms disagree, on dotted capital I") {
    // Spark folds an all-ASCII string itself and any other string with
    // the JVM default locale, where Turkish folds U+0130 to "i" (ROOT:
    // "i" U+0307) and, beside non-ASCII, "I" to a dotless U+0131. The
    // Scala forms fold with Locale.ROOT, so on such texts a Column form
    // and its Scala form part ways; pinned here so that a change either
    // way is seen
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    val bad = try disagreements() finally java.util.Locale.setDefault(saved)
    val dotted = Seq("\\u0130", "\\u0130I \\u0131i", "\\u0130stanbul \\u03a3\\u0391\\u03a3")
    val want = for {
      t <- dotted
      form <- Seq("SpaceLower Column", "WsLower Column", "Alnum Column")
      if !(form == "Alnum Column" && t == dotted.head) // both fold to the piece "i"
    } yield s"$form '$t'"
    assert(bad.toSet == want.toSet, bad.mkString("\n"))
  }

  test("case folding and separators: the table's pinned answers") {
    assert(Tokens.fold("\u0130") == "i\u0307")
    assert(Tokens.fold("\u03A3\u0391\u03A3") == "\u03C3\u03B1\u03C2")
    assert(Tokens.fold(null) == "")
    assert(Tokens.Space("a\tb  c").toSeq == Seq("a\tb", "c"))
    assert(Tokens.WsLower("A\u000BB\u00A0C").toSeq == Seq("a", "b\u00A0c"))
    assert(Tokens.Alnum(" Hello, WORLD!42 ").toSeq == Seq("hello", "world", "42"))
    assert(Tokens.Space(null).isEmpty && Tokens.WsLower(null).isEmpty)
    val nullText = Seq(Tuple1(null: String)).toDF("t").select(col("t").cast(StringType))
    assert(nullText.select(Tokens.Space.col(col("t"))).head().isNullAt(0))
    assert(nullText.select(explode(Tokens.Space.colOrEmpty(col("t")))).count() == 0)
  }

  test("SQL fragments are the oracle's text") {
    assert(Tokens.Space.sql("text") == "list_filter(string_split(text, ' '), x -> x <> '')")
    assert(Tokens.Space.sqlOrEmpty("text") ==
      "list_filter(string_split(COALESCE(text, ''), ' '), x -> x <> '')")
    assert(Tokens.SpaceLower.sqlOrEmpty("text") ==
      "list_filter(string_split(lower(COALESCE(text, '')), ' '), x -> x <> '')")
    assert(Tokens.WsLower.sqlOrEmpty("text") ==
      "list_filter(regexp_split_to_array(lower(COALESCE(text, '')), '\\s+'), x -> x <> '')")
    assert(Tokens.Alnum.piecesSql("text") ==
      "string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' ')")
  }
}
