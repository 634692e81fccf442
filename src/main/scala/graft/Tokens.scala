package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{coalesce, filter, lit, lower, regexp_replace, split}
import org.apache.spark.unsafe.types.UTF8String

/** The corpus token models: the one place that says how document text
  * becomes tokens. tinymr's word count is `str.split()`; graft's
  * operators and their DuckDB oracle use four models, each named here
  * with only the forms that have callers:
  *   - a Column, for DataFrame operators;
  *   - a Scala `String => Array[String]` (`apply`), for typed maps;
  *   - the DuckDB fragment [[graft.SparkEntry.oracleSql]] interpolates;
  *   - the byte walk ([[walk]]) the native kernels run
  *     ([[graft.functions.GramHashes]], [[graft.functions.TokenWindows]],
  *     [[graft.functions.TokenWindowKeys]]).
  *
  * Null text: a Scala form reads null as "" (no tokens). A Column or
  * SQL form named `…OrEmpty` coalesces null to "" first (an empty
  * array); the plain form keeps null (a null array). The native
  * kernels are null-intolerant expressions: a null text gives a null
  * result and never reaches the walk.
  *
  * Case folding: Column forms fold with Spark `lower()`, Scala forms
  * with [[fold]] (`toLowerCase(Locale.ROOT)`), SQL forms with DuckDB
  * `lower()`. TokensSpec checks the Column and Scala forms agree under
  * the JVM default locale. They part under Turkish: Spark folds a
  * non-ASCII string with the JVM default locale, so `İ` becomes `i`
  * there (and `I` beside non-ASCII a dotless `ı`) while [[fold]] keeps
  * ROOT's `i̇`. DuckDB differs from Java on two folds, recorded and not
  * reconciled here: `lower('İ')` is `i` in DuckDB but `i̇` (U+0069
  * U+0307) in Java, and `lower('ΣΑΣ')` is `σασ` in DuckDB but `σας`
  * (final sigma) in Java.
  */
object Tokens {

  /** Split on single spaces (0x20), drop empty tokens, no case
    * folding: the corpus convention (the generator joins tokens with
    * one space). TAB, CR, LF, U+000B, U+000C and NBSP are token bytes.
    */
  object Space {
    /** Token array; a null text gives null. */
    def col(text: Column): Column = filter(split(text, " "), x => x =!= "")
    /** Token array; a null text gives an empty array. */
    def colOrEmpty(text: Column): Column = col(coalesce(text, lit("")))
    def apply(text: String): Array[String] = orEmpty(text).split(" ").filter(_.nonEmpty)
    /** The raw split, empty pieces kept; a null text gives null. */
    def piecesSql(text: String): String = s"string_split($text, ' ')"
    def sql(text: String): String = nonEmptySql(piecesSql(text))
    def sqlOrEmpty(text: String): String = sql(s"COALESCE($text, '')")
  }

  /** [[Space]] over the case-folded text; a null text folds to "". */
  object SpaceLower {
    /** Byte-walk n-token gram hashes of the folded text (q144). */
    def gramHashes(text: Column, n: Int): Column =
      graft.functions.GramHashes.of(lower(coalesce(text, lit(""))), n)
    def apply(text: String): Array[String] = Space(fold(text))
    /** The raw split, empty pieces kept; a null text gives null. */
    def piecesSql(text: String): String = s"string_split(lower($text), ' ')"
    def sqlOrEmpty(text: String): String = nonEmptySql(piecesSql(s"COALESCE($text, '')"))
  }

  /** Split on runs of Java-regex `\s` (space, TAB, LF, U+000B, U+000C,
    * CR) of the case-folded text, drop empty tokens; a null text folds
    * to "". NBSP is a token character. The oracle's RE2 `\s` has no
    * U+000B, so a vertical tab splits here and not in DuckDB (q21, q79,
    * q88 and q92 would disagree with their oracle on such a text).
    */
  object WsLower {
    private val Ws = java.util.regex.Pattern.compile("\\s+")
    /** Byte-walk n-token gram hashes of the folded text (q79, q88). */
    def gramHashes(text: Column, n: Int, distinct: Boolean, sorted: Boolean): Column =
      graft.functions.GramHashes.of(lower(coalesce(text, lit(""))), n,
        distinct = distinct, sorted = sorted, wsSplit = true)
    def apply(text: String): Array[String] = Ws.split(fold(text)).filter(_.nonEmpty)
    def sqlOrEmpty(text: String): String =
      nonEmptySql(s"regexp_split_to_array(lower(COALESCE($text, '')), '\\s+')")
  }

  /** Case-fold, then split on runs of anything but `[a-z0-9]`: q14's
    * and q17's word count. Column and SQL forms give the raw pieces
    * (an empty first or last piece where the text starts or ends with
    * a separator), which q14 and its oracle drop after the explode.
    */
  object Alnum {
    private val NonAlnum = java.util.regex.Pattern.compile("[^a-z0-9]+")
    /** The raw pieces; a null text gives null. */
    def pieces(text: Column): Column =
      split(regexp_replace(lower(text), "[^a-z0-9]+", " "), " ")
    def apply(text: String): Array[String] =
      NonAlnum.matcher(fold(text)).replaceAll(" ").split(" ").filter(_.nonEmpty)
    /** The raw pieces; a null text gives null. */
    def piecesSql(text: String): String =
      s"string_split(regexp_replace(lower($text), '[^a-z0-9]+', ' ', 'g'), ' ')"
  }

  /** The Scala case folding of every model: `toLowerCase(Locale.ROOT)`,
    * so the JVM default locale (Turkish dotless i) cannot change a
    * token. A null text folds to "".
    */
  def fold(text: String): String = orEmpty(text).toLowerCase(java.util.Locale.ROOT)

  private def orEmpty(text: String): String = if (text == null) "" else text

  private def nonEmptySql(list: String): String = s"list_filter($list, x -> x <> '')"

  /** The separator test of [[walk]]: 0x20, plus with `ws` the other
    * single-byte Java `\s` characters (TAB, LF, U+000B, U+000C, CR).
    * Each is one ASCII byte, which never occurs inside a multi-byte
    * UTF-8 sequence, so the walk needs no decoding.
    */
  private def isSep(b: Byte, ws: Boolean): Boolean =
    b == 0x20 || (ws && b >= 0x09 && b <= 0x0D)

  /** The token byte ranges of `s` under [[Space]] (`ws = false`) or
    * [[WsLower]]'s separators over already-folded text (`ws = true`):
    * token `i` is `bytes[start(i), start(i) + len(i))`. Plain loops over
    * one copy of the UTF-8 bytes, no closures and no allocation per
    * byte.
    */
  def walk(s: UTF8String, ws: Boolean): Walk = {
    val w = new Walk(s.getBytes)
    val b = w.bytes
    val n = b.length
    var i = 0
    while (i < n) {
      if (isSep(b(i), ws)) i += 1
      else {
        val st = i
        while (i < n && !isSep(b(i), ws)) i += 1
        w.add(st, i - st)
      }
    }
    w
  }

  /** One document's tokens as byte ranges, see [[walk]]. */
  final class Walk private[Tokens] (val bytes: Array[Byte]) {
    var count: Int = 0
    var start: Array[Int] = new Array[Int](16)
    var len: Array[Int] = new Array[Int](16)
    /** Token `i`'s offset in [[joined]] (set by it). */
    var off: Array[Int] = null

    private[Tokens] def add(st: Int, l: Int): Unit = {
      if (count == start.length) {
        start = java.util.Arrays.copyOf(start, 2 * count)
        len = java.util.Arrays.copyOf(len, 2 * count)
      }
      start(count) = st; len(count) = l; count += 1
    }

    /** The tokens joined by single spaces, and [[off]] filled: the
      * n-token window at `p` is `joined[off(p), end(p + n - 1))`, so the
      * window kernels slice one buffer per document.
      */
    def joined(): Array[Byte] = {
      var total = math.max(count - 1, 0)
      var i = 0
      while (i < count) { total += len(i); i += 1 }
      val buf = new Array[Byte](total)
      off = new Array[Int](count)
      var o = 0
      i = 0
      while (i < count) {
        if (i > 0) { buf(o) = 0x20; o += 1 }
        off(i) = o
        System.arraycopy(bytes, start(i), buf, o, len(i))
        o += len(i)
        i += 1
      }
      buf
    }

    /** End of token `i` in [[joined]]. */
    def end(i: Int): Int = off(i) + len(i)
  }
}
