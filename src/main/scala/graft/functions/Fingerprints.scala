package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Karp-Rabin rolling-hash document fingerprints (mod 2^61-1), exposed
  * as native Catalyst expressions so the hot loop stays inside
  * whole-stage codegen (no Dataset-map deserialization barrier, no UDF
  * boxing): the generated code calls the static JVM helpers below
  * directly per row. The min-window variant is the local-fingerprint
  * idea behind winnowing (Schleimer, Wilkerson, Aiken, "Winnowing:
  * Local Algorithms for Document Fingerprinting", SIGMOD 2003).
  */
object Fingerprints {

  final val Mod: Long = (1L << 61) - 1
  final val Base: Long = 1000003L
  final val WindowK: Int = 16

  /** (a*b) mod (2^61-1) via 128-bit split multiply; a, b in [0, Mod). */
  def mulMod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    val part = (hi << 3) | (lo >>> 61)
    val res = (lo & Mod) + part
    val r2 = (res & Mod) + (res >>> 61)
    if (r2 >= Mod) r2 - Mod else r2
  }

  /** Full-document polynomial hash. */
  def full(s: UTF8String): Long = {
    val t = s.toString
    var h = 0L
    var i = 0
    while (i < t.length) {
      h = (mulMod(h, Base) + t.charAt(i).toLong) % Mod
      i += 1
    }
    h
  }

  /** Minimum [[WindowK]]-gram window hash (winnowing-style local
    * fingerprint for containment detection). Falls back to the full hash
    * for texts shorter than the window.
    */
  def minWindow(s: UTF8String): Long = {
    val t = s.toString
    val n = t.length
    if (n < WindowK) return full(s)
    var pow = 1L // Base^(WindowK-1)
    var j = 0
    while (j < WindowK - 1) { pow = mulMod(pow, Base); j += 1 }
    var win = 0L
    var minWin = Long.MaxValue
    var i = 0
    while (i < n) {
      win = (mulMod(win, Base) + t.charAt(i).toLong) % Mod
      if (i >= WindowK) {
        val out = t.charAt(i - WindowK).toLong
        win = (win - mulMod(mulMod(out, pow), Base) % Mod + 2 * Mod) % Mod
      }
      if (i >= WindowK - 1 && win < minWin) minWin = win
      i += 1
    }
    minWin
  }
}

/** `rolling_fingerprint(text)`: 61-bit whole-document hash. */
case class RollingFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    Fingerprints.full(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Fingerprints.full($c)")
  override protected def withNewChildInternal(newChild: Expression): RollingFingerprint =
    copy(child = newChild)
}

/** `min_window_fingerprint(text)`: minimum 16-gram window hash. */
case class MinWindowFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    Fingerprints.minWindow(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Fingerprints.minWindow($c)")
  override protected def withNewChildInternal(newChild: Expression): MinWindowFingerprint =
    copy(child = newChild)
}

/** Static kernel + constants for [[TokenWindowKeys]] (separate object so
  * the generated code can call a stable JVM entry point).
  */
object TokenWindowKeys {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}

  /** Two independent base pairs (all mod 2^61-1): one pair for the
    * per-token byte hashes, one for the window-level roll over token
    * hashes. The TOKEN level must be two-seeded too — if both window
    * components rolled over the SAME token-hash values, a char-level
    * token collision would collide h1 and h2 simultaneously and the
    * second component would add nothing (the same trap as the trailing
    * xxhash64 literal in [[graft.operators.Curation.exactSubstrKey]]'s
    * scaladoc). With independent pairs a distinct-window collision
    * needs two unrelated mod-p collisions at once: ~n²/2¹²² at
    * vocabulary n — the Lee et al. '21 128-bit layout budget.
    */
  final val TokBase1: Long = Fingerprints.Base
  final val TokBase2: Long = 998244353L
  final val WinBase1: Long = 1000000007L
  final val WinBase2: Long = 1610612741L

  val OutType: ArrayType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false))), containsNull = false)

  /** All L-token window keys of `s` in one pass, ZERO window-string (or
    * even token-string) allocation: the tokens are
    * [[graft.Tokens.walk]]'s single-space byte ranges (the
    * `Tokens.Space` model), each hashed to a two-seed 61-bit pair
    * straight off the walk's bytes; the window keys then roll
    * over the token-hash arrays in O(1) per slide. Token bytes are
    * offset by +1 so a leading 0x00 byte cannot vanish from the
    * polynomial (\x00a and a must not collide in BOTH seeds); the
    * window level needs no such guard because every window is exactly
    * L tokens. Output rows are `(pos, h1, h2)` with `pos` the 0-based
    * token index of the window start — the same position grain as the
    * string-mode occurrence stream.
    */
  def keys(s: UTF8String, l: Int): ArrayData = keys(s, l, 0L, false)

  /** [[keys]] with the forced-collision test hooks (prod callers use
    * the 2-arg form; the generated code calls this one with the
    * literals baked in). `narrowMod > 0` squeezes the FIRST component
    * into [0, narrowMod) so a spec can FORCE h1 collisions; `single`
    * zeroes the second component, reproducing the defective one-key
    * layout the width-2 struct exists to rule out. The same
    * demonstration pattern as `exactSubstrKey`'s hooks: narrowed
    * single-key mode demonstrably merges distinct windows, narrowed
    * two-key mode still partitions positions exactly like the window
    * strings — the second seed is load-bearing, not decorative.
    */
  def keys(s: UTF8String, l: Int, narrowMod: Long, single: Boolean): ArrayData = {
    import Fingerprints.{Mod, mulMod}
    val w = graft.Tokens.walk(s, ws = false)
    val bytes = w.bytes
    val nt = w.count
    val t1 = new Array[Long](nt)
    val t2 = new Array[Long](nt)
    var t = 0
    while (t < nt) {
      var h1 = 0L; var h2 = 0L
      var i = w.start(t)
      val e = i + w.len(t)
      while (i < e) {
        val c = (bytes(i) & 0xFF).toLong + 1L
        h1 = (mulMod(h1, TokBase1) + c) % Mod
        h2 = (mulMod(h2, TokBase2) + c) % Mod
        i += 1
      }
      t1(t) = h1; t2(t) = h2
      t += 1
    }
    val m = nt - l + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    var pw1 = 1L; var pw2 = 1L // WinBase^(l-1): the roll-out weights
    var j = 0
    while (j < l - 1) { pw1 = mulMod(pw1, WinBase1); pw2 = mulMod(pw2, WinBase2); j += 1 }
    var h1 = 0L; var h2 = 0L
    j = 0
    while (j < l) {
      h1 = (mulMod(h1, WinBase1) + t1(j)) % Mod
      h2 = (mulMod(h2, WinBase2) + t2(j)) % Mod
      j += 1
    }
    def emit(pos: Int, a: Long, b: Long): GenericInternalRow =
      new GenericInternalRow(Array[Any](pos,
        if (narrowMod > 0L) a % narrowMod else a,
        if (single) 0L else b))
    val out = new Array[Any](m)
    out(0) = emit(0, h1, h2)
    var p = 1
    while (p < m) {
      h1 = (h1 + Mod - mulMod(t1(p - 1), pw1)) % Mod
      h1 = (mulMod(h1, WinBase1) + t1(p + l - 1)) % Mod
      h2 = (h2 + Mod - mulMod(t2(p - 1), pw2)) % Mod
      h2 = (mulMod(h2, WinBase2) + t2(p + l - 1)) % Mod
      out(p) = emit(p, h1, h2)
      p += 1
    }
    new GenericArrayData(out)
  }

  /** `text`'s L-token rolling window keys as a Column. */
  def of(text: org.apache.spark.sql.Column, l: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.GraftColumns
    GraftColumns.ofExpr(TokenWindowKeys(GraftColumns.exprOf(text), l))
  }

  /** SQL builder shared by the temp-function registration and the
    * session-extension injection. L must be resolvable at PLAN time
    * (the kernel specializes on it), so the builder validates instead
    * of calling `eval()` blind: a non-foldable second argument used to
    * throw Catalyst's opaque "Cannot evaluate expression" and a NULL
    * literal NPE'd on the Number cast — both now raise a clean,
    * named AnalysisException at analysis.
    */
  def sqlBuilder(es: Seq[Expression]): TokenWindowKeys = {
    def bad(why: String): Nothing = throw new org.apache.spark.sql.AnalysisException(
      "USER_RAISED_EXCEPTION",
      Map("errorMessage" ->
        s"token_window_keys: L must be a non-null integer literal ($why)"),
      None)
    if (es.length != 2) bad(s"got ${es.length} argument(s)")
    if (!es(1).foldable) bad("got a non-foldable expression")
    es(1).eval() match {
      case null      => bad("got NULL")
      case n: Number => TokenWindowKeys(es(0), n.intValue())
      case other     => bad(s"got a ${other.getClass.getSimpleName}")
    }
  }
}

/** `token_window_keys(text, L)`: every L-token window's two-seed
  * rolling 128-bit fingerprint, `array<struct<pos,h1,h2>>` — the
  * hashed-mode key stream of the ExactSubstr rewrite
  * ([[graft.operators.Curation.exactSubstrRewrite]]). The r18 verdict's
  * allocation item: hashed mode used to BUILD every L-token window
  * string only to hash it (L× transient string bytes per token at
  * 100 TB); this expression emits the keys straight off the token
  * stream inside whole-stage codegen, allocating nothing but the
  * result array.
  */
case class TokenWindowKeys(child: Expression, l: Int,
    narrowMod: Long = 0L, single: Boolean = false) extends UnaryExpression {
  require(l >= 1, s"token_window_keys: window length must be >= 1, got $l")
  override def dataType: DataType = TokenWindowKeys.OutType
  override protected def nullSafeEval(input: Any): Any =
    TokenWindowKeys.keys(input.asInstanceOf[UTF8String], l, narrowMod, single)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenWindowKeys.keys($c, $l, ${narrowMod}L, $single)")
  override protected def withNewChildInternal(newChild: Expression): TokenWindowKeys =
    copy(child = newChild)
}

object FingerprintFunctions {
  /** Registers the engine's native SQL functions
    * ([[graft.GraftExtensions.functions]]) in the given session. The
    * entries are the extension's own instances, so on a session built
    * with `GraftExtensions` this re-registers equal entries: a no-op
    * that logs no "replaced a previously registered function".
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    graft.GraftExtensions.functions.foreach { case (name, info, builder) =>
      reg.registerFunction(name, info, builder)
    }
  }
}
