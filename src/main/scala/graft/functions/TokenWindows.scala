package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel for [[TokenWindows]] (separate object so the generated
  * code calls a stable JVM entry point, the [[TokenWindowKeys]]
  * pattern).
  */
object TokenWindows {

  val OutType: ArrayType = ArrayType(StringType, containsNull = false)

  /** Every n-token window STRING of `s`, in window order —
    * byte-identical to `Curation.grams(Tokens.Space(t), n)`
    * ([[graft.Tokens.walk]]'s single-space tokens joined by single
    * spaces; no partial tail windows), built with ONE normalized byte
    * buffer per document: every window is a contiguous slice of the
    * single-space-joined token text, so the returned UTF8Strings are
    * zero-copy VIEWS into that buffer (O(corpus) bytes built per doc,
    * not O(n·corpus)). `distinct = true` keeps each window's FIRST
    * occurrence only (per-doc distinctness — the census grain; output
    * order is first-occurrence, callers aggregate so order never
    * matters).
    */
  def windows(s: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val w = graft.Tokens.walk(s, ws = false)
    val m = w.count - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val norm = w.joined()
    val out = new Array[Any](m)
    var kept = 0
    val seen = if (distinct) new java.util.HashSet[UTF8String]() else null
    var p = 0
    while (p < m) {
      val a = w.off(p)
      val win = UTF8String.fromBytes(norm, a, w.end(p + n - 1) - a)
      if (seen == null || seen.add(win)) { out(kept) = win; kept += 1 }
      p += 1
    }
    new GenericArrayData(
      if (kept == m) out
      else java.util.Arrays.copyOfRange(out.asInstanceOf[Array[AnyRef]], 0, kept))
  }

  /** `text`'s n-token window strings as a Column. */
  def of(text: org.apache.spark.sql.Column, n: Int,
      distinct: Boolean = false): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.GraftColumns
    GraftColumns.ofExpr(TokenWindows(GraftColumns.exprOf(text), n, distinct))
  }
}

/** `token_windows(text, n[, distinct])`: every n-token window string,
  * `array<string>` — the STRING-mode (oracle-grain) sibling of
  * [[TokenWindowKeys]]. Exists so the string-keyed ExactSubstr /
  * decontamination operators' window streams run as
  * scan→project→explode inside whole-stage codegen instead of a
  * corpus-scale `Dataset.flatMap` (a deserialize→JVM-iterator→
  * serialize encoder barrier that also blocks fusion with the
  * downstream aggregate's partial hash map — guide §1.2 step 2).
  * TokenWindowsSpec pins byte-equality with the
  * `grams(Tokens.Space(t), n)` iterator on adversarial corpora.
  */
case class TokenWindows(child: Expression, n: Int, distinct: Boolean = false)
    extends UnaryExpression {
  require(n >= 1, s"token_windows: window length must be >= 1, got $n")
  override def dataType: DataType = TokenWindows.OutType
  override protected def nullSafeEval(input: Any): Any =
    TokenWindows.windows(input.asInstanceOf[UTF8String], n, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenWindows.windows($c, $n, $distinct)")
  override protected def withNewChildInternal(newChild: Expression): TokenWindows =
    copy(child = newChild)
}
