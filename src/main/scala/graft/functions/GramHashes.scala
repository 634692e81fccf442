package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel for [[GramHashes]] (separate object so the generated
  * code calls a stable JVM entry point, the [[TokenWindows]] pattern).
  */
object GramHashes {

  val OutType: ArrayType = ArrayType(LongType, containsNull = false)

  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Every n-token gram's 64-bit md5-prefix hash, in gram order —
    * value-identical to
    * `grams(Tokens.Space(t), n).map(Dedup.gramHash64)` (tokens of
    * [[graft.Tokens.walk]], joined by single spaces; hash =
    * first 8 bytes of md5(utf-8(gram)), big-endian — the
    * oracle-reproducible `substr(md5(g), 1, 16)` identity), computed
    * with ZERO window-string allocation: the md5 digests each window's
    * bytes straight out of one normalized buffer per document.
    * `distinct` keeps first occurrences only; `sorted` ascending-sorts
    * the result (applied after distinct — the
    * `.distinct.sorted` shape of the all-pairs prefix filter).
    */
  def hashes(s: UTF8String, n: Int, distinct: Boolean, sorted: Boolean,
      wsSplit: Boolean): ArrayData = {
    val w = graft.Tokens.walk(s, wsSplit)
    val m = w.count - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Long])
    val norm = w.joined()
    val md = Md5.get()
    val out = new Array[Long](m)
    var p = 0
    while (p < m) {
      val a = w.off(p)
      val b = w.end(p + n - 1)
      md.reset()
      md.update(norm, a, b - a)
      val d = md.digest()
      var h = 0L
      var j = 0
      while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
      out(p) = h
      p += 1
    }
    var res = out
    if (distinct) {
      val seen = new java.util.HashSet[java.lang.Long]()
      val kept = new Array[Long](m)
      var k = 0
      p = 0
      while (p < m) {
        if (seen.add(out(p))) { kept(k) = out(p); k += 1 }
        p += 1
      }
      res = if (k == m) kept else java.util.Arrays.copyOf(kept, k)
    }
    if (sorted) java.util.Arrays.sort(res)
    new GenericArrayData(res)
  }

  /** `text`'s n-token gram hashes as a Column. */
  def of(text: org.apache.spark.sql.Column, n: Int,
      distinct: Boolean = false, sorted: Boolean = false,
      wsSplit: Boolean = false): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.GraftColumns
    GraftColumns.ofExpr(
      GramHashes(GraftColumns.exprOf(text), n, distinct, sorted, wsSplit))
  }
}

/** `gram_hashes(text, n[, distinct[, sorted]])`: every n-token gram's
  * 64-bit md5-prefix hash ([[graft.operators.Dedup.gramHash64]]'s
  * oracle-reproducible identity), `array<long>` — the hashed sibling
  * of [[TokenWindows]]. Exists so the gram-hash document profiles of
  * the similarity family (all-pairs prefix filter, inverted index)
  * run as scan→project inside whole-stage codegen instead of a
  * corpus-scale `Dataset.map` encoder barrier (guide §1.2 step 2),
  * with no per-token or per-window String allocation. GramHashesSpec
  * pins value-equality with the `gramHash64(grams(Tokens.Space))` path on
  * adversarial corpora.
  */
case class GramHashes(child: Expression, n: Int,
    distinct: Boolean = false, sorted: Boolean = false,
    wsSplit: Boolean = false) extends UnaryExpression {
  require(n >= 1, s"gram_hashes: window length must be >= 1, got $n")
  override def dataType: DataType = GramHashes.OutType
  override protected def nullSafeEval(input: Any): Any =
    GramHashes.hashes(input.asInstanceOf[UTF8String], n, distinct, sorted, wsSplit)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GramHashes.hashes($c, $n, $distinct, $sorted, $wsSplit)")
  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)
}
