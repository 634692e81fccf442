package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions.{element_at, lit, size, when}
import org.apache.spark.sql.graftshim.GraftColumns
import org.apache.spark.sql.types.{DataType, LongType}

/** Mutable KMV (k-minimum-values) sketch state: the `n <= k` smallest
  * DISTINCT long keys seen so far, sorted ascending in a fixed
  * `long[k]` — no boxing, no per-insert reallocation. An insert is a
  * binary search plus (on hit inside the prefix) one `arraycopy`
  * shift; a key past the current k-th minimum of a full buffer is
  * rejected in O(log k) without touching the array.
  */
final class KmvState(val k: Int) {
  var n: Int = 0
  val keys: Array[Long] = new Array[Long](k)

  def insert(x: Long): Unit = {
    if (n >= k && keys(n - 1) <= x) return // past the k-th min: reject
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (keys(mid) < x) lo = mid + 1 else hi = mid
    }
    if (lo < n && keys(lo) == x) return // already present: distinct
    val keep = math.min(n, k - 1) // last slot falls off a full buffer
    System.arraycopy(keys, lo, keys, lo + 1, keep - lo)
    keys(lo) = x
    if (n < k) n += 1
  }

  def mergeIn(other: KmvState): KmvState = {
    var i = 0
    while (i < other.n) { insert(other.keys(i)); i += 1 }
    this
  }
}

/** Native KMV bottom-k-distinct aggregate: the k smallest DISTINCT
  * long keys per group, sorted ascending — the semantics of the typed
  * [[BottomKDistinct]] (KmvAggSpec pins agreement row for row) on an
  * unboxed `long[]` buffer. The `udaf(BottomKDistinct)` form paid an
  * Encoder round trip plus an O(k) immutable-`Vector` copy per input
  * row; the r13 scale canary's worst streaming decade ratio (q175
  * sf1→sf10 = 3.1×) was entirely that. The merge is the KMV set union,
  * so streaming incremental merges are exact. Input must already be
  * the 60-bit long key: callers hash before aggregating.
  */
case class KmvSketchAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends LongSketchAgg[KmvState] with UnaryLike[Expression] {

  override def prettyName: String = "kmv_sketch"
  protected def inputTypes: Seq[DataType] = Seq(LongType)
  protected def entryWidth: Int = 1

  override def createAggregationBuffer(): KmvState = new KmvState(k)
  protected def absorb(buf: KmvState, x: Any, y: Any): Unit = buf.insert(x.asInstanceOf[Long])
  override def merge(a: KmvState, b: KmvState): KmvState = a.mergeIn(b)

  protected def longs(buf: KmvState): Array[Long] = java.util.Arrays.copyOf(buf.keys, buf.n)
  protected def fromLongs(xs: Array[Long]): KmvState = {
    val st = new KmvState(k)
    System.arraycopy(xs, 0, st.keys, 0, xs.length)
    st.n = xs.length
    st
  }

  protected def withOffsets(mutable: Int, input: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = mutable, inputAggBufferOffset = input)
  override protected def withNewChildInternal(newChild: Expression): KmvSketchAgg =
    copy(child = newChild)
}

/** The KMV owner: sketch size, key domain and the distinct estimate
  * every KMV query reads out (q172, q175, q186, q193, q200).
  */
object KmvSketchAgg {
  /** Sketch size: stderr of the distinct estimate ~ 1/sqrt(k-2) = 13%. */
  val K: Int = 64

  /** Key domain: the 60-bit md5 key, H = 2^60. */
  val Domain: Long = 1L << 60

  /** Column form: KMV sketch of `key` (a 60-bit long hash key). */
  def sketch(key: Column, k: Int = K): Column =
    KmvSketchAgg(GraftColumns.exprOf(key), k).toColumn

  /** Distinct estimate of a sketch holding `n` keys, the largest
    * `kth`: below [[K]] keys the sketch IS the distinct set, so the
    * estimate is `n` exactly; otherwise (K−1)·H / kth, floored in exact
    * DECIMAL integer division (the oracle's HUGEINT `//`).
    */
  def estimate(n: Column, kth: Column): Column =
    when(n < lit(K.toLong), n)
      .otherwise(intDiv(lit(BigDecimal(K - 1) * BigDecimal(Domain)), kth))

  /** The union-scaled size of `part` of a merged sketch's `n` members:
    * floor(part · [[estimate]] / n) — the theta-sketch A-not-B
    * read-out (q186), exact below [[K]] union keys.
    */
  def share(part: Column, n: Column, kth: Column): Column =
    intDiv(part.cast("decimal(38,0)") * estimate(n, kth), n)

  /** `(n_kmv, kth_min, est_distinct)` of a sketch column. */
  def readout(sk: Column): Seq[Column] = {
    val n = size(sk).cast("long")
    val kth = element_at(sk, -1)
    Seq(n.as("n_kmv"), kth.as("kth_min"), estimate(n, kth).as("est_distinct"))
  }
}
