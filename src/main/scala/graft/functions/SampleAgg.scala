package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.functions.{array_sort, element_at, filter, lit, size}
import org.apache.spark.sql.graftshim.GraftColumns
import org.apache.spark.sql.types.{DataType, LongType}

/** Mutable bottom-k-by-hash PAIR sample: the `n <= k` (hash, value)
  * pairs with the smallest DISTINCT hashes seen so far, kept sorted by
  * hash ascending in two parallel `long[k]` arrays — the
  * [[KmvState]] layout with a value payload riding along. Because the
  * hash is a uniform fingerprint of a unique row id, the retained
  * values are a uniform without-replacement sample of the group's
  * rows, which is exactly what a mergeable quantile sketch needs
  * (bottom-k sampling: Cohen & Kaplan '07).
  *
  * Determinism under any merge order (required for oracle replay): a
  * duplicate hash keeps the SMALLER value, and a full buffer rejects
  * any hash strictly greater than the current k-th minimum, so the
  * final state is a pure function of the input SET.
  */
final class SamplePairsState(val k: Int) {
  var n: Int = 0
  val hashes: Array[Long] = new Array[Long](k)
  val vals: Array[Long] = new Array[Long](k)

  def insert(h: Long, v: Long): Unit = {
    if (n >= k && hashes(n - 1) < h) return // past the k-th min: reject
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (hashes(mid) < h) lo = mid + 1 else hi = mid
    }
    if (lo < n && hashes(lo) == h) { // collision: order-independent min
      if (v < vals(lo)) vals(lo) = v
      return
    }
    val keep = math.min(n, k - 1) // last slot falls off a full buffer
    System.arraycopy(hashes, lo, hashes, lo + 1, keep - lo)
    System.arraycopy(vals, lo, vals, lo + 1, keep - lo)
    hashes(lo) = h
    vals(lo) = v
    if (n < k) n += 1
  }

  def mergeIn(other: SamplePairsState): SamplePairsState = {
    var i = 0
    while (i < other.n) { insert(other.hashes(i), other.vals(i)); i += 1 }
    this
  }
}

/** Native bottom-k (hash, value) sample aggregate — the quantile
  * sketch's state builder, completing the replayable sketch quartet
  * (KMV distinct / CMS frequency / HLL / equi-width histogram) with
  * the one read-out those cannot give: order statistics of an
  * unbounded-domain value column. State per group is `2k` longs and
  * the merge is the bottom-k set union, so streaming incremental
  * merges are exact. Output (and serialized payload) is the
  * interleaved pair array `[h0, v0, h1, v1, ...]` sorted by hash —
  * still a mergeable sketch, so downstream algebra (window slides,
  * rollups) can re-merge it.
  *
  * Replayability: the retained pairs are the k smallest md5-derived
  * hashes, so DuckDB rebuilds the identical sample with a
  * `row_number() OVER (ORDER BY h)` filter and the identical quantile
  * read-out with integer rank arithmetic — the whole path hashes.
  */
case class SamplePairsAgg(
    left: Expression,
    right: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends LongSketchAgg[SamplePairsState] with BinaryLike[Expression] {

  override def prettyName: String = "sample_pairs"
  protected def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  protected def entryWidth: Int = 2

  override def createAggregationBuffer(): SamplePairsState = new SamplePairsState(k)
  protected def absorb(buf: SamplePairsState, h: Any, v: Any): Unit =
    buf.insert(h.asInstanceOf[Long], v.asInstanceOf[Long])
  override def merge(a: SamplePairsState, b: SamplePairsState): SamplePairsState =
    a.mergeIn(b)

  protected def longs(buf: SamplePairsState): Array[Long] = {
    val out = new Array[Long](2 * buf.n)
    var i = 0
    while (i < buf.n) { out(2 * i) = buf.hashes(i); out(2 * i + 1) = buf.vals(i); i += 1 }
    out
  }
  protected def fromLongs(xs: Array[Long]): SamplePairsState = {
    val st = new SamplePairsState(k)
    st.n = xs.length / 2
    var i = 0
    while (i < st.n) { st.hashes(i) = xs(2 * i); st.vals(i) = xs(2 * i + 1); i += 1 }
    st
  }

  protected def withOffsets(mutable: Int, input: Int): SamplePairsAgg =
    copy(mutableAggBufferOffset = mutable, inputAggBufferOffset = input)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SamplePairsAgg =
    copy(left = newLeft, right = newRight)
}

/** The pair-sample owner: sample size and the percentile-disc
  * read-out every quantile query picks with (q195, q197, q199, q203,
  * q204; the histogram's edges rank the same way).
  */
object SamplePairsAgg {
  /** Sample size: quantile rank stderr ~ sqrt(q(1-q)/k) — ±3.1% rank
    * error at the median, ±0.6% at p99.
    */
  val K: Int = 256

  /** Column form: bottom-k (hash, value) pair sample, interleaved
    * `[h, v, ...]` sorted by hash. `hash` must be a uniform BIGINT
    * fingerprint of a unique row id (the `hllKey` convention).
    */
  def sketch(hash: Column, value: Column, k: Int = K): Column =
    SamplePairsAgg(GraftColumns.exprOf(hash), GraftColumns.exprOf(value), k).toColumn

  /** The quantile read-out both engines share: with the sample's
    * values sorted ascending, quantile `q = qnum/100` is the value at
    * 1-based rank `ceil(n·qnum/100)` (percentile-disc semantics) —
    * pure integer arithmetic, so engine and DuckDB agree bit-for-bit.
    */
  def rankOf(n: Int, qnum: Int): Int = (n * qnum + 99) / 100

  /** [[rankOf]] over a BIGINT count Column. */
  def rank(n: Column, qnum: Int): Column = intDiv(n * lit(qnum) + lit(99), lit(100))

  /** The value at quantile `qnum/100` of a `pairs` sample column. */
  def quantile(pairs: Column, qnum: Int): Column = {
    val vals = array_sort(filter(pairs, (_, i) => i % 2 === 1))
    element_at(vals, rank(size(vals).cast("long"), qnum).cast("int"))
  }

  /** `n_sample` and the p50/p90/p99 picks, named `p<q>_<suffix>`. */
  def readout(pairs: Column, suffix: String): Seq[Column] =
    intDiv(size(pairs), lit(2)).as("n_sample") +:
      Seq(50, 90, 99).map(q => quantile(pairs, q).as(s"p${q}_$suffix"))
}
