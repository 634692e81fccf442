package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.GraftColumns
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** The one native sketch aggregate: a small mutable state per group
  * that absorbs rows and merges with another state — tinymr's
  * in-mapper combining (docs.rst:197-283) as a Catalyst
  * `TypedImperativeAggregate`. Its output array is the state's `long[]`
  * image, and so is its serialized form (behind an int entry count when
  * the state is variable-length), so every sketch shares the type
  * check, null handling, output, serialization and buffer-offset
  * plumbing below.
  *
  * Why native at all, when a groupBy or a typed `Aggregator` computes
  * the same cells: the relational forms hold one state-store ENTRY per
  * observed (group, cell), and the `udaf` form pays an Encoder round
  * trip per input row; here a group is ONE state row, a row costs
  * `eval` plus primitive slot arithmetic, and serialization happens
  * only at partial-output and state-store boundaries.
  */
abstract class LongSketchAgg[S] extends TypedImperativeAggregate[S] {

  /** Input types, in `children` order. */
  protected def inputTypes: Seq[DataType]

  /** Longs per retained entry of a variable-length state, serialized
    * behind an int entry count; 0 for a fixed-length state, serialized
    * bare.
    */
  protected def entryWidth: Int

  /** Fold one row whose inputs are all non-null (`y` is null for a
    * one-input sketch).
    */
  protected def absorb(buf: S, x: Any, y: Any): Unit

  /** The state's `long[]` image: the output array and the serialized payload. */
  protected def longs(buf: S): Array[Long]
  protected def fromLongs(xs: Array[Long]): S

  protected def withOffsets(mutable: Int, input: Int): LongSketchAgg[S]

  override def checkInputDataTypes(): TypeCheckResult = {
    def sig(ts: Seq[DataType]): String = ts.map(_.sql).mkString("(", ", ", ")")
    val got = children.map(_.dataType)
    if (got == inputTypes) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs ${sig(inputTypes)}, got ${sig(got)}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def update(buf: S, input: InternalRow): S = {
    val x = children.head.eval(input)
    if (x != null) {
      if (children.length == 1) absorb(buf, x, null)
      else {
        val y = children(1).eval(input)
        if (y != null) absorb(buf, x, y)
      }
    }
    buf
  }

  override def eval(buf: S): Any = new GenericArrayData(longs(buf))

  override def serialize(buf: S): Array[Byte] = {
    val xs = longs(buf)
    val bb = ByteBuffer.allocate((if (entryWidth > 0) 4 else 0) + 8 * xs.length)
    if (entryWidth > 0) bb.putInt(xs.length / entryWidth)
    bb.asLongBuffer().put(xs)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): S = {
    val bb = ByteBuffer.wrap(bytes)
    val xs = new Array[Long](if (entryWidth > 0) bb.getInt * entryWidth else bytes.length / 8)
    bb.asLongBuffer().get(xs)
    fromLongs(xs)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ImperativeAggregate =
    withOffsets(newOffset, inputAggBufferOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ImperativeAggregate =
    withOffsets(mutableAggBufferOffset, newOffset)

  /** Column form of this aggregate. */
  def toColumn: Column = GraftColumns.ofExpr(toAggregateExpression())
}

/** A fixed array of long cells: HLL registers, a CMS grid, histogram bins. */
final class CellState(val cells: Array[Long]) {
  def this(size: Int) = this(new Array[Long](size))
  /** HLL's name for its cells. */
  def regs: Array[Long] = cells
}

/** What tells one cell sketch from another: each input folds
  * [[value]] into [[slotsPerInput]] cells, by max or by addition, and
  * two states merge cell by cell the same way.
  */
abstract class CellRule extends Serializable {
  def name: String
  def input: DataType
  def size: Int
  /** Cells combine by max (true) or by addition (false). */
  def maxMerge: Boolean
  def slotsPerInput: Int = 1
  /** The `j`-th cell input `x` updates. */
  def slot(x: Any, j: Int): Int
  /** What input `x` folds into each of its cells. */
  def value(x: Any): Long = 1L
}

/** The cell-array sketch aggregate; [[CellRule]] supplies the sketch. */
case class CellSketchAgg(
    child: Expression,
    rule: CellRule,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends LongSketchAgg[CellState] with UnaryLike[Expression] {

  override def prettyName: String = rule.name
  protected def inputTypes: Seq[DataType] = Seq(rule.input)
  protected def entryWidth: Int = 0

  override def createAggregationBuffer(): CellState = new CellState(rule.size)

  private def fold(cells: Array[Long], i: Int, v: Long): Unit =
    if (rule.maxMerge) { if (v > cells(i)) cells(i) = v }
    else cells(i) += v

  protected def absorb(buf: CellState, x: Any, y: Any): Unit = {
    val v = rule.value(x)
    var j = 0
    while (j < rule.slotsPerInput) { fold(buf.cells, rule.slot(x, j), v); j += 1 }
  }

  override def merge(x: CellState, y: CellState): CellState = {
    var i = 0
    while (i < x.cells.length) { fold(x.cells, i, y.cells(i)); i += 1 }
    x
  }

  protected def longs(buf: CellState): Array[Long] = buf.cells.clone()
  protected def fromLongs(xs: Array[Long]): CellState = new CellState(xs)

  protected def withOffsets(mutable: Int, input: Int): CellSketchAgg =
    copy(mutableAggBufferOffset = mutable, inputAggBufferOffset = input)
  override protected def withNewChildInternal(newChild: Expression): CellSketchAgg =
    copy(child = newChild)
}

/** HLL registers over the library's replayable 60-bit key convention
  * (top `bits` bits = bucket, rho = maxRho − bitlength of the suffix,
  * all-zero suffix = maxRho): the arithmetic of the Column pair
  * `hllBucket`/`hllRho`, so downstream registers hash-match. Merge is
  * register max, which is HLL union.
  */
object HllRegistersAgg {
  final case class Rule(bits: Int, maxRho: Int) extends CellRule {
    def name: String = "hll_registers"
    def input: DataType = LongType
    def size: Int = 1 << bits
    def maxMerge: Boolean = true
    def slot(x: Any, j: Int): Int = (x.asInstanceOf[Long] >>> (60 - bits)).toInt
    override def value(x: Any): Long = {
      val suffix = x.asInstanceOf[Long] & ((1L << (60 - bits)) - 1)
      if (suffix == 0L) maxRho.toLong
      else maxRho.toLong - (64 - java.lang.Long.numberOfLeadingZeros(suffix))
    }
  }

  def apply(child: Expression, bits: Int, maxRho: Int): CellSketchAgg =
    CellSketchAgg(child, Rule(bits, maxRho))

  /** Column form over the library's replayable HLL parameters. */
  def registers(key: Column): Column =
    HllRegistersAgg(GraftColumns.exprOf(key),
      graft.operators.Corpus.HllBits, graft.operators.Corpus.HllMaxRho).toColumn
}

/** Count-min sketch: the q158/q167 grid as a flat `long[depth·width]`,
  * h_j(x) = (a_j·hi + b_j·lo + c_j) mod p mod width on the two 30-bit
  * halves of the 60-bit key — the arithmetic of `Corpus.cmsBucketOf`,
  * so downstream cells hash-match. One input bumps `depth` cells with
  * no row amplification, where the relational form CROSS JOINs every
  * event with the depth seed rows (q167's worst streaming constant in
  * the r15 sweep). Merge is addition: the sketch is a linear map.
  */
object CmsSketchAgg {
  final case class Rule(a: Array[Long], b: Array[Long], c: Array[Long],
      width: Int, p: Long, halfBits: Int) extends CellRule {
    def name: String = "cms_sketch"
    def input: DataType = LongType
    def size: Int = a.length * width
    def maxMerge: Boolean = false
    override def slotsPerInput: Int = a.length
    def slot(x: Any, j: Int): Int = {
      val key = x.asInstanceOf[Long]
      val hi = key >>> halfBits
      val lo = key & ((1L << halfBits) - 1)
      j * width + ((a(j) * hi + b(j) * lo + c(j)) % p % width).toInt
    }
  }

  def apply(child: Expression, a: Array[Long], b: Array[Long], c: Array[Long],
      width: Int, p: Long, halfBits: Int): CellSketchAgg =
    CellSketchAgg(child, Rule(a, b, c, width, p, halfBits))

  /** Column form over the library's replayable CMS seeds. */
  def sketch(key: Column): Column = {
    val c = graft.operators.Corpus
    CmsSketchAgg(GraftColumns.exprOf(key), c.cmsSeedsA, c.cmsSeedsB, c.cmsSeedsC,
      c.CmsReplayWidth, c.CmsReplayP, c.CmsReplayHalfBits).toColumn
  }
}

/** Fixed-domain histogram: the q168/q174 bin counts, bin arithmetic
  * IEEE-identical to the Column form (`floor((v - vmin) * bins /
  * (vmax - vmin))`, clamped to the top bin; a degenerate domain
  * collapses to bin 0), so downstream cells hash-match.
  */
object HistogramAgg {
  final case class Rule(vmin: Double, vmax: Double, bins: Int) extends CellRule {
    def name: String = "fixed_histogram"
    def input: DataType = DoubleType
    def size: Int = bins
    def maxMerge: Boolean = false
    def slot(x: Any, j: Int): Int =
      if (vmax == vmin) 0
      else math.min(
        math.floor((x.asInstanceOf[Double] - vmin) * bins.toDouble / (vmax - vmin)).toLong,
        bins - 1L).toInt
  }

  def apply(child: Expression, vmin: Double, vmax: Double, bins: Int): CellSketchAgg =
    CellSketchAgg(child, Rule(vmin, vmax, bins))

  /** Column form over the library's bin count. */
  def histogram(value: Column, vmin: Double, vmax: Double): Column =
    HistogramAgg(GraftColumns.exprOf(value), vmin, vmax,
      graft.operators.Relational.HistBins.toInt).toColumn
}
