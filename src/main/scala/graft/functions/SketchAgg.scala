package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
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

object CellSketchAgg {
  /** A cell sketch's observed cells as rows: the `keys` columns carried
    * through, then `(pos, <value>)` for each cell above zero — the one
    * explode the HLL, CMS and histogram read-outs start from.
    */
  private[functions] def observed(
      sketches: DataFrame, keys: Seq[String], cells: Column, value: String): DataFrame =
    sketches.select(keys.map(col) :+ posexplode(cells).as(Seq("pos", value)): _*)
      .filter(col(value) > 0)
}

/** HLL registers over the library's replayable 60-bit key convention
  * (top `bits` bits = bucket, rho = maxRho − bitlength of the suffix,
  * all-zero suffix = maxRho): the arithmetic of the Column pair
  * [[bucket]]/[[rho]], so downstream registers hash-match. Merge is
  * register max, which is HLL union. The object owns the replayable
  * layout, the register rows and the estimator (q159, q161, q162,
  * q170, q190).
  */
object HllRegistersAgg {
  /** Register-index bits / register count of the replayable HLL (q159). */
  val Bits = 9
  val M = 512

  /** Rho ceiling: the 60-bit md5 key spends [[Bits]] on the register
    * index, leaving 51 suffix bits — an all-zero suffix counts as
    * rho = 52 (the "reached the end" convention).
    */
  val MaxRho = 52

  /** alpha_m · m² for m = 512 (Flajolet et al. '07 §4's bias constant),
    * evaluated HERE once and pasted into the oracle as a literal —
    * Scala's shortest-round-trip double printing re-parses to the same
    * bits in DuckDB, so both engines scale by the identical double.
    */
  val AlphaMM: Double = 0.7213 / (1.0 + 1.079 / 512.0) * 512.0 * 512.0

  /** 2^52 — the register-sum radix: a register value r contributes
    * 2^(52 − r), so the classic Σ 2^(−M_j) becomes the EXACT integer
    * Σ 2^(52 − M_j) (≤ 512·2^52 < 2^62) and the only floating step
    * left is one final scale-and-divide. Double-summing 2^(−M_j)
    * directly would need >53 mantissa bits and go order-dependent.
    */
  val Radix = 4503599627370496L

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
    HllRegistersAgg(GraftColumns.exprOf(key), Bits, MaxRho).toColumn

  /** Register index: top [[Bits]] bits of the 60-bit key. */
  def bucket(x: Column): Column = shiftright(x, 60 - Bits)

  /** rho of the 51-bit suffix: 52 − bitlength (all-zero suffix = 52). */
  def rho(x: Column): Column = {
    val suffix = x.bitwiseAND(lit((1L << (60 - Bits)) - 1))
    when(suffix === 0, lit(MaxRho))
      .otherwise(lit(MaxRho) - length(conv(suffix, 10, 2)))
      .cast("long")
  }

  /** The observed registers of a `regs` column as `(keys..., bkt, r)`
    * rows, r > 0 — the rows [[readout]] folds and the oracle hashes.
    */
  def cellRows(sketches: DataFrame, keys: Seq[String], regs: Column): DataFrame =
    CellSketchAgg.observed(sketches, keys, regs, "r")
      .select(keys.map(col) ++ Seq(col("pos").cast("long").as("bkt"), col("r")): _*)

  /** Fold a register frame `(keys..., bkt, r)` to the q159 output
    * columns (n_hit, s_hit, v_empty, s_reg, est_raw, small_range) —
    * shared by every batch, rollup and streaming register build.
    */
  def readout(regs: DataFrame, keys: Seq[String]): DataFrame =
    regs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_hit"),
        // shiftleft's Scala binding takes only a literal shift — the
        // SQL form accepts a column
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($MaxRho - r AS INT))"))
          .as("s_hit"))
      .withColumn("v_empty", lit(M.toLong) - col("n_hit"))
      .withColumn("s_reg", col("s_hit") + col("v_empty") * lit(Radix))
      .withColumn("est_raw",
        lit(AlphaMM) * (lit(Radix.toDouble) / col("s_reg").cast("double")))
      .withColumn("small_range",
        col("est_raw") <= lit(2.5 * M) && col("v_empty") > 0)

  /** The full HLL estimator including the ln-based linear-counting
    * correction (Flajolet et al. '07 §4) — the production read-out of
    * the register state. Engine-side only (ln is not bit-portable
    * cross-engine); HllReplaySpec pins its accuracy.
    */
  def corrected(sReg: Long, vEmpty: Long): Double = {
    val raw = AlphaMM * (Radix.toDouble / sReg.toDouble)
    if (raw <= 2.5 * M && vEmpty > 0) M * math.log(M.toDouble / vEmpty)
    else raw
  }
}

/** Count-min sketch: the q158/q167 grid as a flat `long[depth·width]`,
  * h_j(x) = (a_j·hi + b_j·lo + c_j) mod p mod width on the two 30-bit
  * halves of the 60-bit key — the arithmetic of [[bucket]], so
  * downstream cells hash-match. One input bumps `depth` cells with
  * no row amplification, where the relational form CROSS JOINs every
  * event with the depth seed rows (q167's worst streaming constant in
  * the r15 sweep). Merge is addition: the sketch is a linear map. The
  * object owns the published hash family, the grid split and the point
  * query (q158, q163, q167, q202).
  */
object CmsSketchAgg {
  /** Depth (hash rows) and width (buckets per row) of the REPLAYABLE
    * count-min sketch (q158) — q55's structure, but with a published
    * hash family instead of Spark's internal murmur seeds, so the
    * DuckDB oracle rebuilds every cell and estimate exactly.
    */
  val Depth = 4
  val Width = 512

  /** Field prime for the replayable CMS hash rows (2^31 - 1). */
  val P = 2147483647L

  /** Half-split mask/shift of the 60-bit md5 key: the row hash is
    * h_j(x) = (a_j·hi(x) + b_j·lo(x) + c_j) mod p with hi/lo the two
    * 30-bit halves — every product stays under 2^61, so plain BIGINT
    * arithmetic replays it with no 128-bit detour on either engine.
    */
  val HalfBits = 30

  private val (a, b, c) = {
    // the Dedup.permA discipline: fixed-seed LCG reduced into the field,
    // published to the oracle via seedValuesSql
    var state = 4242L
    def next(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      state
    }
    val (a, b, c) = (new Array[Long](Depth), new Array[Long](Depth), new Array[Long](Depth))
    for (j <- 0 until Depth) {
      a(j) = java.lang.Long.remainderUnsigned(next(), P - 1) + 1
      b(j) = java.lang.Long.remainderUnsigned(next(), P - 1) + 1
      c(j) = java.lang.Long.remainderUnsigned(next(), P)
    }
    (a, b, c)
  }

  /** Seed arrays (defensive copies — the aggregate carries them as
    * constructor state).
    */
  def seedsA: Array[Long] = a.clone()
  def seedsB: Array[Long] = b.clone()
  def seedsC: Array[Long] = c.clone()

  /** The oracle's literal `(j, a, b, c)` VALUES rows — generated from
    * the seeds so engine and oracle can never drift.
    */
  def seedValuesSql: String =
    a.indices.map(j => s"(${j}, ${a(j)}, ${b(j)}, ${c(j)})").mkString(", ")

  /** The seed rows as a broadcastable `(j, a, b, c)` frame. */
  def seeds(s: SparkSession): DataFrame =
    s.createDataFrame(a.indices.map(j => (j.toLong, a(j), b(j), c(j))))
      .toDF("j", "a", "b", "c")

  /** Row hash of a 60-bit key column under one row's seed columns. */
  def bucket(x: Column, a: Column, b: Column, c: Column): Column = {
    val hi = shiftright(x, HalfBits)
    val lo = x.bitwiseAND(lit((1L << HalfBits) - 1))
    ((a * hi + b * lo + c) % lit(P)) % lit(Width.toLong)
  }

  /** The flat grid slots (`j·Width + bucket`) a key's probe touches —
    * the plain-Scala mirror of [[bucket]] over the md5 key of the
    * key's decimal string. Lets a replay harness pre-compute a probe
    * slate's cells from the seeds alone, without reading data (q167
    * filters its sink to these).
    */
  def probeSlots(key: Long): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(key.toString.getBytes("UTF-8")).map(y => f"$y%02x").mkString
    val x = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    val hi = x >>> HalfBits
    val lo = x & ((1L << HalfBits) - 1)
    a.indices.map(j => j.toLong * Width + (a(j) * hi + b(j) * lo + c(j)) % P % Width)
  }

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
  def sketch(key: Column): Column =
    CmsSketchAgg(GraftColumns.exprOf(key), seedsA, seedsB, seedsC, Width, P, HalfBits).toColumn

  /** The observed cells of a `grid` column as `(keys..., j, bkt, c)`
    * rows, c > 0: flat slot `pos` is row `pos div Width`, bucket
    * `pos % Width`.
    */
  def cellRows(sketches: DataFrame, keys: Seq[String], grid: Column): DataFrame =
    CellSketchAgg.observed(sketches, keys, grid, "c")
      .select(keys.map(col) ++ Seq(
        expr(s"CAST(pos div $Width AS BIGINT)").as("j"),
        expr(s"CAST(pos % $Width AS BIGINT)").as("bkt"),
        col("c")): _*)

  /** The count-min point query: every `probes` row gets `est_cnt`, the
    * min over its 60-bit `key`'s [[Depth]] cells among the `cells`
    * rows `(scope..., j, bkt, c)` of the probe's own `scope`. A cell
    * with no row reads as 0 — no key of that scope hashed there — so
    * a scope that never saw the key estimates 0 exactly. Returns the
    * probe columns plus `est_cnt`.
    */
  def estimate(probes: DataFrame, key: Column, cells: DataFrame, scope: Seq[String]): DataFrame = {
    val keep = probes.columns.toSeq.map(col)
    probes.crossJoin(broadcast(seeds(probes.sparkSession)))
      .select(keep ++ Seq(col("j"), bucket(key, col("a"), col("b"), col("c")).as("bkt")): _*)
      .join(cells, scope ++ Seq("j", "bkt"), "left")
      .groupBy(keep: _*)
      .agg(min(coalesce(col("c"), lit(0L))).as("est_cnt"))
  }
}

/** Fixed-domain histogram: the q168/q174 bin counts, bin arithmetic
  * IEEE-identical to [[bin]] (`floor((v - vmin) * bins / (vmax -
  * vmin))`, clamped to the top bin; a degenerate domain collapses to
  * bin 0), so downstream cells hash-match. The object owns the bin
  * count, the bin rows and the quantile-edge read-out (q160, q168,
  * q174).
  */
object HistogramAgg {
  /** Bin count of the replayable histogram-quantile sketch (q160). */
  val Bins = 64

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
    HistogramAgg(GraftColumns.exprOf(value), vmin, vmax, Bins).toColumn

  /** The bin of `v` over [vmin, vmax], as a Column: [[Rule.slot]]'s
    * arithmetic in the same IEEE operation order.
    */
  def bin(v: Column, vmin: Column, vmax: Column): Column =
    when(vmax === vmin, lit(0L))
      .otherwise(least(
        floor((v - vmin) * lit(Bins.toDouble) / (vmax - vmin)).cast("long"),
        lit(Bins - 1L)))

  /** The observed bins of a `cells` column as `(keys..., bin, c)` rows, c > 0. */
  def cellRows(sketches: DataFrame, keys: Seq[String], cells: Column): DataFrame =
    CellSketchAgg.observed(sketches, keys, cells, "c")
      .select(keys.map(col) ++ Seq(col("pos").cast("long").as("bin"), col("c")): _*)

  /** Quantile edges of bin rows `(keys..., bin, c)`: per key, n = Σ c,
    * and quantile q is the upper edge `vmin + (b + 1)·(vmax − vmin)/Bins`
    * of the first bin b whose cumulative count reaches rank
    * ceil(n·q) (integer arithmetic, [[SamplePairsAgg.rank]]). `vmin`
    * and `vmax` are key columns or literals. Returns
    * `(keys..., n, p50_est, p95_est, p99_est)`.
    */
  def quantileEdges(cells: DataFrame, keys: Seq[String], vmin: Column, vmax: Column): DataFrame = {
    val ks = keys.map(col)
    val scope = Window.partitionBy(ks: _*)
    def pick(pct: Int) =
      min(when(col("cum") >= SamplePairsAgg.rank(col("n"), pct), col("bin"))).as(s"b$pct")
    def edge(pct: Int) =
      (vmin + (col(s"b$pct") + lit(1L)).cast("double") * ((vmax - vmin) / lit(Bins.toDouble)))
        .as(s"p${pct}_est")
    cells
      .withColumn("cum", sum(col("c")).over(scope.orderBy(col("bin"))))
      .withColumn("n", sum(col("c")).over(scope))
      .groupBy(ks :+ col("n"): _*)
      .agg(pick(50), pick(95), pick(99))
      .select(ks ++ Seq(col("n"), edge(50), edge(95), edge(99)): _*)
  }
}
