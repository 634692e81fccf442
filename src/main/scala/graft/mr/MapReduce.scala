package graft.mr

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.col

import scala.collection.mutable
import scala.reflect.ClassTag

/** Emitted record ADT.
  *
  * The reference (geowurster/mr-python, `tinymr.py:53-56`) distinguishes
  * 2-tuples `(key, value)` from 3-tuples `(key, sort, value)` by runtime
  * arity sniffing ("schema-by-arity", tinymr.py:310-311). Scala tuples are
  * statically sized, so the arity becomes an ADT: [[KV]] carries no sort
  * element, [[KSV]] does. Malformed arities are a compile error in this
  * typed API (the reference's `ElementCountError`, tinymr.py:273-275,
  * survives only in the untyped [[UntypedMapReduce]] adapter).
  */
sealed trait Emit[+K, +S, +V] extends Serializable {
  def key: K
  def sortOpt: Option[S]
  def value: V
}

/** `(key, value)` — reference tinymr.py:53-54. */
final case class KV[+K, +V](key: K, value: V) extends Emit[K, Nothing, V] {
  def sortOpt: Option[Nothing] = None
}

/** `(key, sort, value)` — reference tinymr.py:55-56; presence of the sort
  * element is the signal that in-partition sorting is wanted.
  */
final case class KSV[+K, +S, +V](key: K, sort: S, value: V) extends Emit[K, S, V] {
  def sortOpt: Option[S] = Some(sort)
}

/** Raised by the untyped adapter on bad record arity — mirrors the
  * reference's `ElementCountError` (tinymr.py:273-275, raised at
  * tinymr.py:305-308, tested at tests/test_exceptions.py:6-35).
  */
class ElementCountError(msg: String) extends RuntimeException(msg)

/** Raised when a [[MapReduceBase.keyPreserving]] reducer emits a key other
  * than the key of the group it was handed: the engine skips shuffle #2
  * on the promise that it never does.
  */
class KeyPreservingError(msg: String) extends RuntimeException(msg)

/** Engine-private shuffle box for a `(key, sort, value)` emission on the
  * RDD path. A `(key, value)` emission ships its bare value, so only
  * sorted emissions pay for a wrapper. The box is unpacked before any user
  * code sees a group, and user code cannot build one, so a user value is
  * never mistaken for it.
  */
private[mr] final case class Sorted(sort: Any, value: Any)

/** Shared machinery for the two reducer shapes.
  *
  * Semantics ported from `/root/reference/tinymr.py` (`MapReduce.__call__`,
  * lines 156-230) re-expressed on Spark's distributed shuffle:
  *
  *  - mapper flatMap (tinymr.py:194-199)        -> `RDD.flatMap`
  *  - shuffle #1 + secondary sort (tinymr.py:278-345) -> `groupByKey` +
  *    in-group stable sort (Timsort both here and in the reference,
  *    tinymr.py:339)
  *  - reduce (tinymr.py:207-215)                -> per-group function
  *  - shuffle #2 on the reducer's own emitted keys (tinymr.py:217-221)
  *    -> second `groupByKey`, elided when [[keyPreserving]] (the
  *    word-count shape: reducer re-emits the key it received); the
  *    reducer's output is then sorted and finalized in the same pass that
  *    delivers each group, with no regrouping at all
  *
  * What crosses a shuffle is kept minimal. On the RDD path a `(key,
  * value)` emission ships its bare value and only a `(key, sort, value)`
  * emission ships an engine-private [[Sorted]] box. The Dataset path has
  * one grouping for every shuffle: `repartition` on the encoded key +
  * `sortWithinPartitions` + a streaming fold over adjacent equal keys
  * (see [[dsShuffle]]).
  *
  * Sort-key selection matrix (reference docs.rst:300-307, impl
  * tinymr.py:310-330): 2-tuple + `withValue` -> sort by value; 3-tuple
  * alone -> by sort element; 3-tuple + `withValue` -> by (sort, value);
  * 2-tuple alone -> no sort. `reverse` flags sort descending
  * (tinymr.py:126-154). Sorts are stable; ties keep arrival order — but
  * distributed arrival order across input partitions is nondeterministic
  * (documented divergence from the reference's deterministic single-thread
  * mode; its own 288-case pool matrix is equally nondeterministic).
  *
  * This core intentionally runs on RDDs: mapper/reducer values are opaque
  * user objects (reference tinymr.py:73-76 — "values are never inspected")
  * with no Catalyst-visible schema, which is exactly the "genuine
  * per-partition imperative logic" case. All *analytic* operators live in
  * the DataFrame layer (`graft.operators`) where Catalyst can optimize.
  */
abstract class MapReduceBase[I, K, S, V] extends Serializable {

  /** Per-item transform -> 0..n keyed emissions; `flatMap` semantics
    * unify the reference's yield-vs-return mapper dispatch
    * (tinymr.py:186, 198-199).
    */
  def mapper(item: I): IterableOnce[Emit[K, S, V]]

  /** reference `sort_map_with_value`, tinymr.py:116-124 */
  def sortMapWithValue: Boolean = false

  /** reference `sort_map_reverse`, tinymr.py:126-134 */
  def sortMapReverse: Boolean = false

  /** reference `sort_reduce_with_value`, tinymr.py:136-144 */
  def sortReduceWithValue: Boolean = false

  /** reference `sort_reduce_reverse`, tinymr.py:146-154 */
  def sortReduceReverse: Boolean = false

  /** Declares that the reducer only re-emits the key it received, letting
    * the engine elide shuffle #2 entirely (SURVEY.md §4.2) — the common
    * word-count shape. The reference always pays its second partition pass
    * (tinymr.py:217-221); on a cluster that is a full extra shuffle, so
    * the elision is the single most important scale optimization in this
    * core. The promise is checked: a reducer that emits any other key
    * (compared with [[keyEq]], so array and NaN keys work) fails the task
    * with [[KeyPreservingError]] instead of being silently mis-keyed.
    */
  def keyPreserving: Boolean = false

  /** Shuffle parallelism; 0 = Spark default. Replaces the reference's
    * round-robin key-cycling idiom (docs.rst:373-394). One knob sizing
    * both shuffles; override [[mapParallelism]] / [[reduceParallelism]]
    * to tune the phases independently. Honored on BOTH paths: the RDD
    * path sizes its HashPartitioners directly; the Dataset path pins its
    * one grouping's exchange with `repartition(n, key)` instead of
    * `repartition(key)` (see [[dsShuffle]]). Left at 0 the Dataset
    * exchanges stay `spark.sql.shuffle.partitions` + AQE-coalesced — the
    * right default at scale; set the knobs only to pin a phase's width
    * deliberately.
    */
  def numPartitions: Int = 0

  /** Shuffle-#1 (map-output) parallelism — the reference's independent
    * mapper pool (`map` vs `reduce_map`, tinymr.py:156-173, where the
    * mapper and reducer executors are tuned separately). Defaults to
    * [[numPartitions]].
    */
  def mapParallelism: Int = numPartitions

  /** Shuffle-#2 (reduce-output) parallelism — the reducer-pool half of
    * the reference's asymmetry. Defaults to [[numPartitions]].
    */
  def reduceParallelism: Int = numPartitions

  /** Called once per partition, before the first mapper/reducer call of
    * that partition's stream — the distributed form of the reference's
    * context-manager task idiom (`with WordCount() as wc:`,
    * docs.rst:189-194): open per-worker resources here (DB handles,
    * model weights, codecs), not in the constructor, which runs on the
    * driver and is serialized.
    */
  def setup(): Unit = {}

  /** Called once per partition, after the last record of that partition's
    * stream has been consumed — the `__exit__` half of the context-manager
    * idiom. Runs in both the map and reduce phases (each phase streams
    * each partition exactly once).
    */
  def teardown(): Unit = {}

  /** Engine-internal per-partition stream-state reset, invoked by
    * [[instrumented]] before [[setup]] at the start of every partition
    * stream. Spark tasks are single-threaded, so implementations may
    * reset plain vars without synchronization (the documented
    * assumption). User code overrides [[setup]], not this.
    */
  protected def onPartitionStart(): Unit = {}

  /** Optional commutative-associative combiner. When defined (and no
    * map-phase sort is requested) the map output is pre-combined per key
    * map-side and merged per key (`reduceByKey` on the RDD path, the
    * bounded [[MapReduceBase.preCombine]] + one keyed exchange on the
    * Dataset path), so NO per-key value list is ever materialized — the
    * framework-level form of the reference's in-mapper-combining idiom
    * (docs.rst:197-283), which it can only express as user code. The reducer then receives a single
    * pre-combined value. Requires KV-only emissions (enforced): sort
    * semantics are meaningless under combining.
    */
  def combiner: Option[(V, V) => V] = None

  /** Required iff sort elements ([[KSV]]) are emitted. */
  def sortOrdering: Ordering[S] =
    throw new UnsupportedOperationException(
      "emitting (key, sort, value) requires overriding sortOrdering")

  /** Required iff `sort*WithValue` is set. */
  def valueOrdering: Ordering[V] =
    throw new UnsupportedOperationException(
      "sort*WithValue requires overriding valueOrdering")

  // ---- internals ----------------------------------------------------

  protected type SV = (Option[S], V)

  /** Wraps one partition's stream with the [[setup]]/[[teardown]]
    * lifecycle: setup before the first element is produced, teardown
    * exactly once — eagerly on stream exhaustion (including the empty
    * partition, where it fires on the first hasNext probe), and
    * guaranteed at task completion/failure via
    * `TaskContext.addTaskCompletionListener` for streams that are never
    * drained: a downstream `take(n)`/`limit` short-circuit, a mid-stream
    * exception, a task kill. The `closed` flag keeps the two triggers
    * idempotent (tasks are single-threaded; the completion listener runs
    * on the task thread after the body finishes).
    */
  protected def instrumented[A, B](it: Iterator[A])(f: A => Iterator[B]): Iterator[B] = {
    onPartitionStart()
    setup()
    var closed = false
    def close(): Unit = if (!closed) { closed = true; teardown() }
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) tc.addTaskCompletionListener[Unit](_ => close())
    val flat = it.flatMap(f)
    new Iterator[B] {
      def hasNext: Boolean = {
        val h = flat.hasNext
        if (!h) close()
        h
      }
      def next(): B = flat.next()
    }
  }

  /** Stable in-group sort per the S6 matrix; `buf` arrival order is kept
    * for ties (Timsort, matching reference tinymr.py:336-343).
    */
  protected def sortValues(
      buf: mutable.ArrayBuffer[SV], withValue: Boolean, reverse: Boolean): List[V] = {
    val hasSort = buf.exists(_._1.isDefined)
    // mixed KV/KSV under one key is malformed (the reference breaks on
    // mixed arities too, SURVEY §1.2) — fail with a clear error, not a
    // deep-in-Timsort None.get
    def sortOf(p: SV): S = p._1.getOrElse(throw new ElementCountError(
      "mixed (key, value) and (key, sort, value) emissions within one key group"))
    val ord: Ordering[SV] = (hasSort, withValue) match {
      case (true, true)   => Ordering.by((p: SV) => (sortOf(p), p._2))(Ordering.Tuple2(sortOrdering, valueOrdering))
      case (true, false)  => Ordering.by((p: SV) => sortOf(p))(sortOrdering)
      case (false, true)  => Ordering.by((p: SV) => p._2)(valueOrdering)
      case (false, false) => null // 2-tuples with no flags: no sort (docs.rst:300-307)
    }
    val sorted =
      if (ord == null) buf
      else buf.sorted(if (reverse) ord.reverse else ord)
    sorted.iterator.map(_._2).toList
  }

  /** RDD shuffle record of one emission: the bare value for `(key,
    * value)`, a [[Sorted]] box for `(key, sort, value)`.
    */
  protected def shipped(e: Emit[K, S, V]): (K, Any) = e match {
    case KSV(k, s, v) => (k, Sorted(s, v))
    case _ => (e.key, e.value)
  }

  /** One shuffle + sort pass — reference `_partition_and_sort`
    * (tinymr.py:278-345) as `groupByKey` + in-group sort over
    * [[shipped]] records. `partitions` sizes this shuffle (per-phase:
    * [[mapParallelism]] or [[reduceParallelism]]); 0 = Spark default.
    * A group with no [[Sorted]] box and no value sort is already in
    * arrival order and skips the unpacking.
    */
  protected def partitionAndSort(
      rdd: RDD[(K, Any)], withValue: Boolean, reverse: Boolean, partitions: Int)(
      implicit kt: ClassTag[K]): RDD[(K, List[V])] = {
    val grouped =
      if (partitions > 0) rdd.groupByKey(partitions) else rdd.groupByKey()
    grouped.mapValues { vs =>
      if (!withValue && !vs.exists(_.isInstanceOf[Sorted])) vs.toList.asInstanceOf[List[V]]
      else {
        val buf = mutable.ArrayBuffer.empty[SV]
        vs.foreach {
          case Sorted(s, v) => buf += ((Some(s.asInstanceOf[S]), v.asInstanceOf[V]))
          case v => buf += ((None, v.asInstanceOf[V]))
        }
        sortValues(buf, withValue, reverse)
      }
    }
  }

  /** `e`, checked against the [[keyPreserving]] promise that a reducer
    * handed group `key` emits only `key`.
    */
  protected def keptEmit(key: K, e: Emit[K, S, V]): Emit[K, S, V] =
    if (keyEq(e.key, key)) e
    else throw new KeyPreservingError(
      s"keyPreserving reducer for key $key emitted key ${e.key}")

  /** The final group of `key` under [[keyPreserving]]: the reducer's
    * emissions for the group are the whole group, so they are checked,
    * sorted per the reduce-side flags and delivered in the same pass,
    * with no regrouping. A reducer that emits nothing drops the key.
    */
  protected def keptGroup(key: K, out: IterableOnce[Emit[K, S, V]]): Iterator[(K, List[V])] = {
    val buf = mutable.ArrayBuffer.empty[SV]
    out.iterator.foreach { e =>
      keptEmit(key, e)
      buf += ((e.sortOpt, e.value))
    }
    if (buf.isEmpty) Iterator.empty
    else Iterator.single((key, sortValues(buf, sortReduceWithValue, sortReduceReverse)))
  }

  private def combinable(e: Emit[K, S, V]): (K, V) = e match {
    case _: KSV[_, _, _] => throw new ElementCountError(
      "combiner requires (key, value) emissions — (key, sort, value) has no combine semantics")
    case _ => (e.key, e.value)
  }

  protected def mapPhase(rdd: RDD[I], mapPar: Int = mapParallelism)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): RDD[(K, List[V])] =
    combiner match {
      case Some(op) if !sortMapWithValue =>
        val mapped = rdd.mapPartitions(part => instrumented(part)(i =>
          mapper(i).iterator.map(combinable)))
        val combined =
          if (mapPar > 0) mapped.reduceByKey(op, mapPar)
          else mapped.reduceByKey(op)
        combined.mapValues(List(_))
      case _ =>
        partitionAndSort(
          rdd.mapPartitions(part => instrumented(part)(i => mapper(i).iterator.map(shipped))),
          sortMapWithValue, sortMapReverse, mapPar)
    }

  // ---- Dataset (Tungsten) execution path ----------------------------
  //
  // For K/S/V with Encoders (case classes, primitives, tuples) the same
  // lifecycle runs as Dataset.mapPartitions -> dsShuffle: shuffle
  // payloads are Tungsten-encoded rows instead of Java-serialized
  // objects, so spilling, AQE partition coalescing and shuffle
  // compression all apply. The RDD path remains for opaque value types
  // (the reference's values are arbitrary objects, tinymr.py:73-76).

  /** The one Dataset shuffle: `repartition(_1)` (or `repartition(n, _1)`
    * when `parallelism` pins a width) + in-partition sort on the encoded
    * key makes equal keys contiguous, and `f` consumes each partition as
    * a stream of adjacent key groups — one group (not one partition) in
    * memory at a time. The key is a column of the shuffled rows, so the
    * exchange needs no `AppendColumns` decode and carries the key once;
    * at width 0 AQE still coalesces the exchange.
    *
    * Key-equality caveat (same as the RDD path's HashPartitioner):
    * grouping relies on the key's Tungsten encoding being
    * value-deterministic, true for the product/primitive/String keys
    * the Encoder context bound admits (a Double key distinguishing
    * -0.0/0.0 is the lone pathological corner, on both paths).
    * Adjacent-row equality uses [[keyEq]], not JVM `==`: array-typed
    * keys need element equality (reference `==` would split every
    * group into singletons) and NaN keys need compare-equality
    * (NaN != NaN) to keep the sorted NaN rows in one group.
    */
  private def dsShuffle[O: Encoder](ds: Dataset[(K, SV)], parallelism: Int)(
      f: Iterator[(K, mutable.ArrayBuffer[SV])] => Iterator[O]): Dataset[O] = {
    val parted =
      if (parallelism > 0) ds.repartition(parallelism, col("_1"))
      else ds.repartition(col("_1"))
    parted.sortWithinPartitions(col("_1")).mapPartitions { it =>
      f(new Iterator[(K, mutable.ArrayBuffer[SV])] {
        private var pending: Option[(K, SV)] =
          if (it.hasNext) Some(it.next()) else None
        def hasNext: Boolean = pending.isDefined
        def next(): (K, mutable.ArrayBuffer[SV]) = {
          val (k, first) = pending.get
          val buf = mutable.ArrayBuffer(first)
          pending = None
          while (pending.isEmpty && it.hasNext) {
            val p = it.next()
            if (keyEq(p._1, k)) buf += p._2 else pending = Some(p)
          }
          (k, buf)
        }
      })
    }
  }

  /** Value equality matching the encoded-key grouping of the Dataset
    * shuffle: arrays compare element-wise (JVM `==` on arrays is
    * reference equality) and floating NaN compares equal to itself
    * (Spark's sort orders NaN as one value, so NaN rows arrive adjacent
    * and must group).
    * -0.0 vs 0.0 remains the one documented divergence on both paths.
    */
  private def keyEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[_], y: Array[_]) =>
      x.length == y.length && x.indices.forall(i => keyEq(x(i), y(i)))
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case (x: Float, y: Float) => java.lang.Float.compare(x, y) == 0
    case (x: Product, y: Product) => // case-class keys: recurse into fields
      x.productArity == y.productArity &&
        (0 until x.productArity).forall(i => keyEq(x.productElement(i), y.productElement(i)))
    case _ => a == b
  }

  /** Map phase + shuffle #1 on the Dataset path. `reduce` receives each
    * map-side group — its values sorted per the map-side flags, or the
    * one combined value — inside the shuffle's single `mapPartitions`,
    * under the reduce phase's [[instrumented]] lifecycle, so the groups
    * are never encoded as `(K, Seq[V])` rows. With a [[combiner]] each
    * input partition is pre-combined per key first (see
    * [[MapReduceBase.preCombine]]), so the exchange carries about one row
    * per (partition, key).
    */
  protected def dsMapPhase[O: Encoder](ds: Dataset[I], mapPar: Int)(
      reduce: (K, List[V]) => IterableOnce[O])(
      implicit esv: Encoder[(K, SV)]): Dataset[O] =
    combiner match {
      case Some(op) if !sortMapWithValue =>
        val mapped = ds.mapPartitions { part =>
          MapReduceBase.preCombine(instrumented(part)(i => mapper(i).iterator.map(combinable)), op)
            .map { case (k, v) => (k, (None: Option[S], v)) }
        }
        dsShuffle(mapped, mapPar)(groups => instrumented(groups) { case (k, buf) =>
          reduce(k, List(buf.iterator.map(_._2).reduce(op))).iterator
        })
      case _ =>
        val mapped = ds.mapPartitions(part => instrumented(part)(i =>
          mapper(i).iterator.map(e => (e.key, (e.sortOpt, e.value)))))
        dsShuffle(mapped, mapPar)(groups => instrumented(groups) { case (k, buf) =>
          reduce(k, sortValues(buf, sortMapWithValue, sortMapReverse)).iterator
        })
    }

  /** Shuffle #2 on the Dataset path: regroups the reducer's emissions by
    * their own keys and sorts each group per the reduce-side flags.
    */
  protected def dsReduceShuffle[O: Encoder](reduced: Dataset[(K, SV)], reducePar: Int)(
      f: (K, List[V]) => O): Dataset[O] =
    dsShuffle(reduced, reducePar)(_.map { case (k, buf) =>
      f(k, sortValues(buf, sortReduceWithValue, sortReduceReverse))
    })
}

object MapReduceBase {

  /** Distinct keys the Dataset combiner path holds per input partition
    * before it flushes its partial results downstream.
    */
  private[mr] val PreCombineMaxKeys: Int = 1 << 16

  /** Map-side pre-combine of one partition's `(key, value)` stream,
    * bounded: whenever [[PreCombineMaxKeys]] distinct keys are held, the
    * partial results are emitted and the table starts empty again. A key
    * may then be emitted more than once per partition; the combiner is
    * associative and commutative, so the reduce side folds the partials.
    */
  private[mr] def preCombine[K, V](it: Iterator[(K, V)], op: (V, V) => V): Iterator[(K, V)] =
    new Iterator[(K, V)] {
      private val table = mutable.LinkedHashMap.empty[K, V]
      private var out: Iterator[(K, V)] = Iterator.empty
      def hasNext: Boolean = out.hasNext || {
        while (it.hasNext && table.size < PreCombineMaxKeys) {
          val (k, v) = it.next()
          table.update(k, table.get(k).fold(v)(op(_, v)))
        }
        out = table.toArray.iterator
        table.clear()
        out.hasNext
      }
      def next(): (K, V) =
        if (hasNext) out.next() else throw new NoSuchElementException("preCombine")
    }
}

/** Yield-mode task: the reducer emits 0..n records (reference generator
  * reducers, tinymr.py:214-215). Final result groups the reducer's output
  * by its emitted keys — `dict[key, list[value]]` in the reference
  * (tinymr.py:217-221) becomes a distributed `RDD[(K, List[V])]`.
  */
abstract class MapReduce[I, K, S, V] extends MapReduceBase[I, K, S, V] {

  def reducer(key: K, values: Seq[V]): IterableOnce[Emit[K, S, V]]

  final def run(rdd: RDD[I])(
      implicit kt: ClassTag[K], vt: ClassTag[V]): RDD[(K, List[V])] =
    run(rdd, mapParallelism, reduceParallelism)

  /** Per-invocation pool sizing — the reference's `map=` call parameter
    * (`__call__(sequence, map=None, mapper_map=None, reducer_map=None)`,
    * tinymr.py:156-173, where `map` is the DEFAULT for both phase
    * pools): one call-site value sizes BOTH shuffles for this run only,
    * without touching the task's own [[MapReduceBase.numPartitions]]
    * overrides. The two-arg form mirrors passing `mapper_map` and
    * `reducer_map` separately.
    */
  final def run(rdd: RDD[I], parallelism: Int)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): RDD[(K, List[V])] =
    run(rdd, parallelism, parallelism)

  final def run(rdd: RDD[I], mapPar: Int, reducePar: Int)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): RDD[(K, List[V])] = {
    val groups = mapPhase(rdd, mapPar)
    if (keyPreserving)
      groups.mapPartitions(part => instrumented(part) { case (k, vs) =>
        keptGroup(k, reducer(k, vs))
      }, preservesPartitioning = true)
    else
      partitionAndSort(
        groups.mapPartitions(part => instrumented(part) { case (k, vs) =>
          reducer(k, vs).iterator.map(shipped)
        }),
        sortReduceWithValue, sortReduceReverse, reducePar)
  }

  /** Small-result driver adapter — the reference's in-memory result dict
    * (tinymr.py:229-230). 100 TB results must stay distributed; this is
    * the explicit, documented collect boundary.
    */
  final def runToMap(rdd: RDD[I])(
      implicit kt: ClassTag[K], vt: ClassTag[V]): Map[K, List[V]] =
    run(rdd).collect().toMap

  /** [[runToMap]] with the `map=`-style per-invocation pool size. */
  final def runToMap(rdd: RDD[I], parallelism: Int)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): Map[K, List[V]] =
    run(rdd, parallelism).collect().toMap

  /** The reference's user-overridable finalizer hook (`output(self,
    * mapping)`, tinymr.py:93-114, called at tinymr.py:229-230): identity
    * by default, a `Counter` for top-k in the docs (docs.rst:150-151),
    * and "can in fact do anything" (docs.rst:282-283) — hence the
    * dynamic return type, matching the reference's unconstrained
    * contract. This is a DRIVER-side hook over the collected mapping
    * (the explicit small-result boundary, like [[runToMap]]);
    * finalization that must stay distributed belongs as ordinary
    * transformations on the [[run]] result instead.
    */
  def output(mapping: Map[K, List[V]]): Any = mapping

  /** The reference's full `__call__` lifecycle ending: [[runToMap]]
    * followed by the [[output]] finalizer (tinymr.py:229-230).
    */
  final def runOutput(rdd: RDD[I])(
      implicit kt: ClassTag[K], vt: ClassTag[V]): Any =
    output(runToMap(rdd))

  /** The reference's full `__call__(sequence, map=p)` form: lifecycle +
    * finalizer with one pool size defaulting both phases.
    */
  final def runOutput(rdd: RDD[I], parallelism: Int)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): Any =
    output(runToMap(rdd, parallelism))

  /** Tungsten-encoded execution of the same lifecycle (see
    * [[MapReduceBase]] Dataset path). Requires Encoders for the key and
    * record tuples — i.e. product/primitive K, S, V.
    */
  final def runDataset(ds: Dataset[I])(
      implicit ek: Encoder[K], esv: Encoder[(K, SV)],
      eout: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] =
    runDataset(ds, mapParallelism, reduceParallelism)

  /** Dataset form of the `map=` per-invocation pool size. */
  final def runDataset(ds: Dataset[I], parallelism: Int)(
      implicit ek: Encoder[K], esv: Encoder[(K, SV)],
      eout: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] =
    runDataset(ds, parallelism, parallelism)

  final def runDataset(ds: Dataset[I], mapPar: Int, reducePar: Int)(
      implicit ek: Encoder[K], esv: Encoder[(K, SV)],
      eout: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] =
    if (keyPreserving)
      dsMapPhase[(K, Seq[V])](ds, mapPar)((k, vs) => keptGroup(k, reducer(k, vs)))
    else
      dsReduceShuffle(
        dsMapPhase[(K, SV)](ds, mapPar)((k, vs) =>
          reducer(k, vs).iterator.map(e => (e.key, (e.sortOpt, e.value)))),
        reducePar)((k, vs) => (k, vs: Seq[V]))
}

/** Return-mode task: the reducer returns exactly one record. On key
  * collision after shuffle #2 only the first value (in post-sort order)
  * survives — the reference's `{k: next(iter(v))}` collapse
  * (tinymr.py:222-227, semantic S2).
  */
abstract class MapReduce1[I, K, S, V] extends MapReduceBase[I, K, S, V] {

  def reducer(key: K, values: Seq[V]): Emit[K, S, V]

  final def run(rdd: RDD[I])(
      implicit kt: ClassTag[K], vt: ClassTag[V]): RDD[(K, V)] =
    run(rdd, mapParallelism, reduceParallelism)

  /** Per-invocation pool sizing — the reference's `map=` call parameter
    * defaulting both phases (tinymr.py:156-173); same contract as the
    * yield-mode `MapReduce.run(rdd, parallelism)` overload.
    */
  final def run(rdd: RDD[I], parallelism: Int)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): RDD[(K, V)] =
    run(rdd, parallelism, parallelism)

  final def run(rdd: RDD[I], mapPar: Int, reducePar: Int)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): RDD[(K, V)] = {
    val groups = mapPhase(rdd, mapPar)
    if (keyPreserving)
      // keys are unique per partition after shuffle #1, so no collision
      // and no regroup is possible — straight projection.
      groups.mapPartitions(part => instrumented(part) { case (k, vs) =>
        val e = keptEmit(k, reducer(k, vs))
        Iterator.single((e.key, e.value))
      }, preservesPartitioning = true)
    else
      partitionAndSort(
        groups.mapPartitions(part => instrumented(part) { case (k, vs) =>
          Iterator.single(shipped(reducer(k, vs)))
        }),
        sortReduceWithValue, sortReduceReverse, reducePar)
        .mapValues(_.head)
  }

  final def runToMap(rdd: RDD[I])(
      implicit kt: ClassTag[K], vt: ClassTag[V]): Map[K, V] =
    run(rdd).collect().toMap

  /** [[runToMap]] with the `map=`-style per-invocation pool size. */
  final def runToMap(rdd: RDD[I], parallelism: Int)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): Map[K, V] =
    run(rdd, parallelism).collect().toMap

  /** Return-mode form of the [[MapReduce.output]] finalizer hook
    * (tinymr.py:93-114; the reference collapses to single values first,
    * tinymr.py:222-227, so its `output` sees `dict[key, value]`).
    */
  def output(mapping: Map[K, V]): Any = mapping

  /** [[runToMap]] + [[output]] — reference tinymr.py:229-230. */
  final def runOutput(rdd: RDD[I])(
      implicit kt: ClassTag[K], vt: ClassTag[V]): Any =
    output(runToMap(rdd))

  /** The reference's full `__call__(sequence, map=p)` form. */
  final def runOutput(rdd: RDD[I], parallelism: Int)(
      implicit kt: ClassTag[K], vt: ClassTag[V]): Any =
    output(runToMap(rdd, parallelism))

  /** Tungsten-encoded execution; see [[MapReduceBase]] Dataset path. */
  final def runDataset(ds: Dataset[I])(
      implicit ek: Encoder[K], esv: Encoder[(K, SV)],
      eseq: Encoder[(K, Seq[V])], ekv: Encoder[(K, V)]): Dataset[(K, V)] =
    runDataset(ds, mapParallelism, reduceParallelism)

  /** Dataset form of the `map=` per-invocation pool size. */
  final def runDataset(ds: Dataset[I], parallelism: Int)(
      implicit ek: Encoder[K], esv: Encoder[(K, SV)],
      eseq: Encoder[(K, Seq[V])], ekv: Encoder[(K, V)]): Dataset[(K, V)] =
    runDataset(ds, parallelism, parallelism)

  final def runDataset(ds: Dataset[I], mapPar: Int, reducePar: Int)(
      implicit ek: Encoder[K], esv: Encoder[(K, SV)],
      eseq: Encoder[(K, Seq[V])], ekv: Encoder[(K, V)]): Dataset[(K, V)] =
    if (keyPreserving)
      dsMapPhase[(K, V)](ds, mapPar) { (k, vs) =>
        val e = keptEmit(k, reducer(k, vs))
        Iterator.single((e.key, e.value))
      }
    else
      dsReduceShuffle(
        dsMapPhase[(K, SV)](ds, mapPar) { (k, vs) =>
          val e = reducer(k, vs)
          Iterator.single((e.key, (e.sortOpt, e.value)))
        },
        reducePar)((k, vs) => (k, vs.head))
}

/** Arity-sniffing adapter for untyped records, kept for behavioral
  * fidelity with the reference's dynamic API: records are `Product`s
  * (tuples) of arity 2 or 3; only the FIRST record of each partition's
  * stream is validated — a bad arity there raises [[ElementCountError]]
  * exactly like tinymr.py:302-308, which peeks the stream head once per
  * partition and never re-checks. Later malformed records surface as the
  * lenient downstream error (the reference's verified lenient-then-loud
  * behavior — SURVEY.md §1.2).
  *
  * The head flags are reset explicitly at every partition-stream start
  * (via [[onPartitionStart]]) — not by relying on each Spark task
  * deserializing a fresh copy of this object, which would silently stop
  * holding if the task were ever invoked on a non-serialized instance
  * (driver-side local runs, a future fast path). Tasks are
  * single-threaded, so the plain vars need no synchronization.
  */
abstract class UntypedMapReduce[I] extends MapReduce[I, Any, Any, Any] {

  def untypedMapper(item: I): IterableOnce[Product]
  def untypedReducer(key: Any, values: Seq[Any]): IterableOnce[Product]

  @transient private var mapperValidated = false
  @transient private var reducerValidated = false

  override protected def onPartitionStart(): Unit = {
    mapperValidated = false
    reducerValidated = false
  }

  private def toEmit(p: Product, phase: String, first: Boolean): Emit[Any, Any, Any] =
    p.productArity match {
      case 2 => KV(p.productElement(0), p.productElement(1))
      case 3 => KSV(p.productElement(0), p.productElement(1), p.productElement(2))
      case n if first =>
        throw new ElementCountError(
          s"$phase emitted a record with $n elements — expected 2 or 3")
      case _ =>
        // past the stream head the reference no longer validates; fail
        // the same lenient-then-loud way it does.
        throw new IllegalArgumentException(
          s"malformed $phase record of arity ${p.productArity}")
    }

  final def mapper(item: I): IterableOnce[Emit[Any, Any, Any]] = {
    val it = untypedMapper(item).iterator
    new Iterator[Emit[Any, Any, Any]] {
      def hasNext: Boolean = it.hasNext
      def next(): Emit[Any, Any, Any] = {
        val head = !mapperValidated
        mapperValidated = true
        toEmit(it.next(), "mapper", head)
      }
    }
  }

  final def reducer(key: Any, values: Seq[Any]): IterableOnce[Emit[Any, Any, Any]] = {
    val it = untypedReducer(key, values).iterator
    new Iterator[Emit[Any, Any, Any]] {
      def hasNext: Boolean = it.hasNext
      def next(): Emit[Any, Any, Any] = {
        val head = !reducerValidated
        reducerValidated = true
        toEmit(it.next(), "reducer", head)
      }
    }
  }

  override def sortOrdering: Ordering[Any] = UntypedMapReduce.comparableOrdering
  override def valueOrdering: Ordering[Any] = UntypedMapReduce.comparableOrdering
}

object UntypedMapReduce {
  /** Natural ordering via Comparable — the analogue of Python's dynamic
    * `<` on sort elements (reference tinymr.py:339, `list.sort`).
    */
  val comparableOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int =
      a.asInstanceOf[Comparable[Any]].compareTo(b)
  }
}
