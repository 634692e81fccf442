package graft.mr

import org.apache.spark.SparkException

/** What crosses the shuffles: a `(key, value)` emission ships its bare
  * value and a `(key, sort, value)` emission ships an engine-private box,
  * so no user value — a tuple, an `Option`, null, or a tuple shaped like
  * `(Option[sort], value)` — may be mistaken for the box on either
  * shuffle, and mixed arities under one key must still be rejected.
  */
object PayloadTasks {

  /** Values of every awkward shape, cycling with the item. */
  def value(i: Int): Any = i % 5 match {
    case 0 => (i, s"t$i")
    case 1 => Some(i)
    case 2 => None
    case 3 => null
    case _ => (Some(i), i)
  }

  /** Re-keying reducer, so every value crosses both shuffles;
    * `sorted` sends the map-side emissions through the sort box.
    */
  final class AnyValues(sorted: Boolean) extends MapReduce[Int, Int, Int, Any] {
    def mapper(i: Int): IterableOnce[Emit[Int, Int, Any]] =
      Iterator.single(if (sorted) KSV(i % 4, i, value(i)) else KV(i % 4, value(i)))
    def reducer(k: Int, vs: Seq[Any]): IterableOnce[Emit[Int, Int, Any]] =
      vs.iterator.map(v => KV(k % 2, v))
    override def sortOrdering: Ordering[Int] = Ordering.Int
  }

  type Pair = (Option[Int], String)

  /** The Dataset form: values shaped like the engine's own
    * `(Option[sort], value)` record, with null strings.
    */
  final class PairValues extends MapReduce[Int, Int, Int, Pair] {
    def mapper(i: Int): IterableOnce[Emit[Int, Int, Pair]] =
      Iterator.single(KV(i % 4, pair(i)))
    def reducer(k: Int, vs: Seq[Pair]): IterableOnce[Emit[Int, Int, Pair]] =
      vs.iterator.map(v => KV(k % 2, v))
  }

  def pair(i: Int): Pair =
    (if (i % 3 == 0) None else Some(i), if (i % 2 == 0) null else s"s$i")

  /** (key, value) and (key, sort, value) under one key in the map phase. */
  final class MixedMap extends MapReduce[Int, Int, Int, Int] {
    def mapper(i: Int): IterableOnce[Emit[Int, Int, Int]] = Iterator(KV(0, i), KSV(0, i, i))
    def reducer(k: Int, vs: Seq[Int]): IterableOnce[Emit[Int, Int, Int]] =
      Iterator.single(KV(k, vs.sum))
    override def sortOrdering: Ordering[Int] = Ordering.Int
  }

  /** The same mix emitted by the reducer, with or without shuffle #2. */
  final class MixedReduce(kp: Boolean) extends MapReduce[Int, Int, Int, Int] {
    override def keyPreserving: Boolean = kp
    def mapper(i: Int): IterableOnce[Emit[Int, Int, Int]] = Iterator.single(KV(i % 2, i))
    def reducer(k: Int, vs: Seq[Int]): IterableOnce[Emit[Int, Int, Int]] =
      Iterator(KV(k, vs.sum), KSV(k, 0, vs.size))
    override def sortOrdering: Ordering[Int] = Ordering.Int
  }
}

class PayloadSpec extends SparkSpec {
  import PayloadTasks._

  private val items = 0 until 200

  /** Per-key values as a sorted multiset: arrival order across
    * partitions is not deterministic.
    */
  private def bag(m: Iterable[(Int, Iterable[Any])]): Map[Int, List[String]] =
    m.map { case (k, vs) => k -> vs.map(String.valueOf).toList.sorted }.toMap

  for (sorted <- Seq(false, true)) {
    test(s"tuple, Option and null values cross both RDD shuffles unchanged (sorted=$sorted)") {
      val got = new AnyValues(sorted).runToMap(sc.parallelize(items, 3))
      val oracle = items.groupBy(i => i % 4 % 2).map { case (k, is) => k -> is.map(value) }
      assert(bag(got) == bag(oracle))
    }
  }

  test("(Option, value)-shaped values with nulls cross both Dataset shuffles unchanged") {
    import spark.implicits._
    val got = new PairValues().runDataset(spark.createDataset(items).repartition(3)).collect()
    val oracle = items.groupBy(i => i % 4 % 2).map { case (k, is) => k -> is.map(pair) }
    assert(bag(got.toMap) == bag(oracle))
  }

  private def assertElementCountError(job: => Any): Unit = {
    val e = intercept[SparkException](job)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ElementCountError]), s"no ElementCountError in: $e")
  }

  test("mixed arities under one key raise ElementCountError in the map phase") {
    import spark.implicits._
    assertElementCountError(new MixedMap().runToMap(sc.parallelize(1 to 10, 2)))
    assertElementCountError(new MixedMap().runDataset(spark.createDataset(1 to 10)).collect())
  }

  for (kp <- Seq(false, true)) {
    test(s"mixed arities under one key raise ElementCountError in the reduce phase (keyPreserving=$kp)") {
      import spark.implicits._
      assertElementCountError(new MixedReduce(kp).runToMap(sc.parallelize(1 to 10, 2)))
      assertElementCountError(new MixedReduce(kp).runDataset(spark.createDataset(1 to 10)).collect())
    }
  }
}
