package graft.mr

import org.apache.spark.SparkException

/** The opt-in combiner path must be result-identical to the full
  * list-materializing lifecycle, on both execution paths, and must
  * reject sort-element emissions.
  */
object CombinerTasks {
  final class CombWordCount(kp: Boolean) extends MapReduce1[String, String, Int, Long] {
    def mapper(item: String): IterableOnce[Emit[String, Int, Long]] =
      item.toLowerCase.trim.split("\\s+").iterator.map(w => KV(w, 1L))
    def reducer(key: String, values: Seq[Long]): Emit[String, Int, Long] =
      KV(key, values.sum)
    override def keyPreserving: Boolean = kp
    override def combiner: Option[(Long, Long) => Long] = Some(_ + _)
  }

  final class BadCombiner extends MapReduce1[Int, Int, Int, Int] {
    def mapper(i: Int): IterableOnce[Emit[Int, Int, Int]] =
      Iterator.single(KSV(i, i, i))
    def reducer(k: Int, vs: Seq[Int]): Emit[Int, Int, Int] = KV(k, vs.sum)
    override def combiner: Option[(Int, Int) => Int] = Some(_ + _)
    override def sortOrdering: Ordering[Int] = Ordering.Int
  }
}

class CombinerSpec extends SparkSpec {
  import CombinerTasks._
  import WordCountTasks.{Oracle, Text}

  for (kp <- Seq(true, false)) {
    test(s"combiner path equals full lifecycle, RDD path (keyPreserving=$kp)") {
      assert(new CombWordCount(kp).runToMap(sc.parallelize(Text, 3)) == Oracle)
    }
    test(s"combiner path equals full lifecycle, Dataset path (keyPreserving=$kp)") {
      import spark.implicits._
      val got = new CombWordCount(kp)
        .runDataset(spark.createDataset(Text).repartition(3)).collect().toMap
      assert(got == Oracle)
    }
  }

  test("Dataset pre-combine flushes past its key bound and stays exact") {
    import spark.implicits._
    val keys = MapReduceBase.PreCombineMaxKeys + 1000
    val n = 2 * keys + 500
    val oracle = (0 until n).groupBy(_ % keys).map { case (k, is) => (k, is.size.toLong) }
    // the bound is live: one partition of `keys` distinct keys flushes
    // partial results more than once per key
    val partials = MapReduceBase.preCombine[Int, Long]((0 until n).iterator.map(i => (i % keys, 1L)), _ + _).toList
    assert(partials.size > keys)
    assert(partials.groupMapReduce(_._1)(_._2)(_ + _) == oracle)
    val task = new MapReduce1[Int, Int, Int, Long] {
      def mapper(i: Int): IterableOnce[Emit[Int, Int, Long]] = Iterator.single(KV(i % keys, 1L))
      def reducer(k: Int, vs: Seq[Long]): Emit[Int, Int, Long] = KV(k, vs.sum)
      override def keyPreserving: Boolean = true
      override def combiner: Option[(Long, Long) => Long] = Some(_ + _)
    }
    val got = task.runDataset(spark.createDataset(0 until n).coalesce(1)).collect().toMap
    assert(got == oracle)
  }

  test("combiner with sort-element emissions raises ElementCountError") {
    val e = intercept[SparkException] {
      new BadCombiner().runToMap(sc.parallelize(1 to 5, 2))
    }
    var cur: Throwable = e
    var found = false
    while (cur != null && !found) {
      found = cur.isInstanceOf[ElementCountError]; cur = cur.getCause
    }
    assert(found, s"no ElementCountError in $e")
  }
}
