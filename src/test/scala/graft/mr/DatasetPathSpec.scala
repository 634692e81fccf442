package graft.mr

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.ExplainMode

/** The Dataset (Tungsten) execution path must agree exactly with the RDD
  * path on the same tasks — both reducer shapes, with and without the
  * keyPreserving elision, and under secondary sort — and both paths keep
  * their shuffle shape: one keyed exchange per shuffle.
  */
class DatasetPathSpec extends SparkSpec {
  import WordCountTasks._

  private def formatted(ds: Dataset[_]): String =
    ds.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def shuffleDeps(rdd: RDD[_]): Int = rdd.dependencies.map {
    case s: ShuffleDependency[_, _, _] => 1 + shuffleDeps(s.rdd)
    case d => shuffleDeps(d.rdd)
  }.sum

  for (kp <- Seq(true, false)) {
    test(s"runDataset plans one keyed exchange per shuffle and no AppendColumns (keyPreserving=$kp)") {
      import spark.implicits._
      val input = spark.createDataset(Text)
      val plans = Seq(
        "yield" -> formatted(new YieldYield(0, kp).runDataset(input)),
        "return" -> formatted(new YieldReturn(0, kp).runDataset(input)),
        "combiner" -> formatted(new CombinerTasks.CombWordCount(kp).runDataset(input)))
      for ((name, p) <- plans) {
        assert(!p.contains("AppendColumns"), s"$name:\n$p")
        val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
        assert(exchanges == (if (kp) 1 else 2), s"$name: $exchanges exchanges\n$p")
      }
    }
  }

  test("a keyPreserving run has exactly one ShuffleDependency in its lineage") {
    val input = sc.parallelize(Text, 3)
    assert(shuffleDeps(new YieldYield(0, kp = true).run(input)) == 1)
    assert(shuffleDeps(new YieldReturn(0, kp = true).run(input)) == 1)
    assert(shuffleDeps(new CombinerTasks.CombWordCount(kp = true).run(input)) == 1)
  }

  for (kp <- Seq(true, false)) {
    test(s"yield-mode wordcount: Dataset path == RDD path (keyPreserving=$kp)") {
      import spark.implicits._
      val task = new YieldYield(0, kp)
      val viaRdd = task.runToMap(sc.parallelize(Text, 3))
      val viaDs = task.runDataset(spark.createDataset(Text).repartition(3))
        .collect().toMap
      assert(viaDs.view.mapValues(_.toList).toMap == viaRdd)
    }

    test(s"return-mode wordcount: Dataset path == RDD path (keyPreserving=$kp)") {
      import spark.implicits._
      val task = new YieldReturn(0, kp)
      val viaRdd = task.runToMap(sc.parallelize(Text, 3))
      val viaDs = task.runDataset(spark.createDataset(Text).repartition(3))
        .collect().toMap
      assert(viaDs == viaRdd)
    }
  }

  test("Dataset path honors the secondary-sort matrix") {
    import spark.implicits._
    val data = Seq(2, 3, 1)
    val task = new SortingTasks.SortMapValue(false)
    val got = task.runDataset(spark.createDataset(data).coalesce(1))
      .collect().toMap
    assert(got(0) == Seq(1, 2, 3))
  }

  test("Dataset path honors the parallelism knobs and stays result-identical") {
    import spark.implicits._
    val knobbed = new HookTasks.AsymmetricSum(mapPar = 5, redPar = 3)
    val plain = new HookTasks.AsymmetricSum(mapPar = 0, redPar = 0)
    val input = spark.createDataset(1 to 1000).repartition(8)
    val out = knobbed.runDataset(input)
    // shuffle #2 width is pinned by reduceParallelism, not the session conf
    assert(out.rdd.getNumPartitions == 3, s"got ${out.rdd.getNumPartitions}")
    val got = out.collect().toMap.view.mapValues(_.toSet).toMap
    val ref = plain.runDataset(input).collect().toMap.view.mapValues(_.toSet).toMap
    assert(got == ref)
  }

  test("Dataset path groups NaN keys alike at pinned and unpinned widths") {
    import spark.implicits._
    // NaN != NaN under primitive ==, so adjacent-grouping must use
    // compare-equality or every NaN group silently splits
    def task(par: Int) = new MapReduce1[Double, Double, Int, Long] {
      def mapper(item: Double): IterableOnce[Emit[Double, Int, Long]] =
        Iterator.single(KV(item, 1L))
      def reducer(key: Double, values: Seq[Long]): Emit[Double, Int, Long] =
        KV(key, values.sum)
      override def mapParallelism: Int = par
    }
    val input = spark.createDataset(
      Seq(Double.NaN, 1.5, Double.NaN, 1.5, Double.NaN)).repartition(3)
    // compare on canonical bit patterns: Scala == on boxed NaN keys is
    // false (numeric equality), so a Map[Double, _] can't assert itself
    def collect(par: Int): Map[Long, Long] =
      task(par).runDataset(input).collect()
        .map { case (k, v) => java.lang.Double.doubleToLongBits(k) -> v }.toMap
    val sized = collect(3)
    assert(sized == collect(0))
    assert(sized(java.lang.Double.doubleToLongBits(Double.NaN)) == 3L)
    assert(sized(java.lang.Double.doubleToLongBits(1.5)) == 2L)
  }

  test("Dataset path groups array-typed keys alike at pinned and unpinned widths") {
    import spark.implicits._
    // JVM == on arrays is reference equality: without element-wise
    // comparison the sized path splits every array-key group into
    // singletons even though the sort placed them adjacent
    def task(par: Int) = new MapReduce1[Int, Array[Int], Int, Long] {
      def mapper(item: Int): IterableOnce[Emit[Array[Int], Int, Long]] =
        Iterator.single(KV(Array(item % 2, item % 3), 1L))
      def reducer(key: Array[Int], values: Seq[Long]): Emit[Array[Int], Int, Long] =
        KV(key, values.sum)
      override def mapParallelism: Int = par
    }
    val input = spark.createDataset(1 to 60).repartition(4)
    def collect(par: Int): Map[List[Int], Long] =
      task(par).runDataset(input).collect()
        .map { case (k, v) => k.toList -> v }.toMap
    val sized = collect(3)
    assert(sized == collect(0))
    assert(sized.values.sum == 60L && sized.size == 6)
  }

  test("Dataset combiner path honors mapParallelism and stays result-identical") {
    import spark.implicits._
    import WordCountTasks.{Oracle, Text}
    val task = new MapReduce1[String, String, Int, Long] {
      def mapper(item: String): IterableOnce[Emit[String, Int, Long]] =
        item.toLowerCase.trim.split("\\s+").iterator.map(w => KV(w, 1L))
      def reducer(key: String, values: Seq[Long]): Emit[String, Int, Long] =
        KV(key, values.sum)
      override def combiner: Option[(Long, Long) => Long] = Some(_ + _)
      override def mapParallelism: Int = 5
    }
    val got = task.runDataset(spark.createDataset(Text).repartition(3))
      .collect().toMap
    assert(got == Oracle)
  }
}
