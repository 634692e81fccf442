package perfbench

import graft.mr.{Emit, KSV, KV, MapReduce, MapReduce1}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Counters the benchmark's mappers and reducers update from inside the
  * tasks. Call and emit counts are always kept; time inside user code
  * is measured only when `timed` (the traced run), since reading the
  * clock per call is the tracing overhead.
  */
final class MrCounters(sc: SparkContext) extends Serializable {
  val mapCalls = sc.longAccumulator("perfbench.mr.map_calls")
  val emits = sc.longAccumulator("perfbench.mr.emits")
  val reduceCalls = sc.longAccumulator("perfbench.mr.reduce_calls")
  val userNs = sc.longAccumulator("perfbench.mr.user_ns")

  def snapshot: Map[String, Long] = Map(
    "map_calls" -> mapCalls.value, "emits" -> emits.value,
    "reduce_calls" -> reduceCalls.value, "user_ns" -> userNs.value)
}

/** A counting view of user code for one MR job run. */
final class Counting(c: MrCounters, timed: Boolean) extends Serializable {
  def map[E](f: => Array[E]): Iterator[E] = {
    val t = if (timed) System.nanoTime() else 0L
    val out = f
    if (timed) c.userNs.add(System.nanoTime() - t)
    c.mapCalls.add(1)
    c.emits.add(out.length)
    out.iterator
  }

  def reduce[E](f: => E): E = {
    val t = if (timed) System.nanoTime() else 0L
    val out = f
    if (timed) c.userNs.add(System.nanoTime() - t)
    c.reduceCalls.add(1)
    out
  }
}

/** The four docs.rst idioms, each with a counting mapper and reducer. */
object MrJobs {
  type Row4 = (Long, Long, Long, String)

  private def words(line: String): Array[Emit[String, Int, Long]] =
    line.split(' ').map(w => KV(w, 1L))

  /** Word count with a combiner: map-side pre-combine, no value lists. */
  final class WordCountCombiner(u: Counting) extends MapReduce1[String, String, Int, Long] {
    def mapper(line: String) = u.map(words(line))
    def reducer(k: String, vs: Seq[Long]) = u.reduce(KV(k, vs.sum))
    override def keyPreserving = true
    override def combiner: Option[(Long, Long) => Long] = Some(_ + _)
  }

  /** Word count that builds each word's value list. */
  final class WordCountLists(u: Counting) extends MapReduce[String, String, Int, Long] {
    def mapper(line: String) = u.map(words(line))
    def reducer(k: String, vs: Seq[Long]) = u.reduce(Iterator.single(KV(k, vs.size.toLong)))
    override def keyPreserving = true
  }

  /** Secondary sort: values arrive ordered by (ts, id). */
  final class SecondarySort(u: Counting) extends MapReduce1[Row4, Long, (Long, Long), String] {
    def mapper(r: Row4) =
      u.map(Array[Emit[Long, (Long, Long), String]](KSV(r._1, (r._2, r._3), r._4)))
    def reducer(k: Long, vs: Seq[String]) = u.reduce(KV(k, vs.mkString(",")))
    override def keyPreserving = true
    override def sortOrdering: Ordering[(Long, Long)] =
      Ordering.Tuple2(Ordering.Long, Ordering.Long)
  }

  /** Re-keying reducer (frequency of frequencies): each word re-emits
    * under its count, so the engine pays the second shuffle. */
  final class Rekey(u: Counting) extends MapReduce[String, String, Int, Long] {
    def mapper(line: String) = u.map(words(line))
    def reducer(k: String, vs: Seq[Long]) =
      u.reduce(Iterator.single(KV(vs.size.toString, 1L)))
  }

  /** MR operations of one workload: (name, job run, independent
    * DataFrame formulation of the same result). */
  def ops(s: SparkSession, mrDir: String, c: MrCounters):
      Seq[(String, Boolean => DataFrame, () => DataFrame)] = {
    import s.implicits._
    def lines = s.read.parquet(s"$mrDir/corpus.parquet").select("line").as[String]
    def keyed = s.read.parquet(s"$mrDir/keyed.parquet").select("k", "ts", "id", "v").as[Row4]
    def wordCounts = lines.select(explode(split(col("line"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    def u(timed: Boolean) = new Counting(c, timed)

    val wcCheck = () => wordCounts
    val ssortCheck = () => keyed.groupBy("k").agg(concat_ws(",",
      transform(array_sort(collect_list(struct("ts", "id", "v"))), x => x.getField("v"))).as("seq"))
    val rekeyCheck = () => wordCounts.groupBy(col("cnt").cast("string").as("cnt"))
      .agg(count(lit(1)).as("words"))

    Seq(
      ("mr_wordcount_combiner_rdd",
        (t: Boolean) => new WordCountCombiner(u(t)).run(lines.rdd).toDF("word", "cnt"), wcCheck),
      ("mr_wordcount_combiner_ds",
        (t: Boolean) => new WordCountCombiner(u(t)).runDataset(lines).toDF("word", "cnt"), wcCheck),
      ("mr_wordcount_lists_rdd",
        (t: Boolean) => new WordCountLists(u(t)).run(lines.rdd)
          .map { case (k, vs) => (k, vs.head) }.toDF("word", "cnt"), wcCheck),
      ("mr_wordcount_lists_ds",
        (t: Boolean) => new WordCountLists(u(t)).runDataset(lines)
          .map { case (k, vs) => (k, vs.head) }.toDF("word", "cnt"), wcCheck),
      ("mr_secondary_sort_rdd",
        (t: Boolean) => new SecondarySort(u(t)).run(keyed.rdd).toDF("k", "seq"), ssortCheck),
      ("mr_secondary_sort_ds",
        (t: Boolean) => new SecondarySort(u(t)).runDataset(keyed).toDF("k", "seq"), ssortCheck),
      ("mr_rekey_rdd",
        (t: Boolean) => new Rekey(u(t)).run(lines.rdd)
          .map { case (k, vs) => (k, vs.size.toLong) }.toDF("cnt", "words"), rekeyCheck),
      ("mr_rekey_ds",
        (t: Boolean) => new Rekey(u(t)).runDataset(lines)
          .map { case (k, vs) => (k, vs.size.toLong) }.toDF("cnt", "words"), rekeyCheck))
  }
}
