package graft.operators

import graft.{Tables, Tokens}
import graft.mr.{KSV, KV, MapReduce1, Emit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Queries executed through the typed MapReduce core (`graft.mr`) to prove
  * reference-parity semantics against the same DuckDB oracles the
  * DataFrame layer uses.
  */
object MRQueries {

  /** The reference's canonical program (docs.rst:139-159) on the MR core:
    * return-mode reducer + keyPreserving (no second shuffle).
    */
  private object WordCount extends MapReduce1[String, String, Int, Long] {
    def mapper(line: String): IterableOnce[Emit[String, Int, Long]] =
      Tokens.Alnum(line).iterator.map(w => KV(w, 1L))
    def reducer(key: String, values: Seq[Long]): Emit[String, Int, Long] =
      KV(key, values.sum)
    override def keyPreserving: Boolean = true
    // counts form a monoid: pre-combine map-side, never build value lists
    override def combiner: Option[(Long, Long) => Long] = Some(_ + _)
  }

  def q17MrWordCount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lines = Tables.documents(s, d).select(col("text")).as[String]
    WordCount.runDataset(lines).toDF("word", "cnt")
      .orderBy(col("cnt").desc, col("word"))
      .limit(100)
  }

  /** Secondary-sort showcase (reference test_mapreduce_sorting.py:124-167):
    * composite sort key (event-time micros, event_id) carries the event
    * type; the return-mode reducer takes the post-sort head — i.e. each
    * user's earliest event.
    */
  private object FirstEventByTime
      extends MapReduce1[(Long, Long, Long, String), Long, (Long, Long), String] {
    def mapper(r: (Long, Long, Long, String)): IterableOnce[Emit[Long, (Long, Long), String]] =
      Iterator.single(KSV(r._1, (r._2, r._3), r._4))
    def reducer(key: Long, values: Seq[String]): Emit[Long, (Long, Long), String] =
      KV(key, values.head)
    override def keyPreserving: Boolean = true
    override def sortOrdering: Ordering[(Long, Long)] =
      Ordering.Tuple2(Ordering.Long, Ordering.Long)
  }

  def q18MrFirstEvent(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ts arrives as nanos-since-epoch LongType (nanosAsLong session
    // conf); truncate to micros so the sort order matches micro-precision
    // timestamp engines bit-for-bit.
    val rows = Tables.events(s, d)
      .select(col("user_id"), expr("ts div 1000"), col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
    FirstEventByTime.runDataset(rows).toDF("user_id", "first_event")
      .orderBy(col("user_id"))
  }
}
