package graft.operators

import graft.Tables
import graft.functions.BottomK
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Custom typed aggregators exposed as queries. */
object Aggregates {

  /** Per-brand top-3 parts by retail price through the bounded-buffer
    * [[BottomK]] aggregator, best first (price desc, partkey asc) —
    * same result contract as the window ROW_NUMBER oracle, but with
    * O(k) state per group instead of a full per-group sort, and
    * combinable map-side.
    */
  def q34TopKAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ds = Tables.part(s, d)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
      .as[(String, Long, Double)]
    val byScore = Ordering.fromLessThan[(Long, Double)]((a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
    val topk = new BottomK[(String, Long, Double), (Long, Double)](3, r => (r._2, r._3))(
      byScore, implicitly)
    ds.groupByKey(_._1)
      .agg(topk.toColumn.name("topk"))
      .toDF("p_brand", "topk")
      .select(col("p_brand"), posexplode(col("topk")))
      .select(
        col("p_brand"),
        col("col._1").as("p_partkey"),
        col("col._2").as("p_retailprice"),
        (col("pos") + 1).cast("long").as("rnk"))
      .orderBy(col("p_brand"), col("rnk"))
  }
}
