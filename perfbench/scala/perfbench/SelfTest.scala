package perfbench

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Checks of [[Digest]] on small frames; prints one line per check and
  * exits non-zero if any fails. Run by perfbench/tests. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(1, extraConf = Map(
      "spark.local.dir" -> args(0), "spark.sql.warehouse.dir" -> s"${args(0)}/warehouse"))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val rows = Seq(
      (1, 0.3, "a", Seq(1.5, 2.5), Map("k" -> 0.3)),
      (2, -0.0, "b", Seq(0.1), Map("k" -> 1.0, "j" -> 2.0)),
      (3, 1e12, "c", Seq.empty[Double], Map.empty[String, Double]))
    val base = rows.toDF("id", "x", "s", "xs", "m")
    val d = Digest.of(base)._1
    def digest(df: org.apache.spark.sql.DataFrame) = Digest.of(df)._1

    val checks = Seq(
      "row order" -> (digest(rows.reverse.toDF("id", "x", "s", "xs", "m").repartition(3)) == d),
      "float rounding" -> (digest(base.withColumn("x",
        when(col("id") === 1, lit(0.1) + lit(0.2))
          .when(col("id") === 2, lit(0.0))
          .otherwise(col("x") * (lit(1.0) + lit(1e-15))))) == d),
      "map entry order" -> (digest(base.withColumn("m",
        when(col("id") === 2, map(lit("j"), lit(2.0), lit("k"), lit(1.0))).otherwise(col("m")))) == d),
      "changed value" -> (digest(base.withColumn("s",
        when(col("id") === 3, lit("z")).otherwise(col("s")))) != d),
      "changed float" -> (digest(base.withColumn("x",
        when(col("id") === 1, lit(0.3001)).otherwise(col("x")))) != d),
      "duplicate row" -> (digest(base.unionByName(base.limit(1))) != d),
      "missing row" -> (digest(base.where(col("id") =!= 2)) != d),
      "column name" -> (digest(base.withColumnRenamed("s", "t")) != d),
      "repeatable" -> (digest(base) == d))
    checks.foreach { case (name, ok) => println(s"${if (ok) "ok" else "FAIL"} $name") }
    spark.stop()
    sys.exit(if (checks.forall(_._2)) 0 else 1)
  }
}
