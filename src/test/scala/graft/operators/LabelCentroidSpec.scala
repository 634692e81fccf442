package graft.operators

import graft.mr.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-point label centroids + confusion matrix (q142). The driver
  * hash-matches the DuckDB mirror; these fixtures pin the arithmetic
  * (truncating div on negative sums included), the argmin tie-break,
  * and partition invariance.
  */
class LabelCentroidSpec extends SparkSpec {

  private def run(rows: Seq[(Long, Long, Array[Float])]): Map[(Long, Long), Long] = {
    import spark.implicits._
    graft.functions.FingerprintFunctions.register(spark)
    val emb = rows.toDF("vec_id", "label", "embedding")
    // the driver binding is dir-bound; replicate its body over the fixture
    val q = emb.select(col("vec_id"), col("label"),
      call_function("fixed_quantize", col("embedding")).as("q"))
    val cent = q.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        array((0 until 4).map(i => sum(col("q")(i))): _*).as("sums"))
      .select(col("label").as("clabel"), expr("transform(sums, s -> s div n)").as("c"))
      .withColumn("cn", call_function("fixed_dot", col("c"), col("c")))
    val scored = q
      .withColumn("qn", call_function("fixed_dot", col("q"), col("q")))
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"),
        struct((col("qn") - lit(2L) * call_function("fixed_dot", col("q"), col("c")) + col("cn")).as("dist"),
          col("clabel")).as("dc"))
    scored.groupBy(col("vec_id"), col("label"))
      .agg(min(col("dc")).as("best"))
      .groupBy(col("label"), col("best.clabel").as("pred_label"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
  }

  test("well-separated clusters produce a diagonal confusion matrix") {
    val a = Seq[(Long, Long, Array[Float])](
      (1L, 0L, Array(1f, 0f, 0f, 0f)), (2L, 0L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, 1L, Array(0f, 0f, 1f, 0f)), (4L, 1L, Array(0f, 0.1f, 0.9f, 0f)))
    assert(run(a) == Map((0L, 0L) -> 2L, (1L, 1L) -> 2L))
  }

  test("a vector planted inside the other label's cluster lands off-diagonal") {
    val a = Seq[(Long, Long, Array[Float])](
      (1L, 0L, Array(1f, 0f, 0f, 0f)), (2L, 0L, Array(0.9f, 0f, 0.1f, 0f)),
      (5L, 0L, Array(0f, 0f, 1f, 0f)), // labeled 0, sits at label-1's center
      (3L, 1L, Array(0f, 0f, 1f, 0f)), (4L, 1L, Array(0f, 0f, 0.9f, 0.1f)))
    val got = run(a)
    assert(got((0L, 1L)) == 1L) // the plant
    assert(got((0L, 0L)) == 2L && got((1L, 1L)) == 2L)
  }

  test("exact tie between centroids breaks toward the smaller label") {
    // probe at (0, 1): centroids 3 = (1,0,..) and 7 = (-1,0,..) are both
    // at squared distance 2e12 (exact in fixed point); its OWN label-5
    // centroid (0,-1,..) is at 4e12 — so the argmin is a pure 3-vs-7
    // tie and must pick 3
    val a = Seq[(Long, Long, Array[Float])](
      (1L, 3L, Array(1f, 0f, 0f, 0f)),
      (2L, 7L, Array(-1f, 0f, 0f, 0f)),
      (9L, 5L, Array(0f, 1f, 0f, 0f)),
      (10L, 5L, Array(0f, -3f, 0f, 0f)))
    val got = run(a)
    assert(got((5L, 3L)) == 1L, s"tie must resolve to label 3, got $got")
  }

  test("negative components: truncating div matches a driver-side reference") {
    val vs = Seq[(Long, Long, Array[Float])](
      (1L, 0L, Array(-0.3f, 0.7f, -0.1f, 0.2f)),
      (2L, 0L, Array(-0.4f, -0.2f, 0.5f, 0.1f)),
      (3L, 1L, Array(0.6f, -0.6f, 0.2f, -0.9f)))
    // reference centroid for label 0, dim 0: q = round(-0.3e6), round(-0.4e6)
    // sum = -700000, n = 2 -> Spark div truncates toward zero: -350000
    import spark.implicits._
    graft.functions.FingerprintFunctions.register(spark)
    val q = vs.toDF("vec_id", "label", "embedding")
      .select(col("label"), call_function("fixed_quantize", col("embedding")).as("q"))
    val cent = q.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), array((0 until 4).map(i => sum(col("q")(i))): _*).as("sums"))
      .select(col("label"), expr("transform(sums, s -> s div n)").as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(cent(0L)(0) == -350000L)
    assert(cent(0L)(1) == 250000L)  // (700000 - 200000) div 2
    assert(cent(1L) == Seq(600000L, -600000L, 200000L, -900000L))
  }

  test("kappa is exactly 1.0 when every vector sits in its own label's cluster") {
    // write a clean two-cluster corpus through the dir-bound binding
    import spark.implicits._
    val dir = graft.Scope.lru.tempDir("kappa_perfect_").toString
    val rows = Seq[(Long, Long, Array[Float])](
      (1L, 0L, Array.tabulate(64)(i => if (i == 0) 1f else 0f)),
      (2L, 0L, Array.tabulate(64)(i => if (i == 0) 0.9f else 0f)),
      (3L, 1L, Array.tabulate(64)(i => if (i == 1) 1f else 0f)),
      (4L, 1L, Array.tabulate(64)(i => if (i == 1) 0.9f else 0f)))
    rows.toDF("vec_id", "label", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_e")
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "_e"))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    java.nio.file.Files.copy(part, java.nio.file.Paths.get(dir, "embeddings.parquet"))
    val r = Similarity.q155LabelKappa(spark, dir).head()
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("n_agree") == 4L)
    assert(r.getAs[Double]("kappa") == 1.0)
  }

  test("q155 on the test data: kappa in [-1, 1], components consistent") {
    val r = Similarity.q155LabelKappa(spark, "/root/testdata/sf0.001").head()
    val (n, a, s) = (r.getAs[Long]("n"), r.getAs[Long]("n_agree"), r.getAs[Long]("s_chance"))
    assert(a <= n && s <= n * n && s > 0)
    val k = r.getAs[Double]("kappa")
    assert(k >= -1.0 && k <= 1.0)
    assert(k == (n * a - s).toDouble / (n * n - s).toDouble)
  }

  test("q142 runs on the test data: counts cover the corpus, labels sane") {
    val rows = Similarity.q142LabelCentroids(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n")).sum
    val corpus = graft.Tables.embeddings(spark, "/root/testdata/sf0.001").count()
    assert(total == corpus)
  }
}
