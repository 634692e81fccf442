package graft.operators

import graft.mr.SparkSpec
import org.apache.spark.sql.functions._

/** Source gram-overlap matrix (q144). The driver hash-matches the
  * DuckDB mirror; these fixtures pin the trigram/distinct semantics and
  * the Jaccard arithmetic on hand-computable corpora.
  */
class SourceOverlapSpec extends SparkSpec {

  private def overlap(rows: Seq[(Long, String, String)]): Map[(String, String), (Long, Double)] = {
    import spark.implicits._
    val df = rows.toDF("doc_id", "source", "text")
    // the binding is dir-bound; drive the same body through a temp dir
    val dir = graft.Scope.lru.tempDir("src_overlap_").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/_d")
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "_d"))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    java.nio.file.Files.copy(part, java.nio.file.Paths.get(dir, "documents.parquet"))
    TextOps.q144SourceGramOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_shared"), r.getAs[Double]("gram_jaccard")))).toMap
  }

  test("hand-computed trigram overlap and jaccard") {
    // A: "a b c d"  -> grams {a b c, b c d}
    // B: "a b c e"  -> grams {a b c, b c e}
    // C: "x y z"    -> grams {x y z}
    val got = overlap(Seq(
      (1L, "A", "a b c d"),
      (2L, "B", "a b c e"),
      (3L, "C", "x y z")))
    assert(got.keySet == Set(("A", "B"))) // no shared grams with C -> no row
    val (n, j) = got(("A", "B"))
    assert(n == 1L)
    assert(j == 1.0 / 3.0) // 1 shared of (2 + 2 - 1)
  }

  test("duplicate grams inside one source count once (distinct per source)") {
    val got = overlap(Seq(
      (1L, "A", "a b c a b c a b c"), // grams: {a b c, b c a, c a b} each repeated
      (2L, "A", "a b c d"),           // adds {b c d}
      (3L, "B", "a b c q")))          // {a b c, b c q}
    val (n, j) = got(("A", "B"))
    assert(n == 1L) // only "a b c" shared
    assert(j == 1.0 / (4 + 2 - 1))
  }

  test("docs shorter than three tokens contribute no grams") {
    val got = overlap(Seq(
      (1L, "A", "a b"), // no trigram
      (2L, "B", "a b c")))
    assert(got.isEmpty) // A has an empty gram set -> no pair row
  }

  test("case folding: tokens are lowercased before hashing") {
    val got = overlap(Seq(
      (1L, "A", "Foo Bar Baz"),
      (2L, "B", "foo bar baz")))
    val (n, j) = got(("A", "B"))
    assert(n == 1L && j == 1.0)
  }

  test("q144 on the test data: symmetric-free matrix, jaccard in (0,1]") {
    val rows = TextOps.q144SourceGramOverlap(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1)) // canonical unordered pairs
      val j = r.getAs[Double]("gram_jaccard")
      assert(j > 0.0 && j <= 1.0)
    }
  }
}
