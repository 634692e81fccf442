package graft.operators

import graft.mr.SparkSpec
import graft.functions.BottomKTriples

/** Inverted-index construction (q92). The driver hash-matches a full
  * SQL replay; these fixtures pin the bounded-head aggregator (the one
  * piece with its own state machine) against sort-and-take ground
  * truth, and the posting semantics on a hand-built corpus.
  */
class InvertedIndexSpec extends SparkSpec {

  test("BottomKTriples equals sort.take(k) under partial merges") {
    val rng = new scala.util.Random(5)
    import spark.implicits._
    val agg = new BottomKTriples[(Long, Long, Long)](5, identity)
    for (_ <- 1 to 20) {
      val xs = Seq.fill(30)((rng.nextInt(10).toLong, rng.nextInt(5).toLong, rng.nextInt(100).toLong))
      val (l, r) = xs.splitAt(rng.nextInt(xs.length))
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      assert(merged == xs.sorted.take(5))
    }
  }

  test("posting heads are doc-ordered, capped, and tf/first_pos exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = graft.Scope.lru.tempDir("q92fix").toString
    // token "z" appears in 7 docs (head must cap at 5); "y" in doc 1
    // twice (tf 2, first_pos is its first slot)
    val rows = (1L to 7L).map(i => (i, if (i == 1) "z y w y" else "z w", "en", "s", 0L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.q92InvertedIndex(spark, dir)
      .collect().map(r => r.getAs[String]("tok") ->
        ((r.getAs[Long]("df"), r.getAs[Long]("n_occurrences"), r.getAs[String]("postings"))))
      .toMap
    assert(got("z") == ((7L, 7L, "1:1:1,2:1:1,3:1:1,4:1:1,5:1:1")))
    assert(got("w") == ((7L, 7L, "1:1:3,2:1:2,3:1:2,4:1:2,5:1:2")))
    assert(got("y") == ((1L, 2L, "1:2:2")))
  }

  test("q92 binding: 20 rows, df descending, heads non-empty") {
    val rows = TextOps.q92InvertedIndex(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 20)
    val dfs = rows.map(_.getAs[Long]("df")).toSeq
    assert(dfs == dfs.sortBy(-_))
    assert(rows.forall(_.getAs[String]("postings").nonEmpty))
  }
}
