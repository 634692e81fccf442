package graft.operators

import graft.mr.SparkSpec

/** BM25 probe search (q107). The driver hash-matches the full ranking;
  * these fixtures pin the ranking PROPERTIES the oracle equality can't
  * explain: idf favors rarer terms, tf saturates, and length
  * normalization penalizes long matches.
  */
class Bm25Spec extends SparkSpec {

  private def write(dir: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def run(dir: String): Seq[(Long, Long, Long, Double)] =
    TextOps.q107Bm25Search(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq

  test("rarer query terms dominate the ranking (idf ordering)") {
    val dir = graft.Scope.lru.tempDir("bm25idf").toString
    // probe doc 0 (0 % 101 == 0) queries {rare, common}; "common"
    // appears everywhere, "rare" only in doc 1 — doc 1 must outrank
    // the common-only docs despite identical lengths
    write(dir, Seq(
      (0L, "rare common pad1 pad2"),
      (1L, "rare common filler other"),
      (2L, "common stuff filler other"),
      (3L, "common stuff filler other2"),
      (4L, "common stuff filler other3")))
    val got = run(dir)
    assert(got.nonEmpty)
    val top = got.filter(_._1 == 0L).minBy(_._2)
    assert(top._3 == 1L, s"expected the rare-term doc first, got $got")
  }

  test("term frequency saturates: tf 10 beats tf 1 by far less than 10x") {
    val dir = graft.Scope.lru.tempDir("bm25tf").toString
    // same single query term, same doc length; tf 5 vs tf 1
    write(dir, Seq(
      (0L, "term x1 x2 x3"),
      (1L, "term term term term term a1 a2 a3 a4 a5"),
      (2L, "term b1 b2 b3 b4 b5 b6 b7 b8 b9")))
    val got = run(dir).filter(_._1 == 0L)
    val s1 = got.find(_._3 == 1L).get._4
    val s2 = got.find(_._3 == 2L).get._4
    assert(s1 > s2) // more occurrences still rank higher...
    assert(s1 < 5 * s2) // ...but sublinearly (k1 saturation)
  }

  test("max-score pruning: stopword-only docs never become candidates, ranking unchanged") {
    val dir = graft.Scope.lru.tempDir("bm25wand").toString
    // probe 0 queries {stop, rare}: "stop" matches all 30 docs (low
    // idf), "rare" matches 8. With k=5 the θ floor from rare's own
    // postings exceeds stop's total upper bound, so stop must fall in
    // the nonessential partition and the 22 stop-only docs must never
    // be scored — while the output stays bit-identical to unpruned.
    val rows = Seq((0L, "stop rare")) ++
      (1L to 7L).map(i => (i, s"stop rare f$i g$i")) ++
      (8L to 29L).map(i => (i, s"stop h$i j$i k$i"))
    write(dir, rows)
    val pruned = TextOps.bm25Build(spark, dir, forcePrune = Some(true))
    val full = TextOps.bm25Build(spark, dir, forcePrune = Some(false))
    val ess = pruned.essential.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[String]("tok"))).toSet
    assert(ess == Set((0L, "rare")), s"essential partition: $ess")
    val cand = pruned.candidates.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))).toSet
    assert(cand == (0L to 7L).map((0L, _)).toSet, s"candidates: $cand")
    assert(pruned.ranked.collect().toSeq.map(_.toSeq) ==
      full.ranked.collect().toSeq.map(_.toSeq))
    // the volume-guarded binding (direct path at fixture scale) agrees
    // with both forced paths — the guard swaps plans, never answers
    assert(TextOps.q107Bm25Search(spark, dir).collect().toSeq.map(_.toSeq) ==
      full.ranked.collect().toSeq.map(_.toSeq))
  }

  test("per-query slates hold at most topK rows, self excluded, ranks dense") {
    val dir = graft.Scope.lru.tempDir("bm25k").toString
    write(dir, (0L to 20L).map(i => (i, s"shared t$i u$i v$i")))
    val got = run(dir)
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet == Set(0L)) // only doc 0 is a probe among 0..20
    byQ.values.foreach { rows =>
      assert(rows.size <= TextOps.Bm25TopK)
      assert(rows.map(_._2).sorted == (1L to rows.size))
      rows.foreach(r => assert(r._3 != r._1)) // never retrieves itself
      // scores non-increasing in rank
      val sorted = rows.sortBy(_._2).map(_._4)
      assert(sorted == sorted.sortBy(-_))
    }
  }
}
