package graft.operators

import graft.Scope
import graft.mr.SparkSpec
import org.apache.spark.sql.DataFrame

/** q212 — incremental ExactSubstr census maintenance. The load-bearing
  * law is BATCH-BOUNDARY INVARIANCE: however a corpus is split into
  * disjoint ingest batches, merging the per-batch states must equal
  * the one-shot census (which the driver also checks against the q208
  * oracle on the real corpus). The algebra that makes the law hold at
  * a daily 100 TB cadence — associativity, commutativity, empty-batch
  * neutrality — is pinned here on random small-vocabulary corpora.
  */
class ExactSubstrIncrementalSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector("a", "b", "c")
  private def doc(rnd: scala.util.Random): String =
    Seq.fill(Curation.ExactSubstrL + rnd.nextInt(2 * Curation.ExactSubstrL))(
      vocab(rnd.nextInt(vocab.length))).mkString(" ")

  private def corpus(seed: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (s"s${i % 4}", i.toLong,
      if (i == 7) null else doc(rnd))).toDF("source", "doc_id", "text")
  }

  private def report(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.collect().toSeq

  test("merge of ANY disjoint batch split == the one-shot census") {
    val docs = corpus(31, 60)
    val oneShot = report(Curation.exactSubstrOf(docs))
    for (mod <- Seq(2, 3, 5)) {
      val states = (0 until mod).map(r =>
        Curation.exactSubstrState(
          docs.filter(org.apache.spark.sql.functions.col("doc_id") % mod
            === r.toLong)))
      assert(report(Curation.exactSubstrMerge(states)) == oneShot,
        s"split mod $mod diverged from the one-shot census")
    }
  }

  test("merge is order-invariant (fold yesterday-into-today or today-into-yesterday)") {
    val docs = corpus(47, 40)
    import org.apache.spark.sql.functions.col
    val a = Curation.exactSubstrState(docs.filter(col("doc_id") < 20))
    val b = Curation.exactSubstrState(docs.filter(col("doc_id") >= 20))
    assert(report(Curation.exactSubstrMerge(Seq(a, b))) ==
      report(Curation.exactSubstrMerge(Seq(b, a))))
  }

  test("an empty batch is the merge identity") {
    val docs = corpus(53, 30)
    val empty = Curation.exactSubstrState(docs.limit(0))
    val full = Curation.exactSubstrState(docs)
    assert(report(Curation.exactSubstrMerge(Seq(full, empty))) ==
      report(Curation.exactSubstrOf(docs)))
  }

  // ---- q213: the incremental dedup TRANSFORM (maintain-then-rewrite) ----

  test("q213 cross-batch duplicate with the keeper in an EARLIER batch: the " +
    "later batch cuts its occurrence, the keeper batch survives — byte-exact") {
    val span = (1 to Curation.ExactSubstrL).map(i => s"w$i").mkString(" ")
    // the keeper (doc 1) arrives in batch 1 and is corpus-unique AT
    // THAT TIME; doc 2's repeat arrives in batch 2 — without the
    // min(struct(doc_id, pos)) keeper in the state, batch 2 would keep
    // its own first occurrence and cut nothing
    val b1 = Seq(("a", 1L, s"pre $span")).toDF("source", "doc_id", "text")
    val b2 = Seq(("a", 2L, s"$span post"),
      ("a", 3L, s"mid $span")).toDF("source", "doc_id", "text")
    val by = Scope { sc =>
      Curation.exactSubstrRewriteIncremental(sc, Seq(b1, b2))
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("rewritten"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    assert(by(1L) == s"pre $span", "the earlier-batch keeper must survive intact")
    assert(by(2L) == "post", "the later batch must cut the duplicated span")
    assert(by(3L) == "mid", "every later occurrence is cut, not just the first")
  }

  test("q213 incremental rewrite == one-shot q209 rewrite at DOCUMENT grain " +
    "for any disjoint batch split") {
    val docs = corpus(71, 60)
    val oneRows = Scope { sc =>
      Curation.exactSubstrRewrite(sc, docs).orderBy("doc_id").collect().toSeq
    }
    for (mod <- Seq(2, 3)) {
      import org.apache.spark.sql.functions.col
      val batches = (0 until mod).map(r =>
        docs.filter(col("doc_id") % mod === r.toLong))
      val incRows = Scope { sc =>
        Curation.exactSubstrRewriteIncremental(sc, batches).orderBy("doc_id").collect().toSeq
      }
      assert(incRows == oneRows, s"split mod $mod diverged from one-shot q209")
    }
  }

  test("q213 rollup equals the one-shot q209 rollup in BOTH key modes " +
    "(the rolling 128-bit keys ride the incremental path too)") {
    val docs = corpus(83, 50)
    val oneShot = report(Curation.exactSubstrDedupOf(docs))
    import org.apache.spark.sql.functions.col
    val batches = Seq(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
    assert(report(Curation.exactSubstrDedupIncrementalOf(batches)) == oneShot)
    assert(report(Curation.exactSubstrDedupIncrementalOf(
      batches, hashKeys = true)) == oneShot)
  }

  test("the driver binding's %3 split equals q208 on the same frame — " +
    "INCLUDING a NULL doc_id row (plain % predicates would drop it from both batches)") {
    val base = corpus(67, 50)
    val docs = base.unionByName(
      Seq(("s0", Option.empty[Long],
        Seq.fill(Curation.ExactSubstrL)("nulldoc").mkString(" ")))
        .toDF("source", "doc_id", "text"))
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val inNew = coalesce(col("doc_id") % 3 === 0, lit(true))
    val got = Curation.exactSubstrMerge(Seq(
      Curation.exactSubstrState(docs.filter(!inNew)),
      Curation.exactSubstrState(docs.filter(inNew))))
    assert(report(got) == report(Curation.exactSubstrOf(docs)))
  }
}
