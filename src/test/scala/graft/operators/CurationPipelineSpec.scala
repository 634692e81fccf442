package graft.operators

import graft.Scope
import graft.mr.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q216 — the gate → ExactSubstr rewrite → quota → budget composition.
  * The load-bearing law: the FUSED bounded per-source aggregate
  * (BottomKKeyedDocs carrying the retained-token payload) selects and
  * aggregates exactly what the naive formulation — q68's ROW_NUMBER
  * window over (md5(rewritten), doc_id) plus a join-back — would, on
  * any input; fusion may only change the plan (one rewrite consumption
  * instead of two), never the result.
  */
class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(seed: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("a", "b", "c", "d", "e")
    def text() = Seq.fill(8 + rnd.nextInt(40))(
      vocab(rnd.nextInt(vocab.length))).mkString(" ")
    // a planted shared span so the rewrite genuinely cuts something
    val span = (1 to Curation.ExactSubstrL).map(i => s"z$i").mkString(" ")
    (0 until n).map { i =>
      val t = if (i % 6 == 0) s"${text()} $span" else text()
      (s"s${i % 4}", i.toLong, if (i == 11) null else t)
    }.toDF("source", "doc_id", "text")
  }

  private def naive(docs: DataFrame): Seq[org.apache.spark.sql.Row] = {
    val gated = docs
      .withColumn("n_tok",
        size(filter(split(col("text"), " "), t => t =!= "")).cast("long"))
      .filter(col("n_tok").between(10L, 80L))
      .select(col("source"), col("doc_id"), col("text"))
    val rk = row_number().over(Window.partitionBy(col("source"))
      .orderBy(md5(col("rewritten")), col("doc_id")))
    Scope { sc =>
      Curation.exactSubstrRewrite(sc, gated).withColumn("rk", rk)
        .filter(col("rk") <= Curation.QuotaPerSource)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks") - col("n_removed")).as("sum_tokens"),
          countDistinct(md5(col("rewritten"))).as("n_distinct_texts"),
          max(md5(col("rewritten"))).as("sig_max"))
        .orderBy(col("source"))
        .collect().toSeq
    }
  }

  test("fused quota+budget == the naive window + join-back formulation " +
    "on random corpora (with planted cross-doc spans and a null text)") {
    for (seed <- Seq(101, 211)) {
      val docs = corpus(seed, 80)
      val fused = Curation.curationRewritePipelineOf(docs).collect().toSeq
      assert(fused == naive(docs), s"seed $seed: fusion changed the result")
    }
  }

  test("sources with fewer docs than the quota keep them all; the rewrite's " +
    "cuts show up in the budget") {
    val span = (1 to Curation.ExactSubstrL).map(i => s"w$i").mkString(" ")
    val pad = (1 to 4).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      ("a", 1L, s"$pad $span"),   // 12 tokens, keeper
      ("a", 2L, s"$span $pad"),   // duplicate span, cut to 4 tokens
      ("b", 3L, s"$pad $pad $pad")) // 12 tokens, untouched
      .toDF("source", "doc_id", "text")
    val got = Curation.curationRewritePipelineOf(docs)
      .select(col("source"), col("n_docs"), col("sum_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 2L, 12L + 4L), ("b", 1L, 12L)))
  }
}
