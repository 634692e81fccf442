package graft.operators

import graft.{Scope, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Replayable log-free probabilistic scoring — the model-based quality
  * filters of a pre-training pipeline (CCNet's LM-perplexity bucket
  * filter, Wenzek et al. LREC '20 §4.3; GPT-3's quality classifier,
  * Brown et al. '20 App. A) rebuilt so every score is EXACT integer
  * arithmetic and therefore bit-identical under the DuckDB differential
  * oracle. The usual blocker is `ln`: libm and DuckDB differ by 1 ulp
  * on transcendentals, so any log-probability sum is un-hashable (the
  * q77 PMI operator dodged this by reporting raw ratios — viable for
  * one ratio, not for a 200-term product that under/overflows every
  * float format). The dodge here is a QUANTIZED logarithm computed
  * exactly: [[halfBitsLog2]] returns floor(2·log2(a/b)) for integers
  * a >= b >= 1 using only bit-length and 128-bit integer compares —
  * both engines agree on every input, so per-token "surprisal in
  * half-bits" sums to a hashable per-document score. Half-bit (factor
  * sqrt(2)) resolution is the finest this trick reaches with 128-bit
  * intermediates: floor(2^k·log2) needs exact p^(2^k) vs q^(2^k)·2^j
  * compares, and p^4 already overflows HUGEINT at corpus-scale counts.
  * (p^2 = 2·q^2 has no integer solutions — sqrt(2) is irrational — so
  * the >= in the compare never decides a boundary case.)
  *
  * Built on the primitive, two first-class operators:
  *   - [[lmScore]] (q176): add-one-smoothed bigram language model
  *     trained on a deterministic half-split, scoring the held-out half
  *     in half-bits per bigram — the CCNet quality signal.
  *   - [[nbPredict]] (q177): multinomial Naive Bayes over unigrams
  *     (Jurafsky & Martin SLP ch. 4 shape) with integer-surprisal
  *     log-probabilities — the learned language-ID / quality-classifier
  *     analogue, reported as a confusion matrix against held-out truth.
  *
  * Scale stance: models are vocabulary-sized (sublinear in corpus), so
  * model-side joins broadcast (AQE picks it up at runtime from actual
  * post-shuffle sizes — the q96 hint-free discipline); the corpus
  * streams once per model pass; per-doc term counts pre-aggregate
  * map-side BEFORE any model join so join input is distinct terms per
  * doc, not the raw token stream; the per-class fan-out multiplies only
  * that compact frame by |classes| (single digits); aggregation is
  * two-level (doc, then group) — no count-distinct Expand, no windows,
  * and no driver collect beyond the one vocabulary-sized count that V
  * (the smoothing denominator) needs.
  */
object Scoring {

  /** Fixed-point scale for mean-surprisal read-outs: milli-half-bits
    * per bigram, floored — integer `div` agrees with DuckDB's `//` for
    * the non-negative operands used here.
    */
  val PpxScale = 1000

  /** floor(2·log2(a/b)) for integer columns 1 <= b <= a < 2^60,
    * computed exactly: e = floor(log2(a/b)) via binary-string length
    * (bin() is minimal-width in both engines) with a one-step shift
    * correction, then the half bit from p^2 >= 2·q^2 (p = a,
    * q = b·2^e <= 2a) compared in DECIMAL(38,0) — both sides stay
    * under 10^38 for the < 2^60 domain, and DuckDB mirrors the compare
    * in HUGEINT.
    */
  def halfBitsLog2(a: Column, b: Column): Column = {
    val e0 = length(bin(a)) - length(bin(b))
    // bitlen difference overshoots by exactly 1 iff b<<e0 > a
    val e = when(call_function("shiftleft", b, e0) > a, e0 - lit(1)).otherwise(e0)
    val q = call_function("shiftleft", b, e)
    val dec = DecimalType(38, 0)
    val half = when(
      a.cast(dec) * a.cast(dec) >= lit(2).cast(dec) * q.cast(dec) * q.cast(dec),
      lit(1L)).otherwise(lit(0L))
    e.cast("long") * 2 + half
  }

  /** The corpus tokenizer (q14/q77 convention), crash-free on nulls. */
  private def tokenize(text0: String): Array[String] = {
    val text = if (text0 == null) "" else text0
    text.split(" ").filter(_.nonEmpty)
  }

  private def bigrams(toks: Array[String]): Iterator[(String, String)] =
    (0 until toks.length - 1).iterator.map(i => (toks(i), toks(i + 1)))

  /** Deterministic half-split shared by both operators: docs whose
    * md5(doc_id)'s first hex digit is < '8' train the model, the rest
    * are scored/classified (the q49/q61 RNG-free contract — stable
    * under repartitioning, retries, and growth). Hash, NOT doc_id
    * parity: the synthetic tables assign doc_ids round-robin by
    * source, so a parity split would alias with the source column and
    * train on a disjoint source set from the one it scores.
    */
  private def isTrain =
    substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1) < "8"

  /** Per-document held-out bigram-LM surprisal (doc grain): add-one
    * smoothed bigram model p(y|x) = (cxy+1)/(cx+V) from the training
    * half, scored as the sum over held-out bigrams of
    * floor(2·log2((cx+V)/(cxy+1))) — OOV tokens fall back to the
    * uniform 1/V mass automatically (cx = cxy = 0). Documents with
    * fewer than two tokens produce no bigrams and are absent from the
    * result (mirrored by the oracle).
    *
    * Columns: doc_id, source, n_bigrams, surprisal2 (half-bits),
    * ppx_q (milli-half-bits per bigram, floored).
    */
  def lmScore(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val train = docs.filter(isTrain)
    // unigram marginals persist because TWO consumers need them — the
    // vocabulary count V (an action) and the scoring join — and without
    // the cache each would re-tokenize the training half
    val uni = Scope.lru.persist(train.select(col("text")).as[String]
      .flatMap(t => tokenize(t).iterator).toDF("tok")
      .groupBy(col("tok")).agg(count(lit(1)).as("cx")))
    val vocabV = uni.count() // the one driver scalar: vocabulary-sized
    val bi = train.select(col("text")).as[String]
      .flatMap(t => bigrams(tokenize(t))).toDF("x", "y")
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cxy"))
    // held-out bigrams pre-aggregated to (doc, x, y, tf) map-side so the
    // model joins see distinct bigrams per doc, not the token stream
    val ep = docs.filter(!isTrain)
      .select(col("doc_id"), col("source"), col("text")).as[(Long, String, String)]
      .flatMap { case (id, src, t) => bigrams(tokenize(t)).map(p => (id, src, p._1, p._2)) }
      .toDF("doc_id", "source", "x", "y")
      .groupBy(col("doc_id"), col("source"), col("x"), col("y"))
      .agg(count(lit(1)).as("tf"))
    val a = lit(vocabV) + coalesce(col("cx"), lit(0L))
    val b = coalesce(col("cxy"), lit(0L)) + lit(1L)
    ep
      .join(uni.withColumnRenamed("tok", "x"), Seq("x"), "left")
      .join(bi, Seq("x", "y"), "left")
      .select(col("doc_id"), col("source"), col("tf"),
        (halfBitsLog2(a, b) * col("tf")).as("s2"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("tf")).as("n_bigrams"), sum(col("s2")).as("surprisal2"))
      .withColumn("ppx_q", expr(s"(surprisal2 * $PpxScale) div n_bigrams"))
  }

  /** q176: per-source CCNet-style quality read-out of [[lmScore]] —
    * the table a curator reads to decide which sources look
    * out-of-domain against the reference half.
    */
  def q176LmQuality(s: SparkSession, d: String): DataFrame =
    lmScore(Tables.documents(s, d))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        sum(col("surprisal2")).as("surprisal2"))
      .withColumn("ppx_q", expr(s"(surprisal2 * $PpxScale) div n_bigrams"))
      .orderBy(col("source"))

  /** Held-out multinomial-NB prediction (doc grain): class scores are
    * the prior surprisal floor(2·log2(D/D_c)) plus per-token
    * tf·floor(2·log2((N_c+V)/(c_tc+1))) — i.e. quantized
    * -2·log2(p(c)·prod p(t|c)) with add-one smoothing — and the
    * prediction is the MINIMUM score with ties to the lexicographically
    * smaller class (exact via min-of-struct; the oracle replays it as
    * min-score-then-min-class). Token-less documents score on the prior
    * alone and still predict. Classes are the training half's label
    * set.
    *
    * Columns: doc_id, truth (held-out label), predicted.
    */
  def nbPredict(docs: DataFrame, labelCol: String): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val train = docs.filter(isTrain)
    // (class, token) counts persist for the same two-consumer reason as
    // lmScore's uni: V needs an action, the scoring join needs the rows
    val clsTok = Scope.lru.persist(train.select(col(labelCol), col("text")).as[(String, String)]
      .flatMap { case (c, t) => tokenize(t).iterator.map(tok => (c, tok)) }
      .toDF("cls", "tok")
      .groupBy(col("cls"), col("tok")).agg(count(lit(1)).as("ctc")))
    val vocabV = clsTok.select(col("tok")).distinct().count()
    val classes = train.groupBy(col(labelCol).as("cls")).agg(count(lit(1)).as("dc"))
    val clsTot = clsTok.groupBy(col("cls")).agg(sum(col("ctc")).as("nc"))
    // priors: the doc total collapses to one row, so this is 1 x |classes|
    val d0 = train.agg(count(lit(1)).as("d0"))
    val priors = classes.join(clsTot, Seq("cls"), "left")
      .na.fill(0L, Seq("nc"))
      .crossJoin(broadcast(d0))
      .select(col("cls"), col("nc"),
        halfBitsLog2(col("d0"), col("dc")).as("prior2"))
    val evalDocs = docs.filter(!isTrain)
      .select(col("doc_id"), col(labelCol).as("truth"))
    val terms = docs.filter(!isTrain)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) => tokenize(t).iterator.map(tok => (id, tok)) }
      .toDF("doc_id", "tok")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    // per-class token surprisal: the compact (doc, tok, tf) frame fanned
    // out by |classes| (single digits) against the vocabulary-sized model
    val tokScore = terms
      .crossJoin(broadcast(priors.select(col("cls"), col("nc"))))
      .join(clsTok, Seq("cls", "tok"), "left")
      .select(col("doc_id"), col("cls"),
        (halfBitsLog2(col("nc") + lit(vocabV),
          coalesce(col("ctc"), lit(0L)) + lit(1L)) * col("tf")).as("s2"))
      .groupBy(col("doc_id"), col("cls")).agg(sum(col("s2")).as("tok2"))
    evalDocs
      .crossJoin(broadcast(priors.select(col("cls"), col("prior2"))))
      .join(tokScore, Seq("doc_id", "cls"), "left")
      .select(col("doc_id"), col("truth"), col("cls"),
        (col("prior2") + coalesce(col("tok2"), lit(0L))).as("total"))
      .groupBy(col("doc_id"), col("truth"))
      .agg(min(struct(col("total"), col("cls"))).as("m"))
      .select(col("doc_id"), col("truth"), col("m").getField("cls").as("predicted"))
  }

  /** q177: held-out language-ID confusion matrix of [[nbPredict]] on
    * the `lang` label — the learned counterpart of q27's heuristic
    * n-gram language-ID.
    */
  def q177NbConfusion(s: SparkSession, d: String): DataFrame =
    nbPredict(Tables.documents(s, d), "lang")
      .groupBy(col("truth"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("truth"), col("predicted"))
}
