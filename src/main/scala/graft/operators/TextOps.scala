package graft.operators

import graft.{Scope, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * quality scoring, token counting, language ID, fingerprinting. Hot
  * paths are either built-in codegen'd expressions (`regexp_extract_all`,
  * hash/substring sampling) or single-pass typed JVM closures where the
  * higher-order-function lambda forms would run interpreted (the
  * measured 13x cost class — see q22's scaladoc). No Scala UDFs.
  */
object TextOps {

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and")

  private def tokens(c: Column): Column =
    filter(split(c, " "), x => x =!= "")

  /** Per-language corpus quality profile: token/stopword/punctuation
    * statistics, exact integer sums then double ratios.
    */
  def q25TextQuality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // one typed pass per doc for all three counts — the split+filter
    // HOF-lambda forms are evaluated interpreted (the measured 13x cost
    // class; see q22's scaladoc) and walked the token array twice
    val stop = Stopwords.toSet
    Tables.documents(s, d)
      .select(col("lang"), col("text"), col("n_chars"))
      .as[(String, String, Long)]
      .map { case (lang, text0, nChars) =>
        val text = if (text0 == null) "" else text0 // crash-free on null docs
        var nTok = 0L
        var nStop = 0L
        text.split(" ").foreach { t =>
          if (t.nonEmpty) {
            nTok += 1
            if (stop(t)) nStop += 1
          }
        }
        var nPunct = 0L
        var i = 0
        while (i < text.length) {
          val c = text.charAt(i)
          if (c == '.' || c == ',' || c == '!' || c == '?' || c == ';' || c == ':')
            nPunct += 1
          i += 1
        }
        (lang, nTok, nStop, nPunct, nChars)
      }
      .toDF("lang", "n_tok", "n_stop", "n_punct", "n_chars")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tokens"),
        sum(col("n_stop")).as("sum_stopwords"),
        sum(col("n_punct")).as("sum_punct"),
        sum(col("n_chars")).as("sum_chars"),
        (sum(col("n_tok")).cast("double") / count(lit(1))).as("avg_tokens"),
        (sum(col("n_stop")).cast("double") / sum(col("n_tok")).cast("double"))
          .as("stopword_ratio"))
      .orderBy(col("lang"))
  }

  /** BPE-ish token counting: alpha runs, digit runs, single symbols —
    * the standard pre-tokenizer shape — via codegen'd regexp_extract_all.
    */
  def q26TokenStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("source"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tokens"),
        (sum(col("n_tok")).cast("double") / count(lit(1))).as("avg_tokens"))
      .orderBy(col("source"))

  /** Stopword-profile language ID (n-gram heuristic): score each language
    * by profile-word hits, predict the argmax (fixed priority on ties),
    * report the confusion matrix against the labeled `lang` column.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "los", "que", "por", "una"),
    "fr" -> Seq("le", "les", "et", "des", "dans"),
    "zh" -> Seq("shi", "bu", "wo", "zhe", "ren"))

  def q27LangId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // One typed pass scoring every profile per token — the five
    // per-profile `filter(toks, _.isInCollection(words))` HOF lambdas
    // this replaces are evaluated interpreted (the measured-13x cost
    // class, see q22's scaladoc), and each re-walked the token array.
    // Argmax with strict > keeps first-declaration tie priority; no
    // hit at all -> "und" (same contract as before, pinned by the
    // oracle's confusion matrix).
    val profiles = LangProfiles.map { case (l, ws) => (l, ws.toSet) }.toArray
    Tables.documents(s, d).select(col("lang"), col("text")).as[(String, String)]
      .map { case (lang, text0) =>
        val text = if (text0 == null) "" else text0 // crash-free on null docs
        val scores = new Array[Long](profiles.length)
        // Locale.ROOT: String.toLowerCase is locale-sensitive (Turkish
        // dotless-i would diverge from the oracle's SQL lower())
        text.toLowerCase(java.util.Locale.ROOT).split(" ").foreach { t =>
          if (t.nonEmpty) {
            var i = 0
            while (i < profiles.length) {
              if (profiles(i)._2.contains(t)) scores(i) += 1
              i += 1
            }
          }
        }
        var best = 0L
        var bi = -1
        var i = 0
        while (i < scores.length) {
          if (scores(i) > best) { best = scores(i); bi = i }
          i += 1
        }
        (lang, if (bi < 0) "und" else profiles(bi)._1)
      }
      .toDF("lang", "pred_lang")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** Composed training-data pipeline: language filter -> exact dedup
    * survivors -> token-count quality gate -> per-source stats. Each
    * stage is the same operator users run standalone (q19/q25) — this
    * query pins that they compose into one Catalyst plan (single
    * optimized DAG, not materialized stages).
    */
  def q42Pipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("lang") === "en")
    val survivors = docs
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    docs.join(survivors, "doc_id")
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .filter(col("n_tok") >= 40)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
      .orderBy(col("source"))
  }

  /** Deterministic STRATIFIED sampling: per-language keep rates in
    * sixteenths of the content-hash space (en 4/16, de 8/16, others
    * 2/16) — the rebalancing step of corpus curation (upsample rare
    * strata, downsample dominant ones) with the same RNG-free,
    * repartition/retry-stable membership contract as [[q49Sample]];
    * changing a stratum's rate only adds/removes the hash prefix range,
    * so samples are nested across rate changes (a 2/16 sample is a
    * subset of the 4/16 sample).
    */
  def q57StratifiedSample(s: SparkSession, d: String): DataFrame = {
    val h = substring(md5(col("text").cast("binary")), 1, 1)
    val keepBelow = when(col("lang") === "en", lit("4"))
      .when(col("lang") === "de", lit("8"))
      .otherwise(lit("2"))
    Tables.documents(s, d)
      .filter(h < keepBelow)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic content-hash sampling: the standard reproducible way
    * to subsample a training corpus — no RNG state, no seed coordination
    * across executors; membership is a pure function of content, so the
    * sample is stable under repartitioning, retries, and incremental
    * reruns.
    */
  def q49Sample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(substring(md5(col("text").cast("binary")), 1, 1) === "0")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  /** Deterministic train/val/test split by content hash (12/2/2
    * sixteenths), reported as per-language split sizes — hash-based
    * splits keep membership stable as the corpus grows and survive
    * dedup reordering.
    */
  def q50Split(s: SparkSession, d: String): DataFrame = {
    val h = substring(md5(col("text").cast("binary")), 1, 1)
    Tables.documents(s, d)
      .withColumn("split",
        when(h <= "b", "train").when(h <= "d", "val").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("split"))
  }

  /** Per-source length profile (q74) — the dataset-cartography pass a
    * curation pipeline runs before setting gates and quotas: exact
    * min/p25/p50/p95/max and mean of per-document token counts per
    * source. `percentile` is Spark's EXACT sort-based aggregate and its
    * linear interpolation is bit-identical to DuckDB's `quantile_cont`
    * (verified empirically), so every column hash-matches; integer
    * token sums make the mean a single exact division.
    *
    * Scale shape: exact percentiles buffer one counter per DISTINCT
    * value per group — fine for token-count-like columns (cardinality
    * bounded by max doc length), and the honest trade-off versus q37's
    * approx_percentile sketch for unbounded-cardinality columns; the
    * two queries are the two ends of that dial. One map-side-combined
    * aggregation, ~20 output rows.
    */
  def q74LengthProfile(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_tok")).as("min_tok"),
        expr("percentile(n_tok, 0.25)").as("p25_tok"),
        expr("percentile(n_tok, 0.5)").as("p50_tok"),
        expr("percentile(n_tok, 0.95)").as("p95_tok"),
        max(col("n_tok")).as("max_tok"),
        (sum(col("n_tok")).cast("double") / count(lit(1)).cast("double")).as("mean_tok"))
      .orderBy(col("source"))

  /** Document fingerprinting via the native codegen expressions
    * (graft.functions.Fingerprints): 61-bit Karp-Rabin whole-document
    * hash plus the minimum 16-gram window hash (winnowing-style local
    * fingerprint for containment detection). Deterministic, seedless,
    * and fully inside whole-stage codegen — no typed-map barrier.
    * Hash-matched: being plain mod-2^61-1 integer arithmetic, the
    * DuckDB oracle replays the exact algorithm with HUGEINT prefix
    * hashes (see the q28 oracle SQL) — no approximation gap.
    */
  def q28Fingerprint(s: SparkSession, d: String): DataFrame = {
    graft.functions.FingerprintFunctions.register(s)
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        expr("rolling_fingerprint(text)").as("fingerprint"),
        expr("min_window_fingerprint(text)").as("min_window_fp"))
      .orderBy(col("doc_id"))
  }

  /** Posting-list head length for [[q92InvertedIndex]]. */
  val PostingHeadK = 5

  /** Search-index construction (q92): the inverted index as a
    * first-class operator — per token its document frequency, total
    * occurrences, and the HEAD of its posting list (first
    * [[PostingHeadK]] docs by id, each as doc:tf:first_pos), for the
    * 20 highest-df tokens.
    *
    * Scale shape: postings pre-aggregate per (token, doc) first — one
    * shuffle of the position stream, after which a token's row count is
    * its df, not its occurrence count. The head selection is the
    * [[graft.functions.BottomKTriples]] bounded aggregator: O(k) state
    * per token with map-side partial merge, where a collect_list+slice
    * or row_number window would buffer (or single-task sort) a stopword
    * token's entire posting stream. Stats and head ride the SAME
    * per-(token,doc) frame; the final join is vocabulary-sized.
    */
  def q92InvertedIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pos = Tables.documents(s, d)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text0) =>
        val text = if (text0 == null) "" else text0
        text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
          .iterator.zipWithIndex.map { case (t, i) => (t, id, i + 1L) }
      }.toDF("tok", "doc_id", "pos")
    // consumed twice below (stats + head), tiny rows
    val perDoc = Scope.lru.persist(pos.groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), min(col("pos")).as("first_pos")))
    val stats = perDoc.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("n_occurrences"))
    val bottomK = new graft.functions.BottomKTriples[(String, Long, Long, Long)](
      PostingHeadK, { case (_, doc, tf, fp) => (doc, tf, fp) })
    val head = perDoc.as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .agg(bottomK.toColumn.name("head"))
      .toDF("tok", "head")
      .withColumn("postings", array_join(
        transform(col("head"), x => concat_ws(":",
          x.getField("_1"), x.getField("_2"), x.getField("_3"))), ","))
      .select(col("tok"), col("postings"))
    stats.join(head, "tok")
      .select(col("tok"), col("df"), col("n_occurrences"), col("postings"))
      .orderBy(col("df").desc, col("tok"))
      .limit(20)
  }

  /** BM25 parameters: Robertson's defaults k1=1.2, b=0.75 appear below
    * as the literals 2.2 (k1+1), 1.2, 0.25 (1-b) and 0.75 inside one
    * fixed arithmetic sequence shared with the oracle.
    */
  val Bm25TopK = 5
  /** Probe selection (`doc_id % 101 == 0 AND doc_id < 5000`) and query
    * width (first 8 tokens) for the q107 binding. The cap makes the
    * probe slate a FIXED workload: a search benchmark prices "corpus
    * grew 10x" at constant query volume (the production contract —
    * query traffic doesn't scale with the index), where the uncapped
    * `% 101` slate grew queries WITH the corpus and priced an
    * inherently quadratic queries x postings product: the sf1->sf10
    * canary ran it past 10 min. sf0.1-and-below doc_ids all sit
    * below the cap, so driver hashes are unchanged.
    */
  val Bm25ProbeMod = 101
  val Bm25ProbeCap = 5000L
  val Bm25QueryTerms = 8

  /** BM25-ranked retrieval (q107): each probe document's first-8-token
    * distinct term set queries the corpus; matches score
    * idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) summed over
    * query terms, top-5 docs per query (self excluded). Completes the
    * retrieval family: q22 ranks by gram Jaccard, q81 fuses lexical +
    * semantic, this adds the tf-saturation + length-normalization
    * ranker (Robertson & Walker SIGIR '94; the BM25 in every search
    * stack).
    *
    * Determinism contract (hash-match on doubles): the log idf is
    * replaced by its rational core (N - df + 0.5)/(df + 0.5) — scaled
    * x2 to integer arithmetic — so each per-term score is ONE fixed
    * sequence of IEEE ops (two exact-integer divisions, one multiply
    * chain) identical in the SQL; dl/avgdl is computed as dl*N/L in a
    * single division. Per-term scores then sum as DECIMAL(20,9) —
    * order-free, the q83/q91 contract — so ranking ties break
    * identically on both engines.
    *
    * Scale shape: ONE (tok, doc) aggregate feeds tf/df/dl; the (tiny)
    * query term set broadcasts into it, so the corpus never re-shuffles
    * for probing; per-term stats attach broadcast; the only exchange
    * after the slate is the (query, doc) score aggregate and a
    * per-query top-k window over slate-sized frames.
    *
    * Posting pruning (max-score, Turtle & Flood '95 / WAND Broder '03):
    * scoring every posting of every query term lets one low-idf
    * stopword term dominate cost at scale. Instead, per query:
    * (1) ub(t) = 2.2 * idf(t) * (1+1e-9) upper-bounds any posting's
    *     contribution (the tf fraction saturates below k1+1 = 2.2 for
    *     every tf and dl; the margin absorbs IEEE/decimal rounding);
    * (2) a floor θ = the top-k'th single-term score over ONLY the
    *     highest-ub term's postings — every doc's full score is ≥ its
    *     single-term score, so θ lower-bounds the true k'th score;
    * (3) terms whose ub-ascending cumulative sum stays under θ (minus
    *     a 1e-6 absolute slack) are NONESSENTIAL: a doc matching only
    *     those cannot reach θ, hence cannot enter the top k;
    * (4) candidate docs = docs matching >= 1 ESSENTIAL term; only
    *     candidates are scored (over ALL their matched terms, so
    *     surviving scores are bit-identical to unpruned scoring).
    * The pruning is provably lossless — Bm25Spec pins pruned ==
    * unpruned on a stopword-heavy fixture and the driver hash-match
    * stays the proof at sf0.01. Candidate volume is bounded by the
    * ESSENTIAL posting volume (high-idf = short postings — the whole
    * point of max-score), so the candidate set broadcasts.
    *
    * The pruning is engaged by a MEASURED guard, the q96 pattern: its
    * three extra broadcast rounds (θ seed, essential split, candidate
    * set) cost fixed scheduling latency, which at small posting volume
    * exceeds what pruning saves. The exact matched-posting volume is
    * Σ df over query terms — free off the driver-collected df slate —
    * and only volumes past [[Bm25PruneMinPostings]] take the pruned
    * path; the semantics are identical either way (Bm25Spec proves
    * it), so the guard swaps PLANS, never answers.
    */
  def q107Bm25Search(s: SparkSession, d: String): DataFrame =
    bm25Build(s, d, forcePrune = None).ranked

  /** Matched-row volume (Σ over terms of df(t)·nq(t), the exact row
    * count of the unpruned tf⋈qterms frame) above which max-score
    * pruning pays for its extra broadcast rounds. ~50M rows ~ a few GB
    * through the score aggregate — the regime where skipping
    * nonessential postings dominates three extra ~100ms scheduling
    * rounds. Priced with the query multiplicity nq(t) because probes
    * sharing a common term each re-pay its postings — Σ df alone
    * under-priced the sf1 canary's workload ~10x and left the unpruned
    * plan running ~50x super-linear.
    */
  val Bm25PruneMinPostings = 50000000L

  /** BM25 internals seam: `essential` / `candidates` exist for
    * Bm25Spec to assert the pruning structure; `forcePrune` overrides
    * the volume guard — Some(false) is the reference path (score every
    * posting) the spec proves the pruned path equal to.
    */
  private[operators] final case class Bm25Parts(
      essential: DataFrame, candidates: DataFrame, ranked: DataFrame)

  private[operators] def bm25Build(
      s: SparkSession, d: String, forcePrune: Option[Boolean],
      probeFilter: Column =
        col("doc_id") % Bm25ProbeMod === 0 && col("doc_id") < Bm25ProbeCap,
      topK: Int = Bm25TopK): Bm25Parts = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // one explode pass, pre-aggregated to (tok, doc) counts with the
    // document length dl attached IN the frame (one doc_id window at
    // build time replaces a per-consumer doc-sized dl join in the θ
    // seed, the unpruned matched frame AND the candidate scoring —
    // three corpus-keyed shuffles saved per call). tf, df and dl all
    // derive from this frame. Lifetime: LRU/clearCache (lazily
    // returned frame, same contract as q52's perDoc)
    // dl = the doc's token count, known AT EXPLODE TIME (size of the
    // token array) — riding it through the groupBy key costs nothing
    // (it is functionally dependent on doc_id), where the former
    // `sum(tf) over (partition by doc_id)` window paid a full-corpus
    // sort per index build (the sf10 canary's dominant stage)
    val tf = Scope.lru.persist(docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("tok"))
      .groupBy(col("tok"), col("doc_id"), col("dl")).agg(count(lit(1)).as("tf")))
    val totals = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(tf.agg(sum(col("tf")).as("l_total")))

    val qterms = docs.filter(probeFilter)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(
          slice(tokens(col("text")), 1, Bm25QueryTerms))).as("tok"))

    // document frequency only for the QUERY terms: semi-join the (tok,
    // doc) frame down to them first, so the df aggregate shuffles ~40
    // terms' postings instead of the full corpus vocabulary — then
    // COLLECTED (bounded by the query-term count, ~40 rows) so Σ df
    // prices the matched volume for the pruning guard and the slate
    // re-enters every join as a LocalRelation broadcast, costing no
    // further distributed rounds
    val dfqRows = tf
      .join(broadcast(qterms.select(col("tok")).distinct()), Seq("tok"), "left_semi")
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // guard pricing: the matched frame has Σ_t df(t)·nq(t) ROWS (each
    // query sharing a term pays that term's postings again), so the
    // volume is priced on exactly that — Σ df alone under-prices by up
    // to the query count when probes share common terms, which is the
    // sf1-canary regime where the unpruned plan went 50x super-linear.
    // nq comes off the slate-sized qterms aggregate, one tiny job.
    val qtermRows = qterms.collect() // bounded: ≤ (cap/mod+1)·width ≈ 400 rows
      .map(r => (r.getLong(0), r.getString(1)))
    val nqByTok = qtermRows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val matchedVolume = dfqRows.map { case (t, df) => df * nqByTok.getOrElse(t, 0L) }.sum
    // second guard, also free off the slates: even perfect max-score
    // must scan each query's RAREST term's postings (the top-ub term
    // is always essential), so Σ_q min_t df(t) lower-bounds candidate
    // pairs and ×(1+width) lower-bounds the pruned path's expansion
    // volume. When that floor already reaches the unpruned matched
    // volume — a corpus whose query terms are all stopwords, the sf10
    // canary's regime (floor 15.2M×9 = 137M vs matched 112M; measured
    // 69 s pruned vs 38 s unpruned) — pruning cannot win: skip it
    // WITHOUT paying the θ probe. Zipf corpora keep rare terms, a tiny
    // floor, and the pruned path. Same answer either way (Bm25Spec).
    val dfByTok = dfqRows.toMap
    val essFloor = qtermRows.groupBy(_._1).map { case (_, ts) =>
      ts.map(t => dfByTok.getOrElse(t._2, 0L)).min
    }.sum
    val prune = forcePrune.getOrElse(
      matchedVolume >= Bm25PruneMinPostings &&
        essFloor * (1L + Bm25QueryTerms) < matchedVolume)
    val dfq = dfqRows.toDF("tok", "df")

    // ONE fixed IEEE sequence per posting, shared verbatim by the θ
    // seeding pass and the final scoring pass (and mirrored in SQL)
    val norm = (col("dl") * col("n_docs")).cast("double") / col("l_total").cast("double")
    val idf = (lit(2) * (col("n_docs") - col("df")) + 1).cast("double") /
      (lit(2) * col("df") + 1).cast("double")
    val sterm = idf * ((col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) * norm)))

    // matched postings for the UNPRUNED path — tf restricted to query
    // terms with sterm precomputed. On the pruned path this frame is
    // NEVER built: at sf1 the canary measured it going ~50x
    // super-linear (queries x postings both grow with the corpus), so
    // the pruned path probes the persisted tf with slate-sized
    // broadcasts instead and materializes only candidate-bounded
    // frames. Lifetime: LRU/clearCache, the tf contract above.
    def matchedAll: DataFrame = tf
      .join(broadcast(qterms), "tok") // probe side tiny: corpus tf never re-shuffles
      .join(broadcast(dfq), "tok")
      .crossJoin(broadcast(totals))
      .withColumn("sterm", sterm)

    val (essential, candidates, hits) = if (!prune) {
      val matched = Scope.lru.persist(matchedAll)
      (qterms.limit(0), matched.select(col("query_id"), col("doc_id")).limit(0), matched)
    } else {
      // per-term stats slate: (query_id, tok, ub) — slate-sized
      val ub = (idf * lit(2.2) * lit(1.0 + 1e-9)).as("ub")
      val terms = qterms.join(broadcast(dfq), "tok")
        .crossJoin(broadcast(totals))
        .select(col("query_id"), col("tok"), ub)

      // θ floor: exact single-term scores over ONLY the top-ub term's
      // postings (self excluded, same decimal space as final scores).
      // tf is probed directly with the per-query top-term slate — the
      // top-ub term is the rarest, so this reads the SHORTEST posting
      // list per query, never the full matched frame.
      val topTerm = terms
        .withColumn("_r", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("ub").desc, col("tok"))))
        .filter(col("_r") === 1).select(col("query_id"), col("tok"))
      val theta = tf.join(broadcast(topTerm), "tok")
        .join(broadcast(dfq), "tok")
        .crossJoin(broadcast(totals))
        .withColumn("sterm", sterm)
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("sterm").cast("decimal(20,9)").as("sdec"))
        .withColumn("_r", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("sdec").desc)))
        .filter(col("_r") === lit(topK))
        .select(col("query_id"), col("sdec").cast("double").as("theta"))

      // max-score partition: ub-ascending prefix whose sum cannot
      // reach θ is nonessential; no θ (under k seed postings) -> all
      // terms essential and the path degrades to exactly unpruned
      val cumUb = sum(col("ub")).over(
        Window.partitionBy(col("query_id")).orderBy(col("ub").asc, col("tok"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
      val ess = terms.join(broadcast(theta), Seq("query_id"), "left")
        .withColumn("_cum", cumUb)
        .filter(col("theta").isNull || (col("_cum") + lit(1e-6) >= col("theta")))
        .select(col("query_id"), col("tok"))

      bm25PrunedTail(tf, qterms, dfq, totals, sterm, ess)
    }

    val byScore = Window.partitionBy(col("query_id"))
      .orderBy(col("score_dec").desc, col("doc_id"))
    val ranked = hits
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("sterm").cast("decimal(20,9)")).as("score_dec"),
        count(lit(1)).as("n_terms"))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("rnk", row_number().over(byScore).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("rnk"), col("doc_id"),
        col("score_dec").cast("double").as("score"), col("n_terms"))
      .orderBy(col("query_id"), col("rnk"))
    Bm25Parts(essential, candidates, ranked)
  }

  /** The max-score candidate machinery, split out so the
    * essential-share guard can bypass it: candidates = docs matching
    * >= 1 essential term of that query (essential postings read
    * straight off tf — high-idf terms = short posting lists, the whole
    * point of max-score), persisted because both the expansion and the
    * final join read it; each candidate PAIR is then expanded with its
    * query's terms (a broadcast of the slate) and joined ONCE against
    * tf on (doc_id, tok), so every surviving row is the same
    * (tf, df, dl, totals) tuple the unpruned path feeds sterm —
    * surviving scores stay bit-identical.
    */
  private def bm25PrunedTail(
      tf: DataFrame, qterms: DataFrame, dfq: DataFrame,
      totals: DataFrame, sterm: Column, ess: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val cand = Scope.lru.persist(tf.join(broadcast(ess), "tok")
      .select(col("query_id"), col("doc_id")).distinct())
    val candTerms = cand
      .join(broadcast(qterms), "query_id")
      .select(col("query_id"), col("doc_id"), col("tok"))
    val scored = tf.join(candTerms, Seq("doc_id", "tok"))
      .join(broadcast(dfq), "tok")
      .crossJoin(broadcast(totals))
      .withColumn("sterm", sterm)
    (ess, cand, scored)
  }

  /** Source-overlap matrix (q144): for every unordered source pair the
    * number of DISTINCT word trigrams both corpora contain, plus the
    * gram-set Jaccard — the corpus-level view of lexical overlap that
    * q98's doc-pair flow can't see when no document pair clears a
    * similarity threshold (shared boilerplate/phrases spread across
    * many dissimilar documents). Gram identity is the 64-bit md5
    * truncation (Dedup.gramHash64), same as the oracle's
    * substr(md5, 1, 16) — bilateral hashing keeps distinct counts
    * bit-equal.
    *
    * Scale shape: the corpus collapses FIRST to distinct
    * (source, gram) — one map-side-combined exchange on the gram key —
    * after which every row count is bounded by |sources| per gram, so
    * the pair self-join fans out at most |sources|²/2 per gram and the
    * rollup is |sources|² rows. The per-source gram-set sizes ride the
    * same distinct frame; nothing corpus-sized is ever joined twice.
    */
  def q144SourceGramOverlap(s: SparkSession, d: String): DataFrame = Scope.pinned { sc =>
    import s.implicits._
    // single-space split (wsSplit = false), the q126/q145 corpus
    // convention and the oracle's string_split(…, ' ') — NOT \s+, so
    // engine/oracle parity survives a corpus with tabs/newlines; the
    // native kernel replaces the corpus-scale typed flatMap's encoder
    // barrier (GramHashesSpec pins value-equality)
    val sg = sc.persist(Tables.documents(s, d)
      .select(col("source"),
        explode(graft.functions.GramHashes.of(
          lower(coalesce(col("text"), lit(""))), 3)).as("gram"))
      .distinct()) // sizes + both self-join sides read this one exchange
    val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val shared = sg.as("a").join(sg.as("b"),
        col("a.gram") === col("b.gram") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("na"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("nb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        (col("n_shared").cast("double") /
          (col("na") + col("nb") - col("n_shared")).cast("double")).as("gram_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }
}
