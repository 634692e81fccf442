package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query returns a deterministically-ordered DataFrame whose column
  * names and types match its DuckDB oracle exactly (money aggregates are
  * decimal-exact then cast to DOUBLE; computed integers are BIGINT on
  * both sides).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (Relational.q1PricingSummary _),
    "q02_filter_project" -> (Relational.q2FilterProject _),
    "q03_join_agg" -> (Relational.q3JoinAgg _),
    "q04_join_multi" -> (Relational.q4JoinMulti _),
    "q05_semi_join" -> (Relational.q5SemiJoin _),
    "q06_anti_join" -> (Relational.q6AntiJoin _),
    "q07_window_topk" -> (Relational.q7WindowTopK _),
    "q08_window_running" -> (Relational.q8WindowRunning _),
    "q09_window_lag" -> (Relational.q9WindowLag _),
    "q10_topk_orders" -> (Relational.q10TopKOrders _),
    "q11_distinct_agg" -> (Relational.q11DistinctAgg _),
    "q12_rollup" -> (Relational.q12Rollup _),
    "q13_setops" -> (Relational.q13SetOps _),
    "q14_wordcount" -> (Relational.q14WordCount _),
    "q15_date_agg" -> (Relational.q15DateAgg _),
    "q16_case_math" -> (Relational.q16CaseMath _),
    "q17_mr_wordcount" -> (MRQueries.q17MrWordCount _),
    "q18_mr_first_event" -> (MRQueries.q18MrFirstEvent _),
    "q19_dedup_exact" -> (Dedup.q19DedupExact _),
    "q20_dedup_minhash" -> (Dedup.q20DedupMinhash _),
    "q21_dedup_simhash" -> (Dedup.q21DedupSimhash _),
    "q22_ngram_jaccard" -> (Dedup.q22NgramJaccard _),
    "q23_knn_brute" -> (Similarity.q23KnnBrute _),
    "q24_knn_lsh" -> (Similarity.q24KnnLsh _),
    "q25_text_quality" -> (TextOps.q25TextQuality _),
    "q26_token_stats" -> (TextOps.q26TokenStats _),
    "q27_lang_id" -> (TextOps.q27LangId _),
    "q28_fingerprint" -> (TextOps.q28Fingerprint _),
    "q29_multimodal_meta" -> (Multimodal.q29MultimodalMeta _),
    "q30_cube" -> (Relational.q30Cube _),
    "q31_grouping_sets" -> (Relational.q31GroupingSets _),
    "q32_string_funcs" -> (Relational.q32StringFuncs _),
    "q33_union_all" -> (Relational.q33UnionAll _),
    "q34_topk_agg" -> (Aggregates.q34TopKAgg _),
    "q35_asof_join" -> (Temporal.q35AsofJoin _),
    "q36_sessionize" -> (Temporal.q36Sessionize _),
    "q37_approx_stats" -> (Relational.q37ApproxStats _),
    "q38_range_join" -> (Relational.q38RangeJoin _),
    "q39_json" -> (Relational.q39Json _),
    "q40_array_agg" -> (Relational.q40ArrayAgg _),
    "q41_pivot" -> (Relational.q41Pivot _),
    "q42_pipeline" -> (TextOps.q42Pipeline _),
    "q43_knn_ivf" -> (Similarity.q43KnnIvf _),
    "q44_dedup_embed" -> (Similarity.q44DedupEmbed _),
    "q45_multimodal_frames" -> (Multimodal.q45MultimodalFrames _),
    "q46_multimodal_features" -> (Multimodal.q46MultimodalFeatures _),
    "q47_above_avg" -> (Relational.q47AboveAvg _),
    "q48_having" -> (Relational.q48Having _),
    "q49_sample" -> (TextOps.q49Sample _),
    "q50_split" -> (TextOps.q50Split _),
    "q51_quality_repetition" -> (Corpus.q51QualityRepetition _),
    "q52_term_scores" -> (Corpus.q52TermScores _),
    "q53_copurchase_clusters" -> (Corpus.q53CopurchaseClusters _),
    "q54_bloom_join" -> (Relational.q54BloomJoin _),
    "q55_heavy_hitters" -> (Corpus.q55HeavyHitters _),
    "q56_multimodal_resize" -> (Multimodal.q56MultimodalResize _),
    "q57_stratified_sample" -> (TextOps.q57StratifiedSample _),
    "q58_decontaminate" -> (Curation.q58Decontaminate _),
    "q59_vocab_coverage" -> (Curation.q59VocabCoverage _),
    "q60_chunk" -> (Curation.q60Chunk _),
    "q61_source_quota" -> (Curation.q61SourceQuota _),
    "q62_pack_sequences" -> (Curation.q62PackSequences _),
    "q63_pii_redact" -> (Pii.q63PiiRedact _),
    "q64_span_dedup" -> (Curation.q64SpanDedup _),
    "q65_unigram_quality" -> (Curation.q65UnigramQuality _),
    "q66_pair_counts" -> (Curation.q66PairCounts _),
    "q67_temperature_resample" -> (Curation.q67TemperatureResample _),
    "q68_curation_pipeline" -> (Curation.q68CurationPipeline _),
    "q69_cross_contamination" -> (Dedup.q69CrossContamination _),
    "q70_stream_sessionize" -> (graft.streaming.EventStream.q70StreamSessionize _),
    "q71_embed_decontaminate" -> (Similarity.q71EmbedDecontaminate _),
    "q72_card_audit" -> (Pii.q72CardAudit _),
    "q73_pagerank" -> (Corpus.q73PageRank _),
    "q74_length_profile" -> (TextOps.q74LengthProfile _),
    "q75_containment" -> (Curation.q75Containment _),
    "q76_stream_windows" -> (graft.streaming.EventStream.q76StreamWindowCounts _),
    "q77_pmi_scores" -> (Curation.q77PmiScores _),
    "q78_incremental_dedup" -> (Dedup.q78IncrementalDedup _),
    "q79_cluster_split" -> (Dedup.q79ClusterSplit _),
    "q80_funnel" -> (Temporal.q80Funnel _),
    "q81_hybrid_search" -> (Similarity.q81HybridSearch _),
    "q82_span_coverage" -> (Curation.q82SpanCoverage _),
    "q83_stream_attribution" -> (graft.streaming.EventStream.q83StreamAttribution _),
    "q84_fuzzy_join" -> (Linkage.q84FuzzyJoin _),
    "q85_triangles" -> (Corpus.q85Triangles _),
    "q86_gap_fill" -> (Temporal.q86GapFill _),
    "q87_ntile_stratify" -> (Relational.q87NtileStratify _),
    "q88_all_pairs" -> (Dedup.q88AllPairs _),
    "q89_sem_dedup" -> (Similarity.q89SemDedup _),
    "q90_salted_agg" -> (Skew.q90SaltedRevenue _),
    "q91_outlier_profile" -> (Relational.q91OutlierProfile _),
    "q92_inverted_index" -> (TextOps.q92InvertedIndex _),
    "q93_stream_dedup" -> (graft.streaming.EventStream.q93StreamDedup _),
    "q94_snapshot_diff" -> (Relational.q94SnapshotDiff _),
    "q95_winsorize" -> (Relational.q95Winsorize _),
    "q96_kcore" -> (Corpus.q96KCore _),
    "q97_contamination_report" -> (Curation.q97ContaminationReport _),
    "q98_dup_flow" -> (Dedup.q98DupFlow _),
    "q99_profile_table" -> (Relational.q99ProfileTable _),
    "q100_hist_drift" -> (Relational.q100HistDrift _),
    "q101_active_users" -> (Temporal.q101ActiveUsers _),
    "q102_retention_cohorts" -> (Temporal.q102RetentionCohorts _),
    "q103_stream_enrich" -> (graft.streaming.EventStream.q103StreamEnrich _),
    "q104_assoc_rules" -> (Corpus.q104AssocRules _),
    "q105_transitions" -> (Temporal.q105Transitions _),
    "q106_gram_repetition" -> (Corpus.q106GramRepetition _),
    "q107_bm25_search" -> (TextOps.q107Bm25Search _),
    "q108_stream_custom_sessions" ->
      (graft.streaming.EventStream.q108StreamCustomSessions _),
    "q109_truncation_dups" -> (Dedup.q109TruncationDups _),
    "q110_source_drift" -> (Corpus.q110SourceDrift _),
    "q111_salted_join" -> (Skew.q111SaltedJoin _),
    "q112_kcore_full" -> (Corpus.q112KCoreFull _),
    "q113_approx_profile" -> (Relational.q113ApproxProfile _),
    "q114_bpe_merges" -> (Curation.q114BpeMerges _),
    "q115_path_mining" -> (Temporal.q115PathMining _),
    // q116 (Spark-internal-seed IVF-PQ, rows-only) RETIRED from the
    // driver surface in r16: its replayable twin q169 is strictly
    // stronger (same two-stage IVF-PQ, hash-matched end to end) and
    // AnnRecallSpec still pins the q116 build's recall >= 0.9 — the
    // rows-only binding only added bench time.
    "q117_stream_compaction" ->
      (graft.streaming.EventStream.q117StreamCompaction _),
    "q118_bpe_encode" -> (Curation.q118BpeEncode _),
    "q119_apply_changelog" -> (Relational.q119ApplyChangelog _),
    "q120_importance_resample" -> (Curation.q120ImportanceResample _),
    "q121_token_budget" -> (Curation.q121TokenBudget _),
    "q122_zorder_histogram" -> (Layout.q122ZOrderHistogram _),
    "q123_entity_resolution" -> (Linkage.q123EntityResolution _),
    "q124_label_prop" -> (Corpus.q124LabelProp _),
    "q125_systematic_resample" -> (Curation.q125SystematicResample _),
    "q126_quantile_normalize" -> (Curation.q126QuantileNormalize _),
    "q127_stream_sliding" -> (graft.streaming.EventStream.q127StreamSliding _),
    "q128_incremental_agg" -> (Relational.q128IncrementalAgg _),
    "q129_survivorship" -> (Linkage.q129Survivorship _),
    "q130_linear_attribution" -> (Temporal.q130LinearAttribution _),
    "q131_concurrency" -> (Temporal.q131Concurrency _),
    "q132_scd2" -> (Relational.q132Scd2 _),
    "q133_corr_matrix" -> (Relational.q133CorrMatrix _),
    "q134_expectations" -> (Expectations.q134Expectations _),
    "q135_bfs_hops" -> (Corpus.q135BfsHops _),
    "q136_ols_trend" -> (Relational.q136OlsTrend _),
    "q137_stream_outer_attribution" -> (graft.streaming.EventStream.q137StreamOuterAttribution _),
    "q138_mad_outliers" -> (Relational.q138MadOutliers _),
    "q139_rrf_fusion" -> (Similarity.q139RrfFusion _),
    "q140_unpivot" -> (Relational.q140Unpivot _),
    "q141_link_prediction" -> (Corpus.q141LinkPrediction _),
    "q142_label_centroids" -> (Similarity.q142LabelCentroids _),
    "q143_knn_classify" -> (Similarity.q143KnnClassify _),
    "q144_source_overlap" -> (TextOps.q144SourceGramOverlap _),
    "q145_curriculum" -> (Curation.q145CurriculumSchedule _),
    "q146_fixed_k_sample" -> (Curation.q146FixedKSample _),
    "q147_tws_sessions" ->
      (graft.streaming.EventStream.q147TwsSessions _),
    "q148_range_window" -> (Relational.q148RangeWindow _),
    "q149_sql_entry" -> (Relational.q149SqlEntry _),
    "q150_recursive_cte" -> (Relational.q150RecursiveCte _),
    "q151_lateral_topn" -> (Relational.q151LateralTopN _),
    "q152_variant_shred" -> (Relational.q152VariantShred _),
    "q153_observed_audit" -> (Expectations.q153ObservedAudit _),
    "q154_collation_group" -> (Relational.q154CollationGroup _),
    "q155_label_kappa" -> (Similarity.q155LabelKappa _),
    "q156_stream_radius_dedup" ->
      (graft.streaming.EventStream.q156StreamRadiusDedup _),
    "q157_pca_project" -> (Similarity.q157PcaProject _),
    "q158_cms_freq" -> (Corpus.q158CmsFreq _),
    "q159_hll_distinct" -> (Corpus.q159HllDistinct _),
    "q160_hist_quantiles" -> (Relational.q160HistQuantiles _),
    "q161_stream_hll" -> (graft.streaming.EventStream.q161StreamHll _),
    "q162_hll_overlap" -> (Corpus.q162HllOverlap _),
    "q163_cms_inner" -> (Corpus.q163CmsInner _),
    "q164_k_anonymity" -> (Pii.q164KAnonymity _),
    "q165_ewma" -> (Temporal.q165Ewma _),
    "q166_hits" -> (Corpus.q166Hits _),
    "q167_stream_cms" -> (graft.streaming.EventStream.q167StreamCms _),
    "q168_hist_merge" -> (Relational.q168HistMerge _),
    "q169_knn_ivfpq_replay" -> (Similarity.q169KnnIvfPqReplay _),
    "q170_profile_replay" -> (Relational.q170ProfileReplay _),
    "q171_stream_asof_enrich" ->
      (graft.streaming.EventStream.q171StreamAsofEnrich _),
    "q172_kmv_distinct" -> (Corpus.q172KmvDistinct _),
    "q173_kmv_overlap" -> (Corpus.q173KmvOverlap _),
    "q174_stream_hist" -> (graft.streaming.EventStream.q174StreamHist _),
    "q175_stream_kmv" -> (graft.streaming.EventStream.q175StreamKmv _),
    "q176_lm_quality" -> (Scoring.q176LmQuality _),
    "q177_nb_langid" -> (Scoring.q177NbConfusion _),
    "q178_ngram_novelty" -> (Curation.q178NgramNovelty _),
    "q179_blocklist_scan" -> (Curation.q179BlocklistScan _),
    "q180_asof_native" -> (Temporal.q180AsofNative _),
    "q181_exact_gram_overlap" -> (Corpus.q181ExactGramOverlap _),
    "q182_exact_token_inner" -> (Corpus.q182ExactTokenInner _),
    "q183_asof_tolerance" -> (Temporal.q183AsofTolerance _),
    "q184_asof_forward" -> (Temporal.q184AsofForward _),
    "q185_cusum" -> (Temporal.q185Cusum _),
    "q186_kmv_difference" -> (Corpus.q186KmvDifference _),
    "q187_stream_asof_state" ->
      (graft.streaming.EventStream.q187StreamAsofState _),
    "q188_asof_nearest" -> (Temporal.q188AsofNearest _),
    "q189_range_lookup" -> (Layout.q189RangeLookup _),
    "q190_hll_rollup" -> (Corpus.q190HllRollup _),
    "q191_stream_asof_tws" ->
      (graft.streaming.EventStream.q191StreamAsofTws _),
    "q192_cusum_two_sided" -> (Temporal.q192CusumTwoSided _),
    "q193_stream_sliding_kmv" ->
      (graft.streaming.EventStream.q193StreamSlidingKmv _),
    "q194_stream_cusum" ->
      (graft.streaming.EventStream.q194StreamCusum _),
    "q195_quantile_sketch" -> (Corpus.q195QuantileSketch _),
    "q196_split_manifest" -> (Curation.q196SplitManifest _),
    "q197_stream_quantile" ->
      (graft.streaming.EventStream.q197StreamQuantile _),
    "q198_trend" -> (Temporal.q198Trend _),
    "q199_quantile_rollup" -> (Corpus.q199QuantileRollup _),
    "q200_incremental_sketch" -> (Corpus.q200IncrementalSketch _),
    "q201_priority_sample" -> (Curation.q201PrioritySample _),
    "q202_cms_rollup" -> (Corpus.q202CmsRollup _),
    "q203_stream_sliding_quantile" ->
      (graft.streaming.EventStream.q203StreamSlidingQuantile _),
    "q204_mad_outliers" -> (Temporal.q204MadOutliers _),
    "q205_mixture_plan" -> (Curation.q205MixturePlan _),
    "q206_boilerplate" -> (Curation.q206Boilerplate _),
    "q207_stratified_sample" -> (Curation.q207StratifiedSample _),
    "q208_exact_substr" -> (Curation.q208ExactSubstr _),
    "q209_exact_substr_dedup" -> (Curation.q209ExactSubstrDedup _),
    "q210_exact_substr_hashed" -> (Curation.q210ExactSubstrHashed _),
    "q211_stream_exact_substr" ->
      (graft.streaming.EventStream.q211StreamExactSubstr _),
    "q212_exact_substr_incremental" ->
      (Curation.q212ExactSubstrIncremental _),
    "q213_exact_substr_inc_dedup" -> (Curation.q213ExactSubstrIncDedup _),
    "q214_exact_substr_dedup_rolled" ->
      (Curation.q214ExactSubstrDedupRolled _),
    "q215_png_header" -> (Multimodal.q215PngHeader _),
    "q216_curation_rewrite_pipeline" ->
      (Curation.q216CurationRewritePipeline _),
    "q217_jpeg_header" -> (Multimodal.q217JpegHeader _),
    "q218_pgm_pixel_stats" -> (Multimodal.q218PgmPixelStats _),
    "q219_exact_substr_upsert_ingest" ->
      (Curation.q219ExactSubstrUpsertIngest _),
  )

  /** q114/q118 shared BPE rounds: word-freq dict, char segmentation in
    * the `" sym "` block encoding, then one (pair-count, argmax,
    * rewrite) CTE triple per merge — the word `w` rides along so q118
    * can use the final round as the encoded dictionary.
    */
  private val BpeRoundsSql: String = {
    val m = Curation.BpeMerges
    val head =
      s"""WITH wf AS (
        |  SELECT w, COUNT(*) AS freq FROM (
        |    SELECT unnest(${Tokens.Space.sql("text")}) AS w
        |    FROM documents)
        |  WHERE regexp_matches(w, '^[a-z]+$$')
        |  GROUP BY w),
        |w0 AS (
        |  SELECT w,
        |    ' ' || array_to_string([w[i:i] for i in range(1, length(w)+1)], '  ') || ' ' AS seq,
        |    freq
        |  FROM wf)""".stripMargin
    val rounds = (1 to m).map { r =>
      s"""p$r AS (
         |  SELECT pr, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT unnest([l[i] || ' ' || l[i+1] for i in range(1, len(l))]) AS pr, freq
         |    FROM (SELECT string_split(trim(seq), '  ') AS l, freq FROM w${r - 1}))
         |  GROUP BY pr),
         |b$r AS (SELECT CAST($r AS BIGINT) AS merge_rank, pr AS pair, cnt
         |        FROM p$r ORDER BY cnt DESC, pr ASC LIMIT 1),
         |w$r AS (
         |  SELECT w, replace(seq,
         |    ' ' || replace(pair, ' ', '  ') || ' ',
         |    ' ' || replace(pair, ' ', '') || ' ') AS seq, freq
         |  FROM w${r - 1}, b$r)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  private val Q58Sql =
    s"""WITH tok AS (
        |  SELECT doc_id, source, ${Tokens.Space.sql("text")} AS toks
        |  FROM documents),
        |g4 AS (
        |  SELECT doc_id, source,
        |    unnest([array_to_string(toks[i:i+3], ' ') for i in range(1, greatest(len(toks) - 2, 1))]) AS g
        |  FROM tok),
        |bg AS (SELECT DISTINCT g FROM g4 WHERE doc_id % 97 = 0),
        |contam AS (
        |  SELECT DISTINCT doc_id FROM g4
        |  WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM bg)),
        |base AS (SELECT doc_id, source FROM documents WHERE doc_id % 97 <> 0)
        |SELECT base.source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN contam.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  CAST(SUM(CASE WHEN contam.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
        |FROM base LEFT JOIN contam ON base.doc_id = contam.doc_id
        |GROUP BY base.source ORDER BY base.source""".stripMargin

  private val Q71Sql =
    """WITH q AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, CAST(SUM(qv[i] * qv[i]) AS BIGINT) AS nrm
        |  FROM q, range(1, 65) t(i) GROUP BY vec_id),
        |c AS (SELECT q.vec_id, label, qv, nrm FROM q JOIN n USING (vec_id) WHERE q.vec_id % 97 <> 0),
        |b AS (SELECT q.vec_id AS bid, qv AS bqv, nrm AS bn FROM q JOIN n USING (vec_id) WHERE q.vec_id % 97 = 0),
        |pairs AS (
        |  SELECT c.vec_id, c.label, CAST(SUM(c.qv[i] * b.bqv[i]) AS BIGINT) AS dot, c.nrm, b.bn
        |  FROM c, b, range(1, 65) t(i)
        |  GROUP BY c.vec_id, c.label, b.bid, c.nrm, b.bn),
        |best AS (
        |  SELECT vec_id, label,
        |    MAX(CASE WHEN nrm > 0 AND bn > 0
        |             THEN CAST(dot AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE) * CAST(bn AS DOUBLE))
        |             ELSE 0.0 END) AS best_cos
        |  FROM pairs GROUP BY vec_id, label)
        |SELECT label, COUNT(*) AS n_vecs,
        |  CAST(SUM(CASE WHEN best_cos >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  CAST(SUM(CASE WHEN best_cos >= 0.3 THEN 0 ELSE 1 END) AS BIGINT) AS n_clean,
        |  MAX(best_cos) AS max_cosine
        |FROM best GROUP BY label ORDER BY label""".stripMargin

  private val Q75Sql =
    s"""WITH bench AS (SELECT doc_id AS bid, text AS btext FROM documents WHERE doc_id % 97 = 0),
        |planted AS (
        |  SELECT c.doc_id, c.source,
        |    CASE WHEN c.doc_id % 7 = 0 AND b.bid IS NOT NULL
        |         THEN c.text || ' ' || substr(b.btext, 1, 50 + CAST(c.doc_id % 5 AS INT) * 100)
        |         ELSE c.text END AS text
        |  FROM (SELECT * FROM documents WHERE doc_id % 97 <> 0) c
        |  LEFT JOIN bench b ON b.bid = 97 * (c.doc_id % 6)),
        |tok AS (SELECT doc_id, source,
        |  ${Tokens.SpaceLower.sqlOrEmpty("text")} AS t FROM planted),
        |dg AS (SELECT DISTINCT doc_id,
        |    substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]), 1, 16) AS k
        |  FROM tok, unnest(range(1, len(t) - 3)) u(i)),
        |btok AS (SELECT bid,
        |  ${Tokens.SpaceLower.sqlOrEmpty("btext")} AS t FROM bench),
        |bg AS (SELECT DISTINCT bid,
        |    substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]), 1, 16) AS k
        |  FROM btok, unnest(range(1, len(t) - 3)) u(i)),
        |bsz AS (SELECT bid, COUNT(*) AS bn FROM bg GROUP BY bid),
        |ix AS (SELECT c.doc_id, b.bid, COUNT(*) AS n FROM dg c JOIN bg b ON c.k = b.k GROUP BY 1, 2),
        |cont AS (
        |  SELECT t.doc_id, t.source, COALESCE(MAX(CAST(i.n AS DOUBLE) / bsz.bn), 0.0) AS bc
        |  FROM tok t LEFT JOIN ix i ON t.doc_id = i.doc_id LEFT JOIN bsz ON i.bid = bsz.bid
        |  GROUP BY 1, 2)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN bc >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(SUM(CASE WHEN bc >= 0.3 THEN 0 ELSE 1 END) AS BIGINT) AS n_clean,
        |  MAX(bc) AS max_containment
        |FROM cont GROUP BY source ORDER BY source""".stripMargin

  private val Rev =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2))"

  private val StopList =
    s"list_filter(${Tokens.Space.piecesSql("text")}, x -> x IN ('the', 'a', 'of', 'and'))"

  private def langScore(words: Seq[String]): String =
    s"len(list_filter(${Tokens.SpaceLower.piecesSql("text")}, x -> x IN (${words.map(w => s"'$w'").mkString(", ")})))"

  /** Marks every CTE in `sql` as MATERIALIZED. DuckDB 1.0 inlines
    * CTEs textually, so a chain where level k references both level
    * k-1 and a shared base (`sm`, `rc`) expands the plan 2^iters-fold
    * — the q169 oracle alone ran >400 s at sf0.01 and silently zeroed
    * the round-12 driver correctness gate by blowing its compare
    * timeout (CORRECTNESS_r12.json == {}). Materialization pins each
    * CTE to one evaluation (1.2 s for the same q169; the q112/q114/
    * q118 iterative chains drop 45 s+ → <0.1 s). Applied to EVERY
    * oracle at the [[oracleSql]] map boundary: besides CTE heads, the
    * only `word AS (` position in SQL is a named WINDOW clause
    * (`WINDOW w AS (...)`), excluded by the lookbehind — column
    * aliases are `expr AS name`, casts are `AS TYPE`, table aliases
    * are `AS t(cols)`.
    */
  private def mat(sql: String): String =
    sql.replaceAll("""(?<!WINDOW )(\w+) AS \(""", "$1 AS MATERIALIZED (")

  /** Shared q43/q169 coarse-quantizer replay: fixed-point Lloyd
    * (IvfIters rounds over the md5 sample from md5-ordered seeds),
    * full-corpus assignment `asg`, probe cell lists `pc`. Each `d$k`
    * reads both `sm` and `c${k-1}`, so inlined evaluation would be
    * 2^IvfIters — the [[mat]] wrap at the map boundary is what keeps
    * it linear. DuckDB `//` floors while Spark `div` truncates, hence
    * the sign CASE on the centroid update. `sm` mirrors the engine's
    * tiny-corpus fallback (Similarity.replayableCoarseCents): if the
    * md5 sample is empty, train on the full frame — the NOT EXISTS
    * leg — so a degenerate corpus can't diverge engine from oracle.
    */
  private val IvfCoarseSql: String = {
    val cells = graft.operators.Similarity.IvfCells
    val np = graft.operators.Similarity.IvfNprobe
    val mod = graft.operators.Similarity.IvfSampleMod
    val head =
      s"""WITH qv AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
        |  FROM embeddings),
        |hs AS (SELECT vec_id, q, md5(CAST(vec_id AS VARCHAR)) AS h FROM qv),
        |sd AS (SELECT vec_id AS cell, q FROM hs ORDER BY h, vec_id LIMIT $cells),
        |c0 AS (SELECT cell, i, q[i] AS c FROM sd, range(1, 65) t(i)),
        |sm0 AS (SELECT vec_id, q FROM hs
        |  WHERE CAST(('0x' || substr(h, 1, 4)) AS BIGINT) % $mod = 0),
        |sm AS (SELECT vec_id, q FROM sm0
        |  UNION ALL
        |  SELECT vec_id, q FROM hs
        |  WHERE NOT EXISTS (SELECT 1 FROM sm0))""".stripMargin
    val iters = (1 to graft.operators.Similarity.IvfIters).map { kk =>
      s""",
         |d$kk AS (
         |  SELECT s.vec_id, c.cell, SUM((s.q[c.i] - c.c) * (s.q[c.i] - c.c)) AS d2
         |  FROM sm s, c${kk - 1} c GROUP BY 1, 2),
         |a$kk AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |    FROM d$kk) z WHERE rn = 1),
         |c$kk AS (
         |  SELECT cell, i, CASE WHEN sm2 < 0 THEN -((-sm2) // n) ELSE sm2 // n END AS c FROM (
         |    SELECT a.cell, t.i, SUM(s.q[t.i]) AS sm2, COUNT(*) AS n
         |    FROM a$kk a JOIN sm s USING (vec_id), range(1, 65) t(i)
         |    GROUP BY 1, 2) z)""".stripMargin
    }.mkString
    val cf = s"c${graft.operators.Similarity.IvfIters}"
    val tail =
      s""",
        |df AS (
        |  SELECT v.vec_id, c.cell, SUM((v.q[c.i] - c.c) * (v.q[c.i] - c.c)) AS d2
        |  FROM qv v, $cf c GROUP BY 1, 2),
        |asg AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |    FROM df) z WHERE rn = 1),
        |dp AS (
        |  SELECT v.vec_id AS probe_id, c.cell, SUM((v.q[c.i] - c.c) * (v.q[c.i] - c.c)) AS d2
        |  FROM qv v, $cf c WHERE v.vec_id < 10 GROUP BY 1, 2),
        |pc AS (
        |  SELECT probe_id, cell FROM (
        |    SELECT probe_id, cell, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY d2, cell) AS rn
        |    FROM dp) z WHERE rn <= $np)""".stripMargin
    head + iters + tail
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for the non-SQL-expressible ops
    * (minhash/simhash/ngram/LSH/fingerprint) -> rows-only check.
    */
  /** The click-enrichment as-of replay, shared by q180 (native batch
    * operator) and q187 (stream-stream keyed state) — both compute the
    * same answer, so one oracle falsifies both.
    */
  private lazy val asofClickReplaySql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_type
      |  FROM events),
      |er AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'error'),
      |cl AS (SELECT event_id AS click_id, user_id, ts_us FROM ev
      |       WHERE event_type = 'click'),
      |m AS (
      |  SELECT er.event_id, er.user_id, er.ts_us, MAX(cl.ts_us) AS asof_click_us
      |  FROM er LEFT JOIN cl
      |    ON cl.user_id = er.user_id AND cl.ts_us <= er.ts_us
      |  GROUP BY 1, 2, 3),
      |t AS (
      |  SELECT m.event_id, MAX(cl.click_id) AS asof_click_id
      |  FROM m JOIN cl
      |    ON cl.user_id = m.user_id AND cl.ts_us = m.asof_click_us
      |  GROUP BY 1)
      |SELECT m.event_id, m.user_id, m.ts_us, m.asof_click_us, t.asof_click_id
      |FROM m LEFT JOIN t ON t.event_id = m.event_id
      |ORDER BY m.event_id""".stripMargin

  /** The one-sided CUSUM replay (prefix-sum reflection identity,
    * exact fixed-point), shared by q185 (windowed batch) and q194
    * (keyed stream state) — same answer, one falsifier.
    */
  private lazy val cusumReplaySql: String =
    s"""WITH e AS (
      |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |    CAST(round(value * 1e6) AS BIGINT) AS x
      |  FROM events),
      |k AS (SELECT CAST(SUM(x) // COUNT(*) AS BIGINT) AS k FROM e),
      |p AS (
      |  SELECT user_id, event_id, ts_us, k.k,
      |    SUM(x - k.k) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS p
      |  FROM e, k),
      |c AS (
      |  SELECT user_id, ts_us, k,
      |    p - LEAST(MIN(p) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS UNBOUNDED PRECEDING), 0) AS s
      |  FROM p)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(MAX(s) AS BIGINT) AS max_cusum,
      |  CAST(SUM(CASE WHEN s > k * ${graft.operators.Temporal.CusumHMult} THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
      |  MIN(CASE WHEN s > k * ${graft.operators.Temporal.CusumHMult} THEN ts_us END) AS first_cross_us
      |FROM c GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Shared q208/q210 census replay: per-doc DISTINCT 8-token windows,
    * corpus-wide doc frequency, per-source rollup; top offender =
    * ROW_NUMBER(total DESC, win DESC) — Spark's max(struct) tiebreak.
    * q210 (the hashed-key 100 TB mode) is checked against this SAME
    * string-mode SQL: the surrogate key must be invisible in results.
    */
  private val ExactSubstrCensusSql: String =
    s"""WITH p AS (
      |  SELECT source, doc_id,
      |    COALESCE(text, '') || CASE WHEN doc_id % 17 = 0
      |      THEN '${graft.operators.Curation.exactSubstrPlantSql}'
      |      ELSE '' END AS t
      |  FROM documents),
      |tk AS (
      |  SELECT source, doc_id,
      |    ${Tokens.Space.sql("t")} AS toks
      |  FROM p),
      |w AS (
      |  SELECT source, doc_id,
      |    unnest(list_distinct(list_transform(
      |      generate_series(1, greatest(len(toks) - ${graft.operators.Curation.ExactSubstrL - 1}, 0)),
      |      i -> array_to_string(toks[i:i+${graft.operators.Curation.ExactSubstrL - 1}], ' ')))) AS win
      |  FROM tk),
      |ps AS (SELECT source, win, COUNT(*) AS df FROM w GROUP BY 1, 2),
      |g AS (SELECT win, CAST(SUM(df) AS BIGINT) AS total_docs FROM ps GROUP BY 1),
      |f AS (
      |  SELECT ps.source, ps.win, ps.df, g.total_docs,
      |    g.total_docs >= 2 AS is_dup
      |  FROM ps JOIN g ON g.win = ps.win),
      |top AS (
      |  SELECT source, win FROM (
      |    SELECT source, win,
      |      ROW_NUMBER() OVER (PARTITION BY source
      |        ORDER BY total_docs DESC, win DESC) AS rn
      |    FROM f WHERE is_dup) WHERE rn = 1)
      |SELECT f.source,
      |  COUNT(*) AS n_windows,
      |  CAST(SUM(CASE WHEN f.is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
      |  CAST(SUM(CASE WHEN f.is_dup THEN f.df ELSE 0 END) AS BIGINT) AS dup_doc_mass,
      |  CAST(MAX(CASE WHEN f.is_dup THEN f.total_docs END) AS BIGINT) AS max_docs,
      |  MAX(top.win) AS top_win
      |FROM f LEFT JOIN top ON top.source = f.source
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The q209 rewrite CTE chain (`p` through `docg`, the document-grain
    * rewritten corpus) over `rel`, any relation with (source, doc_id,
    * text) — shared VERBATIM by the one-shot transform oracle
    * ([[ExactSubstrDedupSql]], also q213/q214) and the q216 pipeline
    * composition, so the rewrite leg cannot drift between the one-shot
    * check and the composed check. Callers prepend their own CTEs and
    * append a read-out over `docg`.
    */
  private def exactSubstrRewriteCtes(rel: String): String = {
    val L = graft.operators.Curation.ExactSubstrL
    s"""p AS (
      |  SELECT source, doc_id,
      |    COALESCE(text, '') || CASE WHEN doc_id % 17 = 0
      |      THEN '${graft.operators.Curation.exactSubstrPlantSql}'
      |      ELSE '' END AS t
      |  FROM $rel),
      |tk AS (
      |  SELECT source, doc_id,
      |    ${Tokens.Space.sql("t")} AS toks
      |  FROM p),
      |occ AS (
      |  SELECT doc_id, u['pos'] AS pos, u['win'] AS win FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(
      |        generate_series(1, greatest(len(toks) - ${L - 1}, 0)),
      |        i -> {'pos': i, 'win': array_to_string(toks[i:i+${L - 1}], ' ')})) AS u
      |    FROM tk)),
      |dupw AS (
      |  SELECT win FROM occ GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
      |keep AS (
      |  SELECT win, doc_id AS kd, pos AS kp FROM (
      |    SELECT o.win, o.doc_id, o.pos,
      |      ROW_NUMBER() OVER (PARTITION BY o.win
      |        ORDER BY o.doc_id, o.pos) AS rn
      |    FROM occ o JOIN dupw d ON d.win = o.win) WHERE rn = 1),
      |marked AS (
      |  SELECT DISTINCT o.doc_id, o.pos
      |  FROM occ o JOIN keep k ON k.win = o.win
      |  WHERE NOT (o.doc_id = k.kd AND o.pos = k.kp)),
      |isl AS (
      |  SELECT doc_id, pos, SUM(brk) OVER (
      |      PARTITION BY doc_id ORDER BY pos) AS isl_id
      |  FROM (
      |    SELECT doc_id, pos,
      |      CASE WHEN pos - LAG(pos) OVER (
      |          PARTITION BY doc_id ORDER BY pos) > $L
      |        THEN 1 ELSE 0 END AS brk
      |    FROM marked)),
      |spans AS (
      |  SELECT doc_id, isl_id, MIN(pos) AS s, MAX(pos) + ${L - 1} AS e
      |  FROM isl GROUP BY 1, 2),
      |st AS (
      |  SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS n_removed,
      |    CAST(COUNT(*) AS BIGINT) AS n_spans,
      |    CAST(MAX(e - s + 1) AS BIGINT) AS max_span
      |  FROM spans GROUP BY 1),
      |cov AS (
      |  -- islands are disjoint per doc, so no dedup needed
      |  SELECT doc_id, unnest(generate_series(s, e)) AS i FROM spans),
      |tok_rows AS (
      |  SELECT source, doc_id, u['i'] AS i, u['tok'] AS tok FROM (
      |    SELECT source, doc_id,
      |      unnest(list_transform(generate_series(1, len(toks)),
      |        i -> {'i': i, 'tok': toks[i]})) AS u
      |    FROM tk)),
      |rw AS (
      |  SELECT tr.doc_id,
      |    string_agg(tr.tok, ' ' ORDER BY tr.i)
      |      FILTER (WHERE cov.i IS NULL) AS rewritten
      |  FROM tok_rows tr LEFT JOIN cov
      |    ON cov.doc_id = tr.doc_id AND cov.i = tr.i
      |  GROUP BY 1),
      |docg AS (
      |  SELECT tk.source, tk.doc_id, len(tk.toks) AS n_toks,
      |    COALESCE(rw.rewritten, '') AS rewritten,
      |    COALESCE(st.n_removed, 0) AS n_removed,
      |    COALESCE(st.n_spans, 0) AS n_spans,
      |    COALESCE(st.max_span, 0) AS max_span
      |  FROM tk LEFT JOIN rw ON rw.doc_id = tk.doc_id
      |          LEFT JOIN st ON st.doc_id = tk.doc_id)""".stripMargin
  }

  /** Shared q209/q213/q214 dedup-transform replay: the rewrite CTE
    * chain over the raw documents table plus the per-source rollup
    * carrying the md5 witnesses (see [[exactSubstrRewriteCtes]]).
    */
  private val ExactSubstrDedupSql: String =
    s"""WITH ${exactSubstrRewriteCtes("documents")}
      |SELECT source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_modified,
      |  CAST(SUM(n_toks) AS BIGINT) AS tokens_total,
      |  CAST(SUM(n_removed) AS BIGINT) AS tokens_removed,
      |  CAST(SUM(n_toks - n_removed) AS BIGINT) AS tokens_retained,
      |  CAST(SUM(n_spans) AS BIGINT) AS spans_removed,
      |  CAST(MAX(max_span) AS BIGINT) AS max_span_tokens,
      |  CAST(COUNT(DISTINCT md5(rewritten)) AS BIGINT) AS n_distinct_texts,
      |  MAX(md5(rewritten)) AS sig_max
      |FROM docg GROUP BY 1 ORDER BY 1""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM($Rev) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM($Rev * CAST(1 + l_tax AS DECIMAL(8,2))) AS DOUBLE) AS sum_charge,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity >= 45 AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_join_agg" ->
      s"""SELECT c_mktsegment, CAST(SUM($Rev) AS DOUBLE) AS revenue, COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q04_join_multi" ->
      s"""SELECT n_name, CAST(SUM($Rev) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q05_semi_join" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin,
    "q06_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
        |ORDER BY c_custkey""".stripMargin,
    "q07_window_topk" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rn
        |  FROM customer) t
        |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin,
    "q08_window_running" ->
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS running
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q09_window_lag" ->
      """SELECT user_id, event_id, value,
        |  value - LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q10_topk_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q11_distinct_agg" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q12_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rflag, COALESCE(l_linestatus, 'ALL') AS lstatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,
    "q13_setops" ->
      """SELECT k FROM (
        |  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION
        |  SELECT o_custkey AS k FROM orders WHERE o_totalprice > 200000) t1
        |EXCEPT
        |SELECT k FROM (
        |  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT o_custkey AS k FROM orders WHERE o_totalprice > 200000) t2
        |ORDER BY k""".stripMargin,
    "q14_wordcount" ->
      s"""SELECT word, COUNT(*) AS cnt FROM (
        |  SELECT unnest(${Tokens.Alnum.piecesSql("text")}) AS word
        |  FROM documents) t
        |WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word LIMIT 100""".stripMargin,
    "q15_date_agg" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY yr, mo ORDER BY yr, mo""".stripMargin,
    "q16_case_math" ->
      """SELECT CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 25 THEN 'mid' ELSE 'high' END AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_rounded,
        |  MAX(CAST(floor(l_discount * 100) AS BIGINT)) AS max_disc_pct
        |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q17_mr_wordcount" ->
      s"""SELECT word, COUNT(*) AS cnt FROM (
        |  SELECT unnest(${Tokens.Alnum.piecesSql("text")}) AS word
        |  FROM documents) t
        |WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word LIMIT 100""".stripMargin,
    "q18_mr_first_event" ->
      """SELECT user_id, FIRST(event_type ORDER BY ts, event_id) AS first_event
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q19_dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text) ORDER BY doc_id""",
    // full MinHash+LSH replay: shingle hashes are Karp-Rabin mod 2^61-1
    // (left-fold replayed by list_reduce over HUGEINT char codes), the
    // 64 permutations are published (a,b) literals pasted from
    // Dedup.permA/permB, band hashes replay the 31-multiplier fold mod
    // 2^64, the distinct-member bucket cap (> 64 dropped, with stats)
    // and the exact-Jaccard verify complete the pipeline — rows-only
    // to hash-matched, the q22/q28 replayable-hash program
    "q20_dedup_minhash" ->
      s"""WITH tok AS (SELECT doc_id, lower(COALESCE(text, '')) AS t FROM documents),
        |win AS (
        |  SELECT doc_id,
        |    CASE WHEN length(t) < 5 THEN t ELSE substr(t, CAST(i AS INTEGER), 5) END AS w
        |  FROM tok, unnest(range(1, GREATEST(length(t) - 3, 2))) u(i)),
        |shd AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN length(w) = 0 THEN CAST(0 AS HUGEINT)
        |      ELSE list_reduce(
        |        list_transform(range(1, length(w) + 1),
        |          k -> CAST(ord(substr(w, CAST(k AS INTEGER), 1)) AS HUGEINT)),
        |        (h, c) -> (h * 1000003 + c) % 2305843009213693951)
        |    END AS x
        |  FROM win),
        |perm(j, a, b) AS (SELECT * FROM (VALUES ${graft.operators.Dedup.permSeedValuesSql}) v),
        |sig AS (
        |  SELECT doc_id, j, MIN((CAST(a AS HUGEINT) * x + b) % 2305843009213693951) AS v
        |  FROM shd, perm GROUP BY 1, 2),
        |bnd AS (
        |  SELECT doc_id, j // 4 AS band, list(v ORDER BY j) AS vs
        |  FROM sig GROUP BY doc_id, j // 4),
        |bh AS (
        |  SELECT doc_id, band,
        |    ((((((CAST(1125899906842597 AS HUGEINT) * 31 + vs[1])
        |      % 18446744073709551616 * 31 + vs[2])
        |      % 18446744073709551616 * 31 + vs[3])
        |      % 18446744073709551616 * 31 + vs[4])
        |      % 18446744073709551616)) AS h
        |  FROM bnd),
        |hot AS (
        |  SELECT band, h, COUNT(DISTINCT doc_id) AS hn FROM bh GROUP BY 1, 2
        |  HAVING COUNT(DISTINCT doc_id) > 64),
        |stats AS (
        |  SELECT COUNT(*) AS n_dropped_buckets,
        |    CAST(COALESCE(SUM(hn), 0) AS BIGINT) AS n_dropped_members FROM hot),
        |ok AS (
        |  SELECT b.doc_id, b.band, b.h FROM bh b
        |  LEFT JOIN hot t ON t.band = b.band AND t.h = b.h WHERE t.hn IS NULL),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM ok x JOIN ok y ON x.band = y.band AND x.h = y.h AND x.doc_id < y.doc_id),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY 1),
        |ix AS (
        |  SELECT c.a, c.b, COUNT(sb.x) AS inter
        |  FROM cand c
        |  JOIN shd sa ON sa.doc_id = c.a
        |  LEFT JOIN shd sb ON sb.doc_id = c.b AND sb.x = sa.x
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT i.a, i.b,
        |    CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE) AS jaccard
        |  FROM ix i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b),
        |perdoc AS (
        |  SELECT doc_id, COUNT(*) AS n_candidates, MAX(jaccard) AS best_jaccard FROM (
        |    SELECT a AS doc_id, jaccard FROM jac
        |    UNION ALL SELECT b AS doc_id, jaccard FROM jac) u GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(p.n_candidates, 0) AS BIGINT) AS n_candidates,
        |  COALESCE(p.best_jaccard, 0.0) AS best_jaccard,
        |  st.n_dropped_buckets, st.n_dropped_members
        |FROM documents d LEFT JOIN perdoc p USING (doc_id), stats st
        |ORDER BY d.doc_id""".stripMargin,
    // full SimHash replay: the md5 token hash (simhash64's gramHash64
    // base) lets DuckDB rebuild the identical 64-bit signature bit by
    // bit, then replays the 4x16 chunk LSH, the distinct-member bucket
    // cap (> 64 dropped, with stats), and the Hamming<=3 verify — the
    // whole q21 pipeline, converting it from rows-only to hash-matched
    "q21_dedup_simhash" ->
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    unnest(${Tokens.WsLower.sqlOrEmpty("text")}) AS tok
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS u FROM toks),
        |bits AS (
        |  SELECT doc_id, b, SUM(CASE WHEN (u >> CAST(b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
        |  FROM th, range(64) r(b) GROUP BY 1, 2),
        |usig0 AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN cnt > 0 THEN CAST(CAST(1 AS UBIGINT) << CAST(b AS INTEGER) AS HUGEINT) ELSE 0 END) AS HUGEINT) AS husig
        |  FROM bits GROUP BY 1),
        |sig AS (
        |  SELECT d.doc_id,
        |    CAST(COALESCE(u.husig, 0) AS UBIGINT) AS usig,
        |    CAST(COALESCE(u.husig, 0) - CASE WHEN COALESCE(u.husig, 0) >= CAST(9223372036854775808 AS HUGEINT)
        |      THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END AS BIGINT) AS simhash
        |  FROM documents d LEFT JOIN usig0 u USING (doc_id)),
        |chunks AS (
        |  SELECT doc_id, c, (usig >> CAST(c * 16 AS INTEGER)) & CAST(65535 AS UBIGINT) AS ck
        |  FROM sig, range(4) r(c)),
        |hot AS (
        |  SELECT c, ck, COUNT(DISTINCT doc_id) AS hn FROM chunks GROUP BY 1, 2
        |  HAVING COUNT(DISTINCT doc_id) > 64),
        |stats AS (
        |  SELECT COUNT(*) AS n_dropped_buckets,
        |    CAST(COALESCE(SUM(hn), 0) AS BIGINT) AS n_dropped_members FROM hot),
        |ok AS (
        |  SELECT ch.doc_id, ch.c, ch.ck FROM chunks ch
        |  LEFT JOIN hot h ON h.c = ch.c AND h.ck = ch.ck WHERE h.hn IS NULL),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM ok x JOIN ok y ON x.c = y.c AND x.ck = y.ck AND x.doc_id < y.doc_id),
        |near AS (
        |  SELECT cand.a, cand.b FROM cand
        |  JOIN sig sa ON sa.doc_id = cand.a
        |  JOIN sig sb ON sb.doc_id = cand.b
        |  WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3),
        |perdoc AS (
        |  SELECT doc_id, COUNT(*) AS n_near FROM (
        |    SELECT a AS doc_id FROM near UNION ALL SELECT b AS doc_id FROM near) u GROUP BY 1)
        |SELECT s.doc_id, s.simhash, CAST(COALESCE(p.n_near, 0) AS BIGINT) AS n_near,
        |  st.n_dropped_buckets, st.n_dropped_members
        |FROM sig s LEFT JOIN perdoc p USING (doc_id), stats st
        |ORDER BY s.doc_id""".stripMargin,
    // rebuilds gramHash64's exact keys — substr(md5(gram),1,16) IS the
    // Spark-side 64-bit key — so membership, the df-cap, and every
    // jaccard division agree bit-for-bit with the typed-map pipeline
    "q22_ngram_jaccard" ->
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    ${Tokens.SpaceLower.sqlOrEmpty("text")} AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 16) AS k
        |  FROM tok, unnest(range(1, len(t) - 1)) u(i)),
        |dg AS (SELECT DISTINCT doc_id, k FROM g),
        |hot AS (SELECT k FROM dg GROUP BY k HAVING COUNT(*) > 1000),
        |fg AS (SELECT * FROM dg WHERE k NOT IN (SELECT k FROM hot)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM fg GROUP BY doc_id),
        |inter AS (
        |  SELECT p.doc_id AS probe_id, f.doc_id, COUNT(*) AS ix
        |  FROM fg p JOIN fg f ON p.k = f.k AND f.doc_id <> p.doc_id
        |  WHERE p.doc_id < 10
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT i.probe_id, i.doc_id,
        |    CAST(i.ix AS DOUBLE) / CAST(sa.n + sb.n - i.ix AS DOUBLE) AS jaccard
        |  FROM inter i
        |  JOIN sizes sa ON sa.doc_id = i.probe_id
        |  JOIN sizes sb ON sb.doc_id = i.doc_id)
        |SELECT probe_id, doc_id, jaccard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY jaccard DESC, doc_id) AS BIGINT) AS rnk
        |FROM scored QUALIFY rnk <= 3 ORDER BY probe_id, rnk""".stripMargin,
    "q23_knn_brute" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |norms AS (
        |  SELECT vec_id, CAST(SUM(qv[i] * qv[i]) AS BIGINT) AS nrm
        |  FROM q, range(1, 65) t(i) GROUP BY vec_id),
        |pairs AS (
        |  SELECT p.vec_id AS probe_id, e.vec_id AS vec_id, CAST(SUM(p.qv[i] * e.qv[i]) AS BIGINT) AS dot
        |  FROM q p, q e, range(1, 65) t(i)
        |  WHERE p.vec_id < 10 AND e.vec_id <> p.vec_id
        |  GROUP BY p.vec_id, e.vec_id),
        |scored AS (
        |  SELECT probe_id, pr.vec_id,
        |    CAST(dot AS DOUBLE) / sqrt(CAST(np.nrm AS DOUBLE) * CAST(ne.nrm AS DOUBLE)) AS cosine
        |  FROM pairs pr
        |  JOIN norms np ON np.vec_id = pr.probe_id
        |  JOIN norms ne ON ne.vec_id = pr.vec_id)
        |SELECT probe_id, vec_id, cosine, rnk FROM (
        |  SELECT probe_id, vec_id, cosine,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
        |  FROM scored) z
        |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,
    // full hyperplane-LSH replay (rows-only -> hash-matched, r11): the
    // 4x6x64 murmur-derived plane table is FIXED, so it rides the SQL
    // as literals (planeValuesSql); the signature's per-bit accumulator
    // is a fixed-order left fold of double products that list_reduce
    // reproduces IEEE-bit-identically; multiprobe (exact sig + every
    // 1-bit flip), candidate join, and exact fixed-point cosine top-3
    // complete the pipeline
    "q24_knn_lsh" ->
      s"""WITH planes(tbl, pb, ks) AS (SELECT * FROM (VALUES ${graft.operators.Similarity.planeValuesSql}) v),
        |bits AS (
        |  SELECT e.vec_id, p.tbl, p.pb,
        |    CASE WHEN len(e.embedding) = 0 THEN 1
        |      WHEN list_reduce(
        |        list_transform(range(1, LEAST(len(e.embedding), 64) + 1),
        |          i -> CAST(e.embedding[CAST(i AS INTEGER)] AS DOUBLE) * (ks[CAST(i AS INTEGER)] / 1000.0)),
        |        (a, c) -> a + c) >= 0 THEN 1 ELSE 0 END AS bit
        |  FROM embeddings e, planes p),
        |sigs AS (
        |  SELECT vec_id, tbl, CAST(SUM(bit * (1 << pb)) AS INTEGER) AS sig
        |  FROM bits GROUP BY 1, 2),
        |probes AS (
        |  SELECT vec_id AS probe_id, tbl, sig FROM sigs WHERE vec_id < 10
        |  UNION
        |  SELECT vec_id AS probe_id, tbl, CAST(xor(sig, (1 << CAST(f AS INTEGER))) AS INTEGER) AS sig
        |  FROM sigs, range(6) r(f) WHERE vec_id < 10),
        |cand AS (
        |  SELECT DISTINCT p.probe_id, s.vec_id
        |  FROM probes p JOIN sigs s ON s.tbl = p.tbl AND s.sig = p.sig
        |  WHERE s.vec_id <> p.probe_id),
        |q AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |nrm AS (
        |  SELECT vec_id, CAST(SUM(qv[i] * qv[i]) AS BIGINT) AS nrm
        |  FROM q, range(1, 65) t(i) GROUP BY 1),
        |dotp AS (
        |  SELECT c.probe_id, c.vec_id, CAST(SUM(pq.qv[i] * cq.qv[i]) AS BIGINT) AS dot
        |  FROM cand c
        |  JOIN q pq ON pq.vec_id = c.probe_id
        |  JOIN q cq ON cq.vec_id = c.vec_id, range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT d.probe_id, d.vec_id,
        |    CAST(d.dot AS DOUBLE) / sqrt(CAST(np.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS cosine
        |  FROM dotp d JOIN nrm np ON np.vec_id = d.probe_id JOIN nrm nc ON nc.vec_id = d.vec_id)
        |SELECT probe_id, vec_id, cosine,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
        |FROM scored QUALIFY rnk <= 3 ORDER BY probe_id, rnk""".stripMargin,
    "q25_text_quality" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len(${Tokens.Space.sql("text")})) AS BIGINT) AS sum_tokens,
         |  CAST(SUM(len($StopList)) AS BIGINT) AS sum_stopwords,
         |  CAST(SUM(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) AS BIGINT) AS sum_punct,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(SUM(len(${Tokens.Space.sql("text")})) AS DOUBLE) / COUNT(*) AS avg_tokens,
         |  CAST(SUM(len($StopList)) AS DOUBLE) / CAST(SUM(len(${Tokens.Space.sql("text")})) AS DOUBLE) AS stopword_ratio
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q26_token_stats" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS DOUBLE) / COUNT(*) AS avg_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q27_lang_id" ->
      s"""SELECT lang, pred_lang, COUNT(*) AS n FROM (
         |  SELECT lang,
         |    CASE
         |      WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) AND greatest(s_en, s_de, s_es, s_fr, s_zh) > 0 THEN 'en'
         |      WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) AND greatest(s_en, s_de, s_es, s_fr, s_zh) > 0 THEN 'de'
         |      WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) AND greatest(s_en, s_de, s_es, s_fr, s_zh) > 0 THEN 'es'
         |      WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) AND greatest(s_en, s_de, s_es, s_fr, s_zh) > 0 THEN 'fr'
         |      WHEN s_zh = greatest(s_en, s_de, s_es, s_fr, s_zh) AND greatest(s_en, s_de, s_es, s_fr, s_zh) > 0 THEN 'zh'
         |      ELSE 'und' END AS pred_lang
         |  FROM (
         |    SELECT lang,
         |      ${langScore(Seq("the", "and", "of", "to", "in"))} AS s_en,
         |      ${langScore(Seq("der", "die", "und", "das", "ist"))} AS s_de,
         |      ${langScore(Seq("el", "los", "que", "por", "una"))} AS s_es,
         |      ${langScore(Seq("le", "les", "et", "des", "dans"))} AS s_fr,
         |      ${langScore(Seq("shi", "bu", "wo", "zhe", "ren"))} AS s_zh
         |    FROM documents) t1) t2
         |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,
    // ALGORITHMIC-REPLAY oracle: the engine's Karp-Rabin fingerprints
    // (Fingerprints.scala — h = (h*1000003 + charCode) mod 2^61-1, and
    // the min 16-gram window hash) are seedless integer arithmetic, so
    // DuckDB can replay them EXACTLY with HUGEINT mod arithmetic: a
    // recursive CTE builds per-doc prefix hashes (one recursion step
    // per character position, all docs in parallel), the full hash is
    // the prefix at n, and window(p..p+15) = (pref(p+15) -
    // pref(p-1)*B^16) mod M. 1305711183126764677 = 1000003^16 mod
    // (2^61-1). Valid because the corpus is pure ASCII (ord == Java
    // charAt, length == Java length — both verified per SF).
    "q28_fingerprint" ->
      """WITH RECURSIVE pref AS (
        |  SELECT doc_id, 0 AS i, CAST(0 AS HUGEINT) AS h, text, length(text) AS n
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, i + 1,
        |    (h * 1000003 + ord(substring(text, i + 1, 1))) % 2305843009213693951, text, n
        |  FROM pref WHERE i < n
        |),
        |fullh AS (SELECT doc_id, n, h FROM pref WHERE i = n),
        |winh AS (
        |  SELECT a.doc_id,
        |    min(((a.h - (b.h * 1305711183126764677::HUGEINT) % 2305843009213693951)
        |         % 2305843009213693951 + 2305843009213693951) % 2305843009213693951) AS mw
        |  FROM pref a JOIN pref b ON b.doc_id = a.doc_id AND b.i = a.i - 16
        |  WHERE a.i >= 16
        |  GROUP BY a.doc_id)
        |SELECT f.doc_id,
        |  CAST(f.h AS BIGINT) AS fingerprint,
        |  CAST(CASE WHEN f.n < 16 THEN f.h ELSE w.mw END AS BIGINT) AS min_window_fp
        |FROM fullh f LEFT JOIN winh w ON w.doc_id = f.doc_id
        |ORDER BY f.doc_id""".stripMargin,
    "q30_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rflag, COALESCE(l_linestatus, 'ALL') AS lstatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,
    "q31_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rflag, COALESCE(l_linestatus, 'ALL') AS lstatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY rflag, lstatus""".stripMargin,
    "q32_string_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u, substr(p_name, 1, 12) AS name_prefix,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  concat(p_brand, ':', p_type) AS brand_type
        |FROM part WHERE lower(p_type) LIKE '%ar%' ORDER BY p_partkey""".stripMargin,
    "q33_union_all" ->
      """SELECT src, COUNT(*) AS n FROM (
        |  SELECT 'o' AS src FROM orders
        |  UNION ALL
        |  SELECT 'l' AS src FROM lineitem) t
        |GROUP BY src ORDER BY src""".stripMargin,
    "q34_topk_agg" ->
      """SELECT p_brand, p_partkey, p_retailprice, rnk FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rnk
        |  FROM part) t
        |WHERE rnk <= 3 ORDER BY p_brand, rnk""".stripMargin,
    "q35_asof_join" ->
      """SELECT event_id, user_id, ts_us, asof_click_us FROM (
        |  SELECT event_id, user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |    last_value(CASE WHEN event_type = 'click' THEN CAST(epoch_us(ts) AS BIGINT) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_click_us
        |  FROM events) t
        |WHERE event_type = 'error' ORDER BY event_id""".stripMargin,
    "q36_sessionize" ->
      """SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
        |FROM (
        |  SELECT user_id, ts_us,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |      CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                   > 1800000000 THEN 1 ELSE 0 END AS new_session
        |    FROM events) t1) t2
        |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q38_range_join" ->
      """SELECT band, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |JOIN (VALUES ('low', 0.0, 10.0), ('mid', 10.0, 25.0), ('high', 25.0, 100.0)) b(band, lo, hi)
        |  ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY band ORDER BY band""".stripMargin,
    "q39_json" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q40_array_agg" ->
      """SELECT user_id, array_to_string(list_sort(array_agg(event_type)), ',') AS events_csv
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q41_pivot" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q42_pipeline" ->
      s"""WITH surv AS (
        |  SELECT MIN(doc_id) AS doc_id FROM documents WHERE lang = 'en' GROUP BY md5(text)),
        |tok AS (
        |  SELECT d.source, len(${Tokens.Space.sql("d.text")}) AS n_tok
        |  FROM documents d JOIN surv USING (doc_id) WHERE d.lang = 'en')
        |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
        |FROM tok WHERE n_tok >= 40 GROUP BY source ORDER BY source""".stripMargin,
    // full IVF replay (ALGORITHMIC-REPLAY family, rows-only ->
    // hash-matched, r12): the coarse quantizer is the q142 fixed-point
    // centroid arithmetic run as IvfIters bounded Lloyd rounds — md5
    // seed/sample selection, BIGINT squared-L2 argmin (ties to the
    // smaller cell id), truncating per-dim division, empty cells drop
    // (see [[IvfCoarseSql]] for the shared chain discipline); then
    // exact fixed-point cosine over the nprobe candidate lists
    "q43_knn_ivf" -> (IvfCoarseSql +
      """,
        |nr AS (
        |  SELECT vec_id, CAST(SUM(q[i] * q[i]) AS BIGINT) AS nrm
        |  FROM qv, range(1, 65) t(i) GROUP BY 1),
        |cand AS (
        |  SELECT p.probe_id, a.vec_id FROM pc p JOIN asg a USING (cell)
        |  WHERE a.vec_id <> p.probe_id),
        |dotp AS (
        |  SELECT c.probe_id, c.vec_id, CAST(SUM(pq.q[i] * cq.q[i]) AS BIGINT) AS dot
        |  FROM cand c
        |  JOIN qv pq ON pq.vec_id = c.probe_id
        |  JOIN qv cq ON cq.vec_id = c.vec_id, range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT d.probe_id, d.vec_id,
        |    CAST(d.dot AS DOUBLE) / sqrt(CAST(np2.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS cosine
        |  FROM dotp d JOIN nr np2 ON np2.vec_id = d.probe_id JOIN nr nc ON nc.vec_id = d.vec_id)
        |SELECT probe_id, vec_id, cosine,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
        |FROM scored QUALIFY rnk <= 3 ORDER BY probe_id, rnk""".stripMargin),
    // embedding near-dup via the same replayed hyperplane signatures as
    // q24, plus the distinct-member bucket cap with drop stats and the
    // exact fixed-point cosine verify (rows-only -> hash-matched, r11)
    "q44_dedup_embed" ->
      s"""WITH planes(tbl, pb, ks) AS (SELECT * FROM (VALUES ${graft.operators.Similarity.planeValuesSql}) v),
        |bits AS (
        |  SELECT e.vec_id, p.tbl, p.pb,
        |    CASE WHEN len(e.embedding) = 0 THEN 1
        |      WHEN list_reduce(
        |        list_transform(range(1, LEAST(len(e.embedding), 64) + 1),
        |          i -> CAST(e.embedding[CAST(i AS INTEGER)] AS DOUBLE) * (ks[CAST(i AS INTEGER)] / 1000.0)),
        |        (a, c) -> a + c) >= 0 THEN 1 ELSE 0 END AS bit
        |  FROM embeddings e, planes p),
        |sigs AS (
        |  SELECT vec_id, tbl, CAST(SUM(bit * (1 << pb)) AS INTEGER) AS sig
        |  FROM bits GROUP BY 1, 2),
        |hot AS (
        |  SELECT tbl, sig, COUNT(DISTINCT vec_id) AS hn FROM sigs GROUP BY 1, 2
        |  HAVING COUNT(DISTINCT vec_id) > 64),
        |stats AS (
        |  SELECT COUNT(*) AS n_dropped_buckets,
        |    CAST(COALESCE(SUM(hn), 0) AS BIGINT) AS n_dropped_members FROM hot),
        |ok AS (
        |  SELECT s.vec_id, s.tbl, s.sig FROM sigs s
        |  LEFT JOIN hot h ON h.tbl = s.tbl AND h.sig = s.sig WHERE h.hn IS NULL),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        |  FROM ok x JOIN ok y ON x.tbl = y.tbl AND x.sig = y.sig AND x.vec_id < y.vec_id),
        |q AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |nrm AS (
        |  SELECT vec_id, CAST(SUM(qv[i] * qv[i]) AS BIGINT) AS nrm
        |  FROM q, range(1, 65) t(i) GROUP BY 1),
        |dotp AS (
        |  SELECT c.a, c.b, CAST(SUM(qa.qv[i] * qb.qv[i]) AS BIGINT) AS dot
        |  FROM cand c
        |  JOIN q qa ON qa.vec_id = c.a
        |  JOIN q qb ON qb.vec_id = c.b, range(1, 65) t(i)
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT d.a, d.b,
        |    CAST(d.dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cosine
        |  FROM dotp d JOIN nrm na ON na.vec_id = d.a JOIN nrm nb ON nb.vec_id = d.b),
        |pervec AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN cosine >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        |    MAX(cosine) AS best_cosine
        |  FROM (SELECT a AS vec_id, cosine FROM scored
        |    UNION ALL SELECT b AS vec_id, cosine FROM scored) u GROUP BY 1)
        |SELECT e.vec_id, COALESCE(p.n_dups, 0) AS n_dups,
        |  COALESCE(p.best_cosine, -1.0) AS best_cosine,
        |  st.n_dropped_buckets, st.n_dropped_members
        |FROM embeddings e LEFT JOIN pervec p USING (vec_id), stats st
        |ORDER BY e.vec_id""".stripMargin,
    "q45_multimodal_frames" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_idx, CAST(i * 4096 AS BIGINT) AS frame_off,
        |  CAST(greatest(least(4096, n - i * 4096), 0) AS BIGINT) AS frame_len
        |FROM (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents) d,
        |  range(0, 16) t(i)
        |WHERE i < greatest(least(CAST((n + 4095) // 4096 AS BIGINT), 16), 1)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q46_multimodal_features" ->
      """WITH d AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents)
        |SELECT doc_id,
        |  CAST((n * 7919) % 1000 AS DOUBLE) / 1000.0 AS f0,
        |  CAST((n * 7926) % 1000 AS DOUBLE) / 1000.0 AS f7,
        |  (SELECT CAST(SUM(((n * (i + 7919)) % 1000) * ((n * (i + 7919)) % 1000)) AS BIGINT)
        |   FROM range(0, 8) t(i)) AS norm_q
        |FROM d ORDER BY doc_id""".stripMargin,
    "q47_above_avg" ->
      """WITH g AS (
        |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS g_avg
        |  FROM orders)
        |SELECT o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY o_custkey
        |HAVING CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) > (SELECT g_avg FROM g) * 1.2
        |ORDER BY o_custkey""".stripMargin,
    "q48_having" ->
      """SELECT l_partkey, COUNT(*) AS n FROM lineitem
        |GROUP BY l_partkey HAVING COUNT(*) >= 40 ORDER BY l_partkey""".stripMargin,
    "q49_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE substr(md5(text), 1, 1) = '0' ORDER BY doc_id""".stripMargin,
    "q50_split" ->
      """SELECT lang,
        |  CASE WHEN substr(md5(text), 1, 1) <= 'b' THEN 'train'
        |       WHEN substr(md5(text), 1, 1) <= 'd' THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n
        |FROM documents GROUP BY lang, split ORDER BY lang, split""".stripMargin,
    "q29_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS width,
        |  CAST(octet_length(encode(text)) % 480 + 1 AS BIGINT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q51_quality_repetition" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, unnest(${Tokens.Space.piecesSql("text")}) AS tok FROM documents),
        |c AS (
        |  SELECT doc_id, source, tok, COUNT(*) AS c FROM t WHERE tok <> '' GROUP BY 1, 2, 3),
        |st AS (
        |  SELECT doc_id, source, CAST(SUM(c) AS BIGINT) AS n_tok,
        |    COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_cnt
        |  FROM c GROUP BY 1, 2)
        |SELECT doc_id, source, n_tok, n_distinct, top_cnt,
        |  CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE) AS distinct_ratio,
        |  CAST(top_cnt AS DOUBLE) / CAST(n_tok AS DOUBLE) AS top_ratio
        |FROM st
        |WHERE CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE) < 0.32
        |   OR CAST(top_cnt AS DOUBLE) / CAST(n_tok AS DOUBLE) > 0.12
        |ORDER BY doc_id""".stripMargin,
    "q52_term_scores" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, unnest(${Tokens.Space.piecesSql("text")}) AS tok FROM documents),
        |tt AS (SELECT doc_id, source, tok FROM t WHERE tok <> ''),
        |tf AS (SELECT source, tok, COUNT(*) AS tf FROM tt GROUP BY 1, 2),
        |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tt GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.source, tf.tok, tf.tf, df.df,
        |    CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
        |  FROM tf JOIN df USING (tok) CROSS JOIN n),
        |rnk AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, tok ASC) AS rnk
        |  FROM scored)
        |SELECT source, tok, tf, df, score, rnk FROM rnk
        |WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin,
    "q53_copurchase_clusters" ->
      """WITH RECURSIVE hi AS (
        |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 49),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM hi a JOIN hi b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey <> b.l_partkey),
        |nodes AS (SELECT DISTINCT l_partkey AS p FROM hi),
        |reach(p, lbl) AS (
        |  SELECT p, p FROM nodes
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.p WHERE r.lbl < e.dst),
        |cl AS (SELECT p, MIN(lbl) AS cluster_id FROM reach GROUP BY p),
        |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cl GROUP BY 1)
        |SELECT cl.p AS l_partkey, cl.cluster_id, sz.cluster_size
        |FROM cl JOIN sz USING (cluster_id) ORDER BY l_partkey""".stripMargin,
    "q54_bloom_join" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 200000)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q57_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5(text), 1, 1) <
        |  CASE WHEN lang = 'en' THEN '4' WHEN lang = 'de' THEN '8' ELSE '2' END
        |ORDER BY doc_id""".stripMargin,
    "q58_decontaminate" -> Q58Sql,
    "q59_vocab_coverage" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, unnest(${Tokens.Space.piecesSql("text")}) AS tok FROM documents),
        |tt AS (SELECT doc_id, source, tok FROM t WHERE tok <> ''),
        |v AS (
        |  SELECT tok FROM (
        |    SELECT tok, COUNT(*) AS c FROM tt GROUP BY tok
        |    ORDER BY c DESC, tok ASC LIMIT 20)),
        |per AS (
        |  SELECT source, COUNT(*) AS n_tok,
        |    SUM(CASE WHEN tok IN (SELECT tok FROM v) THEN 0 ELSE 1 END) AS n_oov
        |  FROM tt GROUP BY source),
        |dc AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
        |SELECT dc.source, dc.n_docs,
        |  CAST(per.n_tok AS BIGINT) AS sum_tokens,
        |  CAST(per.n_oov AS BIGINT) AS sum_oov,
        |  CAST(per.n_oov AS DOUBLE) / CAST(per.n_tok AS DOUBLE) AS oov_rate
        |FROM dc JOIN per ON dc.source = per.source
        |ORDER BY dc.source""".stripMargin,
    "q60_chunk" ->
      s"""WITH tok AS (
        |  SELECT doc_id, ${Tokens.Space.sql("text")} AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM tok),
        |c AS (
        |  SELECT doc_id, toks, n,
        |    CASE WHEN n <= 32 THEN 1
        |         ELSE CAST(ceil(CAST(n - 32 AS DOUBLE) / 24) AS BIGINT) + 1 END AS n_chunks
        |  FROM n),
        |k AS (SELECT doc_id, toks, n, unnest(range(0, n_chunks)) AS k FROM c)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
        |  CAST(k * 24 AS BIGINT) AS chunk_start,
        |  CAST(least(32, n - k * 24) AS BIGINT) AS chunk_len,
        |  toks[CAST(k * 24 + 1 AS BIGINT)] AS first_tok
        |FROM k ORDER BY doc_id, chunk_idx""".stripMargin,
    "q61_source_quota" ->
      """SELECT doc_id, source, rk FROM (
        |  SELECT doc_id, source,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS BIGINT) AS rk
        |  FROM documents) t
        |WHERE rk <= 15 ORDER BY doc_id""".stripMargin,
    "q62_pack_sequences" ->
      s"""WITH t AS (
        |  SELECT doc_id, len(${Tokens.Space.sql("text")}) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    COALESCE(SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM t)
        |SELECT CAST(cum // 256 AS BIGINT) AS seq_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    "q56_multimodal_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS src_w,
        |    CAST(octet_length(encode(text)) % 480 + 1 AS BIGINT) AS src_h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, src_w, src_h,
        |    greatest(src_w * 224 // greatest(src_w, src_h), 1) AS dst_w,
        |    greatest(src_h * 224 // greatest(src_w, src_h), 1) AS dst_h
        |  FROM m)
        |SELECT doc_id, src_w, src_h, dst_w, dst_h,
        |  CAST(dst_w * dst_h * 3 AS BIGINT) AS out_bytes
        |FROM r ORDER BY doc_id""".stripMargin,
    // REGEX-REPLAY oracle (was analytic through r15): the redaction
    // chain re-runs in DuckDB on the same planted text — email replayed
    // verbatim (no lookarounds), IPv4's lookarounds re-expressed as
    // prefix/suffix captures restored by group reference (RE2-safe),
    // and the engine's date guard realized as a LENGTH-PRESERVING
    // digit->letter mask of the 4-2-2 date shape before the phone rule
    // runs: the corpus text carries zero digits (verified per SF), so
    // the only 4-2-2 run IS the planted date, and masking it replays
    // exactly what the engine's negative lookahead refuses. The phone
    // rule's separated-block core then replays structurally
    // (+country / paren group / 2-4-digit dash-dot-space blocks) with
    // capture-restored boundaries. chars_removed falls out of the
    // replayed lengths — the mask keeps them engine-identical — so a
    // drift in planting OR regex semantics hash-mismatches on real
    // regex execution, not on planting arithmetic.
    "q63_pii_redact" ->
      """WITH p AS (
        |  SELECT source,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      || ' or +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |      || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' via 10.' || CAST(doc_id % 250 AS VARCHAR)
        |      || '.0.' || CAST(doc_id % 199 + 1 AS VARCHAR)
        |      || ' on 2026-08-12' AS t
        |  FROM documents),
        |r1 AS (
        |  SELECT source, t,
        |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS t1
        |  FROM p),
        |r2 AS (
        |  SELECT source, t, t1,
        |    regexp_replace(t1,
        |      '(^|[^0-9.])((?:[0-9]{1,3}\.){3}[0-9]{1,3})($|[^0-9.])',
        |      '\1<IP>\3', 'g') AS t2
        |  FROM r1),
        |r3 AS (
        |  SELECT source, t, t1, t2,
        |    regexp_replace(t2, '[0-9]{4}-[0-9]{2}-[0-9]{2}', 'DDDD-DD-DD', 'g') AS t2m
        |  FROM r2),
        |r4 AS (
        |  SELECT source, t, t1, t2m,
        |    regexp_replace(t2m,
        |      '(^|[^0-9])(\+?(?:[0-9]{1,3}[-. ])?(?:\([0-9]{2,4}\)[-. ]?)?[0-9]{2,4}(?:[-. ][0-9]{2,4}){1,3})($|[^0-9])',
        |      '\1<PHONE>\3', 'g') AS t3
        |  FROM r3)
        |SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_emails,
        |  CAST(sum(len(regexp_extract_all(t1,
        |    '(^|[^0-9.])((?:[0-9]{1,3}\.){3}[0-9]{1,3})($|[^0-9.])'))) AS BIGINT) AS n_ips,
        |  CAST(sum(len(regexp_extract_all(t2m,
        |    '(^|[^0-9])(\+?(?:[0-9]{1,3}[-. ])?(?:\([0-9]{2,4}\)[-. ]?)?[0-9]{2,4}(?:[-. ][0-9]{2,4}){1,3})($|[^0-9])'))) AS BIGINT) AS n_phones,
        |  CAST(sum(length(t) - length(t3)) AS BIGINT) AS chars_removed
        |FROM r4
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    "q64_span_dedup" ->
      s"""WITH toks AS (
        |  SELECT doc_id, ${Tokens.Space.sql("text")} AS t FROM documents),
        |g AS (
        |  SELECT doc_id, md5(unnest(list_transform(
        |    generate_series(1, greatest(len(t) - 15, 0)),
        |    i -> array_to_string(t[i:i+15], ' ')))) AS gh
        |  FROM toks),
        |pg AS (SELECT gh, doc_id, COUNT(*) AS k FROM g GROUP BY 1, 2),
        |tot AS (SELECT gh, SUM(k) AS c FROM pg GROUP BY 1),
        |per AS (
        |  SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_grams,
        |    CAST(SUM(CASE WHEN c > 1 THEN k ELSE 0 END) AS BIGINT) AS n_dup_grams
        |  FROM pg JOIN tot USING (gh) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_grams, 0) AS n_grams,
        |  COALESCE(per.n_dup_grams, 0) AS n_dup_grams,
        |  CASE WHEN COALESCE(per.n_grams, 0) = 0 THEN 0.0
        |    ELSE CAST(per.n_dup_grams AS DOUBLE) / CAST(per.n_grams AS DOUBLE)
        |  END AS dup_ratio
        |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "q65_unigram_quality" ->
      s"""WITH t AS (
        |  SELECT doc_id, unnest(${Tokens.Space.sql("text")}) AS tok
        |  FROM documents),
        |c AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY 1),
        |v AS (SELECT tok, CAST(c AS BIGINT) AS c FROM c ORDER BY c DESC, tok ASC LIMIT 25),
        |per AS (
        |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |    CAST(SUM(COALESCE(v.c, 0)) AS BIGINT) AS sum_freq
        |  FROM t LEFT JOIN v USING (tok) GROUP BY 1)
        |SELECT doc_id, n_tok, sum_freq,
        |  CAST(sum_freq AS DOUBLE) / CAST(n_tok AS DOUBLE) AS avg_freq
        |FROM per ORDER BY doc_id""".stripMargin,
    "q66_pair_counts" ->
      s"""WITH toks AS (
        |  SELECT ${Tokens.Space.sql("text")} AS t FROM documents),
        |p AS (
        |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1])) AS pair
        |  FROM toks)
        |SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM p GROUP BY 1 ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin,
    "q67_temperature_resample" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |g AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY 1),
        |k AS (
        |  SELECT lang, CAST(FLOOR(SQRT(CAST(c AS DOUBLE) / CAST(n.n AS DOUBLE)) * 65536) AS BIGINT) AS k
        |  FROM g CROSS JOIN n)
        |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) FILTER (k.k >= 65536
        |    OR substr(md5(d.text), 1, 4) < lpad(lower(hex(k.k)), 4, '0')) AS BIGINT) AS n_kept,
        |  CAST(MAX(k.k) AS DOUBLE) / 65536 AS keep_rate
        |FROM documents d JOIN k USING (lang) GROUP BY 1 ORDER BY d.lang""".stripMargin,
    "q68_curation_pipeline" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, text,
        |    CAST(len(${Tokens.Space.sql("text")}) AS BIGINT) AS n_tok
        |  FROM documents),
        |gated AS (SELECT * FROM t WHERE n_tok BETWEEN 10 AND 80),
        |reps AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
        |dd AS (SELECT g.* FROM gated g JOIN reps USING (doc_id)),
        |rk AS (
        |  SELECT doc_id, source, n_tok,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rk
        |  FROM dd)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
        |FROM rk WHERE rk <= 10 GROUP BY source ORDER BY source""".stripMargin,
    // full cross-corpus MinHash replay (unlocked by the q20 hash-family
    // conversion — the old "sub-threshold candidates are not replayable"
    // argument dissolved when shingles/permutations moved to mod 2^61-1):
    // exact md5 collapse of the corpus side, rep + benchmark signatures,
    // band buckets, the probe-side distinct-rep bucket cap with stats,
    // and the exact-Jaccard verify, rolled up per source
    "q69_cross_contamination" ->
      s"""WITH tok AS (SELECT doc_id, lower(COALESCE(text, '')) AS t FROM documents),
        |win AS (
        |  SELECT doc_id,
        |    CASE WHEN length(t) < 5 THEN t ELSE substr(t, CAST(i AS INTEGER), 5) END AS w
        |  FROM tok, unnest(range(1, GREATEST(length(t) - 3, 2))) u(i)),
        |shd AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN length(w) = 0 THEN CAST(0 AS HUGEINT)
        |      ELSE list_reduce(
        |        list_transform(range(1, length(w) + 1),
        |          k -> CAST(ord(substr(w, CAST(k AS INTEGER), 1)) AS HUGEINT)),
        |        (h, c) -> (h * 1000003 + c) % 2305843009213693951)
        |    END AS x
        |  FROM win),
        |perm(j, a, b) AS (SELECT * FROM (VALUES ${graft.operators.Dedup.permSeedValuesSql}) v),
        |sig AS (
        |  SELECT doc_id, j, MIN((CAST(a AS HUGEINT) * x + b) % 2305843009213693951) AS v
        |  FROM shd, perm GROUP BY 1, 2),
        |bnd AS (
        |  SELECT doc_id, j // 4 AS band, list(v ORDER BY j) AS vs
        |  FROM sig GROUP BY doc_id, j // 4),
        |bh0 AS (
        |  SELECT doc_id, band,
        |    ((((((CAST(1125899906842597 AS HUGEINT) * 31 + vs[1])
        |      % 18446744073709551616 * 31 + vs[2])
        |      % 18446744073709551616 * 31 + vs[3])
        |      % 18446744073709551616 * 31 + vs[4])
        |      % 18446744073709551616)) AS h
        |  FROM bnd),
        |rep AS (
        |  SELECT h, MIN(doc_id) AS rep FROM (
        |    SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 97 <> 0) z
        |  GROUP BY h),
        |docrep AS (
        |  SELECT d.doc_id, d.source, r.rep
        |  FROM documents d JOIN rep r ON md5(d.text) = r.h
        |  WHERE d.doc_id % 97 <> 0),
        |reps AS (SELECT DISTINCT rep FROM docrep),
        |bkeys AS (
        |  SELECT DISTINCT band, h FROM bh0 WHERE doc_id % 97 = 0),
        |probe AS (
        |  SELECT b.doc_id AS rep, b.band, b.h
        |  FROM bh0 b JOIN reps ON reps.rep = b.doc_id
        |  JOIN bkeys k ON k.band = b.band AND k.h = b.h),
        |hot AS (
        |  SELECT band, h, COUNT(DISTINCT rep) AS hn FROM probe GROUP BY 1, 2
        |  HAVING COUNT(DISTINCT rep) > 64),
        |stats AS (
        |  SELECT COUNT(*) AS n_dropped_buckets,
        |    CAST(COALESCE(SUM(hn), 0) AS BIGINT) AS n_dropped_members FROM hot),
        |okp AS (
        |  SELECT p.rep, p.band, p.h FROM probe p
        |  LEFT JOIN hot t ON t.band = p.band AND t.h = p.h WHERE t.hn IS NULL),
        |cand AS (
        |  SELECT DISTINCT o.rep, bb.doc_id AS bench_id
        |  FROM okp o JOIN bh0 bb ON bb.band = o.band AND bb.h = o.h
        |  WHERE bb.doc_id % 97 = 0),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY 1),
        |ix AS (
        |  SELECT c.rep, c.bench_id, COUNT(sb.x) AS inter
        |  FROM cand c
        |  JOIN shd sa ON sa.doc_id = c.rep
        |  LEFT JOIN shd sb ON sb.doc_id = c.bench_id AND sb.x = sa.x
        |  GROUP BY 1, 2),
        |ver AS (
        |  SELECT i.rep,
        |    MAX(CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE)) AS best_j
        |  FROM ix i JOIN sizes sa ON sa.doc_id = i.rep
        |  JOIN sizes sb ON sb.doc_id = i.bench_id GROUP BY 1),
        |roll AS (
        |  SELECT dr.source,
        |    COUNT(*) AS n_docs,
        |    CAST(SUM(CASE WHEN v.best_j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |    CAST(SUM(CASE WHEN v.best_j >= 0.5 THEN 0 ELSE 1 END) AS BIGINT) AS n_clean,
        |    MAX(COALESCE(v.best_j, 0.0)) AS max_jaccard
        |  FROM docrep dr LEFT JOIN ver v ON v.rep = dr.rep GROUP BY 1)
        |SELECT r.source, r.n_docs, r.n_contaminated, r.n_clean, r.max_jaccard,
        |  st.n_dropped_buckets, st.n_dropped_members
        |FROM roll r, stats st ORDER BY r.source""".stripMargin,
    // identical to q36's oracle: the streaming sessionizer on a bounded
    // source must reproduce the batch answer exactly
    "q70_stream_sessionize" ->
      """SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
        |FROM (
        |  SELECT user_id, ts_us,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |      CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                   > 1800000000 THEN 1 ELSE 0 END AS new_session
        |    FROM events) t1) t2
        |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    // fixed-point quantization (round(x*1e6) BIGINT) makes every dot,
    // norm, and cosine integer-exact and order-independent, so the
    // embedding decontamination rollup hash-matches bit-for-bit
    "q71_embed_decontaminate" -> Q71Sql,
    // independent SQL reimplementation of the Luhn mod-10 checksum over
    // the same planted 16-digit PANs (check digit = doc_id % 10, so
    // validity is data-dependent): the n_valid split only matches if
    // both engines' checksums agree digit for digit
    "q72_card_audit" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    '4' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 14, '0') || CAST(doc_id % 10 AS VARCHAR) AS c16
        |  FROM documents),
        |l AS (
        |  SELECT source,
        |    CAST(list_sum(list_transform(range(1, 17), i ->
        |      CASE WHEN i % 2 = 1
        |           THEN CASE WHEN 2 * CAST(substr(c16, i, 1) AS INTEGER) > 9
        |                     THEN 2 * CAST(substr(c16, i, 1) AS INTEGER) - 9
        |                     ELSE 2 * CAST(substr(c16, i, 1) AS INTEGER) END
        |           ELSE CAST(substr(c16, i, 1) AS INTEGER) END)) AS BIGINT) AS s
        |  FROM t)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |  CAST(SUM(CASE WHEN s % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        |  CAST(SUM(CASE WHEN s % 10 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid,
        |  CAST(COUNT(*) * 13 AS BIGINT) AS chars_removed
        |FROM l GROUP BY source ORDER BY source""".stripMargin,
    // integer fixed-point PageRank (ranks in 1e-6 units, damping 85//100,
    // integral division) unrolled to the same 5 iterations: sums are
    // order-independent so the BIGINT ranks match bit-for-bit
    "q73_pagerank" -> {
      val head =
        """WITH hi AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 49),
          |pairs AS (
          |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |  FROM hi a JOIN hi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
          |deg AS (SELECT src, COUNT(*) AS deg FROM pairs GROUP BY src),
          |nodes AS (SELECT DISTINCT l_partkey AS p FROM hi),
          |r0 AS (SELECT p, CAST(1000000 AS BIGINT) AS r FROM nodes)""".stripMargin
      val iters = (1 to 5).map { i =>
        s""",
           |r$i AS (
           |  SELECT n.p, CAST(150000 + (85 * COALESCE(c.cs, 0)) // 100 AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst, CAST(SUM(r.r // d.deg) AS BIGINT) AS cs
           |    FROM pairs e JOIN deg d ON e.src = d.src JOIN r${i - 1} r ON r.p = e.src
           |    GROUP BY e.dst) c ON n.p = c.dst)""".stripMargin
      }.mkString
      val tail =
        """
          |SELECT n.p AS l_partkey, CAST(COALESCE(d.deg, 0) AS BIGINT) AS degree, r5.r AS rank_fp
          |FROM nodes n LEFT JOIN deg d ON n.p = d.src JOIN r5 ON r5.p = n.p
          |ORDER BY l_partkey""".stripMargin
      head + iters + tail
    },
    // quantile_cont's linear interpolation is bit-identical to Spark's
    // exact percentile aggregate (verified on this data)
    "q74_length_profile" ->
      s"""WITH t AS (
         |  SELECT source, CAST(len(${Tokens.Space.sql("text")}) AS BIGINT) AS n_tok FROM documents)
         |SELECT source, COUNT(*) AS n_docs,
         |  MIN(n_tok) AS min_tok,
         |  quantile_cont(n_tok, 0.25) AS p25_tok,
         |  quantile_cont(n_tok, 0.5) AS p50_tok,
         |  quantile_cont(n_tok, 0.95) AS p95_tok,
         |  MAX(n_tok) AS max_tok,
         |  CAST(SUM(n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_tok
         |FROM t GROUP BY source ORDER BY source""".stripMargin,
    // same planted quotes, same md5-derived 5-gram keys, same
    // containment ratio and max — the per-source flag split only
    // matches if the whole gram pipeline agrees
    "q75_containment" -> Q75Sql,
    // tumbling windows are epoch-aligned, so the streaming window
    // aggregation must equal plain bucket arithmetic on event time
    "q76_stream_windows" ->
      """SELECT ts_us - ts_us % 60000000 AS win_start_us, event_type, COUNT(*) AS n
        |FROM (SELECT CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_type FROM events) t
        |GROUP BY 1, 2 ORDER BY win_start_us, event_type""".stripMargin,
    // same all-double (cxy*N)/(cx*cy) tree -> bit-identical rational
    // PMI scores; count floor and (score desc, pair asc) cut mirrored
    "q77_pmi_scores" ->
      s"""WITH toks AS (
        |  SELECT unnest(${Tokens.Space.sql("text")}) AS tok
        |  FROM documents),
        |uni AS (SELECT tok, COUNT(*) AS c1 FROM toks GROUP BY tok),
        |n AS (SELECT COUNT(*) AS total FROM toks),
        |t2 AS (
        |  SELECT doc_id, ${Tokens.Space.sql("text")} AS t
        |  FROM documents),
        |pairs AS (
        |  SELECT t[i] AS x, t[i+1] AS y, COUNT(*) AS cxy
        |  FROM t2, unnest(range(1, len(t))) u(i)
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT p.x || ' ' || p.y AS pair, p.cxy,
        |  (CAST(p.cxy AS DOUBLE) * CAST(n.total AS DOUBLE)) /
        |    (CAST(ux.c1 AS DOUBLE) * CAST(uy.c1 AS DOUBLE)) AS pmi_ratio
        |FROM pairs p, n
        |JOIN uni ux ON ux.tok = p.x
        |JOIN uni uy ON uy.tok = p.y
        |ORDER BY pmi_ratio DESC, pair ASC LIMIT 20""".stripMargin,
    // plain hash semi-join over the same planted copies: the engine's
    // Bloom pruning is an optimization and must be invisible here
    "q78_incremental_dedup" ->
      """WITH ex AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |inc AS (
        |  SELECT i.doc_id, i.source,
        |    CASE WHEN i.doc_id % 11 = 0 AND e.text IS NOT NULL THEN e.text
        |         ELSE i.text END AS text
        |  FROM (SELECT * FROM documents WHERE doc_id % 2 = 1) i
        |  LEFT JOIN ex e ON e.doc_id = i.doc_id - 1),
        |exh AS (SELECT DISTINCT md5(text) AS h FROM ex),
        |cls AS (
        |  SELECT source,
        |    CASE WHEN md5(text) IN (SELECT h FROM exh) THEN 1 ELSE 0 END AS dup
        |  FROM inc)
        |SELECT source, COUNT(*) AS n_incoming,
        |  CAST(SUM(dup) AS BIGINT) AS n_dup,
        |  CAST(SUM(1 - dup) AS BIGINT) AS n_new
        |FROM cls GROUP BY source ORDER BY source""".stripMargin,
    // exact-edge cluster-safe split: identical-content collapse (min
    // doc_id per md5), q88's brute-force gram-join Jaccard edges between
    // representatives at t=0.5, min-label components via recursive CTE
    // (q53's pattern), split from the label doc's md5 first hex char
    "q79_cluster_split" ->
      s"""WITH RECURSIVE h AS (
        |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM documents),
        |reps AS (
        |  SELECT d.doc_id, d.text FROM documents d
        |  JOIN h ON h.doc_id = d.doc_id WHERE h.doc_id = h.rep),
        |tok AS (
        |  SELECT doc_id,
        |    ${Tokens.SpaceLower.sqlOrEmpty("text")} AS t
        |  FROM reps),
        |g AS (
        |  SELECT DISTINCT doc_id, substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 16) AS k
        |  FROM tok, unnest(range(1, len(t) - 1)) u(i)),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |ix AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
        |  FROM g a JOIN g b ON a.k = b.k AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pr AS (
        |  SELECT ix.a, ix.b FROM ix
        |  JOIN sz sa ON sa.doc_id = ix.a
        |  JOIN sz sb ON sb.doc_id = ix.b
        |  WHERE CAST(ix.c AS DOUBLE) / CAST(sa.n + sb.n - ix.c AS DOUBLE) >= 0.5),
        |e AS (SELECT a AS src, b AS dst FROM pr UNION ALL SELECT b AS src, a AS dst FROM pr),
        |reach(p, lbl) AS (
        |  SELECT doc_id, doc_id FROM reps
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.p WHERE r.lbl < e.dst),
        |cl AS (SELECT p, MIN(lbl) AS cluster_id FROM reach GROUP BY p),
        |doccl AS (SELECT h.doc_id, cl.cluster_id FROM h JOIN cl ON cl.p = h.rep),
        |spl AS (
        |  SELECT dc.doc_id, dc.cluster_id,
        |    CASE WHEN substr(md5(d.text), 1, 1) <= 'b' THEN 'train'
        |         WHEN substr(md5(d.text), 1, 1) <= 'd' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM doccl dc JOIN documents d ON d.doc_id = dc.cluster_id)
        |SELECT split, COUNT(*) AS n_docs,
        |  CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters
        |FROM spl GROUP BY split ORDER BY split""".stripMargin,
    // same chained whole-partition window minima: stage timestamps
    // cascade (click after first view, purchase after first qualifying
    // click), each within the 24h conversion window, at microsecond
    // truncation
    "q80_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
        |v1 AS (
        |  SELECT user_id, event_type, us,
        |    MIN(CASE WHEN event_type = 'view' THEN us END) OVER (PARTITION BY user_id) AS v
        |  FROM e),
        |v2 AS (
        |  SELECT user_id, event_type, us, v,
        |    MIN(CASE WHEN event_type = 'click' AND us > v AND us <= v + 86400000000 THEN us END) OVER (PARTITION BY user_id) AS c
        |  FROM v1),
        |v3 AS (
        |  SELECT user_id, v, c,
        |    MIN(CASE WHEN event_type = 'purchase' AND us > c AND us <= c + 86400000000 THEN us END) OVER (PARTITION BY user_id) AS p
        |  FROM v2),
        |staged AS (
        |  SELECT DISTINCT user_id,
        |    CASE WHEN p IS NOT NULL THEN 3
        |         WHEN c IS NOT NULL THEN 2
        |         WHEN v IS NOT NULL THEN 1
        |         ELSE 0 END AS stage
        |  FROM v3)
        |SELECT CAST(stage AS BIGINT) AS stage, COUNT(*) AS n_users
        |FROM staged GROUP BY stage ORDER BY stage""".stripMargin,
    // the q22 lexical pipeline (top-20 slate) composed with the q23
    // fixed-point cosine, fused as 0.5*jaccard + 0.5*cosine — every
    // stage is exact, so the two-stage ranking hash-matches end to end
    "q81_hybrid_search" ->
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    ${Tokens.SpaceLower.sqlOrEmpty("text")} AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 16) AS k
        |  FROM tok, unnest(range(1, len(t) - 1)) u(i)),
        |dg AS (SELECT DISTINCT doc_id, k FROM g),
        |hot AS (SELECT k FROM dg GROUP BY k HAVING COUNT(*) > 1000),
        |fg AS (SELECT * FROM dg WHERE k NOT IN (SELECT k FROM hot)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM fg GROUP BY doc_id),
        |inter AS (
        |  SELECT p.doc_id AS probe_id, f.doc_id, COUNT(*) AS ix
        |  FROM fg p JOIN fg f ON p.k = f.k AND f.doc_id <> p.doc_id
        |  WHERE p.doc_id < 10
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT i.probe_id, i.doc_id,
        |    CAST(i.ix AS DOUBLE) / CAST(sa.n + sb.n - i.ix AS DOUBLE) AS jaccard
        |  FROM inter i
        |  JOIN sizes sa ON sa.doc_id = i.probe_id
        |  JOIN sizes sb ON sb.doc_id = i.doc_id),
        |lex AS (
        |  SELECT probe_id, doc_id, jaccard FROM (
        |    SELECT probe_id, doc_id, jaccard,
        |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY jaccard DESC, doc_id) AS lrk
        |    FROM scored) z
        |  WHERE lrk <= 20),
        |q AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |norms AS (
        |  SELECT vec_id, CAST(SUM(qv[i] * qv[i]) AS BIGINT) AS nrm
        |  FROM q, range(1, 65) t(i) GROUP BY vec_id),
        |rr AS (
        |  SELECT l.probe_id, l.doc_id, l.jaccard,
        |    CAST(SUM(qp.qv[i] * qc.qv[i]) AS BIGINT) AS dot
        |  FROM lex l
        |  JOIN q qp ON qp.vec_id = l.probe_id
        |  JOIN q qc ON qc.vec_id = l.doc_id, range(1, 65) t(i)
        |  GROUP BY 1, 2, 3),
        |fused AS (
        |  SELECT rr.probe_id, rr.doc_id, rr.jaccard,
        |    CAST(rr.dot AS DOUBLE) / sqrt(CAST(np.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS cosine
        |  FROM rr
        |  JOIN norms np ON np.vec_id = rr.probe_id
        |  JOIN norms nc ON nc.vec_id = rr.doc_id)
        |SELECT probe_id, doc_id, jaccard, cosine, score, rnk FROM (
        |  SELECT probe_id, doc_id, jaccard, cosine,
        |    0.5 * jaccard + 0.5 * cosine AS score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY 0.5 * jaccard + 0.5 * cosine DESC, doc_id) AS BIGINT) AS rnk
        |  FROM fused) z
        |WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,
    // q64's gram stream with positions; coverage = union of [pos, pos+15]
    // windows over duplicated grams (position base 1 vs 0 cancels out —
    // only counts cross the oracle)
    "q82_span_coverage" ->
      s"""WITH toks AS (
        |  SELECT doc_id, ${Tokens.Space.sql("text")} AS t FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+15], ' ')) AS gh
        |  FROM toks, unnest(generate_series(1, greatest(len(t) - 15, 0))) u(i)),
        |dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) > 1),
        |cov AS (
        |  SELECT DISTINCT doc_id, p
        |  FROM g JOIN dup USING (gh), unnest(generate_series(pos, pos + 15)) v(p)),
        |per AS (SELECT doc_id, COUNT(*) AS n_covered FROM cov GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tok,
        |  CAST(COALESCE(per.n_covered, 0) AS BIGINT) AS n_covered,
        |  CASE WHEN len(t.t) = 0 THEN 0.0
        |    ELSE CAST(COALESCE(per.n_covered, 0) AS DOUBLE) / CAST(len(t.t) AS DOUBLE)
        |  END AS cov_ratio
        |FROM toks t LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // the batch formulation of the streaming interval join: purchase x
    // same-user views <= 10 min back, inclusive bounds on both ends
    "q83_stream_attribution" ->
      """WITH e AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us, event_type, value FROM events),
        |pairs AS (
        |  SELECT p.user_id, c.us AS click_us, p.value
        |  FROM e p JOIN e c ON c.user_id = p.user_id
        |    AND c.event_type = 'view' AND p.event_type = 'purchase'
        |    AND c.us <= p.us AND c.us >= p.us - 600000000)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS attributed_value,
        |  CAST(MIN(click_us) AS BIGINT) AS first_click_us
        |FROM pairs GROUP BY user_id ORDER BY user_id""".stripMargin,
    // brute-force cross join + levenshtein: the pigeonhole-blocked join
    // must reproduce it exactly (same planted perturbation both sides)
    "q84_fuzzy_join" ->
      """WITH p AS (
        |  SELECT c_custkey AS probe_id,
        |    CASE CAST(c_custkey % 3 AS INT)
        |      WHEN 0 THEN substr(c_name, 1, CAST(9 + c_custkey % 9 AS INT))
        |                  || substr(c_name, CAST(11 + c_custkey % 9 AS INT))
        |      WHEN 1 THEN substr(c_name, 1, CAST(9 + c_custkey % 9 AS INT))
        |                  || 'x' || substr(c_name, CAST(11 + c_custkey % 9 AS INT))
        |      ELSE c_name END AS probe_name
        |  FROM customer WHERE c_custkey < 25)
        |SELECT p.probe_id, m.c_custkey AS match_custkey,
        |  CAST(levenshtein(p.probe_name, m.c_name) AS BIGINT) AS dist
        |FROM p CROSS JOIN customer m
        |WHERE levenshtein(p.probe_name, m.c_name) <= 2
        |ORDER BY probe_id, match_custkey""".stripMargin,
    // naive three-way self-join triangle enumeration; the oriented
    // wedge-join plan must reproduce its per-node counts exactly
    "q85_triangles" ->
      """WITH hi AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 49),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM hi a JOIN hi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |nodes AS (
        |  SELECT a AS p FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |SELECT p AS l_partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |FROM nodes GROUP BY p ORDER BY l_partkey""".stripMargin,
    // dense per-user daily grid with IGNORE NULLS carry-forward; the
    // carried value is copied verbatim so doubles compare bit-exact
    "q86_gap_fill" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS d, value,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY user_id, epoch_us(ts) // 86400000000
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |perday AS (SELECT user_id, d, value FROM e WHERE rn = 1),
        |span AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM perday GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(d0, d1)) AS d FROM span),
        |filled AS (
        |  SELECT g.user_id, g.d,
        |    LAST_VALUE(p.value IGNORE NULLS) OVER (
        |      PARTITION BY g.user_id ORDER BY g.d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
        |    CASE WHEN p.value IS NULL THEN 1 ELSE 0 END AS was_gap
        |  FROM grid g LEFT JOIN perday p ON p.user_id = g.user_id AND p.d = g.d)
        |SELECT user_id, CAST(d AS BIGINT) AS d, v, CAST(was_gap AS BIGINT) AS was_gap
        |FROM filled ORDER BY user_id, d""".stripMargin,
    // plain single-partition NTILE(8): the two-phase distributed rank
    // must reproduce it bucket-for-bucket
    "q87_ntile_stratify" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    NTILE(8) OVER (ORDER BY n_chars, doc_id) AS bucket
        |  FROM documents)
        |SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin,
    // brute-force gram-join Jaccard over ALL pairs: the prefix-filtered
    // self-join must reproduce every qualifying pair exactly (gram
    // identity is the same md5-64 truncation on both sides)
    "q88_all_pairs" ->
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    ${Tokens.SpaceLower.sqlOrEmpty("text")} AS t
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 16) AS k
        |  FROM tok, unnest(range(1, len(t) - 1)) u(i)),
        |s AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |i AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS ix
        |  FROM g a JOIN g b ON a.k = b.k AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.a, i.b,
        |  CAST(i.ix AS DOUBLE) / CAST(sa.n + sb.n - i.ix AS DOUBLE) AS jaccard
        |FROM i
        |JOIN s sa ON sa.doc_id = i.a
        |JOIN s sb ON sb.doc_id = i.b
        |WHERE CAST(i.ix AS DOUBLE) / CAST(sa.n + sb.n - i.ix AS DOUBLE) >= 0.5
        |ORDER BY a, b""".stripMargin,
    // same planted near-copies (1 + 2^-10 scale, IEEE-exact), same
    // sign-bucket blocking, same fixed-point cosine — the bucket key is
    // part of the query semantics so both sides miss the same
    // boundary-straddling pairs
    "q89_sem_dedup" ->
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.0009765625 AS FLOAT))
        |  FROM embeddings WHERE vec_id < 15),
        |q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM base),
        |n AS (
        |  SELECT vec_id, CAST(SUM(qv[i] * qv[i]) AS BIGINT) AS nrm
        |  FROM q, range(1, 65) t(i) GROUP BY vec_id),
        |bkt AS (
        |  SELECT vec_id, CAST(SUM(CASE WHEN qv[i] >= 0 THEN (1 << (i - 1)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM q, range(1, 9) t(i) GROUP BY vec_id),
        |cand AS (
        |  SELECT ba.vec_id AS a, bb.vec_id AS b
        |  FROM bkt ba JOIN bkt bb ON ba.bucket = bb.bucket AND ba.vec_id < bb.vec_id),
        |dots AS (
        |  SELECT c.a, c.b, CAST(SUM(qa.qv[i] * qb.qv[i]) AS BIGINT) AS dp
        |  FROM cand c
        |  JOIN q qa ON qa.vec_id = c.a
        |  JOIN q qb ON qb.vec_id = c.b, range(1, 65) t(i)
        |  GROUP BY c.a, c.b),
        |cos AS (
        |  SELECT d.a, d.b,
        |    CAST(d.dp AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cosine
        |  FROM dots d
        |  JOIN n na ON na.vec_id = d.a
        |  JOIN n nb ON nb.vec_id = d.b
        |  WHERE na.nrm > 0 AND nb.nrm > 0)
        |SELECT b AS dropped_id, a AS kept_id, cosine FROM (
        |  SELECT a, b, cosine, ROW_NUMBER() OVER (PARTITION BY b ORDER BY a) AS rn
        |  FROM cos WHERE cosine >= 0.99) z
        |WHERE rn = 1 ORDER BY dropped_id""".stripMargin,
    // plain one-phase GROUP BY: the salted two-phase physical rewrite
    // must be semantically invisible
    "q90_salted_agg" ->
      s"""SELECT l_suppkey, CAST(SUM($Rev) AS DOUBLE) AS revenue
         |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    // moments as exact DECIMAL sums, mean/variance/threshold derived in
    // the same fixed double-op sequence as the Spark side
    "q91_outlier_profile" ->
      """WITH s AS (
        |  SELECT user_id, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sx,
        |    SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS sxx
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT user_id, n,
        |    CAST(sx AS DOUBLE) / n AS mean,
        |    CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS variance
        |  FROM s)
        |SELECT e.user_id, CAST(MIN(m.n) AS BIGINT) AS n, MIN(m.mean) AS mean,
        |  MIN(m.variance) AS variance,
        |  CAST(SUM(CASE WHEN abs(e.value - m.mean) > 2.0 * sqrt(m.variance)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events e JOIN m USING (user_id)
        |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin,
    // per-(token, doc) pre-aggregate, then df/occurrence stats and the
    // ordered posting-list head — list(... ORDER BY) sliced to the same
    // K as the Spark side's bounded aggregator
    "q92_inverted_index" ->
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    ${Tokens.SpaceLower.sqlOrEmpty("text")} AS t
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, t[i] AS tok, i AS pos
        |  FROM tok, unnest(range(1, len(t) + 1)) u(i)),
        |pd AS (
        |  SELECT tok, doc_id, COUNT(*) AS tf, MIN(pos) AS first_pos
        |  FROM p GROUP BY tok, doc_id),
        |st AS (
        |  SELECT tok, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS n_occurrences
        |  FROM pd GROUP BY tok),
        |hd AS (
        |  SELECT tok, array_to_string(
        |    (list(doc_id || ':' || tf || ':' || first_pos ORDER BY doc_id))[1:5],
        |    ',') AS postings
        |  FROM pd GROUP BY tok)
        |SELECT st.tok, st.df, st.n_occurrences, hd.postings
        |FROM st JOIN hd USING (tok)
        |ORDER BY st.df DESC, st.tok LIMIT 20""".stripMargin,
    // the batch answer over the ORIGINAL table: a correct streaming
    // dedup makes the planted duplicate deliveries invisible
    "q93_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // same deterministic next-day snapshot, same delete-wins precedence
    "q94_snapshot_diff" ->
      """WITH upd AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 31 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |    o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 53 <> 0),
        |ins AS (
        |  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |neu AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |d AS (
        |  SELECT CASE
        |    WHEN o.o_orderkey IS NULL THEN 'insert'
        |    WHEN n.o_orderkey IS NULL THEN 'delete'
        |    WHEN o.o_custkey IS NOT DISTINCT FROM n.o_custkey
        |      AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
        |      AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
        |      AND o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority THEN 'unchanged'
        |    ELSE 'update' END AS change_type
        |  FROM orders o FULL OUTER JOIN neu n ON o.o_orderkey = n.o_orderkey)
        |SELECT change_type, COUNT(*) AS n_rows
        |FROM d GROUP BY change_type ORDER BY change_type""".stripMargin,
    // exact percentile bounds; inliers as DECIMAL, tails as count x
    // bound in the same fixed double-op order as the Spark side
    "q95_winsorize" ->
      """WITH st AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    quantile_cont(l_extendedprice, 0.05) AS lo,
        |    quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem GROUP BY l_returnflag),
        |agg AS (
        |  SELECT li.l_returnflag,
        |    MIN(st.n) AS n, MIN(st.lo) AS lo, MIN(st.hi) AS hi,
        |    CAST(SUM(CASE WHEN li.l_extendedprice < st.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |    CAST(SUM(CASE WHEN li.l_extendedprice > st.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |    SUM(CASE WHEN li.l_extendedprice >= st.lo AND li.l_extendedprice <= st.hi
        |        THEN CAST(li.l_extendedprice AS DECIMAL(18,2)) END) AS s_in
        |  FROM lineitem li JOIN st USING (l_returnflag)
        |  GROUP BY li.l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n, lo, hi, n_low, n_high,
        |  (CAST(s_in AS DOUBLE) + n_low * lo + n_high * hi) / n AS win_mean
        |FROM agg ORDER BY l_returnflag""".stripMargin,
    // four unrolled peel rounds + final induced-degree recount, same
    // fixed depth as the Spark loop
    "q96_kcore" ->
      """WITH hi AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 49),
        |p AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM hi a JOIN hi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
        |n0 AS (SELECT DISTINCT src AS v FROM e),
        |d1 AS (SELECT e.src AS v, COUNT(*) AS deg FROM e
        |       WHERE e.src IN (SELECT v FROM n0) AND e.dst IN (SELECT v FROM n0)
        |       GROUP BY e.src),
        |n1 AS (SELECT v FROM d1 WHERE deg >= 3),
        |d2 AS (SELECT e.src AS v, COUNT(*) AS deg FROM e
        |       WHERE e.src IN (SELECT v FROM n1) AND e.dst IN (SELECT v FROM n1)
        |       GROUP BY e.src),
        |n2 AS (SELECT v FROM d2 WHERE deg >= 3),
        |d3 AS (SELECT e.src AS v, COUNT(*) AS deg FROM e
        |       WHERE e.src IN (SELECT v FROM n2) AND e.dst IN (SELECT v FROM n2)
        |       GROUP BY e.src),
        |n3 AS (SELECT v FROM d3 WHERE deg >= 3),
        |d4 AS (SELECT e.src AS v, COUNT(*) AS deg FROM e
        |       WHERE e.src IN (SELECT v FROM n3) AND e.dst IN (SELECT v FROM n3)
        |       GROUP BY e.src),
        |n4 AS (SELECT v FROM d4 WHERE deg >= 3),
        |d5 AS (SELECT e.src AS v, COUNT(*) AS deg FROM e
        |       WHERE e.src IN (SELECT v FROM n4) AND e.dst IN (SELECT v FROM n4)
        |       GROUP BY e.src)
        |SELECT v AS l_partkey, CAST(deg AS BIGINT) AS core_degree
        |FROM d5 ORDER BY l_partkey""".stripMargin,
    // the three detector oracles stitched verbatim: the composed
    // report's correctness is exactly the legs' correctness
    "q97_contamination_report" ->
      s"""WITH ngram_leg AS ($Q58Sql),
         |containment_leg AS ($Q75Sql),
         |embedding_leg AS ($Q71Sql)
         |SELECT * FROM (
         |  SELECT 'containment' AS detector,
         |    CAST(SUM(n_docs) AS BIGINT) AS n_checked,
         |    CAST(SUM(n_flagged) AS BIGINT) AS n_flagged
         |  FROM containment_leg
         |  UNION ALL
         |  SELECT 'embedding',
         |    CAST(SUM(n_vecs) AS BIGINT), CAST(SUM(n_contaminated) AS BIGINT)
         |  FROM embedding_leg
         |  UNION ALL
         |  SELECT 'ngram',
         |    CAST(SUM(n_docs) AS BIGINT), CAST(SUM(n_contaminated) AS BIGINT)
         |  FROM ngram_leg) z
         |ORDER BY detector""".stripMargin,
    // q88's brute-force pair oracle rolled to unordered source pairs
    "q98_dup_flow" ->
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    ${Tokens.SpaceLower.sqlOrEmpty("text")} AS t
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 16) AS k
        |  FROM tok, unnest(range(1, len(t) - 1)) u(i)),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |i AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS ix
        |  FROM g a JOIN g b ON a.k = b.k AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pr AS (
        |  SELECT i.a, i.b
        |  FROM i JOIN sz sa ON sa.doc_id = i.a JOIN sz sb ON sb.doc_id = i.b
        |  WHERE CAST(i.ix AS DOUBLE) / CAST(sa.n + sb.n - i.ix AS DOUBLE) >= 0.5)
        |SELECT least(da.source, db.source) AS source_a,
        |  greatest(da.source, db.source) AS source_b,
        |  COUNT(*) AS n_pairs
        |FROM pr
        |JOIN documents da ON da.doc_id = pr.a
        |JOIN documents db ON db.doc_id = pr.b
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,
    // one UNION ALL leg per column, exact distinct counts
    "q99_profile_table" ->
      """SELECT 'l_orderkey' AS column_name, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct FROM lineitem
        |UNION ALL
        |SELECT 'l_partkey' AS column_name, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_distinct FROM lineitem
        |UNION ALL
        |SELECT 'l_suppkey' AS column_name, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_distinct FROM lineitem
        |UNION ALL
        |SELECT 'l_linenumber' AS column_name, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT l_linenumber) AS BIGINT) AS n_distinct FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity' AS column_name, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct FROM lineitem
        |UNION ALL
        |SELECT 'l_extendedprice' AS column_name, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT) AS n_distinct FROM lineitem
        |UNION ALL
        |SELECT 'l_discount' AS column_name, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT l_discount) AS BIGINT) AS n_distinct FROM lineitem
        |UNION ALL
        |SELECT 'l_tax' AS column_name, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT l_tax) AS BIGINT) AS n_distinct FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag' AS column_name, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_distinct FROM lineitem
        |UNION ALL
        |SELECT 'l_linestatus' AS column_name, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS n_distinct FROM lineitem
        |UNION ALL
        |SELECT 'l_shipdate' AS column_name, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT l_shipdate) AS BIGINT) AS n_distinct FROM lineitem
        |ORDER BY column_name""".stripMargin,
    // $50k integer-cent buckets, current vs the q94 next-day snapshot
    "q100_hist_drift" ->
      """WITH neu AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 53 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice FROM orders WHERE o_orderkey % 97 = 0),
        |hc AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000000 AS bucket,
        |    COUNT(*) AS n_cur
        |  FROM orders GROUP BY 1),
        |hn AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000000 AS bucket,
        |    COUNT(*) AS n_new
        |  FROM neu GROUP BY 1)
        |SELECT COALESCE(hc.bucket, hn.bucket) AS bucket,
        |  COALESCE(hc.n_cur, 0) AS n_cur, COALESCE(hn.n_new, 0) AS n_new,
        |  abs(COALESCE(hc.n_cur, 0) - COALESCE(hn.n_new, 0)) AS l1
        |FROM hc FULL OUTER JOIN hn ON hc.bucket = hn.bucket
        |ORDER BY bucket""".stripMargin,
    // per-(user, day) fan-out to trailing-window days, clipped to the
    // observed span; DAU joined per day
    "q101_active_users" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM e),
        |wau AS (
        |  SELECT t.d, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS wau
        |  FROM e, span, unnest(generate_series(e.day, e.day + 6)) t(d)
        |  WHERE t.d BETWEEN span.d0 AND span.d1
        |  GROUP BY t.d),
        |dau AS (
        |  SELECT day AS d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM e GROUP BY day)
        |SELECT w.d, COALESCE(dau.dau, 0) AS dau, w.wau
        |FROM wau w LEFT JOIN dau ON dau.d = w.d
        |ORDER BY w.d""".stripMargin,
    // first-active week cohorts, offset triangle, exact distinct counts
    "q102_retention_cohorts" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, (epoch_us(ts) // 86400000000) // 7 AS week FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id),
        |r AS (
        |  SELECT c.cohort_week, uw.week - c.cohort_week AS week_offset,
        |    CAST(COUNT(DISTINCT uw.user_id) AS BIGINT) AS n_users
        |  FROM uw JOIN c ON c.user_id = uw.user_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT cohort_week, n_users AS cohort_size FROM r WHERE week_offset = 0)
        |SELECT r.cohort_week, r.week_offset, r.n_users, sz.cohort_size,
        |  CAST(r.n_users AS DOUBLE) / sz.cohort_size AS retention
        |FROM r JOIN sz ON sz.cohort_week = r.cohort_week
        |ORDER BY r.cohort_week, r.week_offset""".stripMargin,
    // stateless stream-static join: replay equals the batch join
    "q103_stream_enrich" ->
      """SELECT c.c_mktsegment AS segment, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id
        |GROUP BY c.c_mktsegment ORDER BY segment""".stripMargin,
    // pair supports from a basket self-join, both rule directions,
    // same >= 2 noise floor and exact single-division confidence
    "q104_assoc_rules" ->
      """WITH hi AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 40),
        |ps AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS sup
        |  FROM hi a JOIN hi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |isup AS (SELECT l_partkey AS p, COUNT(*) AS psup FROM hi GROUP BY 1),
        |dr AS (
        |  SELECT a AS ante, b AS cons, sup FROM ps
        |  UNION ALL
        |  SELECT b, a, sup FROM ps)
        |SELECT dr.ante, dr.cons, dr.sup,
        |  CAST(dr.sup AS DOUBLE) / isup.psup AS confidence
        |FROM dr JOIN isup ON isup.p = dr.ante
        |WHERE dr.sup >= 2
        |ORDER BY confidence DESC, ante, cons LIMIT 20""".stripMargin,
    // LAG over the same (us, event_id) tie order, window row sums for
    // the probability denominator
    "q105_transitions" ->
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events),
        |st AS (
        |  SELECT LAG(event_type) OVER (
        |      PARTITION BY user_id ORDER BY us, event_id) AS from_type,
        |    event_type AS to_type
        |  FROM o),
        |cnt AS (
        |  SELECT from_type, to_type, COUNT(*) AS n
        |  FROM st WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type) AS p
        |FROM cnt ORDER BY from_type, to_type""".stripMargin,
    // Gopher A1 top-n-gram fractions: count x n / tokens per doc, one
    // double division per fraction, flag over 0.20/0.18/0.16
    "q106_gram_repetition" ->
      s"""WITH tok AS (
        |  SELECT doc_id, ${Tokens.Space.sql("text")} AS t
        |  FROM documents),
        |n AS (SELECT doc_id, len(t) AS nt FROM tok),
        |g2 AS (
        |  SELECT doc_id, MAX(c) AS m FROM (
        |    SELECT doc_id, t[i] || ' ' || t[i+1] AS g, COUNT(*) AS c
        |    FROM tok, unnest(range(1, len(t))) u(i) GROUP BY 1, 2) GROUP BY doc_id),
        |g3 AS (
        |  SELECT doc_id, MAX(c) AS m FROM (
        |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g, COUNT(*) AS c
        |    FROM tok, unnest(range(1, len(t) - 1)) u(i) GROUP BY 1, 2) GROUP BY doc_id),
        |g4 AS (
        |  SELECT doc_id, MAX(c) AS m FROM (
        |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS g, COUNT(*) AS c
        |    FROM tok, unnest(range(1, len(t) - 2)) u(i) GROUP BY 1, 2) GROUP BY doc_id),
        |f AS (
        |  SELECT n.doc_id, n.nt AS n_tok,
        |    COALESCE(CAST(g2.m * 2 AS DOUBLE) / CAST(n.nt AS DOUBLE), 0.0) AS top2_frac,
        |    COALESCE(CAST(g3.m * 3 AS DOUBLE) / CAST(n.nt AS DOUBLE), 0.0) AS top3_frac,
        |    COALESCE(CAST(g4.m * 4 AS DOUBLE) / CAST(n.nt AS DOUBLE), 0.0) AS top4_frac
        |  FROM n
        |  LEFT JOIN g2 USING (doc_id)
        |  LEFT JOIN g3 USING (doc_id)
        |  LEFT JOIN g4 USING (doc_id))
        |SELECT doc_id, n_tok, top2_frac, top3_frac, top4_frac
        |FROM f
        |WHERE top2_frac > 0.20 OR top3_frac > 0.18 OR top4_frac > 0.16
        |ORDER BY doc_id""".stripMargin,
    // BM25 with the rational idf core (x2-scaled to integers), dl/avgdl
    // as one dl*N/L division, per-term doubles in a fixed op sequence,
    // DECIMAL(20,9) order-free score sum - same determinism contract as
    // the Spark side, term for term
    "q107_bm25_search" ->
      s"""WITH tok AS (
        |  SELECT doc_id, ${Tokens.Space.sql("text")} AS t
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM tok) GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        |tot AS (
        |  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
        |    (SELECT CAST(SUM(tf) AS BIGINT) FROM tf) AS l_total),
        |q AS (
        |  SELECT DISTINCT query_id, tok FROM (
        |    SELECT doc_id AS query_id, unnest(t[1:8]) AS tok
        |    FROM tok WHERE doc_id % 101 = 0 AND doc_id < 5000)),
        |hits AS (
        |  SELECT q.query_id, tf.doc_id, tf.tf, dfq.df, dl.dl, tot.n_docs, tot.l_total
        |  FROM q JOIN tf USING (tok) JOIN dfq USING (tok)
        |  JOIN dl ON dl.doc_id = tf.doc_id, tot),
        |sc AS (
        |  SELECT query_id, doc_id,
        |    SUM(CAST(
        |      (CAST(2 * (n_docs - df) + 1 AS DOUBLE) / CAST(2 * df + 1 AS DOUBLE)) *
        |      ((CAST(tf AS DOUBLE) * 2.2) /
        |        (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |          (CAST(dl * n_docs AS DOUBLE) / CAST(l_total AS DOUBLE)))))
        |      AS DECIMAL(20,9))) AS score_dec,
        |    COUNT(*) AS n_terms
        |  FROM hits GROUP BY 1, 2),
        |rk AS (
        |  SELECT query_id, doc_id, score_dec, n_terms,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score_dec DESC, doc_id) AS rnk
        |  FROM sc WHERE doc_id <> query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id,
        |  CAST(score_dec AS DOUBLE) AS score, n_terms
        |FROM rk WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // gap-split sessions at micros (diff <= 30min stays in-session),
    // minus each user's LAST session: append-mode replay emits exactly
    // the closed ones
    "q108_stream_custom_sessions" ->
      """WITH e AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
        |o AS (
        |  SELECT user_id, us,
        |    CASE WHEN LAG(us) OVER w IS NULL
        |      OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS fresh
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s2 AS (
        |  SELECT user_id, us, SUM(fresh) OVER (
        |    PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o),
        |sess AS (
        |  SELECT user_id, sid, MIN(us) AS start_us, MAX(us) AS end_us,
        |    COUNT(*) AS n_events
        |  FROM s2 GROUP BY 1, 2),
        |closed AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY user_id ORDER BY sid DESC) AS rr FROM sess)
        |  WHERE rr > 1)
        |SELECT user_id, start_us, end_us, CAST(n_events AS BIGINT) AS n_events
        |FROM closed ORDER BY user_id, start_us""".stripMargin,
    // sorted-adjacency prefix detection over distinct texts bucketed by
    // the first-16-token md5, planted half-length truncations included
    "q109_truncation_dups" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id,
        |    'planted' AS source,
        |    array_to_string(t[1:(len(t) // 2)], ' ') AS text
        |  FROM (SELECT doc_id, ${Tokens.Space.sql("text")} AS t
        |        FROM documents)
        |  WHERE doc_id % 13 = 0),
        |ct AS (
        |  SELECT doc_id, source, text,
        |    ${Tokens.Space.sql("text")} AS t
        |  FROM corpus),
        |dt AS (
        |  SELECT text,
        |    md5(array_to_string(
        |      ${Tokens.Space.sql("text")}[1:16], ' ')) AS bkey
        |  FROM (SELECT DISTINCT text FROM ct WHERE len(t) >= 16)),
        |fl AS (
        |  SELECT text FROM (
        |    SELECT text, LEAD(text) OVER (PARTITION BY bkey ORDER BY text) AS nxt
        |    FROM dt)
        |  WHERE nxt IS NOT NULL AND length(nxt) > length(text)
        |    AND substr(nxt, 1, length(text)) = text
        |    AND substr(nxt, length(text) + 1, 1) = ' ')
        |SELECT c.doc_id, c.source, CAST(len(c.t) AS BIGINT) AS n_tok
        |FROM ct c JOIN (SELECT DISTINCT text FROM fl) f ON f.text = c.text
        |ORDER BY doc_id, source""".stripMargin,
    // chi-squared vs the corpus-global top-50 token distribution; each
    // contribution one fixed IEEE sequence, DECIMAL(25,9) order-free sum
    "q110_source_drift" ->
      s"""WITH t AS (
        |  SELECT source, unnest(${Tokens.Space.sql("text")}) AS tok
        |  FROM documents),
        |st AS (SELECT source, tok, COUNT(*) AS o FROM t GROUP BY 1, 2),
        |vocab AS (
        |  SELECT tok, CAST(SUM(o) AS BIGINT) AS o_t FROM st GROUP BY tok
        |  ORDER BY o_t DESC, tok LIMIT 50),
        |srcs AS (SELECT DISTINCT source FROM st),
        |grid AS (
        |  SELECT s.source, v.tok, v.o_t, COALESCE(st.o, 0) AS o
        |  FROM srcs s CROSS JOIN vocab v
        |  LEFT JOIN st ON st.source = s.source AND st.tok = v.tok),
        |ns AS (SELECT source, CAST(SUM(o) AS BIGINT) AS n_s FROM grid GROUP BY source),
        |tot AS (SELECT CAST(SUM(o_t) AS BIGINT) AS n FROM vocab)
        |SELECT g.source, MAX(ns.n_s) AS n_tok_v,
        |  CAST(SUM(CAST(
        |    CASE WHEN CAST(ns.n_s * g.o_t AS DOUBLE) / CAST(tot.n AS DOUBLE) > 0 THEN
        |    (CAST(g.o AS DOUBLE) - CAST(ns.n_s * g.o_t AS DOUBLE) / CAST(tot.n AS DOUBLE)) *
        |    (CAST(g.o AS DOUBLE) - CAST(ns.n_s * g.o_t AS DOUBLE) / CAST(tot.n AS DOUBLE)) /
        |    (CAST(ns.n_s * g.o_t AS DOUBLE) / CAST(tot.n AS DOUBLE))
        |    ELSE 0.0 END
        |    AS DECIMAL(25,9))) AS DOUBLE) AS chi2,
        |  CAST(COUNT(*) - 1 AS BIGINT) AS dof
        |FROM grid g JOIN ns USING (source), tot
        |GROUP BY g.source ORDER BY g.source""".stripMargin,
    // the PLAIN join: the salted rewrite must be output-identical
    "q111_salted_join" ->
      """SELECT o.o_orderstatus, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(1 - l.l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin,
    // the FIXPOINT 3-core, oracled by unrolling peel rounds PAST
    // convergence: peeling shrinks monotonically, so once the alive
    // set stabilizes every deeper unroll is bit-identical — 8 rounds
    // vs the ~3 the driver-scale graph needs (KCoreSpec pins the bound)
    "q112_kcore_full" -> {
      val rounds = Corpus.Q112OracleRounds
      val head =
        """WITH hi AS (
          |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 49),
          |p AS (
          |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
          |  FROM hi a JOIN hi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
          |e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
          |n0 AS (SELECT DISTINCT src AS v FROM e)""".stripMargin
      val legs = (1 to rounds).map { i =>
        s"""d$i AS (SELECT e.src AS v, COUNT(*) AS deg FROM e
           |       WHERE e.src IN (SELECT v FROM n${i - 1}) AND e.dst IN (SELECT v FROM n${i - 1})
           |       GROUP BY e.src),
           |n$i AS (SELECT v FROM d$i WHERE deg >= 3)""".stripMargin
      }
      val tail =
        s"""dfin AS (SELECT e.src AS v, COUNT(*) AS deg FROM e
           |       WHERE e.src IN (SELECT v FROM n$rounds) AND e.dst IN (SELECT v FROM n$rounds)
           |       GROUP BY e.src)
           |SELECT v AS l_partkey, CAST(deg AS BIGINT) AS core_degree
           |FROM dfin ORDER BY l_partkey""".stripMargin
      (head +: legs :+ tail).mkString(",\n")
    },
    // BPE training unrolled: one (pair-count, argmax, rewrite) CTE
    // triple per merge round; the " sym "-block encoding makes the
    // greedy leftmost merge a plain replace() on both engines
    "q114_bpe_merges" -> (BpeRoundsSql +
      (1 to Curation.BpeMerges).map(r => s"SELECT merge_rank, pair, cnt FROM b$r")
        .mkString("\n", "\nUNION ALL\n", "\nORDER BY merge_rank")),
    // q114's rounds re-derive the merge table, the final w-round IS
    // the encoded dictionary; corpus join-back with 1-token fallback
    // for out-of-vocabulary (non-[a-z]+) words
    "q118_bpe_encode" -> (BpeRoundsSql +
      s""",
         |dict AS (
         |  SELECT w, CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS n_sym
         |  FROM w${Curation.BpeMerges}),
         |docw AS (
         |  SELECT doc_id, unnest(${Tokens.Space.sql("text")}) AS w
         |  FROM documents)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(COALESCE(d.n_sym, 1)) AS BIGINT) AS n_bpe_tokens
         |FROM docw LEFT JOIN dict d USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // the naive sequential-pattern statement: support via three
    // self-joins + DISTINCT — independent of the Spark side's
    // running-set scan
    "q115_path_mining" ->
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events),
        |l1 AS (SELECT DISTINCT user_id, event_type AS path FROM o),
        |l2 AS (
        |  SELECT DISTINCT a.user_id, a.event_type || '>' || b.event_type AS path
        |  FROM o a JOIN o b ON a.user_id = b.user_id
        |    AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))),
        |l3 AS (
        |  SELECT DISTINCT a.user_id,
        |    a.event_type || '>' || b.event_type || '>' || c.event_type AS path
        |  FROM o a
        |  JOIN o b ON a.user_id = b.user_id
        |    AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))
        |  JOIN o c ON b.user_id = c.user_id
        |    AND (b.us < c.us OR (b.us = c.us AND b.event_id < c.event_id))),
        |u AS (
        |  SELECT * FROM l1 UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM u GROUP BY path
        |ORDER BY n_users DESC, path ASC LIMIT 25""".stripMargin,
    // the single-rule radius dedup stated quadratically: a row
    // survives iff NO earlier row sits within Hamming 3. Fingerprints
    // are the q22 md5 trick (first 16 hex chars as signed int64), so
    // both engines derive bit-identical stores
    "q117_stream_compaction" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    CAST(CAST(u AS HUGEINT) - CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
        |      THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END AS BIGINT) AS sim
        |  FROM (SELECT doc_id, CAST(('0x' || substr(md5(text), 1, 16)) AS UBIGINT) AS u
        |        FROM documents)),
        |mx AS (SELECT MAX(doc_id) + 1 AS shift FROM documents),
        |store AS (
        |  SELECT doc_id AS ts, doc_id, sim FROM fp
        |  UNION ALL
        |  SELECT doc_id + shift, doc_id + shift,
        |    xor(sim, CAST(1 AS BIGINT) << CAST(doc_id % 63 AS INTEGER))
        |  FROM fp, mx WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 2 * shift, doc_id + 2 * shift,
        |    xor(sim, CAST(255 AS BIGINT) << CAST((doc_id % 7) * 8 AS INTEGER))
        |  FROM fp, mx WHERE doc_id % 29 = 0)
        |SELECT CAST(s.ts AS BIGINT) AS arrival, CAST(s.doc_id AS BIGINT) AS doc_id
        |FROM store s
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM store e
        |  WHERE (e.ts < s.ts OR (e.ts = s.ts AND e.doc_id < s.doc_id))
        |    AND bit_count(xor(e.sim, s.sim)) <= 3)
        |ORDER BY doc_id""".stripMargin,
    // latest-version-wins over base (version 0) + synthesized
    // changelog; a winning 'D' removes the key
    "q119_apply_changelog" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    CAST(0 AS BIGINT) AS version, 'U' AS op
        |  FROM orders),
        |chg AS (
        |  SELECT o_orderkey, 'U7' AS o_orderstatus, price + 10 AS price,
        |    CAST(1 AS BIGINT) AS version, 'U' AS op FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, price,
        |    CAST(2 AS BIGINT), 'D' FROM base WHERE o_orderkey % 11 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'U21', price + 20,
        |    CAST(3 AS BIGINT), 'U' FROM base WHERE o_orderkey % 21 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'I', price,
        |    CAST(1 AS BIGINT), 'U' FROM base WHERE o_orderkey % 97 = 0),
        |latest AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY o_orderkey ORDER BY version DESC) AS rn
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM chg))
        |SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS o_totalprice,
        |  version
        |FROM latest WHERE rn = 1 AND op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,
    // DSIR-flavored acceptance: exact-integer stopword weight, md5 of
    // the doc id as a 32-bit uniform, one division/multiply/compare
    "q120_importance_resample" ->
      s"""WITH st AS (
        |  SELECT doc_id, source,
        |    CAST(len(t) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(t, x -> list_contains(['the','a','of','and'], x))) AS BIGINT) AS n_stop
        |  FROM (SELECT doc_id, source,
        |          ${Tokens.Space.sql("text")} AS t
        |        FROM documents)),
        |wt AS (
        |  SELECT doc_id, source, n_tok,
        |    LEAST(1.0, 4.0 * CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE)) AS weight,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS DOUBLE)
        |      / 4294967296.0 AS u
        |  FROM st WHERE n_tok > 0)
        |SELECT doc_id, source, n_tok, weight
        |FROM wt WHERE u < weight
        |ORDER BY doc_id""".stripMargin,
    // greedy hash-order prefix fill per source, budget in tokens
    "q121_token_budget" ->
      s"""WITH rows_ AS (
        |  SELECT doc_id, source,
        |    CAST(len(${Tokens.Space.sql("text")}) AS BIGINT) AS n_tok,
        |    md5(text) AS h
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, source, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum_tok
        |  FROM rows_)
        |SELECT doc_id, source, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
        |FROM cum WHERE cum_tok <= 1000
        |ORDER BY doc_id""".stripMargin,
    // the identical Morton interleave as generated bitwise SQL
    "q122_zorder_histogram" -> {
      val mask = (1L << Layout.ZBits) - 1
      val terms = (0 until Layout.ZBits).flatMap { i =>
        Seq(s"((((l_partkey & $mask) >> $i) & 1) << ${2 * i})",
          s"((((l_suppkey & $mask) >> $i) & 1) << ${2 * i + 1})")
      }.mkString(" | ")
      s"""WITH z AS (SELECT $terms AS z FROM lineitem),
         |mx AS (SELECT MAX(z) AS zmax FROM z)
         |SELECT CAST(z * ${Layout.ZBuckets} // (zmax + 1) AS BIGINT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(MIN(z) AS BIGINT) AS z_min, CAST(MAX(z) AS BIGINT) AS z_max
         |FROM z, mx GROUP BY bucket ORDER BY bucket""".stripMargin
    },
    // brute-force levenshtein edges + recursive-CTE reachability; the
    // PassJoin-blocked edges + pointer-doubling CC plan must reproduce
    // the same transitive entity partition bit-for-bit
    "q123_entity_resolution" ->
      """WITH RECURSIVE off AS (SELECT MAX(c_custkey) + 1 AS o FROM customer),
        |p AS (
        |  SELECT c_custkey AS pid,
        |    CASE CAST(c_custkey % 3 AS INT)
        |      WHEN 0 THEN substr(c_name, 1, CAST(9 + c_custkey % 9 AS INT))
        |                  || substr(c_name, CAST(11 + c_custkey % 9 AS INT))
        |      WHEN 1 THEN substr(c_name, 1, CAST(9 + c_custkey % 9 AS INT))
        |                  || 'x' || substr(c_name, CAST(11 + c_custkey % 9 AS INT))
        |      ELSE c_name END AS pname
        |  FROM customer WHERE c_custkey < 25
        |  UNION ALL
        |  SELECT c_custkey, 'zzz-unmatched-' || c_custkey
        |  FROM customer WHERE c_custkey >= 25 AND c_custkey < 30),
        |m AS (
        |  SELECT p.pid + off.o AS src, c.c_custkey AS dst
        |  FROM p, off, customer c
        |  WHERE levenshtein(p.pname, c.c_name) <= 2),
        |e AS (SELECT src, dst FROM m UNION SELECT dst, src FROM m),
        |nodes AS (
        |  SELECT DISTINCT dst AS p FROM m
        |  UNION SELECT pid + off.o FROM p, off),
        |reach(p, lbl) AS (
        |  SELECT p, p FROM nodes
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.p WHERE r.lbl < e.dst),
        |cl AS (SELECT p, MIN(lbl) AS entity_id FROM reach GROUP BY p),
        |sz AS (SELECT entity_id, COUNT(*) AS entity_size FROM cl GROUP BY 1)
        |SELECT cl.p AS record_id,
        |  CASE WHEN cl.p >= (SELECT o FROM off) THEN 'probe' ELSE 'master' END AS kind,
        |  cl.entity_id, sz.entity_size
        |FROM cl JOIN sz USING (entity_id)
        |ORDER BY cl.entity_id, cl.p""".stripMargin,
    // synchronous LPA unrolled: one (vote-count, ROW_NUMBER argmax) CTE
    // pair per round with the same (cnt DESC, lbl ASC) tie order as the
    // Spark side's max(struct(cnt, -lbl)) aggregate
    "q124_label_prop" -> {
      val head =
        """WITH hi AS (
          |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 49),
          |p AS (
          |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
          |  FROM hi a JOIN hi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
          |e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
          |l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM e)""".stripMargin
      val legs = (1 to Corpus.Q124LpaRounds).map { i =>
        s"""c$i AS (
           |  SELECT e.src AS v, l.lbl, COUNT(*) AS cnt
           |  FROM e JOIN l${i - 1} l ON e.dst = l.v GROUP BY 1, 2),
           |l$i AS (
           |  SELECT v, lbl FROM (
           |    SELECT v, lbl,
           |      ROW_NUMBER() OVER (PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rn
           |    FROM c$i) WHERE rn = 1)""".stripMargin
      }
      val n = Corpus.Q124LpaRounds
      val tail =
        s"""sz AS (SELECT lbl, COUNT(*) AS community_size FROM l$n GROUP BY lbl)
           |SELECT l$n.v AS l_partkey, l$n.lbl AS community,
           |  CAST(sz.community_size AS BIGINT) AS community_size
           |FROM l$n JOIN sz USING (lbl)
           |ORDER BY community, l_partkey""".stripMargin
      (head +: legs :+ tail).mkString(",\n")
    },
    // systematic-resampling geometry with a plain global window — the
    // Spark side's two-phase bucketed scan must reproduce this
    // single-window statement bit-for-bit (all-integer arithmetic,
    // // and div both truncate on non-negative operands)
    "q125_systematic_resample" -> {
      val k = Curation.SystematicTarget
      s"""WITH rows_ AS (
         |  SELECT doc_id,
         |    CAST(len(${Tokens.Space.sql("text")}) AS BIGINT) AS n_tok,
         |    md5(text) AS h
         |  FROM documents),
         |t AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS tot FROM rows_),
         |cum AS (
         |  SELECT doc_id, n_tok,
         |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS w0
         |  FROM rows_)
         |SELECT doc_id, n_tok,
         |  CAST(((w0 + n_tok) * $k) // tot - (w0 * $k) // tot AS BIGINT) AS multiplicity
         |FROM cum, t
         |WHERE ((w0 + n_tok) * $k) // tot - (w0 * $k) // tot >= 1
         |ORDER BY doc_id""".stripMargin
    },
    // rank-based quantile normalization: per-source rank r of ns maps
    // to the pooled value at ceil(r*N/ns) — all-integer, so the
    // two-phase bucketed ranking must match this plain-window form
    "q126_quantile_normalize" ->
      s"""WITH rows_ AS (
        |  SELECT doc_id, source,
        |    CAST(len(${Tokens.Space.sqlOrEmpty("text")}) AS BIGINT) AS n_tok
        |  FROM documents),
        |n AS (SELECT COUNT(*) AS nn FROM rows_),
        |g AS (
        |  SELECT n_tok AS norm_tok,
        |    ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) AS p
        |  FROM rows_),
        |s AS (
        |  SELECT doc_id, source, n_tok,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS r,
        |    COUNT(*) OVER (PARTITION BY source) AS ns
        |  FROM rows_)
        |SELECT s.doc_id, s.source, s.n_tok, g.norm_tok
        |FROM s CROSS JOIN n
        |JOIN g ON g.p = (s.r * n.nn + s.ns - 1) // s.ns
        |ORDER BY s.doc_id""".stripMargin,
    // sliding windows enumerated explicitly: each event contributes to
    // the two aligned 2-minute windows that contain it
    "q127_stream_sliding" ->
      """WITH t AS (
        |  SELECT CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_type FROM events),
        |w AS (
        |  SELECT ts_us - ts_us % 60000000 AS win_start_us, event_type FROM t
        |  UNION ALL
        |  SELECT ts_us - ts_us % 60000000 - 60000000, event_type FROM t)
        |SELECT win_start_us, event_type, COUNT(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY win_start_us, event_type""".stripMargin,
    // recompute-from-scratch: the incremental base+delta state merge
    // must be indistinguishable from one flat GROUP BY
    "q128_incremental_agg" ->
      """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR) AS first_order,
        |  CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR) AS last_order
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    // per-field recency-wins survivorship: DuckDB's null-skipping
    // max over a (version, value) struct mirrors the Spark aggregate
    "q129_survivorship" ->
      """WITH v AS (
        |  SELECT c_custkey, CAST(1 AS BIGINT) AS version, c_name AS name,
        |    CAST(c_acctbal AS DECIMAL(18,2)) AS acctbal, c_mktsegment AS seg,
        |    CAST(NULL AS VARCHAR) AS note FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 2, CASE WHEN c_custkey % 4 = 0 THEN upper(c_name) END,
        |    CASE WHEN c_custkey % 3 <> 0 THEN CAST(c_acctbal AS DECIMAL(18,2)) + 5 END,
        |    NULL, CASE WHEN c_custkey % 7 = 0 THEN 'vip' END FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 3, NULL,
        |    CASE WHEN c_custkey % 2 <> 0 THEN CAST(c_acctbal AS DECIMAL(18,2)) + 10 END,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'UPDATED' END, NULL FROM customer),
        |m AS (
        |  SELECT c_custkey,
        |    max(CASE WHEN name IS NOT NULL THEN {'p': version, 'v': name} END) AS mn,
        |    max(CASE WHEN acctbal IS NOT NULL THEN {'p': version, 'v': acctbal} END) AS mb,
        |    max(CASE WHEN seg IS NOT NULL THEN {'p': version, 'v': seg} END) AS ms,
        |    max(CASE WHEN note IS NOT NULL THEN {'p': version, 'v': note} END) AS mt
        |  FROM v GROUP BY c_custkey)
        |SELECT c_custkey, mn.v AS name, mn.p AS name_v,
        |  CAST(mb.v AS DOUBLE) AS acctbal, mb.p AS acctbal_v,
        |  ms.v AS seg, ms.p AS seg_v, mt.v AS note, mt.p AS note_v
        |FROM m ORDER BY c_custkey""".stripMargin,
    // linear attribution: credits are integer twelfths (12/n exact for
    // n<=4), summed as BIGINT; the one double division comes last
    "q130_linear_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS us
        |  FROM events WHERE event_type IN ('purchase', 'click', 'view', 'signup')),
        |g AS (
        |  SELECT *, SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC
        |          ROWS UNBOUNDED PRECEDING) AS conv_g FROM e),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, conv_g
        |                               ORDER BY us DESC, event_id DESC) AS rn
        |  FROM g WHERE conv_g >= 1),
        |k AS (
        |  SELECT *, SUM(CASE WHEN event_type <> 'purchase' AND rn <= 5
        |                     THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id, conv_g) AS n_t FROM r),
        |c AS (
        |  SELECT event_type AS channel, 12 // n_t AS g FROM k
        |  WHERE event_type <> 'purchase' AND rn <= 5
        |  UNION ALL
        |  SELECT 'direct', 12 FROM k WHERE event_type = 'purchase' AND n_t = 0)
        |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(g) AS BIGINT) AS credit_grains,
        |  CAST(SUM(g) AS DOUBLE) / 12.0 AS credit
        |FROM c GROUP BY channel ORDER BY channel""".stripMargin,
    // sweep-line concurrency: the bucketed two-phase scan must match
    // one plain global running sum over session boundaries
    "q131_concurrency" ->
      """WITH sess AS (
        |  SELECT MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
        |  FROM (
        |    SELECT user_id, ts_us,
        |      CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS session_id
        |    FROM (
        |      SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |        CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |             OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                > 1800000000 THEN 1 ELSE 0 END AS new_session
        |      FROM events) t1) t2
        |  GROUP BY user_id, session_id),
        |d AS (
        |  SELECT start_us AS ts, 1 AS delta FROM sess
        |  UNION ALL SELECT end_us + 1, -1 FROM sess),
        |r AS (
        |  SELECT ts, delta,
        |    SUM(delta) OVER (ORDER BY ts, delta ROWS UNBOUNDED PRECEDING) AS level,
        |    LEAD(ts) OVER (ORDER BY ts, delta) AS nxt
        |  FROM d)
        |SELECT CAST(level AS BIGINT) AS level,
        |  CAST(SUM(COALESCE(nxt - ts, 0)) AS BIGINT) AS total_us
        |FROM r GROUP BY level ORDER BY level""".stripMargin,
    // SCD2: no-op versions collapse (null-safe attr compare), then
    // lead over survivors stitches validity intervals
    "q132_scd2" ->
      """WITH v AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price, CAST(0 AS BIGINT) AS version FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'U7', CAST(o_totalprice AS DECIMAL(18,2)) + 10, 1
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)), 2
        |  FROM orders WHERE o_orderkey % 11 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'U21', CAST(o_totalprice AS DECIMAL(18,2)) + 20, 3
        |  FROM orders WHERE o_orderkey % 21 = 0),
        |k AS (
        |  SELECT *,
        |    lag(version) OVER (PARTITION BY o_orderkey ORDER BY version) IS NULL
        |    OR status IS DISTINCT FROM lag(status) OVER (PARTITION BY o_orderkey ORDER BY version)
        |    OR price IS DISTINCT FROM lag(price) OVER (PARTITION BY o_orderkey ORDER BY version) AS keep
        |  FROM v),
        |o AS (
        |  SELECT o_orderkey, status, CAST(price AS DOUBLE) AS price, version AS valid_from,
        |    lead(version) OVER (PARTITION BY o_orderkey ORDER BY version) AS valid_to
        |  FROM k WHERE keep)
        |SELECT o_orderkey, status, price, valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM o ORDER BY o_orderkey, valid_from""".stripMargin,
    // correlation via DECIMAL moments: the double formula runs on
    // engine-exact sums, so r is bit-identical (q91 recipe)
    "q133_corr_matrix" ->
      """WITH m AS (
        |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s1,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS s2,
        |    SUM(CAST(l_discount AS DECIMAL(18,2))) AS s3,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS s11,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS s22,
        |    SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS s33,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS s12,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS s13,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS s23
        |  FROM lineitem GROUP BY 1),
        |p AS (
        |  SELECT l_returnflag, n, 'l_quantity' AS var_x, 'l_extendedprice' AS var_y,
        |    CAST(s1 AS DOUBLE) AS sx, CAST(s2 AS DOUBLE) AS sy, CAST(s11 AS DOUBLE) AS sxx,
        |    CAST(s22 AS DOUBLE) AS syy, CAST(s12 AS DOUBLE) AS sxy FROM m
        |  UNION ALL
        |  SELECT l_returnflag, n, 'l_quantity', 'l_discount',
        |    CAST(s1 AS DOUBLE), CAST(s3 AS DOUBLE), CAST(s11 AS DOUBLE),
        |    CAST(s33 AS DOUBLE), CAST(s13 AS DOUBLE) FROM m
        |  UNION ALL
        |  SELECT l_returnflag, n, 'l_extendedprice', 'l_discount',
        |    CAST(s2 AS DOUBLE), CAST(s3 AS DOUBLE), CAST(s22 AS DOUBLE),
        |    CAST(s33 AS DOUBLE), CAST(s23 AS DOUBLE) FROM m)
        |SELECT l_returnflag, var_x, var_y, n,
        |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <= 0
        |         OR CAST(n AS DOUBLE) * syy - sy * sy <= 0 THEN NULL
        |       ELSE (CAST(n AS DOUBLE) * sxy - sx * sy)
        |            / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
        |               * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) END AS corr
        |FROM p ORDER BY l_returnflag, var_x, var_y""".stripMargin,
    // expectation audit: every rule restated in plain SQL; violation =
    // predicate false OR null (conservative gate)
    "q134_expectations" ->
      """WITH o AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |    CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice <= 500000.0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |    CAST(SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v3
        |  FROM orders),
        |l AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN NOT COALESCE(l_quantity >= 1 AND l_quantity <= 50, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |    CAST(SUM(CASE WHEN NOT COALESCE(l_discount <= 0.05, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v2
        |  FROM lineitem),
        |e AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1
        |  FROM events),
        |c AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(*) - (SELECT COUNT(*) FROM (SELECT 1 FROM customer GROUP BY c_custkey)) AS BIGINT) AS v1
        |  FROM customer),
        |fo AS (
        |  SELECT CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n,
        |    CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL
        |          AND o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT) AS v1),
        |fl AS (
        |  SELECT CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n,
        |    CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL
        |          AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT) AS v1)
        |SELECT * FROM (
        |  SELECT 'orders' AS table_name, 'o_totalprice_positive' AS rule, n AS n_checked, v1 AS n_violations, v1 = 0 AS pass FROM o
        |  UNION ALL SELECT 'orders', 'o_totalprice_under_500k', n, v2, v2 = 0 FROM o
        |  UNION ALL SELECT 'orders', 'o_orderstatus_domain', n, v3, v3 = 0 FROM o
        |  UNION ALL SELECT 'lineitem', 'l_quantity_range', n, v1, v1 = 0 FROM l
        |  UNION ALL SELECT 'lineitem', 'l_discount_cap', n, v2, v2 = 0 FROM l
        |  UNION ALL SELECT 'events', 'props_has_k', n, v1, v1 = 0 FROM e
        |  UNION ALL SELECT 'customer', 'c_custkey_unique', n, v1, v1 = 0 FROM c
        |  UNION ALL SELECT 'orders', 'o_custkey_fk', n, v1, v1 = 0 FROM fo
        |  UNION ALL SELECT 'lineitem', 'l_orderkey_fk', n, v1, v1 = 0 FROM fl)
        |ORDER BY table_name, rule""".stripMargin,
    // BFS min-hop: fixed-depth recursion enumerates every walk <= 4,
    // MIN(hop) over walks = BFS distance
    "q135_bfs_hops" ->
      """WITH RECURSIVE hi AS (
        |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 49),
        |pairs AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM hi a JOIN hi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |b(v, hop) AS (
        |  SELECT DISTINCT l_partkey, CAST(0 AS BIGINT) FROM hi WHERE l_partkey % 50 = 0
        |  UNION
        |  SELECT p.dst, b.hop + 1 FROM b JOIN pairs p ON p.src = b.v WHERE b.hop < 4)
        |SELECT v AS l_partkey, CAST(MIN(hop) AS BIGINT) AS hop
        |FROM b GROUP BY v ORDER BY l_partkey""".stripMargin,
    // OLS on DECIMAL moments; slope/intercept/r2 are fixed double
    // expressions over engine-exact sums (q133 recipe). DuckDB's
    // direct DECIMAL->DOUBLE cast double-rounds (int128->double, then
    // /10^scale) and can be off by an ulp on big moments like syy;
    // the floor-split below (integer part exact below 2^53, fraction
    // exact, one IEEE add) reproduces Spark's correctly-rounded cast.
    "q136_ols_trend" ->
      """WITH raw AS (
        |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS DECIMAL(18,2))) AS dsx,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS dsy,
        |    SUM(CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS DECIMAL(18,2))
        |        * CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS DECIMAL(18,2))) AS dsxx,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS dsyy,
        |    SUM(CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS DECIMAL(18,2))
        |        * CAST(o_totalprice AS DECIMAL(18,2))) AS dsxy
        |  FROM orders GROUP BY 1),
        |m AS (
        |  SELECT o_orderpriority, n,
        |    CAST(FLOOR(dsx) AS DOUBLE) + CAST(dsx - FLOOR(dsx) AS DOUBLE) AS sx,
        |    CAST(FLOOR(dsy) AS DOUBLE) + CAST(dsy - FLOOR(dsy) AS DOUBLE) AS sy,
        |    CAST(FLOOR(dsxx) AS DOUBLE) + CAST(dsxx - FLOOR(dsxx) AS DOUBLE) AS sxx,
        |    CAST(FLOOR(dsyy) AS DOUBLE) + CAST(dsyy - FLOOR(dsyy) AS DOUBLE) AS syy,
        |    CAST(FLOOR(dsxy) AS DOUBLE) + CAST(dsxy - FLOOR(dsxy) AS DOUBLE) AS sxy
        |  FROM raw)
        |SELECT o_orderpriority, n,
        |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <= 0 THEN NULL
        |       ELSE (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) END AS slope,
        |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <= 0 THEN NULL
        |       ELSE (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
        |            / CAST(n AS DOUBLE) END AS intercept,
        |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <= 0
        |         OR CAST(n AS DOUBLE) * syy - sy * sy <= 0 THEN NULL
        |       ELSE ((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy))
        |            / ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) END AS r2
        |FROM m ORDER BY o_orderpriority""".stripMargin,
    // batch LEFT JOIN over the interval condition: the streaming
    // replay's watermark-evicted null rows must reproduce exactly the
    // purchases with no preceding same-user view
    "q137_stream_outer_attribution" ->
      """WITH e AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us, event_type, value FROM events),
        |r AS (
        |  SELECT p.user_id, v.us AS view_us, p.value
        |  FROM e p LEFT JOIN e v ON v.user_id = p.user_id
        |    AND v.event_type = 'view'
        |    AND v.us <= p.us AND v.us >= p.us - 600000000
        |  WHERE p.event_type = 'purchase')
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(view_us) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(CASE WHEN view_us IS NULL THEN 1 END) AS BIGINT) AS n_unattributed,
        |  CAST(SUM(CASE WHEN view_us IS NULL THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS unattributed_value
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,
    // two-pass exact median/MAD (quantile_cont == Spark percentile),
    // threshold and z in the same fixed double-op order
    "q138_mad_outliers" ->
      s"""WITH t AS (
         |  SELECT source, doc_id, CAST(len(${Tokens.Space.sql("text")}) AS BIGINT) AS n_tok FROM documents),
         |med AS (SELECT source, quantile_cont(n_tok, 0.5) AS med FROM t GROUP BY source),
         |dv AS (
         |  SELECT t.source, t.doc_id, t.n_tok, med.med, ABS(t.n_tok - med.med) AS dev
         |  FROM t JOIN med USING (source)),
         |md AS (SELECT source, quantile_cont(dev, 0.5) AS mad FROM dv GROUP BY source)
         |SELECT dv.source, dv.doc_id, dv.n_tok, dv.med, md.mad,
         |  CASE WHEN md.mad > 0 THEN dv.dev / (1.4826 * md.mad) END AS z
         |FROM dv JOIN md USING (source)
         |WHERE dv.dev > (1.5 * 1.4826) * md.mad
         |ORDER BY source, doc_id""".stripMargin,
    // q107's BM25 SQL (probe set doc_id < 10, depth 20) + q23's
    // fixed-point cosine SQL (depth 20), fused by rank:
    // 1/(60+lex_rnk) + 1/(60+cos_rnk), missing list -> 0
    "q139_rrf_fusion" ->
      s"""WITH tok AS (
        |  SELECT doc_id, ${Tokens.Space.sql("text")} AS t
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM tok) GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        |tot AS (
        |  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
        |    (SELECT CAST(SUM(tf) AS BIGINT) FROM tf) AS l_total),
        |qr AS (
        |  SELECT DISTINCT query_id, tok FROM (
        |    SELECT doc_id AS query_id, unnest(t[1:8]) AS tok
        |    FROM tok WHERE doc_id < 10)),
        |hits AS (
        |  SELECT qr.query_id, tf.doc_id, tf.tf, dfq.df, dl.dl, tot.n_docs, tot.l_total
        |  FROM qr JOIN tf USING (tok) JOIN dfq USING (tok)
        |  JOIN dl ON dl.doc_id = tf.doc_id, tot),
        |sc AS (
        |  SELECT query_id, doc_id,
        |    SUM(CAST(
        |      (CAST(2 * (n_docs - df) + 1 AS DOUBLE) / CAST(2 * df + 1 AS DOUBLE)) *
        |      ((CAST(tf AS DOUBLE) * 2.2) /
        |        (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |          (CAST(dl * n_docs AS DOUBLE) / CAST(l_total AS DOUBLE)))))
        |      AS DECIMAL(20,9))) AS score_dec
        |  FROM hits GROUP BY 1, 2),
        |lex AS (
        |  SELECT query_id, doc_id, rnk AS lex_rnk FROM (
        |    SELECT query_id, doc_id,
        |      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY score_dec DESC, doc_id) AS BIGINT) AS rnk
        |    FROM sc WHERE doc_id <> query_id) z
        |  WHERE rnk <= 20),
        |qv AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
        |  FROM embeddings),
        |norms AS (
        |  SELECT vec_id, CAST(SUM(v[i] * v[i]) AS BIGINT) AS nrm
        |  FROM qv, range(1, 65) t(i) GROUP BY vec_id),
        |pairs AS (
        |  SELECT p.vec_id AS query_id, e.vec_id AS doc_id,
        |    CAST(SUM(p.v[i] * e.v[i]) AS BIGINT) AS dot
        |  FROM qv p, qv e, range(1, 65) t(i)
        |  WHERE p.vec_id < 10 AND e.vec_id <> p.vec_id
        |  GROUP BY p.vec_id, e.vec_id),
        |sem AS (
        |  SELECT query_id, doc_id, rnk AS cos_rnk FROM (
        |    SELECT pr.query_id, pr.doc_id,
        |      CAST(ROW_NUMBER() OVER (PARTITION BY pr.query_id ORDER BY
        |        CAST(dot AS DOUBLE) / sqrt(CAST(np.nrm AS DOUBLE) * CAST(ne.nrm AS DOUBLE)) DESC,
        |        pr.doc_id) AS BIGINT) AS rnk
        |    FROM pairs pr
        |    JOIN norms np ON np.vec_id = pr.query_id
        |    JOIN norms ne ON ne.vec_id = pr.doc_id) z
        |  WHERE rnk <= 20),
        |fused AS (
        |  SELECT query_id, doc_id, lex.lex_rnk, sem.cos_rnk,
        |    COALESCE(1.0 / CAST(60 + lex.lex_rnk AS DOUBLE), 0.0) +
        |    COALESCE(1.0 / CAST(60 + sem.cos_rnk AS DOUBLE), 0.0) AS rrf
        |  FROM lex FULL OUTER JOIN sem USING (query_id, doc_id))
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, rrf, lex_rnk, cos_rnk
        |FROM (
        |  SELECT query_id, doc_id, rrf, lex_rnk, cos_rnk,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rnk
        |  FROM fused) z
        |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    // melt of the zero-filled pivot == users x types grid with counts
    "q140_unpivot" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |t(event_type) AS (VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view')),
        |c AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM events GROUP BY 1, 2)
        |SELECT u.user_id, t.event_type, COALESCE(c.n, 0) AS n
        |FROM u CROSS JOIN t
        |LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type
        |ORDER BY u.user_id, t.event_type""".stripMargin,
    // wedge self-join on the middle vertex counts common neighbors;
    // existing edges removed; integer statistic, total-order top-25
    "q141_link_prediction" ->
      """WITH hi AS (
        |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 49),
        |e AS (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM hi x JOIN hi y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |nbr AS (SELECT a AS z, b AS n FROM e UNION ALL SELECT b AS z, a AS n FROM e),
        |w AS (
        |  SELECT n1.n AS a, n2.n AS b, CAST(COUNT(*) AS BIGINT) AS common_neighbors
        |  FROM nbr n1 JOIN nbr n2 ON n1.z = n2.z AND n1.n < n2.n
        |  GROUP BY 1, 2)
        |SELECT a, b, common_neighbors FROM w
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = w.a AND e.b = w.b)
        |ORDER BY common_neighbors DESC, a, b LIMIT 25""".stripMargin,
    // fixed-point centroids: per-dim truncating integer division of the
    // quantized sums (the CASE emulates Spark's truncation `div` under
    // DuckDB's flooring `//`), integer squared-L2 argmin with the same
    // (dist, label) tie-break
    "q142_label_centroids" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |sums AS (
        |  SELECT label, i, CAST(SUM(qv[i]) AS BIGINT) AS s, COUNT(*) AS n
        |  FROM q, range(1, 65) t(i) GROUP BY label, i),
        |cent AS (
        |  SELECT label AS clabel, i,
        |    CASE WHEN s < 0 THEN -((-s) // n) ELSE s // n END AS c
        |  FROM sums),
        |dist AS (
        |  SELECT q.vec_id, q.label, c.clabel,
        |    CAST(SUM((qv[c.i] - c.c) * (qv[c.i] - c.c)) AS BIGINT) AS d2
        |  FROM q, cent c
        |  GROUP BY q.vec_id, q.label, c.clabel),
        |pred AS (
        |  SELECT vec_id, label, clabel,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
        |  FROM dist)
        |SELECT label, clabel AS pred_label, COUNT(*) AS n
        |FROM pred WHERE rn = 1
        |GROUP BY label, clabel ORDER BY label, pred_label""".stripMargin,
    // the q23 exact-cosine top-5 extended with neighbor-label majority
    // vote; ties break on more votes then smaller label
    "q143_knn_classify" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |norms AS (
        |  SELECT vec_id, CAST(SUM(qv[i] * qv[i]) AS BIGINT) AS nrm
        |  FROM q, range(1, 65) t(i) GROUP BY vec_id),
        |pairs AS (
        |  SELECT p.vec_id AS probe_id, e.vec_id AS vec_id,
        |    CAST(SUM(p.qv[i] * e.qv[i]) AS BIGINT) AS dot
        |  FROM q p, q e, range(1, 65) t(i)
        |  WHERE p.vec_id < 10 AND e.vec_id <> p.vec_id
        |  GROUP BY p.vec_id, e.vec_id),
        |top AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT pr.probe_id, pr.vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY pr.probe_id
        |        ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(np.nrm AS DOUBLE) * CAST(ne.nrm AS DOUBLE)) DESC,
        |          pr.vec_id) AS rnk
        |    FROM pairs pr
        |    JOIN norms np ON np.vec_id = pr.probe_id
        |    JOIN norms ne ON ne.vec_id = pr.vec_id) z
        |  WHERE rnk <= 5),
        |votes AS (
        |  SELECT t.probe_id, e.label, COUNT(*) AS votes
        |  FROM top t JOIN embeddings e ON e.vec_id = t.vec_id
        |  GROUP BY t.probe_id, e.label),
        |pred AS (
        |  SELECT probe_id, label, votes,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY votes DESC, label) AS rn
        |  FROM votes)
        |SELECT p.probe_id, pe.label AS true_label, p.label AS pred_label,
        |  CAST(p.votes AS BIGINT) AS n_votes
        |FROM pred p JOIN embeddings pe ON pe.vec_id = p.probe_id
        |WHERE p.rn = 1 ORDER BY p.probe_id""".stripMargin,
    // distinct (source, gram) first; gram identity is substr(md5,1,16)
    // = the engine's gramHash64 bytes, so distinct counts agree even
    // under a (vanishingly unlikely) truncated-md5 collision
    "q144_source_overlap" ->
      s"""WITH tok AS (
        |  SELECT source, doc_id,
        |    ${Tokens.SpaceLower.sqlOrEmpty("text")} AS t
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT source, substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 16) AS k
        |  FROM tok, unnest(range(1, len(t) - 1)) u(i)),
        |sz AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
        |sh AS (
        |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
        |  FROM g a JOIN g b ON a.k = b.k AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sh.source_a, sh.source_b, CAST(sh.n_shared AS BIGINT) AS n_shared,
        |  CAST(sh.n_shared AS DOUBLE) / CAST(sa.n + sb.n - sh.n_shared AS DOUBLE) AS gram_jaccard
        |FROM sh
        |JOIN sz sa ON sa.source = sh.source_a
        |JOIN sz sb ON sb.source = sh.source_b
        |ORDER BY source_a, source_b""".stripMargin,
    // same single-space tokenization as q126; ntile bucket assignment
    // is deterministic under the (n_tok, doc_id) total order
    "q145_curriculum" ->
      s"""WITH r AS (
        |  SELECT doc_id, source,
        |    CAST(len(${Tokens.Space.sqlOrEmpty("text")}) AS BIGINT) AS n_tok
        |  FROM documents),
        |b AS (
        |  SELECT source, n_tok,
        |    CAST(ntile(10) OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS BIGINT) AS bucket
        |  FROM r)
        |SELECT source, bucket, COUNT(*) AS n_docs,
        |  MIN(n_tok) AS min_tok, MAX(n_tok) AS max_tok,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok
        |FROM b GROUP BY source, bucket ORDER BY source, bucket""".stripMargin,
    // same md5-ordered deterministic membership; ROW_NUMBER under the
    // (hash, doc_id) total order replays the engine's window exactly
    "q146_fixed_k_sample" ->
      """SELECT doc_id, lang, source, rk FROM (
        |  SELECT doc_id, lang, source,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang, source
        |      ORDER BY md5(text), doc_id) AS BIGINT) AS rk
        |  FROM documents) t
        |WHERE rk <= 10
        |ORDER BY lang, source, rk""".stripMargin,
    // q108's closed-sessions rule verbatim: the transformWithState
    // replay must reproduce the flatMapGroupsWithState one bit-for-bit
    "q147_tws_sessions" ->
      """WITH e AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
        |o AS (
        |  SELECT user_id, us,
        |    CASE WHEN LAG(us) OVER w IS NULL
        |      OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS fresh
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s2 AS (
        |  SELECT user_id, us, SUM(fresh) OVER (
        |    PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o),
        |sess AS (
        |  SELECT user_id, sid, MIN(us) AS start_us, MAX(us) AS end_us,
        |    COUNT(*) AS n_events
        |  FROM s2 GROUP BY 1, 2),
        |closed AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY user_id ORDER BY sid DESC) AS rr FROM sess)
        |  WHERE rr > 1)
        |SELECT user_id, start_us, end_us, CAST(n_events AS BIGINT) AS n_events
        |FROM closed ORDER BY user_id, start_us""".stripMargin,
    // RANGE frame over the micros key: peers share one frame on both
    // engines, so no row-order tie-break is needed
    "q148_range_window" ->
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS trail_sum,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS trail_n
        |FROM (SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS us, value FROM events) e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "q149_sql_entry" ->
      """SELECT r_name AS region, n_name AS nation,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY region, nation""".stripMargin,
    "q150_recursive_cte" ->
      """WITH RECURSIVE hi AS (
        |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 49),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM hi a JOIN hi b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |reach(p, hop) AS (
        |  SELECT DISTINCT l_partkey AS p, 0 AS hop FROM hi WHERE l_partkey < 100
        |  UNION ALL
        |  SELECT e.dst AS p, r.hop + 1 AS hop
        |  FROM reach r JOIN e ON e.src = r.p
        |  WHERE r.hop < 2)
        |SELECT p AS l_partkey, CAST(MIN(hop) AS BIGINT) AS min_hops
        |FROM reach GROUP BY p
        |ORDER BY l_partkey""".stripMargin,
    "q151_lateral_topn" ->
      """SELECT n_name AS nation, c.c_name AS customer, c.c_acctbal AS acctbal
        |FROM nation,
        |LATERAL (
        |  SELECT c_name, c_acctbal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        |ORDER BY nation, acctbal DESC, customer""".stripMargin,
    // different decoder, same typed values: DuckDB's JSON accessors
    // must agree with Spark's variant shredding field-for-field
    "q152_variant_shred" ->
      """SELECT event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_distinct_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the q134 rule-restatement pattern for the three observed rules;
    // violation = predicate false OR null (the conservative gate)
    "q153_observed_audit" ->
      """WITH n AS (SELECT COUNT(*) AS n_checked FROM events)
        |SELECT 'events' AS table_name, 'props_has_k' AS rule, n.n_checked,
        |  (SELECT COUNT(*) FROM events
        |   WHERE json_extract_string(props, '$.k') IS NULL) AS n_violations,
        |  (SELECT COUNT(*) FROM events
        |   WHERE json_extract_string(props, '$.k') IS NULL) = 0 AS pass
        |FROM n
        |UNION ALL
        |SELECT 'events', 'user_positive', n.n_checked,
        |  (SELECT COUNT(*) FROM events
        |   WHERE NOT COALESCE(user_id > 0, FALSE)),
        |  (SELECT COUNT(*) FROM events
        |   WHERE NOT COALESCE(user_id > 0, FALSE)) = 0
        |FROM n
        |UNION ALL
        |SELECT 'events', 'value_non_null', n.n_checked,
        |  (SELECT COUNT(*) FROM events WHERE value IS NULL),
        |  (SELECT COUNT(*) FROM events WHERE value IS NULL) = 0
        |FROM n
        |ORDER BY rule""".stripMargin,
    // lower() grouping: for ASCII it provably coincides with Spark's
    // UTF8_LCASE collation semantics — that coincidence IS the check
    "q154_collation_group" ->
      """WITH v AS (
        |  SELECT CASE WHEN event_id % 3 = 0 THEN upper(event_type)
        |              ELSE event_type END AS et
        |  FROM events)
        |SELECT lower(et) AS event_type_ci,
        |  COUNT(*) AS n_events,
        |  CAST(COUNT(DISTINCT et) AS BIGINT) AS n_spellings
        |FROM v GROUP BY lower(et) ORDER BY event_type_ci""".stripMargin,
    // the q142 assignment CTEs + Cohen's kappa as ONE double division
    // of two exact BIGINTs: (N*A - S) / (N^2 - S)
    "q155_label_kappa" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |sums AS (
        |  SELECT label, i, CAST(SUM(qv[i]) AS BIGINT) AS s, COUNT(*) AS n
        |  FROM q, range(1, 65) t(i) GROUP BY label, i),
        |cent AS (
        |  SELECT label AS clabel, i,
        |    CASE WHEN s < 0 THEN -((-s) // n) ELSE s // n END AS c
        |  FROM sums),
        |dist AS (
        |  SELECT q.vec_id, q.label, c.clabel,
        |    CAST(SUM((qv[c.i] - c.c) * (qv[c.i] - c.c)) AS BIGINT) AS d2
        |  FROM q, cent c
        |  GROUP BY q.vec_id, q.label, c.clabel),
        |asg AS (
        |  SELECT vec_id, label, clabel AS pred_label FROM (
        |    SELECT vec_id, label, clabel,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
        |    FROM dist) z WHERE rn = 1),
        |cells AS (SELECT label, pred_label, COUNT(*) AS n FROM asg GROUP BY 1, 2),
        |t AS (SELECT label, CAST(SUM(n) AS BIGINT) AS n_true FROM cells GROUP BY 1),
        |p AS (SELECT pred_label AS label, CAST(SUM(n) AS BIGINT) AS n_pred FROM cells GROUP BY 1),
        |sc AS (SELECT CAST(SUM(COALESCE(n_true, 0) * COALESCE(n_pred, 0)) AS BIGINT) AS s
        |       FROM t FULL JOIN p USING (label)),
        |ag AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS a
        |       FROM cells WHERE label = pred_label),
        |nn AS (SELECT COUNT(*) AS n FROM asg)
        |SELECT nn.n, ag.a AS n_agree, sc.s AS s_chance,
        |  CAST(nn.n * ag.a - sc.s AS DOUBLE) / CAST(nn.n * nn.n - sc.s AS DOUBLE) AS kappa
        |FROM nn, ag, sc""".stripMargin,
    // q117's fixture and quadratic NOT-EXISTS radius rule, verbatim:
    // q156 runs the SAME single-rule dedup in-stream (chunk-LSH keyed
    // state, exact for radius <= 3), so the survivors must be
    // identical — oracle-sharing per the q108/q147 precedent
    "q156_stream_radius_dedup" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    CAST(CAST(u AS HUGEINT) - CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
        |      THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END AS BIGINT) AS sim
        |  FROM (SELECT doc_id, CAST(('0x' || substr(md5(text), 1, 16)) AS UBIGINT) AS u
        |        FROM documents)),
        |mx AS (SELECT MAX(doc_id) + 1 AS shift FROM documents),
        |store AS (
        |  SELECT doc_id AS ts, doc_id, sim FROM fp
        |  UNION ALL
        |  SELECT doc_id + shift, doc_id + shift,
        |    xor(sim, CAST(1 AS BIGINT) << CAST(doc_id % 63 AS INTEGER))
        |  FROM fp, mx WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 2 * shift, doc_id + 2 * shift,
        |    xor(sim, CAST(255 AS BIGINT) << CAST((doc_id % 7) * 8 AS INTEGER))
        |  FROM fp, mx WHERE doc_id % 29 = 0)
        |SELECT CAST(s.ts AS BIGINT) AS arrival, CAST(s.doc_id AS BIGINT) AS doc_id
        |FROM store s
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM store e
        |  WHERE (e.ts < s.ts OR (e.ts = s.ts AND e.doc_id < s.doc_id))
        |    AND bit_count(xor(e.sim, s.sim)) <= 3)
        |ORDER BY doc_id""".stripMargin,
    // full power-iteration replay (ALGORITHMIC-REPLAY family): same
    // fixed-point quantization, exact HUGEINT Gram sums, the same
    // PcaIters bounded iterations with truncating renormalization
    // (HUGEINT // truncates toward zero exactly like BigInt /), same
    // first-nonzero-positive sign pin — the unrolled-CTE q73 pattern
    "q157_pca_project" -> {
      val s = graft.operators.Similarity.PcaScale
      val head =
        """WITH qv AS (
          |  SELECT vec_id, label,
          |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
          |  FROM embeddings),
          |el AS (
          |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS i, q[CAST(i AS INTEGER)] AS qi
          |  FROM qv, unnest(range(1, len(q) + 1)) u(i)),
          |g AS (
          |  SELECT a.i AS i, b.i AS j, SUM(CAST(a.qi AS HUGEINT) * b.qi) AS g
          |  FROM el a JOIN el b ON a.vec_id = b.vec_id GROUP BY 1, 2),""".stripMargin +
        s"""
          |v0 AS (SELECT DISTINCT i, CAST($s AS HUGEINT) AS v FROM el)""".stripMargin
      // each CTE is referenced EXACTLY once: DuckDB inlines CTEs, so a
      // double reference per iteration would expand 2^PcaIters copies
      // of the whole chain. The renorm max is a window function, the
      // sign pin is two stacked single-read windows, and `pv` (the
      // diagonal join row carries v_{k-1}(i)) mirrors the engine's
      // keep-previous-v branch when the whole product is zero — the
      // GREATEST floor keeps the unselected division branch safe under
      // eager vectorized evaluation
      val iters = (1 to graft.operators.Similarity.PcaIters).map { k =>
        s""",
           |w$k AS (SELECT g.i, SUM(g.g * v.v) AS w,
           |  MAX(CASE WHEN g.j = g.i THEN v.v END) AS pv
           |  FROM g JOIN v${k - 1} v ON v.i = g.j GROUP BY 1),
           |v$k AS (SELECT i, CASE WHEN MAX(abs(w)) OVER () = 0 THEN pv
           |  ELSE (w * $s) // GREATEST(MAX(abs(w)) OVER (), 1) END AS v FROM w$k)""".stripMargin
      }.mkString
      val last = s"v${graft.operators.Similarity.PcaIters}"
      val tail =
        s""",
          |vf0 AS (SELECT i, v,
          |  MIN(CASE WHEN v <> 0 THEN i END) OVER () AS fi FROM $last),
          |vf AS (SELECT i, v, CASE WHEN COALESCE(
          |  MAX(CASE WHEN i = fi THEN v END) OVER (), 1) < 0
          |  THEN -1 ELSE 1 END AS s FROM vf0),
          |fin AS (
          |  SELECT el.vec_id, SUM(CAST(el.qi AS HUGEINT) * vf.v) AS raw,
          |    MAX(vf.s) AS s
          |  FROM el JOIN vf ON vf.i = el.i GROUP BY 1)
          |SELECT f.vec_id, CAST(q2.label AS BIGINT) AS label,
          |  CAST(f.raw * f.s AS BIGINT) AS proj1
          |FROM fin f JOIN qv q2 USING (vec_id)
          |ORDER BY vec_id""".stripMargin
      head + iters + tail
    },
    // full count-min replay (ALGORITHMIC-REPLAY family): the published
    // (a, b, c) hash rows ride the SQL as literals, the 60-bit md5 key
    // and its 30-bit split are bilateral, cells are plain GROUP BY
    // counts, estimates the MIN over each probe token's cells — the
    // q55 sketch surface with every value driver-checkable
    "q158_cms_freq" ->
      s"""WITH toks AS (
        |  SELECT unnest(${Tokens.Space.sqlOrEmpty("text")}) AS tok
        |  FROM documents),
        |seeds(j, a, b, c) AS (SELECT * FROM (VALUES ${graft.functions.CmsSketchAgg.seedValuesSql}) v),
        |keyed AS (
        |  SELECT tok, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS x FROM toks),
        |cells AS (
        |  SELECT j, ((a * (x >> 30) + b * (x & 1073741823) + c) % 2147483647) % 512 AS bkt,
        |    COUNT(*) AS cell_cnt
        |  FROM keyed, seeds GROUP BY 1, 2),
        |pr AS (
        |  SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY tok
        |  ORDER BY exact_cnt DESC, tok LIMIT 10),
        |pb AS (
        |  SELECT p.tok, p.exact_cnt, s.j,
        |    ((s.a * (k.x >> 30) + s.b * (k.x & 1073741823) + s.c) % 2147483647) % 512 AS bkt
        |  FROM pr p, seeds s,
        |    (SELECT tok, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS x
        |     FROM (SELECT DISTINCT tok FROM toks)) k
        |  WHERE k.tok = p.tok)
        |SELECT p.tok, p.exact_cnt, MIN(c.cell_cnt) AS est_cnt,
        |  MIN(c.cell_cnt) - p.exact_cnt AS over_err
        |FROM pb p JOIN cells c ON c.j = p.j AND c.bkt = p.bkt
        |GROUP BY p.tok, p.exact_cnt
        |ORDER BY p.exact_cnt DESC, p.tok""".stripMargin,
    // full HyperLogLog replay (ALGORITHMIC-REPLAY family): same 60-bit
    // md5 key, register index = top 9 bits, rho = 52 - bitlength of
    // the 51-bit suffix (bin() = Spark's conv(_,10,2)), registers as
    // MAX per bucket, the register sum as the EXACT integer
    // sum(2^(52-rho)), and the raw estimate as one literal-scaled
    // divide. The ln-based small-range correction is engine-side only
    // (1-ulp ln divergence, measured) — the oracle pins its PREDICATE
    "q159_hll_distinct" ->
      s"""WITH t AS (
        |  SELECT source, ${Tokens.Space.sqlOrEmpty("text")} AS t
        |  FROM documents),
        |g AS (
        |  SELECT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM t, unnest(range(1, len(t) - 1)) u(i) WHERE len(t) >= 3),
        |k AS (
        |  SELECT source, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS x FROM g),
        |r AS (
        |  SELECT source, x >> 51 AS bkt,
        |    MAX(CASE WHEN (x & 2251799813685247) = 0 THEN 52
        |        ELSE 52 - length(bin(x & 2251799813685247)) END) AS rho
        |  FROM k GROUP BY 1, 2),
        |agg AS (
        |  SELECT source, COUNT(*) AS n_hit,
        |    CAST(SUM(CAST(1 AS BIGINT) << CAST(52 - rho AS INTEGER)) AS BIGINT) AS s_hit
        |  FROM r GROUP BY 1),
        |ex AS (SELECT source, COUNT(DISTINCT g) AS n_distinct_exact FROM g GROUP BY 1)
        |SELECT a.source, ex.n_distinct_exact,
        |  CAST(512 - a.n_hit AS BIGINT) AS v_empty,
        |  CAST(a.s_hit + (512 - a.n_hit) * 4503599627370496 AS BIGINT) AS s_reg,
        |  CAST('${graft.functions.HllRegistersAgg.AlphaMM}' AS DOUBLE) * (CAST(4503599627370496 AS DOUBLE) /
        |    CAST(a.s_hit + (512 - a.n_hit) * 4503599627370496 AS DOUBLE)) AS est_raw,
        |  (CAST('${graft.functions.HllRegistersAgg.AlphaMM}' AS DOUBLE) * (CAST(4503599627370496 AS DOUBLE) /
        |    CAST(a.s_hit + (512 - a.n_hit) * 4503599627370496 AS DOUBLE)) <= 1280.0
        |   AND 512 - a.n_hit > 0) AS small_range
        |FROM agg a JOIN ex ON ex.source = a.source
        |ORDER BY a.source""".stripMargin,
    // full histogram replay (ALGORITHMIC-REPLAY family): same two-pass
    // bounds+bins, identical IEEE bin/edge arithmetic (every numeric
    // literal CAST AS DOUBLE — bare decimal literals are DECIMAL in
    // DuckDB), integer ceil-rank comparison, conditional-MIN pick
    "q160_hist_quantiles" ->
      """WITH ev AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events),
        |b AS (
        |  SELECT event_type, MIN(v) AS vmin, MAX(v) AS vmax, COUNT(*) AS n
        |  FROM ev GROUP BY 1),
        |binned AS (
        |  SELECT e.event_type,
        |    CASE WHEN b.vmax = b.vmin THEN CAST(0 AS BIGINT)
        |      ELSE LEAST(CAST(floor((e.v - b.vmin) * CAST(64 AS DOUBLE)
        |        / (b.vmax - b.vmin)) AS BIGINT), 63) END AS bin
        |  FROM ev e JOIN b USING (event_type)),
        |cells AS (SELECT event_type, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, bin,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum
        |  FROM cells),
        |picks AS (
        |  SELECT c.event_type, b.n, b.vmin, b.vmax,
        |    MIN(CASE WHEN cum >= (b.n * 50 + 99) // 100 THEN bin END) AS b50,
        |    MIN(CASE WHEN cum >= (b.n * 95 + 99) // 100 THEN bin END) AS b95,
        |    MIN(CASE WHEN cum >= (b.n * 99 + 99) // 100 THEN bin END) AS b99
        |  FROM cum c JOIN b USING (event_type)
        |  GROUP BY 1, 2, 3, 4)
        |SELECT event_type, n, vmin, vmax,
        |  vmin + CAST(b50 + 1 AS DOUBLE) * ((vmax - vmin) / CAST(64 AS DOUBLE)) AS p50_est,
        |  vmin + CAST(b95 + 1 AS DOUBLE) * ((vmax - vmin) / CAST(64 AS DOUBLE)) AS p95_est,
        |  vmin + CAST(b99 + 1 AS DOUBLE) * ((vmax - vmin) / CAST(64 AS DOUBLE)) AS p99_est
        |FROM picks ORDER BY event_type""".stripMargin,
    // the streaming HLL's register state is order-independent, so the
    // oracle replays the ENTIRE stream query from the batch events
    // table: same epoch-aligned 10-minute windows, same q159 register
    // arithmetic keyed by md5(user_id-as-string)
    "q161_stream_hll" ->
      s"""WITH ev AS (
        |  SELECT CAST(epoch_us(ts) AS BIGINT)
        |    - CAST(epoch_us(ts) AS BIGINT) % 600000000 AS win_start_us,
        |    user_id
        |  FROM events),
        |k AS (
        |  SELECT win_start_us, user_id,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS x
        |  FROM ev),
        |r AS (
        |  SELECT win_start_us, x >> 51 AS bkt,
        |    MAX(CASE WHEN (x & 2251799813685247) = 0 THEN 52
        |        ELSE 52 - length(bin(x & 2251799813685247)) END) AS rho
        |  FROM k GROUP BY 1, 2),
        |agg AS (
        |  SELECT win_start_us, COUNT(*) AS n_hit,
        |    CAST(SUM(CAST(1 AS BIGINT) << CAST(52 - rho AS INTEGER)) AS BIGINT) AS s_hit
        |  FROM r GROUP BY 1),
        |ex AS (
        |  SELECT win_start_us, COUNT(DISTINCT user_id) AS n_distinct_exact
        |  FROM ev GROUP BY 1)
        |SELECT a.win_start_us, ex.n_distinct_exact,
        |  CAST(512 - a.n_hit AS BIGINT) AS v_empty,
        |  CAST(a.s_hit + (512 - a.n_hit) * 4503599627370496 AS BIGINT) AS s_reg,
        |  CAST('${graft.functions.HllRegistersAgg.AlphaMM}' AS DOUBLE) * (CAST(4503599627370496 AS DOUBLE) /
        |    CAST(a.s_hit + (512 - a.n_hit) * 4503599627370496 AS DOUBLE)) AS est_raw,
        |  (CAST('${graft.functions.HllRegistersAgg.AlphaMM}' AS DOUBLE) * (CAST(4503599627370496 AS DOUBLE) /
        |    CAST(a.s_hit + (512 - a.n_hit) * 4503599627370496 AS DOUBLE)) <= 1280.0
        |   AND 512 - a.n_hit > 0) AS small_range
        |FROM agg a JOIN ex ON ex.win_start_us = a.win_start_us
        |ORDER BY a.win_start_us""".stripMargin,
    // register-union replay: the q159 register CTE, pair-tagged via
    // UNION ALL, bucket-wise MAX, and the same raw read-out — the HLL
    // merge algebra under a full hash-match; inclusion-exclusion is
    // one replayable double expression
    "q162_hll_overlap" -> {
      val alpha = s"CAST('${graft.functions.HllRegistersAgg.AlphaMM}' AS DOUBLE)"
      def readout(from: String, keys: String) =
        s"""SELECT $keys, $alpha * (CAST(4503599627370496 AS DOUBLE) /
           |    CAST(s_hit + (512 - n_hit) * 4503599627370496 AS DOUBLE)) AS est_raw
           |  FROM (SELECT $keys, COUNT(*) AS n_hit,
           |    CAST(SUM(CAST(1 AS BIGINT) << CAST(52 - r AS INTEGER)) AS BIGINT) AS s_hit
           |    FROM $from GROUP BY $keys) z""".stripMargin
      s"""WITH t AS (
        |  SELECT source, ${Tokens.Space.sqlOrEmpty("text")} AS t
        |  FROM documents),
        |g AS (
        |  SELECT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM t, unnest(range(1, len(t) - 1)) u(i) WHERE len(t) >= 3),
        |k AS (
        |  SELECT source, g, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS x FROM g),
        |regs AS (
        |  SELECT source, x >> 51 AS bkt,
        |    MAX(CASE WHEN (x & 2251799813685247) = 0 THEN 52
        |        ELSE 52 - length(bin(x & 2251799813685247)) END) AS r
        |  FROM k GROUP BY 1, 2),
        |per AS (
        |  ${readout("regs", "source")}),
        |srcs AS (SELECT DISTINCT source FROM regs),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b
        |  FROM srcs a JOIN srcs b ON a.source < b.source),
        |tagged AS (
        |  SELECT p.src_a, p.src_b, r.bkt, r.r FROM pairs p JOIN regs r ON r.source = p.src_a
        |  UNION ALL
        |  SELECT p.src_a, p.src_b, r.bkt, r.r FROM pairs p JOIN regs r ON r.source = p.src_b),
        |uregs AS (
        |  SELECT src_a, src_b, bkt, MAX(r) AS r FROM tagged GROUP BY 1, 2, 3),
        |uest AS (
        |  ${readout("uregs", "src_a, src_b")})
        |SELECT u.src_a, u.src_b,
        |  pa.est_raw AS est_a, pb.est_raw AS est_b, u.est_raw AS est_union,
        |  pa.est_raw + pb.est_raw - u.est_raw AS est_overlap
        |FROM uest u
        |JOIN per pa ON pa.source = u.src_a
        |JOIN per pb ON pb.source = u.src_b
        |ORDER BY u.src_a, u.src_b""".stripMargin
    },
    // cell-wise inner-product replay: the q158 cells keyed by source,
    // joined pairwise on (row, bucket), min over rows with the
    // missing-row-means-zero rule mirrored
    "q163_cms_inner" ->
      s"""WITH toks AS (
        |  SELECT source, unnest(${Tokens.Space.sqlOrEmpty("text")}) AS tok
        |  FROM documents),
        |seeds(j, a, b, c) AS (SELECT * FROM (VALUES ${graft.functions.CmsSketchAgg.seedValuesSql}) v),
        |keyed AS (
        |  SELECT source, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS x FROM toks),
        |cells AS (
        |  SELECT source, j,
        |    ((a * (x >> 30) + b * (x & 1073741823) + c) % 2147483647) % 512 AS bkt,
        |    COUNT(*) AS c
        |  FROM keyed, seeds GROUP BY 1, 2, 3),
        |perj AS (
        |  SELECT a.source AS src_a, b.source AS src_b, a.j,
        |    SUM(CAST(a.c AS HUGEINT) * b.c) AS s
        |  FROM cells a JOIN cells b
        |    ON a.j = b.j AND a.bkt = b.bkt AND a.source < b.source
        |  GROUP BY 1, 2, 3),
        |est AS (
        |  SELECT src_a, src_b,
        |    CASE WHEN COUNT(*) < 4 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(MIN(s) AS BIGINT) END AS ip_est
        |  FROM perj GROUP BY 1, 2)
        |SELECT src_a, src_b, ip_est
        |FROM est
        |ORDER BY src_a, src_b""".stripMargin,
    // plain-SQL mirror: cohort counts, generalized counts, the same
    // k floor on both
    "q164_k_anonymity" ->
      """WITH cohorts AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2),
        |coarse AS (
        |  SELECT c_nationkey, COUNT(*) AS n_coarse FROM customer GROUP BY 1)
        |SELECT c.c_nationkey, c.c_mktsegment, c.n,
        |  c.n < 10 AS at_risk, g.n_coarse,
        |  g.n_coarse >= 10 AS generalization_clears
        |FROM cohorts c JOIN coarse g USING (c_nationkey)
        |ORDER BY c.c_nationkey, c.c_mktsegment""".stripMargin,
    // exact sequential-fold replay: per-user (ts, event_id)-ordered
    // value list folded by list_reduce with the SAME integer update
    // (3x + 13e) // 16 — first element seeds, matching e_0 = x_0.
    // Deviations come from PREFIX folds (e before each step), not a
    // struct accumulator: DuckDB 1.0's list_reduce evaluates a struct
    // lambda's fields against a mutated accumulator (measured — the
    // m field saw the already-updated e), so multi-value state is
    // re-derived as one scalar fold per position instead
    "q165_ewma" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(round(value * CAST(1000000 AS DOUBLE)) AS BIGINT) AS x,
        |    ts, event_id
        |  FROM events),
        |seq AS (
        |  SELECT user_id, list(x ORDER BY ts, event_id) AS raw FROM ev GROUP BY 1),
        |devs AS (
        |  SELECT user_id, abs(raw[CAST(i AS INTEGER)] -
        |    list_reduce(raw[1:CAST(i AS INTEGER) - 1], (a, x) -> (3*x + 13*a) // 16)) AS dev
        |  FROM seq, unnest(range(2, len(raw) + 1)) t(i)),
        |mx AS (SELECT user_id, MAX(dev) AS max_dev_fp FROM devs GROUP BY 1)
        |SELECT s.user_id, CAST(len(s.raw) AS BIGINT) AS n_events,
        |  list_reduce(s.raw, (a, x) -> (3*x + 13*a) // 16) AS ewma_fp,
        |  CAST(COALESCE(m.max_dev_fp, 0) AS BIGINT) AS max_dev_fp
        |FROM seq s LEFT JOIN mx m ON m.user_id = s.user_id
        |ORDER BY s.user_id""".stripMargin,
    // unrolled two-vector fixed-point replay (the q73/q157 pattern):
    // T authority updates, T-1 interleaved hub updates, window-MAX
    // renormalization so every CTE is referenced exactly once
    "q166_hits" -> {
      val s = graft.operators.Corpus.HitsScale
      val t = graft.operators.Corpus.HitsIterations
      val head =
        s"""WITH e AS (
          |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
          |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
          |  WHERE l.l_quantity >= 45),
          |h0 AS (SELECT DISTINCT c, CAST($s AS BIGINT) AS h FROM e)""".stripMargin
      val iters = (1 to t).map { k =>
        val aPart =
          s""",
             |ar$k AS (SELECT e.p, CAST(SUM(h.h) AS BIGINT) AS ar FROM e JOIN h${k - 1} h USING (c) GROUP BY 1),
             |a$k AS (SELECT p, (ar * $s) // GREATEST(MAX(ar) OVER (), 1) AS a FROM ar$k)""".stripMargin
        val hPart = if (k < t)
          s""",
             |hr$k AS (SELECT e.c, CAST(SUM(a.a) AS BIGINT) AS hr FROM e JOIN a$k a USING (p) GROUP BY 1),
             |h$k AS (SELECT c, (hr * $s) // GREATEST(MAX(hr) OVER (), 1) AS h FROM hr$k)""".stripMargin
        else ""
        aPart + hPart
      }.mkString
      val tail =
        s""",
          |deg AS (SELECT p, COUNT(*) AS in_degree FROM e GROUP BY 1)
          |SELECT a.p AS l_partkey, CAST(d.in_degree AS BIGINT) AS in_degree,
          |  CAST(a.a AS BIGINT) AS auth_fp
          |FROM a$t a JOIN deg d USING (p)
          |ORDER BY l_partkey""".stripMargin
      head + iters + tail
    },
    // the streaming CMS's cell state is order-independent sums, so the
    // oracle replays the ENTIRE stream query from the batch events
    // table: epoch-aligned windows, the q158 bucket arithmetic on
    // md5(user_id-as-string), probe slate user_id < 10
    "q167_stream_cms" ->
      s"""WITH ev AS (
        |  SELECT CAST(epoch_us(ts) AS BIGINT)
        |    - CAST(epoch_us(ts) AS BIGINT) % 600000000 AS win_start_us,
        |    user_id
        |  FROM events),
        |seeds(j, a, b, c) AS (SELECT * FROM (VALUES ${graft.functions.CmsSketchAgg.seedValuesSql}) v),
        |keyed AS (
        |  SELECT win_start_us, user_id,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS x
        |  FROM ev),
        |cells AS (
        |  SELECT win_start_us, j,
        |    ((a * (x >> 30) + b * (x & 1073741823) + c) % 2147483647) % 512 AS bkt,
        |    COUNT(*) AS c
        |  FROM keyed, seeds GROUP BY 1, 2, 3),
        |pr AS (
        |  SELECT win_start_us, user_id, COUNT(*) AS exact_cnt
        |  FROM ev WHERE user_id < 10 GROUP BY 1, 2),
        |pb AS (
        |  SELECT p.win_start_us, p.user_id, p.exact_cnt, s.j,
        |    ((s.a * (k.x >> 30) + s.b * (k.x & 1073741823) + s.c) % 2147483647) % 512 AS bkt
        |  FROM pr p, seeds s,
        |    (SELECT DISTINCT user_id,
        |       CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS x
        |     FROM ev WHERE user_id < 10) k
        |  WHERE k.user_id = p.user_id)
        |SELECT p.win_start_us, p.user_id, p.exact_cnt, MIN(c.c) AS est_cnt,
        |  MIN(c.c) - p.exact_cnt AS over_err
        |FROM pb p JOIN cells c
        |  ON c.win_start_us = p.win_start_us AND c.j = p.j AND c.bkt = p.bkt
        |GROUP BY 1, 2, 3
        |ORDER BY p.win_start_us, p.user_id""".stripMargin,
    // global-bin histogram replay: one global bounds pass, per-scope
    // cells + the GLOBAL scope as their cell-wise sum, identical
    // IEEE bin/edge arithmetic and integer ceil-ranks (q160 rules)
    "q168_hist_merge" ->
      """WITH ev AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events),
        |b AS (SELECT MIN(v) AS vmin, MAX(v) AS vmax FROM ev),
        |binned AS (
        |  SELECT e.event_type,
        |    CASE WHEN b.vmax = b.vmin THEN CAST(0 AS BIGINT)
        |      ELSE LEAST(CAST(floor((e.v - b.vmin) * CAST(64 AS DOUBLE)
        |        / (b.vmax - b.vmin)) AS BIGINT), 63) END AS bin
        |  FROM ev e, b),
        |pc AS (SELECT event_type, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2),
        |cells AS (
        |  SELECT event_type AS scope, bin, c FROM pc
        |  UNION ALL
        |  SELECT 'GLOBAL' AS scope, bin, CAST(SUM(c) AS BIGINT) AS c
        |  FROM pc GROUP BY 2),
        |ns AS (SELECT scope, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1),
        |cum AS (
        |  SELECT scope, bin, c,
        |    SUM(c) OVER (PARTITION BY scope ORDER BY bin) AS cum
        |  FROM cells),
        |picks AS (
        |  SELECT c.scope, ns.n,
        |    MIN(CASE WHEN cum >= (ns.n * 50 + 99) // 100 THEN bin END) AS b50,
        |    MIN(CASE WHEN cum >= (ns.n * 95 + 99) // 100 THEN bin END) AS b95,
        |    MIN(CASE WHEN cum >= (ns.n * 99 + 99) // 100 THEN bin END) AS b99
        |  FROM cum c JOIN ns USING (scope) GROUP BY 1, 2)
        |SELECT p.scope, p.n,
        |  b.vmin + CAST(p.b50 + 1 AS DOUBLE) * ((b.vmax - b.vmin) / CAST(64 AS DOUBLE)) AS p50_est,
        |  b.vmin + CAST(p.b95 + 1 AS DOUBLE) * ((b.vmax - b.vmin) / CAST(64 AS DOUBLE)) AS p95_est,
        |  b.vmin + CAST(p.b99 + 1 AS DOUBLE) * ((b.vmax - b.vmin) / CAST(64 AS DOUBLE)) AS p99_est
        |FROM picks p, b ORDER BY p.scope""".stripMargin,
    // full IVF-PQ replay (ALGORITHMIC-REPLAY family): the q43 coarse
    // chain ([[IvfCoarseSql]]) extended with residual product
    // quantization — ONE pq chain carries all 8 subspaces via the mi
    // column (so CTE count stays linear in iterations, not
    // subspaces x iterations), integer sub-codebook Lloyd from the
    // md5-ordered bounded training cut, integer encode, and integer
    // ADC lookup-table scoring. rc is read twice per iteration and
    // each p$k chains on p${k-1}, so the whole oracle is wrapped in
    // [[mat]]: without materialization DuckDB's textual CTE inlining
    // makes evaluation exponential in the iteration count (this is
    // what zeroed the round-12 correctness gate)
    "q169_knn_ivfpq_replay" -> {
      val m = graft.operators.Similarity.PqReplaySubspaces
      val dsub = graft.operators.Similarity.EmbedDims / m
      val cap = graft.operators.Similarity.PqReplayTrainCap
      val seeds = graft.operators.Similarity.PqCodebookSize
      val cf = s"c${graft.operators.Similarity.IvfIters}"
      val head = IvfCoarseSql +
        s""",
          |rs AS (
          |  SELECT v.vec_id, a.cell, c.i, (c.i - 1) // $dsub AS mi, v.q[c.i] - c.c AS r
          |  FROM qv v JOIN asg a USING (vec_id) JOIN $cf c ON c.cell = a.cell),
          |tc AS (SELECT vec_id FROM hs ORDER BY h, vec_id LIMIT $cap),
          |rc AS (SELECT rs.vec_id, rs.mi, rs.i, rs.r FROM rs JOIN tc USING (vec_id)),
          |ps AS (SELECT vec_id FROM hs ORDER BY h, vec_id LIMIT $seeds),
          |p0 AS (SELECT rc.mi, rc.vec_id AS code, rc.i, rc.r AS c
          |  FROM rc JOIN ps USING (vec_id))""".stripMargin
      val iters = (1 to graft.operators.Similarity.PqReplayIters).map { kk =>
        s""",
           |pd$kk AS (
           |  SELECT rc.vec_id, rc.mi, p.code, SUM((rc.r - p.c) * (rc.r - p.c)) AS d2
           |  FROM rc JOIN p${kk - 1} p ON p.mi = rc.mi AND p.i = rc.i
           |  GROUP BY 1, 2, 3),
           |pa$kk AS (
           |  SELECT vec_id, mi, code FROM (
           |    SELECT vec_id, mi, code,
           |      ROW_NUMBER() OVER (PARTITION BY vec_id, mi ORDER BY d2, code) AS rn
           |    FROM pd$kk) z WHERE rn = 1),
           |p$kk AS (
           |  SELECT mi, code, i, CASE WHEN sm2 < 0 THEN -((-sm2) // n) ELSE sm2 // n END AS c FROM (
           |    SELECT a.mi, a.code, rc.i, SUM(rc.r) AS sm2, COUNT(*) AS n
           |    FROM pa$kk a JOIN rc ON rc.vec_id = a.vec_id AND rc.mi = a.mi
           |    GROUP BY 1, 2, 3) z)""".stripMargin
      }.mkString
      val pf = s"p${graft.operators.Similarity.PqReplayIters}"
      val tail =
        s""",
          |ed AS (
          |  SELECT rs.vec_id, rs.mi, p.code, SUM((rs.r - p.c) * (rs.r - p.c)) AS d2
          |  FROM rs JOIN $pf p ON p.mi = rs.mi AND p.i = rs.i
          |  GROUP BY 1, 2, 3),
          |en AS (
          |  SELECT vec_id, mi, code FROM (
          |    SELECT vec_id, mi, code,
          |      ROW_NUMBER() OVER (PARTITION BY vec_id, mi ORDER BY d2, code) AS rn
          |    FROM ed) z WHERE rn = 1),
          |pr AS (
          |  SELECT p.probe_id, p.cell, c.i, (c.i - 1) // $dsub AS mi, v.q[c.i] - c.c AS r
          |  FROM qv v JOIN pc p ON p.probe_id = v.vec_id
          |  JOIN $cf c ON c.cell = p.cell
          |  WHERE v.vec_id < 10),
          |ld AS (
          |  SELECT pr.probe_id, pr.cell, pr.mi, p.code,
          |    SUM((pr.r - p.c) * (pr.r - p.c)) AS d
          |  FROM pr JOIN $pf p ON p.mi = pr.mi AND p.i = pr.i
          |  GROUP BY 1, 2, 3, 4),
          |cand AS (
          |  SELECT p.probe_id, a.vec_id, a.cell FROM pc p JOIN asg a USING (cell)
          |  WHERE a.vec_id <> p.probe_id),
          |ad AS (
          |  SELECT c.probe_id, c.vec_id, CAST(SUM(l.d) AS BIGINT) AS adist
          |  FROM cand c
          |  JOIN en e ON e.vec_id = c.vec_id
          |  JOIN ld l ON l.probe_id = c.probe_id AND l.cell = c.cell
          |    AND l.mi = e.mi AND l.code = e.code
          |  GROUP BY 1, 2)
          |SELECT probe_id, vec_id, adist,
          |  CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adist, vec_id) AS BIGINT) AS rnk
          |FROM ad QUALIFY rnk <= 3 ORDER BY probe_id, rnk""".stripMargin
      head + iters + tail
    },
    // the q113 profiler's replayable twin: UNION-ALL melt (the SQL
    // stack), per-column counts, and the q159/q161 register arithmetic
    // keyed by md5(CAST(val AS VARCHAR)) — raw-formula estimate only,
    // small_range pins the correction branch (the q159 ln rule)
    "q170_profile_replay" ->
      s"""WITH m AS (
        |  SELECT 'doc_id' AS column_name, CAST(doc_id AS VARCHAR) AS val FROM documents
        |  UNION ALL SELECT 'text', text FROM documents
        |  UNION ALL SELECT 'lang', lang FROM documents
        |  UNION ALL SELECT 'source', source FROM documents
        |  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents),
        |c AS (
        |  SELECT column_name, COUNT(*) AS n_rows,
        |    CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
        |  FROM m GROUP BY 1),
        |k AS (
        |  SELECT column_name, CAST(('0x' || substr(md5(val), 1, 15)) AS BIGINT) AS x
        |  FROM m WHERE val IS NOT NULL),
        |r AS (
        |  SELECT column_name, x >> 51 AS bkt,
        |    MAX(CASE WHEN (x & 2251799813685247) = 0 THEN 52
        |        ELSE 52 - length(bin(x & 2251799813685247)) END) AS rho
        |  FROM k GROUP BY 1, 2),
        |a AS (
        |  SELECT column_name, COUNT(*) AS n_hit,
        |    CAST(SUM(CAST(1 AS BIGINT) << CAST(52 - rho AS INTEGER)) AS BIGINT) AS s_hit
        |  FROM r GROUP BY 1)
        |SELECT c.column_name, c.n_rows, c.n_nulls,
        |  CAST(512 - a.n_hit AS BIGINT) AS v_empty,
        |  CAST(a.s_hit + (512 - a.n_hit) * 4503599627370496 AS BIGINT) AS s_reg,
        |  CAST('${graft.functions.HllRegistersAgg.AlphaMM}' AS DOUBLE) * (CAST(4503599627370496 AS DOUBLE) /
        |    CAST(a.s_hit + (512 - a.n_hit) * 4503599627370496 AS DOUBLE)) AS est_raw,
        |  (CAST('${graft.functions.HllRegistersAgg.AlphaMM}' AS DOUBLE) * (CAST(4503599627370496 AS DOUBLE) /
        |    CAST(a.s_hit + (512 - a.n_hit) * 4503599627370496 AS DOUBLE)) <= 1280.0
        |   AND 512 - a.n_hit > 0) AS small_range
        |FROM c JOIN a USING (column_name)
        |ORDER BY column_name""".stripMargin,
    // streaming as-of enrichment (q171): the oracle replays the whole
    // thing in batch — the synthesized version table (md5-phased
    // activation times across the event-time span), per-event latest
    // valid version via ROW_NUMBER, and the no-valid-version tier -1
    // leg via NOT EXISTS. Decimal sums keep the value rollup exact
    // across engines.
    "q171_stream_asof_enrich" ->
      """WITH b AS (
        |  SELECT MIN(epoch_us(ts)) AS min_us, MAX(epoch_us(ts)) AS max_us FROM events),
        |dim AS (
        |  SELECT c_custkey AS user_id,
        |    b.min_us + i * GREATEST((b.max_us - b.min_us + 1) // 4, 1)
        |      + (CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
        |         % GREATEST((b.max_us - b.min_us + 1) // 8, 1)) AS vf_us,
        |    CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % 5 AS tier
        |  FROM customer, b, range(0, 4) t(i)),
        |e AS (SELECT event_id, epoch_us(ts) AS ts_us, event_type, value, user_id FROM events),
        |v AS (
        |  SELECT e.event_id, e.event_type, e.value, d.tier,
        |    ROW_NUMBER() OVER (PARTITION BY e.event_id ORDER BY d.vf_us DESC) AS rn
        |  FROM e JOIN dim d ON d.user_id = e.user_id AND d.vf_us <= e.ts_us),
        |en AS (
        |  SELECT event_type, value, tier FROM v WHERE rn = 1
        |  UNION ALL
        |  SELECT e.event_type, e.value, CAST(-1 AS BIGINT) AS tier FROM e
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM dim d WHERE d.user_id = e.user_id AND d.vf_us <= e.ts_us))
        |SELECT tier, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM en GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // KMV bottom-k distinct sketch (q172): the full replay — distinct
    // 60-bit keys, per-source rank <= k, unbiased (k-1)·H/kth estimate
    // in HUGEINT floor arithmetic (engine: BigInt floor; both truncate
    // toward zero on positives). Below k keys the estimate is exact.
    "q172_kmv_distinct" ->
      s"""WITH t AS (
        |  SELECT source, ${Tokens.Space.sqlOrEmpty("text")} AS t
        |  FROM documents),
        |g AS (
        |  SELECT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM t, unnest(range(1, len(t) - 1)) u(i) WHERE len(t) >= 3),
        |k AS (
        |  SELECT DISTINCT source, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS x FROM g),
        |r AS (
        |  SELECT source, x, ROW_NUMBER() OVER (PARTITION BY source ORDER BY x) AS rn FROM k),
        |sk AS (
        |  SELECT source, COUNT(*) AS n_kmv, MAX(x) AS kth_min
        |  FROM r WHERE rn <= ${graft.functions.KmvSketchAgg.K} GROUP BY 1),
        |ex AS (SELECT source, COUNT(DISTINCT g) AS n_distinct_exact FROM g GROUP BY 1)
        |SELECT sk.source, ex.n_distinct_exact,
        |  CAST(sk.n_kmv AS BIGINT) AS n_kmv, sk.kth_min,
        |  CAST(CASE WHEN sk.n_kmv < ${graft.functions.KmvSketchAgg.K} THEN sk.n_kmv
        |    ELSE (${graft.functions.KmvSketchAgg.K - 1} *
        |          CAST(${graft.functions.KmvSketchAgg.Domain} AS HUGEINT)) // sk.kth_min
        |    END AS BIGINT) AS est_distinct
        |FROM sk JOIN ex ON ex.source = sk.source
        |ORDER BY sk.source""".stripMargin,
    // KMV sketch-space Jaccard (q173): merged sketch = k smallest of
    // the two sketches' key union; J_est = both-members / merged size.
    // Estimate-only (the exact ground truth is priced and hash-checked
    // as its own query, q181).
    "q173_kmv_overlap" ->
      s"""WITH t AS (
        |  SELECT source, ${Tokens.Space.sqlOrEmpty("text")} AS t
        |  FROM documents),
        |g AS (
        |  SELECT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM t, unnest(range(1, len(t) - 1)) u(i) WHERE len(t) >= 3),
        |k AS (
        |  SELECT DISTINCT source, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS x FROM g),
        |r AS (
        |  SELECT source, x, ROW_NUMBER() OVER (PARTITION BY source ORDER BY x) AS rn FROM k),
        |sk AS (SELECT source, x FROM r WHERE rn <= ${graft.functions.KmvSketchAgg.K}),
        |srcs AS (SELECT DISTINCT source FROM k),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b
        |  FROM srcs a, srcs b WHERE a.source < b.source),
        |u AS (
        |  SELECT p.src_a, p.src_b, s.x,
        |    MAX(CASE WHEN s.source = p.src_a THEN 1 ELSE 0 END) AS ia,
        |    MAX(CASE WHEN s.source = p.src_b THEN 1 ELSE 0 END) AS ib
        |  FROM pairs p JOIN sk s ON s.source IN (p.src_a, p.src_b)
        |  GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT src_a, src_b, x, ia, ib,
        |    ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY x) AS rn
        |  FROM u),
        |est AS (
        |  SELECT src_a, src_b, COUNT(*) AS n_merged,
        |    CAST(SUM(ia * ib) AS BIGINT) AS n_both
        |  FROM m WHERE rn <= ${graft.functions.KmvSketchAgg.K} GROUP BY 1, 2)
        |SELECT src_a, src_b, n_merged, n_both,
        |  CAST(n_both AS DOUBLE) / CAST(n_merged AS DOUBLE) AS est_jaccard
        |FROM est
        |ORDER BY src_a, src_b""".stripMargin,
    // histogram-sketch-in-stream (q174): cells are order-independent
    // sums, so the oracle replays the whole stream query from the
    // batch table — global-domain bins, integer-rank picks, IEEE bin
    // edges, plus the exact k-th-order-statistic rider.
    "q174_stream_hist" ->
      s"""WITH b AS (
        |  SELECT MIN(CAST(value AS DOUBLE)) AS vmin, MAX(CAST(value AS DOUBLE)) AS vmax
        |  FROM events),
        |e AS (
        |  SELECT epoch_us(ts) - epoch_us(ts) % 600000000 AS win_start_us,
        |    CAST(value AS DOUBLE) AS v
        |  FROM events),
        |c AS (
        |  SELECT win_start_us,
        |    CASE WHEN b.vmax = b.vmin THEN 0
        |      ELSE LEAST(CAST(floor((v - b.vmin) * 64.0 / (b.vmax - b.vmin)) AS BIGINT), 63)
        |    END AS bin, COUNT(*) AS c
        |  FROM e, b GROUP BY 1, 2),
        |ns AS (SELECT win_start_us, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1),
        |cm AS (
        |  SELECT c.win_start_us, c.bin,
        |    CAST(SUM(c.c) OVER (PARTITION BY c.win_start_us ORDER BY c.bin) AS BIGINT) AS cum,
        |    ns.n
        |  FROM c JOIN ns USING (win_start_us)),
        |picks AS (
        |  SELECT win_start_us, n,
        |    MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin END) AS b50,
        |    MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN bin END) AS b95,
        |    MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin END) AS b99
        |  FROM cm GROUP BY 1, 2),
        |rk AS (
        |  SELECT e.win_start_us, e.v,
        |    ROW_NUMBER() OVER (PARTITION BY e.win_start_us ORDER BY e.v) AS rn,
        |    ns.n
        |  FROM e JOIN ns USING (win_start_us)),
        |ex AS (
        |  SELECT win_start_us,
        |    MIN(CASE WHEN rn >= (n * 50 + 99) // 100 THEN v END) AS p50_exact,
        |    MIN(CASE WHEN rn >= (n * 95 + 99) // 100 THEN v END) AS p95_exact,
        |    MIN(CASE WHEN rn >= (n * 99 + 99) // 100 THEN v END) AS p99_exact
        |  FROM rk GROUP BY 1)
        |SELECT p.win_start_us, p.n,
        |  b.vmin + (p.b50 + 1) * ((b.vmax - b.vmin) / 64.0) AS p50_est,
        |  b.vmin + (p.b95 + 1) * ((b.vmax - b.vmin) / 64.0) AS p95_est,
        |  b.vmin + (p.b99 + 1) * ((b.vmax - b.vmin) / 64.0) AS p99_est,
        |  ex.p50_exact, ex.p95_exact, ex.p99_exact
        |FROM picks p JOIN ex USING (win_start_us), b
        |ORDER BY p.win_start_us""".stripMargin,
    // KMV-sketch-in-stream (q175): order-independent sketch state →
    // the oracle replays the stream query from the batch table —
    // distinct keys per window, rank <= k, HUGEINT floor estimate.
    "q175_stream_kmv" ->
      s"""WITH e AS (
        |  SELECT epoch_us(ts) - epoch_us(ts) % 600000000 AS win_start_us, user_id
        |  FROM events),
        |k AS (
        |  SELECT DISTINCT win_start_us,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS x
        |  FROM e),
        |r AS (
        |  SELECT win_start_us, x,
        |    ROW_NUMBER() OVER (PARTITION BY win_start_us ORDER BY x) AS rn
        |  FROM k),
        |sk AS (
        |  SELECT win_start_us, COUNT(*) AS n_kmv, MAX(x) AS kth_min
        |  FROM r WHERE rn <= ${graft.functions.KmvSketchAgg.K} GROUP BY 1),
        |ex AS (
        |  SELECT win_start_us, COUNT(DISTINCT user_id) AS n_distinct_exact
        |  FROM e GROUP BY 1)
        |SELECT sk.win_start_us, ex.n_distinct_exact,
        |  CAST(sk.n_kmv AS BIGINT) AS n_kmv, sk.kth_min,
        |  CAST(CASE WHEN sk.n_kmv < ${graft.functions.KmvSketchAgg.K} THEN sk.n_kmv
        |    ELSE (${graft.functions.KmvSketchAgg.K - 1} *
        |          CAST(${graft.functions.KmvSketchAgg.Domain} AS HUGEINT)) // sk.kth_min
        |    END AS BIGINT) AS est_distinct
        |FROM sk JOIN ex ON ex.win_start_us = sk.win_start_us
        |ORDER BY sk.win_start_us""".stripMargin,
    // Log-free LM perplexity (q176): the half-bit quantized logarithm
    // floor(2*log2(a/b)) replayed exactly — bitlen via bin(), one-step
    // shift correction, half bit from a HUGEINT p^2 >= 2q^2 compare
    // (Spark mirrors it in DECIMAL(38,0)). Add-one bigram model from
    // the even-doc_id half, held-out odd half scored per source.
    "q176_lm_quality" ->
      s"""WITH tr AS (
        |  SELECT ${Tokens.Space.sql("text")} AS t
        |  FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'),
        |uni AS (
        |  SELECT tok, COUNT(*) AS cx
        |  FROM (SELECT unnest(t) AS tok FROM tr) GROUP BY tok),
        |vc AS (SELECT COUNT(*) AS v FROM uni),
        |bi AS (
        |  SELECT t[i] AS x, t[i+1] AS y, COUNT(*) AS cxy
        |  FROM tr, unnest(range(1, len(t))) u(i) GROUP BY 1, 2),
        |ep AS (
        |  SELECT doc_id, source, t[i] AS x, t[i+1] AS y, COUNT(*) AS tf
        |  FROM (SELECT doc_id, source,
        |          ${Tokens.Space.sql("text")} AS t
        |        FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '8'),
        |    unnest(range(1, len(t))) u(i)
        |  GROUP BY 1, 2, 3, 4),
        |sc0 AS (
        |  SELECT ep.doc_id, ep.source, ep.tf,
        |    vc.v + COALESCE(u.cx, 0) AS a, COALESCE(b.cxy, 0) + 1 AS b
        |  FROM ep CROSS JOIN vc
        |  LEFT JOIN uni u ON u.tok = ep.x
        |  LEFT JOIN bi b ON b.x = ep.x AND b.y = ep.y),
        |sc1 AS (SELECT *, length(bin(a)) - length(bin(b)) AS e0 FROM sc0),
        |sc2 AS (SELECT *, CASE WHEN (b << e0) > a THEN e0 - 1 ELSE e0 END AS e
        |        FROM sc1),
        |sc3 AS (
        |  SELECT doc_id, source, tf,
        |    (2*e + CASE WHEN CAST(a AS HUGEINT)*CAST(a AS HUGEINT) >=
        |        2*CAST(b << e AS HUGEINT)*CAST(b << e AS HUGEINT)
        |      THEN 1 ELSE 0 END) * tf AS s2
        |  FROM sc2),
        |pd AS (
        |  SELECT doc_id, source, SUM(tf) AS nbig, SUM(s2) AS s2sum
        |  FROM sc3 GROUP BY 1, 2)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(nbig) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(s2sum) AS BIGINT) AS surprisal2,
        |  CAST((SUM(s2sum) * ${graft.operators.Scoring.PpxScale}) // SUM(nbig)
        |    AS BIGINT) AS ppx_q
        |FROM pd GROUP BY source ORDER BY source""".stripMargin,
    // Naive-Bayes language-ID (q177): same half-bit surprisal primitive;
    // argmin class replayed as min-score-then-min-class (ties break to
    // the lexicographically smaller class in both engines).
    "q177_nb_langid" ->
      s"""WITH tr AS (
        |  SELECT lang AS cls, ${Tokens.Space.sql("text")} AS t
        |  FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'),
        |ct AS (
        |  SELECT cls, tok, COUNT(*) AS ctc
        |  FROM (SELECT cls, unnest(t) AS tok FROM tr) GROUP BY 1, 2),
        |vc AS (SELECT COUNT(DISTINCT tok) AS v FROM ct),
        |cl AS (SELECT cls, COUNT(*) AS dc FROM tr GROUP BY 1),
        |nt AS (SELECT cls, CAST(SUM(ctc) AS BIGINT) AS nc FROM ct GROUP BY 1),
        |d0 AS (SELECT COUNT(*) AS d FROM tr),
        |pri0 AS (
        |  SELECT cl.cls, COALESCE(nt.nc, 0) AS nc, d0.d AS a, cl.dc AS b
        |  FROM cl LEFT JOIN nt ON nt.cls = cl.cls CROSS JOIN d0),
        |pri1 AS (SELECT *, length(bin(a)) - length(bin(b)) AS e0 FROM pri0),
        |pri2 AS (SELECT *, CASE WHEN (b << e0) > a THEN e0 - 1 ELSE e0 END AS e
        |         FROM pri1),
        |pri AS (
        |  SELECT cls, nc,
        |    2*e + CASE WHEN CAST(a AS HUGEINT)*CAST(a AS HUGEINT) >=
        |        2*CAST(b << e AS HUGEINT)*CAST(b << e AS HUGEINT)
        |      THEN 1 ELSE 0 END AS prior2
        |  FROM pri2),
        |ev AS (
        |  SELECT doc_id, lang AS truth,
        |    ${Tokens.Space.sql("text")} AS t
        |  FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '8'),
        |tm AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM ev) GROUP BY 1, 2),
        |ts0 AS (
        |  SELECT tm.doc_id, p.cls, tm.tf,
        |    p.nc + vc.v AS a, COALESCE(ct.ctc, 0) + 1 AS b
        |  FROM tm CROSS JOIN pri p CROSS JOIN vc
        |  LEFT JOIN ct ON ct.cls = p.cls AND ct.tok = tm.tok),
        |ts1 AS (SELECT *, length(bin(a)) - length(bin(b)) AS e0 FROM ts0),
        |ts2 AS (SELECT *, CASE WHEN (b << e0) > a THEN e0 - 1 ELSE e0 END AS e
        |        FROM ts1),
        |ts AS (
        |  SELECT doc_id, cls,
        |    SUM((2*e + CASE WHEN CAST(a AS HUGEINT)*CAST(a AS HUGEINT) >=
        |        2*CAST(b << e AS HUGEINT)*CAST(b << e AS HUGEINT)
        |      THEN 1 ELSE 0 END) * tf) AS tok2
        |  FROM ts2 GROUP BY 1, 2),
        |sc AS (
        |  SELECT e.doc_id, e.truth, p.cls, p.prior2 + COALESCE(t.tok2, 0) AS total
        |  FROM (SELECT doc_id, truth FROM ev) e
        |  CROSS JOIN pri p
        |  LEFT JOIN ts t ON t.doc_id = e.doc_id AND t.cls = p.cls),
        |mn AS (SELECT doc_id, MIN(total) AS mt FROM sc GROUP BY 1),
        |pr AS (
        |  SELECT s.doc_id, s.truth, MIN(s.cls) AS predicted
        |  FROM sc s JOIN mn ON mn.doc_id = s.doc_id AND s.total = mn.mt
        |  GROUP BY 1, 2)
        |SELECT truth, predicted, CAST(COUNT(*) AS BIGINT) AS n
        |FROM pr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Memorization/novelty profile (q178): held-out trigram occurrences
    // vs the training half's distinct trigram set, per source. Same md5
    // half-split as q176/q177; docs with < 3 tokens yield no grams and
    // drop out on both sides.
    "q178_ngram_novelty" ->
      s"""WITH tr AS (
        |  SELECT ${Tokens.Space.sql("text")} AS t
        |  FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'),
        |tg AS (
        |  SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM tr, unnest(range(1, len(t) - 1)) u(i)),
        |ev AS (
        |  SELECT doc_id, source,
        |    ${Tokens.Space.sql("text")} AS t
        |  FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '8'),
        |eg AS (
        |  SELECT doc_id, source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g,
        |    COUNT(*) AS tf
        |  FROM ev, unnest(range(1, len(t) - 1)) u(i) GROUP BY 1, 2, 3),
        |pd AS (
        |  SELECT eg.doc_id, eg.source, SUM(eg.tf) AS n_grams,
        |    SUM(CASE WHEN tg.g IS NULL THEN 0 ELSE eg.tf END) AS n_seen
        |  FROM eg LEFT JOIN tg ON tg.g = eg.g GROUP BY 1, 2)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_grams) AS BIGINT) AS n_grams,
        |  CAST(SUM(n_seen) AS BIGINT) AS n_seen,
        |  CAST(SUM(CASE WHEN n_seen * 2 >= n_grams THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_memorized,
        |  CAST(((SUM(n_grams) - SUM(n_seen)) * 1000000) // SUM(n_grams)
        |    AS BIGINT) AS novelty_ppm
        |FROM pd GROUP BY source ORDER BY source""".stripMargin,
    // Blocklist scan (q179): the oracle replays the Aho-Corasick counts
    // POSITIONALLY — every start position where the pattern occurs
    // (overlapping included), which is exactly what the automaton
    // emits. O(docs x patterns x positions) here is fine at oracle SF;
    // the engine side is the one-pass DFA.
    "q179_blocklist_scan" ->
      s"""WITH pats(p) AS (SELECT * FROM (VALUES ${graft.operators.Curation.blocklistValuesSql}) v),
        |d AS (SELECT source, COALESCE(text, '') AS t FROM documents),
        |h AS (
        |  SELECT d.source, pats.p,
        |    len(list_filter(range(1, length(d.t) - length(pats.p) + 2),
        |      i -> substr(d.t, CAST(i AS INTEGER), length(pats.p)) = pats.p)) AS c
        |  FROM d CROSS JOIN pats)
        |SELECT source, p AS pattern,
        |  CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
        |  CAST(SUM(c) AS BIGINT) AS n_hits
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Native as-of join (q180): <=-time visibility, greatest-click-id
    // tie-break — replayed as max-time-then-max-id over an inequality
    // join (fine at oracle SF; the engine side is the streaming merge).
    "q180_asof_native" -> asofClickReplaySql,
    // Stream-stream as-of (q187): keyed latest-right state replayed
    // over the bounded table — same answer, same oracle, as the
    // native batch operator
    "q187_stream_asof_state" -> asofClickReplaySql,
    // ...and the same machine on transformWithState + RocksDB (q191)
    "q191_stream_asof_tws" -> asofClickReplaySql,
    // Exact distinct-trigram overlap per source pair (q181) — the
    // ground truth the q162/q173 sketches estimate, as its own line;
    // zero-overlap pairs kept via the full pair frame
    "q181_exact_gram_overlap" ->
      s"""WITH t AS (
        |  SELECT source, ${Tokens.Space.sqlOrEmpty("text")} AS t
        |  FROM documents),
        |g AS (
        |  SELECT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM t, unnest(range(1, len(t) - 1)) u(i) WHERE len(t) >= 3),
        |sg AS (SELECT DISTINCT source, g FROM g),
        |per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sg GROUP BY 1),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b, a.n AS n_a, b.n AS n_b
        |  FROM per a JOIN per b ON a.source < b.source),
        |shared AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared_exact
        |  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b, p.n_a, p.n_b,
        |  CAST(COALESCE(sh.n_shared_exact, 0) AS BIGINT) AS n_shared_exact,
        |  CAST(COALESCE(sh.n_shared_exact, 0) AS DOUBLE) /
        |    CAST(p.n_a + p.n_b - COALESCE(sh.n_shared_exact, 0) AS DOUBLE) AS jaccard_exact
        |FROM pairs p
        |LEFT JOIN shared sh ON sh.src_a = p.src_a AND sh.src_b = p.src_b
        |ORDER BY p.src_a, p.src_b""".stripMargin,
    // Exact token-frequency inner product per source pair (q182) —
    // the q163 ground truth as its own line; HUGEINT product before
    // the sum mirrors Spark's DECIMAL(38,0) widening
    "q182_exact_token_inner" ->
      s"""WITH toks AS (
        |  SELECT source, unnest(${Tokens.Space.sqlOrEmpty("text")}) AS tok
        |  FROM documents),
        |cnt AS (SELECT source, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2),
        |srcs AS (SELECT DISTINCT source FROM cnt),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b
        |  FROM srcs a JOIN srcs b ON a.source < b.source),
        |ex AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(SUM(CAST(a.n AS HUGEINT) * b.n) AS BIGINT) AS ip_exact
        |  FROM cnt a JOIN cnt b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b,
        |  CAST(COALESCE(x.ip_exact, 0) AS BIGINT) AS ip_exact
        |FROM pairs p LEFT JOIN ex x ON x.src_a = p.src_a AND x.src_b = p.src_b
        |ORDER BY p.src_a, p.src_b""".stripMargin,
    // Tolerance-bounded as-of (q183): the q180 replay with the match
    // additionally bounded to the last 10 minutes — the candidate is
    // still the latest at-or-before click; out-of-tolerance nulls out
    "q183_asof_tolerance" ->
      s"""WITH ev AS (
        |  SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_type
        |  FROM events),
        |er AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'error'),
        |cl AS (SELECT event_id AS click_id, user_id, ts_us FROM ev
        |       WHERE event_type = 'click'),
        |m AS (
        |  SELECT er.event_id, er.user_id, er.ts_us,
        |    MAX(CASE WHEN cl.ts_us >= er.ts_us - ${graft.operators.Temporal.AsofToleranceUs}
        |             THEN cl.ts_us END) AS asof_click_us
        |  FROM er LEFT JOIN cl
        |    ON cl.user_id = er.user_id AND cl.ts_us <= er.ts_us
        |  GROUP BY 1, 2, 3),
        |t AS (
        |  SELECT m.event_id, MAX(cl.click_id) AS asof_click_id
        |  FROM m JOIN cl
        |    ON cl.user_id = m.user_id AND cl.ts_us = m.asof_click_us
        |  GROUP BY 1)
        |SELECT m.event_id, m.user_id, m.ts_us, m.asof_click_us, t.asof_click_id
        |FROM m LEFT JOIN t ON t.event_id = m.event_id
        |ORDER BY m.event_id""".stripMargin,
    // Forward as-of (q184): earliest view at or after each error,
    // ties to the SMALLEST view id (the forward merge's first-in-order)
    "q184_asof_forward" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_type
        |  FROM events),
        |er AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'error'),
        |vw AS (SELECT event_id AS view_id, user_id, ts_us FROM ev
        |       WHERE event_type = 'view'),
        |m AS (
        |  SELECT er.event_id, er.user_id, er.ts_us, MIN(vw.ts_us) AS next_view_us
        |  FROM er LEFT JOIN vw
        |    ON vw.user_id = er.user_id AND vw.ts_us >= er.ts_us
        |  GROUP BY 1, 2, 3),
        |t AS (
        |  SELECT m.event_id, MIN(vw.view_id) AS asof_view_id
        |  FROM m JOIN vw
        |    ON vw.user_id = m.user_id AND vw.ts_us = m.next_view_us
        |  GROUP BY 1)
        |SELECT m.event_id, m.user_id, m.ts_us, m.next_view_us, t.asof_view_id
        |FROM m LEFT JOIN t ON t.event_id = m.event_id
        |ORDER BY m.event_id""".stripMargin,
    // CUSUM changepoint (q185): prefix-sum reflection identity, exact
    // fixed-point; // floors where Spark's div truncates — identical
    // on this non-negative domain
    "q185_cusum" -> cusumReplaySql,
    // ...and the same statistic walked as keyed STREAM state (q194):
    // same answer, same oracle
    "q194_stream_cusum" -> cusumReplaySql,
    // KMV A-not-B (q186): merged-sketch sample fraction times the
    // union estimate, two-level HUGEINT floor mirrored exactly
    "q186_kmv_difference" ->
      s"""WITH t AS (
        |  SELECT source, ${Tokens.Space.sqlOrEmpty("text")} AS t
        |  FROM documents),
        |g AS (
        |  SELECT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM t, unnest(range(1, len(t) - 1)) u(i) WHERE len(t) >= 3),
        |k AS (
        |  SELECT DISTINCT source, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS x FROM g),
        |r AS (
        |  SELECT source, x, ROW_NUMBER() OVER (PARTITION BY source ORDER BY x) AS rn FROM k),
        |sk AS (SELECT source, x FROM r WHERE rn <= ${graft.functions.KmvSketchAgg.K}),
        |srcs AS (SELECT DISTINCT source FROM k),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b
        |  FROM srcs a, srcs b WHERE a.source < b.source),
        |u AS (
        |  SELECT p.src_a, p.src_b, s.x,
        |    MAX(CASE WHEN s.source = p.src_a THEN 1 ELSE 0 END) AS ia,
        |    MAX(CASE WHEN s.source = p.src_b THEN 1 ELSE 0 END) AS ib
        |  FROM pairs p JOIN sk s ON s.source IN (p.src_a, p.src_b)
        |  GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT src_a, src_b, x, ia, ib,
        |    ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY x) AS rn
        |  FROM u),
        |agg AS (
        |  SELECT src_a, src_b, COUNT(*) AS n_merged,
        |    CAST(SUM(ia * (1 - ib)) AS BIGINT) AS n_anotb,
        |    CAST(SUM(ib * (1 - ia)) AS BIGINT) AS n_bnota,
        |    MAX(x) AS kth
        |  FROM m WHERE rn <= ${graft.functions.KmvSketchAgg.K} GROUP BY 1, 2),
        |est AS (
        |  SELECT src_a, src_b, n_merged, n_anotb, n_bnota,
        |    CASE WHEN n_merged < ${graft.functions.KmvSketchAgg.K}
        |         THEN CAST(n_merged AS HUGEINT)
        |         ELSE (${graft.functions.KmvSketchAgg.K - 1} *
        |               CAST(${graft.functions.KmvSketchAgg.Domain} AS HUGEINT)) // kth
        |    END AS est_u
        |  FROM agg)
        |SELECT src_a, src_b, CAST(n_merged AS BIGINT) AS n_merged,
        |  n_anotb, n_bnota,
        |  CAST((n_anotb * est_u) // n_merged AS BIGINT) AS est_a_not_b,
        |  CAST((n_bnota * est_u) // n_merged AS BIGINT) AS est_b_not_a
        |FROM est
        |ORDER BY src_a, src_b""".stripMargin,
    // Nearest as-of (q188): closer of the backward/forward picks,
    // distance ties to backward; id tie-break follows the winning
    // side's rule (max backward, min forward)
    "q188_asof_nearest" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_type
        |  FROM events),
        |er AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'error'),
        |cl AS (SELECT event_id AS click_id, user_id, ts_us FROM ev
        |       WHERE event_type = 'click'),
        |b AS (
        |  SELECT er.event_id, MAX(cl.ts_us) AS b_us
        |  FROM er JOIN cl ON cl.user_id = er.user_id AND cl.ts_us <= er.ts_us
        |  GROUP BY 1),
        |f AS (
        |  SELECT er.event_id, MIN(cl.ts_us) AS f_us
        |  FROM er JOIN cl ON cl.user_id = er.user_id AND cl.ts_us >= er.ts_us
        |  GROUP BY 1),
        |pick AS (
        |  SELECT er.event_id, er.user_id, er.ts_us,
        |    CASE WHEN b.b_us IS NOT NULL AND
        |              (f.f_us IS NULL OR er.ts_us - b.b_us <= f.f_us - er.ts_us)
        |         THEN b.b_us ELSE f.f_us END AS near_click_us,
        |    CASE WHEN b.b_us IS NOT NULL AND
        |              (f.f_us IS NULL OR er.ts_us - b.b_us <= f.f_us - er.ts_us)
        |         THEN 1 ELSE 0 END AS took_b
        |  FROM er
        |  LEFT JOIN b ON b.event_id = er.event_id
        |  LEFT JOIN f ON f.event_id = er.event_id),
        |t AS (
        |  SELECT p.event_id,
        |    CASE WHEN MAX(p.took_b) = 1 THEN MAX(cl.click_id)
        |         ELSE MIN(cl.click_id) END AS asof_click_id
        |  FROM pick p JOIN cl
        |    ON cl.user_id = p.user_id AND cl.ts_us = p.near_click_us
        |  GROUP BY 1)
        |SELECT p.event_id, p.user_id, p.ts_us, p.near_click_us, t.asof_click_id
        |FROM pick p LEFT JOIN t ON t.event_id = p.event_id
        |ORDER BY p.event_id""".stripMargin,
    // Broadcast range lookup (q189): the oracle pays the honest
    // inequality join against the same quadratic boundary table the
    // engine binary-searches; greatest boundary <= x = MAX(i)
    "q189_range_lookup" ->
      s"""WITH tiers AS (
        |  SELECT i, (i * i * 500000000) // 4096 AS lo
        |  FROM (SELECT CAST(unnest(range(0, ${graft.operators.Layout.RangeTiers})) AS BIGINT) AS i)),
        |e AS (
        |  SELECT event_id, event_type, CAST(round(value * 1e6) AS BIGINT) AS x
        |  FROM events),
        |looked AS (
        |  SELECT e.event_id, e.event_type, e.x, MAX(t.i) AS tier
        |  FROM e JOIN tiers t ON t.lo <= e.x
        |  GROUP BY 1, 2, 3)
        |SELECT tier, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(x) AS BIGINT) AS sum_x
        |FROM looked GROUP BY 1, 2
        |ORDER BY tier, event_type""".stripMargin,
    // HLL rollup (q190): one register build re-maxed at two grains
    // through GROUPING SETS; q162's raw read-out per level
    "q190_hll_rollup" -> {
      val alpha = s"CAST('${graft.functions.HllRegistersAgg.AlphaMM}' AS DOUBLE)"
      s"""WITH t AS (
        |  SELECT source, ${Tokens.Space.sqlOrEmpty("text")} AS t
        |  FROM documents),
        |g AS (
        |  SELECT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM t, unnest(range(1, len(t) - 1)) u(i) WHERE len(t) >= 3),
        |k AS (
        |  SELECT source, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS x FROM g),
        |regs AS (
        |  SELECT source, x >> 51 AS bkt,
        |    MAX(CASE WHEN (x & 2251799813685247) = 0 THEN 52
        |        ELSE 52 - length(bin(x & 2251799813685247)) END) AS r
        |  FROM k GROUP BY 1, 2),
        |lev AS (
        |  SELECT CAST(GROUPING(source) AS BIGINT) AS lvl,
        |    COALESCE(source, '<all>') AS source, bkt, MAX(r) AS r
        |  FROM regs GROUP BY GROUPING SETS ((source, bkt), (bkt)))
        |SELECT lvl, source, CAST(COUNT(*) AS BIGINT) AS n_hit,
        |  $alpha * (CAST(4503599627370496 AS DOUBLE) /
        |    CAST(CAST(SUM(CAST(1 AS BIGINT) << CAST(52 - r AS INTEGER)) AS BIGINT)
        |      + (512 - COUNT(*)) * 4503599627370496 AS DOUBLE)) AS est_raw
        |FROM lev GROUP BY 1, 2
        |ORDER BY lvl, source""".stripMargin
    },
    // Two-sided CUSUM (q192): one prefix sum serves both charts —
    // s_up off the running MIN, s_down off the running MAX
    "q192_cusum_two_sided" ->
      s"""WITH e AS (
        |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |    CAST(round(value * 1e6) AS BIGINT) AS x
        |  FROM events),
        |k AS (SELECT CAST(SUM(x) // COUNT(*) AS BIGINT) AS k FROM e),
        |p AS (
        |  SELECT user_id, event_id, ts_us, k.k,
        |    SUM(x - k.k) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS p
        |  FROM e, k),
        |c AS (
        |  SELECT user_id, ts_us, k,
        |    p - LEAST(MIN(p) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING), 0) AS s_up,
        |    GREATEST(MAX(p) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING), 0) - p AS s_dn
        |  FROM p)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(MAX(s_up) AS BIGINT) AS max_cusum_up,
        |  CAST(MAX(s_dn) AS BIGINT) AS max_cusum_down,
        |  CAST(SUM(CASE WHEN s_up > k * ${graft.operators.Temporal.CusumHMult} THEN 1 ELSE 0 END) AS BIGINT) AS n_above_up,
        |  CAST(SUM(CASE WHEN s_dn > k * ${graft.operators.Temporal.CusumHMult} THEN 1 ELSE 0 END) AS BIGINT) AS n_above_down,
        |  MIN(CASE WHEN s_up > k * ${graft.operators.Temporal.CusumHMult}
        |            OR s_dn > k * ${graft.operators.Temporal.CusumHMult}
        |           THEN ts_us END) AS first_cross_us
        |FROM c GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // Sliding-window KMV (q193): the q175 replay with the 6-fold
    // slide expansion explicit — every event in its 6 slide-aligned
    // trailing-hour windows, distinct keys per window, rank <= k
    "q193_stream_sliding_kmv" ->
      s"""WITH e AS (
        |  SELECT (epoch_us(ts) - epoch_us(ts) % 600000000) - i * 600000000 AS win_start_us,
        |    user_id
        |  FROM events, unnest(range(0, 6)) u(i)),
        |k AS (
        |  SELECT DISTINCT win_start_us,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS x
        |  FROM e),
        |r AS (
        |  SELECT win_start_us, x,
        |    ROW_NUMBER() OVER (PARTITION BY win_start_us ORDER BY x) AS rn
        |  FROM k),
        |sk AS (
        |  SELECT win_start_us, COUNT(*) AS n_kmv, MAX(x) AS kth_min
        |  FROM r WHERE rn <= ${graft.functions.KmvSketchAgg.K} GROUP BY 1),
        |ex AS (
        |  SELECT win_start_us, COUNT(DISTINCT user_id) AS n_distinct_exact
        |  FROM e GROUP BY 1)
        |SELECT sk.win_start_us, ex.n_distinct_exact,
        |  CAST(sk.n_kmv AS BIGINT) AS n_kmv, sk.kth_min,
        |  CAST(CASE WHEN sk.n_kmv < ${graft.functions.KmvSketchAgg.K} THEN sk.n_kmv
        |    ELSE (${graft.functions.KmvSketchAgg.K - 1} *
        |          CAST(${graft.functions.KmvSketchAgg.Domain} AS HUGEINT)) // sk.kth_min
        |    END AS BIGINT) AS est_distinct
        |FROM sk JOIN ex ON ex.win_start_us = sk.win_start_us
        |ORDER BY sk.win_start_us""".stripMargin,
    // Quantile sketch (q195): rebuild the identical bottom-k-by-hash
    // value sample (dedupe equal hashes keeping MIN value — the
    // engine's order-independent collision rule), then the identical
    // percentile-disc integer rank read-out
    "q195_quantile_sketch" ->
      s"""WITH e AS (
        |  SELECT event_type,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
        |    CAST(round(value * 1e6) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |d AS (SELECT event_type, h, MIN(v) AS v FROM e GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, v,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rh
        |  FROM d),
        |t AS (
        |  SELECT event_type, v,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rv,
        |    COUNT(*) OVER (PARTITION BY event_type) AS ns
        |  FROM r WHERE rh <= ${graft.functions.SamplePairsAgg.K}),
        |n AS (SELECT event_type, COUNT(*) AS n_events FROM e GROUP BY 1)
        |SELECT n.event_type, n.n_events,
        |  CAST(MAX(t.ns) AS BIGINT) AS n_sample,
        |  MAX(CASE WHEN rv = (ns * 50 + 99) // 100 THEN v END) AS p50_fx,
        |  MAX(CASE WHEN rv = (ns * 90 + 99) // 100 THEN v END) AS p90_fx,
        |  MAX(CASE WHEN rv = (ns * 99 + 99) // 100 THEN v END) AS p99_fx
        |FROM t JOIN n ON n.event_type = t.event_type
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // Stream window quantiles (q197): the q195 replay bucketed by
    // 10-minute window — the pair sample is order-independent, so the
    // whole stream query replays from the batch table
    "q197_stream_quantile" ->
      s"""WITH e AS (
        |  SELECT (epoch_us(ts) - epoch_us(ts) % 600000000) AS win_start_us,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
        |    CAST(round(value * 1e6) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |d AS (SELECT win_start_us, h, MIN(v) AS v FROM e GROUP BY 1, 2),
        |r AS (
        |  SELECT win_start_us, v,
        |    ROW_NUMBER() OVER (PARTITION BY win_start_us ORDER BY h) AS rh
        |  FROM d),
        |t AS (
        |  SELECT win_start_us, v,
        |    ROW_NUMBER() OVER (PARTITION BY win_start_us ORDER BY v) AS rv,
        |    COUNT(*) OVER (PARTITION BY win_start_us) AS ns
        |  FROM r WHERE rh <= ${graft.functions.SamplePairsAgg.K}),
        |n AS (SELECT win_start_us, COUNT(*) AS n_events FROM e GROUP BY 1)
        |SELECT n.win_start_us, n.n_events,
        |  CAST(MAX(t.ns) AS BIGINT) AS n_sample,
        |  MAX(CASE WHEN rv = (ns * 50 + 99) // 100 THEN v END) AS p50_fx,
        |  MAX(CASE WHEN rv = (ns * 90 + 99) // 100 THEN v END) AS p90_fx,
        |  MAX(CASE WHEN rv = (ns * 99 + 99) // 100 THEN v END) AS p99_fx
        |FROM t JOIN n ON n.win_start_us = t.win_start_us
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // Split manifest (q196): the same content-hash bucket rule, counts
    // and the hash-distinct text count per (source, split)
    "q196_split_manifest" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(('0x' || substr(md5(COALESCE(text, '')), 1, 15)) AS BIGINT) AS h,
        |    n_chars
        |  FROM documents),
        |s AS (
        |  SELECT source,
        |    CASE WHEN h % 10 <= 7 THEN 'train'
        |         WHEN h % 10 = 8 THEN 'val' ELSE 'test' END AS split,
        |    h, n_chars
        |  FROM d)
        |SELECT source, split, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  COUNT(DISTINCT h) AS n_texts
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Quantile rollup (q199): both grains replayed directly off the
    // corpus — legal because bottom-k-of-union = union-of-bottom-ks
    // (the law the engine exploits in the other direction)
    "q199_quantile_rollup" ->
      s"""WITH e AS (
        |  SELECT source,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
        |    n_chars AS v
        |  FROM documents),
        |d AS (SELECT source, h, MIN(v) AS v FROM e GROUP BY 1, 2),
        |g AS (SELECT h, MIN(v) AS v FROM e GROUP BY 1),
        |r1 AS (
        |  SELECT source, v,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rh
        |  FROM d),
        |t1 AS (
        |  SELECT source, v,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY v) AS rv,
        |    COUNT(*) OVER (PARTITION BY source) AS ns
        |  FROM r1 WHERE rh <= ${graft.functions.SamplePairsAgg.K}),
        |n1 AS (SELECT source, COUNT(*) AS n_docs FROM e GROUP BY 1),
        |q1 AS (
        |  SELECT CAST(0 AS BIGINT) AS lvl, n1.source, n1.n_docs,
        |    CAST(MAX(t1.ns) AS BIGINT) AS n_sample,
        |    MAX(CASE WHEN rv = (ns * 50 + 99) // 100 THEN v END) AS p50_chars,
        |    MAX(CASE WHEN rv = (ns * 90 + 99) // 100 THEN v END) AS p90_chars,
        |    MAX(CASE WHEN rv = (ns * 99 + 99) // 100 THEN v END) AS p99_chars
        |  FROM t1 JOIN n1 ON n1.source = t1.source GROUP BY 1, 2, 3),
        |r2 AS (SELECT v, ROW_NUMBER() OVER (ORDER BY h) AS rh FROM g),
        |t2 AS (
        |  SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rv, COUNT(*) OVER () AS ns
        |  FROM r2 WHERE rh <= ${graft.functions.SamplePairsAgg.K}),
        |n2 AS (SELECT COUNT(*) AS n_docs FROM e),
        |q2 AS (
        |  SELECT CAST(1 AS BIGINT) AS lvl, '<all>' AS source, n2.n_docs,
        |    CAST(MAX(t2.ns) AS BIGINT) AS n_sample,
        |    MAX(CASE WHEN rv = (ns * 50 + 99) // 100 THEN v END) AS p50_chars,
        |    MAX(CASE WHEN rv = (ns * 90 + 99) // 100 THEN v END) AS p90_chars,
        |    MAX(CASE WHEN rv = (ns * 99 + 99) // 100 THEN v END) AS p99_chars
        |  FROM t2, n2 GROUP BY 1, 2, 3)
        |SELECT * FROM q1 UNION ALL SELECT * FROM q2
        |ORDER BY lvl, source""".stripMargin,
    // MAD outliers (q204): the q195 sample replay twice (median of v,
    // then median of |v - med|), then the integer outlier test
    "q204_mad_outliers" ->
      s"""WITH e AS (
        |  SELECT event_type,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
        |    CAST(round(value * 1e6) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |d1 AS (SELECT event_type, h, MIN(v) AS v FROM e GROUP BY 1, 2),
        |r1 AS (
        |  SELECT event_type, v,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rh
        |  FROM d1),
        |t1 AS (
        |  SELECT event_type, v,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rv,
        |    COUNT(*) OVER (PARTITION BY event_type) AS ns
        |  FROM r1 WHERE rh <= ${graft.functions.SamplePairsAgg.K}),
        |med AS (
        |  SELECT event_type, MAX(CASE WHEN rv = (ns * 50 + 99) // 100 THEN v END) AS med_fx
        |  FROM t1 GROUP BY 1),
        |dv AS (
        |  SELECT e.event_type, e.h, abs(e.v - med.med_fx) AS dev
        |  FROM e JOIN med ON med.event_type = e.event_type),
        |d2 AS (SELECT event_type, h, MIN(dev) AS dev FROM dv GROUP BY 1, 2),
        |r2 AS (
        |  SELECT event_type, dev,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rh
        |  FROM d2),
        |t2 AS (
        |  SELECT event_type, dev,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rv,
        |    COUNT(*) OVER (PARTITION BY event_type) AS ns
        |  FROM r2 WHERE rh <= ${graft.functions.SamplePairsAgg.K}),
        |mad AS (
        |  SELECT event_type, MAX(CASE WHEN rv = (ns * 50 + 99) // 100 THEN dev END) AS mad_fx
        |  FROM t2 GROUP BY 1)
        |SELECT dv.event_type, COUNT(*) AS n_events,
        |  MAX(med.med_fx) AS med_fx, MAX(mad.mad_fx) AS mad_fx,
        |  CAST(SUM(CASE WHEN dv.dev * 10000 > mad.mad_fx * 44478 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM dv
        |JOIN med ON med.event_type = dv.event_type
        |JOIN mad ON mad.event_type = dv.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Sliding window quantiles (q203): the q197 replay with the
    // 6-fold slide expansion explicit — every event in its 6
    // slide-aligned trailing-hour windows
    "q203_stream_sliding_quantile" ->
      s"""WITH e AS (
        |  SELECT (epoch_us(ts) - epoch_us(ts) % 600000000) - i * 600000000 AS win_start_us,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
        |    CAST(round(value * 1e6) AS BIGINT) AS v
        |  FROM events, unnest(range(0, 6)) u(i) WHERE value IS NOT NULL),
        |d AS (SELECT win_start_us, h, MIN(v) AS v FROM e GROUP BY 1, 2),
        |r AS (
        |  SELECT win_start_us, v,
        |    ROW_NUMBER() OVER (PARTITION BY win_start_us ORDER BY h) AS rh
        |  FROM d),
        |t AS (
        |  SELECT win_start_us, v,
        |    ROW_NUMBER() OVER (PARTITION BY win_start_us ORDER BY v) AS rv,
        |    COUNT(*) OVER (PARTITION BY win_start_us) AS ns
        |  FROM r WHERE rh <= ${graft.functions.SamplePairsAgg.K}),
        |n AS (SELECT win_start_us, COUNT(*) AS n_events FROM e GROUP BY 1)
        |SELECT n.win_start_us, n.n_events,
        |  CAST(MAX(t.ns) AS BIGINT) AS n_sample,
        |  MAX(CASE WHEN rv = (ns * 50 + 99) // 100 THEN v END) AS p50_fx,
        |  MAX(CASE WHEN rv = (ns * 90 + 99) // 100 THEN v END) AS p90_fx,
        |  MAX(CASE WHEN rv = (ns * 99 + 99) // 100 THEN v END) AS p99_fx
        |FROM t JOIN n ON n.win_start_us = t.win_start_us
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // CMS rollup (q202): per-source cells re-summed at both grains
    // (cell-wise SUM = the union's grid, CMS linearity), absent cells
    // read as 0 through the left join — the true point query
    "q202_cms_rollup" ->
      s"""WITH toks AS (
        |  SELECT source,
        |    unnest(${Tokens.Space.sqlOrEmpty("text")}) AS tok
        |  FROM documents),
        |seeds(j, a, b, c) AS (SELECT * FROM (VALUES ${graft.functions.CmsSketchAgg.seedValuesSql}) v),
        |keyed AS (
        |  SELECT source, tok, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS x
        |  FROM toks),
        |cs AS (
        |  SELECT source, j,
        |    ((a * (x >> 30) + b * (x & 1073741823) + c) % 2147483647) % 512 AS bkt,
        |    COUNT(*) AS c
        |  FROM keyed, seeds GROUP BY 1, 2, 3),
        |ca AS (SELECT j, bkt, SUM(c) AS c FROM cs GROUP BY 1, 2),
        |pr AS (
        |  SELECT tok FROM (
        |    SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1
        |    ORDER BY n DESC, tok LIMIT 5)),
        |pb AS (
        |  SELECT p.tok, s.j,
        |    ((s.a * (k.x >> 30) + s.b * (k.x & 1073741823) + s.c) % 2147483647) % 512 AS bkt
        |  FROM pr p, seeds s,
        |    (SELECT DISTINCT tok, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS x
        |     FROM toks) k
        |  WHERE k.tok = p.tok),
        |grains AS (
        |  SELECT CAST(0 AS BIGINT) AS lvl, source FROM (SELECT DISTINCT source FROM toks)
        |  UNION ALL SELECT CAST(1 AS BIGINT), '<all>'),
        |joined AS (
        |  SELECT g.lvl, g.source, p.tok,
        |    COALESCE(CASE WHEN g.lvl = 0 THEN cs.c ELSE ca.c END, 0) AS c
        |  FROM grains g
        |  CROSS JOIN pb p
        |  LEFT JOIN cs ON g.lvl = 0 AND cs.source = g.source
        |    AND cs.j = p.j AND cs.bkt = p.bkt
        |  LEFT JOIN ca ON g.lvl = 1 AND ca.j = p.j AND ca.bkt = p.bkt),
        |est AS (
        |  SELECT lvl, source, tok, CAST(MIN(c) AS BIGINT) AS est_cnt
        |  FROM joined GROUP BY 1, 2, 3),
        |exacts AS (
        |  SELECT CAST(0 AS BIGINT) AS lvl, source, tok, COUNT(*) AS exact_cnt
        |  FROM toks WHERE tok IN (SELECT tok FROM pr) GROUP BY 2, 3
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT), '<all>', tok, COUNT(*)
        |  FROM toks WHERE tok IN (SELECT tok FROM pr) GROUP BY 3)
        |SELECT e.lvl, e.source, e.tok,
        |  COALESCE(x.exact_cnt, 0) AS exact_cnt, e.est_cnt,
        |  e.est_cnt - COALESCE(x.exact_cnt, 0) AS over_err
        |FROM est e LEFT JOIN exacts x
        |  ON x.lvl = e.lvl AND x.source = e.source AND x.tok = e.tok
        |ORDER BY 1, 2, 3""".stripMargin,
    // Incremental sketch through storage (q200): the KMV union law
    // makes history-sketch (parquet round-trip) + delta-sketch equal
    // the whole-corpus sketch, so the oracle replays the one-pass form
    "q200_incremental_sketch" ->
      s"""WITH e AS (
        |  SELECT event_type,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS x
        |  FROM events),
        |k AS (SELECT DISTINCT event_type, x FROM e),
        |r AS (
        |  SELECT event_type, x,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rn
        |  FROM k),
        |sk AS (
        |  SELECT event_type, COUNT(*) AS n_kmv, MAX(x) AS kth_min
        |  FROM r WHERE rn <= ${graft.functions.KmvSketchAgg.K} GROUP BY 1),
        |ex AS (SELECT event_type, COUNT(*) AS n_distinct_exact FROM k GROUP BY 1)
        |SELECT sk.event_type, ex.n_distinct_exact,
        |  CAST(sk.n_kmv AS BIGINT) AS n_kmv, sk.kth_min,
        |  CAST(CASE WHEN sk.n_kmv < ${graft.functions.KmvSketchAgg.K} THEN sk.n_kmv
        |    ELSE (${graft.functions.KmvSketchAgg.K - 1} *
        |          CAST(${graft.functions.KmvSketchAgg.Domain} AS HUGEINT)) // sk.kth_min
        |    END AS BIGINT) AS est_distinct
        |FROM sk JOIN ex ON ex.event_type = sk.event_type
        |ORDER BY sk.event_type""".stripMargin,
    // Priority sampling (q201): same integer priorities ((h+1)//w
    // ascending = w/u descending), tau at rank k+1, DLT estimator in
    // HUGEINT with the same floor division
    "q201_priority_sample" ->
      s"""WITH b AS (
        |  SELECT source,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
        |    n_chars AS w
        |  FROM documents WHERE n_chars > 0),
        |kd AS (SELECT source, (h + 1) // w AS key, h, w FROM b),
        |r AS (
        |  SELECT source, key, h, w,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY key, h, w) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM kd),
        |t AS (
        |  SELECT source,
        |    MAX(CASE WHEN rn = ${graft.operators.Curation.PriorityK + 1} THEN key END) AS tau
        |  FROM r GROUP BY 1),
        |kept AS (
        |  SELECT r.source, r.w, r.n, t.tau
        |  FROM r JOIN t ON t.source = r.source
        |  WHERE r.rn <= ${graft.operators.Curation.PriorityK}),
        |agg AS (
        |  SELECT source, MAX(n) AS n, MAX(tau) AS tau,
        |    CAST(SUM(w) AS BIGINT) AS wsum,
        |    SUM(GREATEST(CAST(w AS HUGEINT) * tau,
        |      CAST(1152921504606846976 AS HUGEINT))) AS sgt
        |  FROM kept GROUP BY 1),
        |ex AS (
        |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS w_total_exact
        |  FROM b GROUP BY 1)
        |SELECT a.source, ex.n_docs, ex.w_total_exact,
        |  CAST(CASE WHEN a.n <= ${graft.operators.Curation.PriorityK} THEN a.n
        |    ELSE ${graft.operators.Curation.PriorityK} END AS BIGINT) AS n_sample,
        |  CAST(CASE WHEN a.n <= ${graft.operators.Curation.PriorityK} THEN 0
        |    ELSE a.tau END AS BIGINT) AS tau_key,
        |  CAST(CASE WHEN a.n <= ${graft.operators.Curation.PriorityK} OR a.tau = 0
        |    THEN a.wsum ELSE a.sgt // a.tau END AS BIGINT) AS est_w_total
        |FROM agg a JOIN ex ON ex.source = a.source
        |ORDER BY a.source""".stripMargin,
    // OLS trend (q198): the moment sums in HUGEINT, sign + |slope| in
    // fx units per day, truncating division on nonnegative operands
    "q198_trend" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(epoch_us(ts) AS BIGINT) // 60000000 AS x,
        |    CAST(round(value * 1e6) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM e GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_events,
        |  CAST(CASE WHEN sxy * n - sx * sy > 0 THEN 1
        |            WHEN sxy * n - sx * sy < 0 THEN -1 ELSE 0 END AS BIGINT)
        |    AS trend_sign,
        |  CAST(CASE WHEN sxx * n - sx * sx = 0 THEN 0
        |            ELSE (abs(sxy * n - sx * sy) * 1440) // (sxx * n - sx * sx)
        |       END AS BIGINT) AS slope_fx_per_day
        |FROM m ORDER BY 1""".stripMargin,
    // Mixture plan (q205): exact integer sqrt weights (float sqrt with
    // the same +/-1 correction), budget/alloc floors in HUGEINT
    "q205_mixture_plan" ->
      s"""WITH t AS (
        |  SELECT source,
        |    CAST(SUM(len(${Tokens.Space.sqlOrEmpty("text")})) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |  HAVING n_tokens > 0),
        |w AS (
        |  SELECT source, n_tokens,
        |    CASE WHEN (s0 + 1) * (s0 + 1) <= n_tokens THEN s0 + 1
        |         WHEN s0 * s0 > n_tokens THEN s0 - 1 ELSE s0 END AS weight
        |  FROM (SELECT source, n_tokens,
        |          CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s0
        |        FROM t)),
        |ws AS (SELECT SUM(weight) AS w_sum FROM w),
        |b AS (
        |  SELECT MIN(CAST(n_tokens AS HUGEINT) * ${graft.operators.Curation.MixtureEpochCap}
        |    * w_sum // weight) AS t_budget
        |  FROM w, ws),
        |a AS (
        |  SELECT source, n_tokens, weight, w_sum, t_budget,
        |    CAST(weight AS HUGEINT) * t_budget // w_sum AS alloc_tokens
        |  FROM w, ws, b)
        |SELECT source, n_tokens, CAST(weight AS BIGINT) AS weight,
        |  CAST(t_budget AS BIGINT) AS t_budget,
        |  CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
        |  CAST(CAST(alloc_tokens AS HUGEINT) * 1000000 // n_tokens AS BIGINT) AS epochs_fp,
        |  (CAST(n_tokens AS HUGEINT) * ${graft.operators.Curation.MixtureEpochCap}
        |    * w_sum // weight) = t_budget AS binding
        |FROM a ORDER BY source""".stripMargin,
    // Boilerplate (q206): per-doc DISTINCT 3-grams over the planted
    // footer text, doc-frequency threshold in tenths, top offender =
    // (max df, lexicographically-last gram) — same tiebreak as the
    // engine's max(struct)
    "q206_boilerplate" ->
      s"""WITH p AS (
        |  SELECT source, doc_id,
        |    COALESCE(text, '') || ' copyright ' || source
        |      || ' legal footer all rights reserved worldwide' AS t
        |  FROM documents),
        |tk AS (
        |  SELECT source, doc_id,
        |    ${Tokens.Space.sql("t")} AS toks
        |  FROM p),
        |g AS (
        |  SELECT source, doc_id,
        |    unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(len(toks) - 2, 0)),
        |      i -> array_to_string(toks[i:i+2], ' ')))) AS gram
        |  FROM tk),
        |df AS (SELECT source, gram, COUNT(*) AS df FROM g GROUP BY 1, 2),
        |nd AS (SELECT source, COUNT(*) AS n_docs FROM p GROUP BY 1),
        |f AS (
        |  SELECT df.source, df.gram, df.df, nd.n_docs,
        |    df.df * 10 >= nd.n_docs * ${graft.operators.Curation.BoilerplateDfTenths} AS is_bp
        |  FROM df JOIN nd ON nd.source = df.source),
        |top AS (
        |  SELECT source, gram FROM (
        |    SELECT source, gram,
        |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY df DESC, gram DESC) AS rn
        |    FROM f WHERE is_bp) WHERE rn = 1)
        |SELECT f.source,
        |  CAST(MAX(f.n_docs) AS BIGINT) AS n_docs,
        |  COUNT(*) AS n_distinct_grams,
        |  CAST(SUM(CASE WHEN f.is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
        |  CAST(MAX(f.df) AS BIGINT) AS max_df,
        |  MAX(top.gram) AS top_gram
        |FROM f LEFT JOIN top ON top.source = f.source
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Stratified sample (q207): Hamilton apportionment (floor quotas +
    // largest remainders, same tiebreak), membership = k_s smallest
    // doc-id hashes per source via ROW_NUMBER
    "q207_stratified_sample" ->
      s"""WITH b AS (
        |  SELECT source, doc_id, n_chars,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |c AS (SELECT source, COUNT(*) AS n FROM b GROUP BY 1),
        |t AS (SELECT SUM(n) AS nn FROM c),
        |q AS (SELECT source, n,
        |        (${graft.operators.Curation.StratifiedK} * n) // nn AS q0,
        |        (${graft.operators.Curation.StratifiedK} * n) % nn AS rem
        |      FROM c, t),
        |l AS (SELECT ${graft.operators.Curation.StratifiedK} - SUM(q0) AS lv FROM q),
        |r AS (SELECT source, n, q0, rem,
        |        ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rr
        |      FROM q),
        |kq AS (SELECT source, n,
        |         LEAST(n, q0 + CASE WHEN rr <= (SELECT lv FROM l) THEN 1 ELSE 0 END) AS quota
        |       FROM r),
        |s AS (SELECT source, h, n_chars,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
        |      FROM b)
        |SELECT kq.source,
        |  CAST(MAX(kq.n) AS BIGINT) AS n_docs,
        |  CAST(MAX(kq.quota) AS BIGINT) AS quota,
        |  CAST(COUNT(s.h) AS BIGINT) AS n_sampled,
        |  MAX(s.h) AS h_threshold,
        |  CAST(COALESCE(SUM(s.n_chars), 0) AS BIGINT) AS sum_chars_sampled
        |FROM kq LEFT JOIN s ON s.source = kq.source AND s.rn <= kq.quota
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Exact-substring duplication census (q208): per-doc DISTINCT
    // 8-token windows, corpus-wide doc frequency, per-source rollup;
    // top offender = ROW_NUMBER(total DESC, win DESC) — Spark's
    // max(struct) tiebreak
    "q208_exact_substr" -> ExactSubstrCensusSql,
    // q210 is the census in its hashed (128-bit surrogate key) mode;
    // the STRING-MODE oracle is reused verbatim — the driver compare
    // is then a standing proof that the 100 TB key layout changes
    // nothing but the shuffle-key width
    "q210_exact_substr_hashed" -> ExactSubstrCensusSql,
    // q212 is the census maintained INCREMENTALLY (two disjoint
    // doc_id % 3 batches, states merged); the one-shot oracle is
    // reused verbatim — the driver compare proves incremental ==
    // one-shot on the real corpus
    "q212_exact_substr_incremental" -> ExactSubstrCensusSql,
    // ExactSubstr dedup transform (q209) and its two driver-proofed
    // variants: q213 maintains the occurrence state incrementally
    // (disjoint doc_id % 3 batches, merged, each batch rewritten
    // against the standing state) and q214 runs the rewrite under
    // the two-seed ROLLING 128-bit keys — all three reuse the
    // one-shot string-mode oracle verbatim, so the driver compare
    // proves incremental == one-shot and rolling-key == string-key
    // on the real corpus, md5 witnesses included.
    "q209_exact_substr_dedup" -> ExactSubstrDedupSql,
    "q213_exact_substr_inc_dedup" -> ExactSubstrDedupSql,
    "q214_exact_substr_dedup_rolled" -> ExactSubstrDedupSql,
    // q219 extends the q213 proof THROUGH STORAGE (the q200 pattern
    // applied to the transform): three disjoint doc_id % 3 batches
    // arrive one at a time, each merge-maintains the occurrence state
    // and delta-repairs the UpsertSink table (arriving docs plus only
    // the docs whose windows' duplication status or keeper CHANGED);
    // the rollup over the final materialized versioned-parquet state
    // must hash-match the SAME one-shot q209 oracle — the standing
    // proof that the operational ingest loop converges to the
    // one-shot transform.
    "q219_exact_substr_upsert_ingest" -> ExactSubstrDedupSql,
    // q216 stitches the existing legs (the q97 composition pattern):
    // q68's gate CTE -> the q209 rewrite chain (exactSubstrRewriteCtes,
    // shared VERBATIM with the one-shot oracle) over the gated corpus
    // -> q68's ROW_NUMBER quota over (md5(rewritten), doc_id) -> the
    // budget rollup with q209's md5 witnesses
    "q216_curation_rewrite_pipeline" ->
      s"""WITH t0 AS (
        |  SELECT doc_id, source, text,
        |    CAST(len(${Tokens.Space.sql("text")}) AS BIGINT) AS n_tok
        |  FROM documents),
        |g AS (SELECT source, doc_id, text FROM t0 WHERE n_tok BETWEEN 10 AND 80),
        |${exactSubstrRewriteCtes("g")},
        |rk AS (
        |  SELECT source, doc_id, rewritten, n_toks - n_removed AS n_ret,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(rewritten), doc_id) AS rk
        |  FROM docg)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_ret) AS BIGINT) AS sum_tokens,
        |  CAST(COUNT(DISTINCT md5(rewritten)) AS BIGINT) AS n_distinct_texts,
        |  MAX(md5(rewritten)) AS sig_max
        |FROM rk WHERE rk <= ${graft.operators.Curation.QuotaPerSource}
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Genuine PNG header parse (q215): BOTH engines construct the
    // identical planted blob from the parquet table (shared
    // hex/lpad/unhex construction), then PARSE it independently —
    // Spark with the native PngDims byte walk, DuckDB with hex-string
    // slicing and 0x-cast blob arithmetic. The two malformed classes
    // (%7=3 truncated mid-header, %7=5 corrupted signature) must
    // round-trip to NULL dims on both engines, so the hash-match
    // certifies the null-safety contract as well as the happy path.
    "q215_png_header" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    BLOB '\x89PNG\x0D\x0A\x1A\x0A\x00\x00\x00\x0DIHDR'
        |      || unhex(lpad(hex(doc_id % 640 + 1), 8, '0'))
        |      || unhex(lpad(hex(doc_id % 480 + 1), 8, '0'))
        |      || encode(COALESCE(text, '')) AS png
        |  FROM documents),
        |i AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 3 THEN unhex(substr(hex(png), 1, 20))
        |         WHEN doc_id % 7 = 5 THEN unhex('00' || substr(hex(png), 3))
        |         ELSE png END AS img
        |  FROM b),
        |p AS (
        |  SELECT doc_id, CAST(octet_length(img) AS BIGINT) AS n_bytes,
        |    CASE WHEN octet_length(img) >= 24
        |          AND substr(hex(img), 1, 32) = '89504E470D0A1A0A0000000D49484452'
        |      THEN CAST('0x' || substr(hex(img), 33, 8) AS BIGINT) END AS w0,
        |    CASE WHEN octet_length(img) >= 24
        |          AND substr(hex(img), 1, 32) = '89504E470D0A1A0A0000000D49484452'
        |      THEN CAST('0x' || substr(hex(img), 41, 8) AS BIGINT) END AS h0
        |  FROM i)
        |SELECT doc_id, n_bytes,
        |  CASE WHEN w0 BETWEEN 1 AND 2147483647 AND h0 BETWEEN 1 AND 2147483647
        |    THEN w0 END AS width,
        |  CASE WHEN w0 BETWEEN 1 AND 2147483647 AND h0 BETWEEN 1 AND 2147483647
        |    THEN h0 END AS height
        |FROM p ORDER BY doc_id""".stripMargin,
    // Genuine JPEG header parse (q217): dimensions live at a VARIABLE
    // position (after a doc_id-sized APP0 segment), so the oracle
    // re-walks the marker chain with a RECURSIVE CTE over segment
    // offsets — hop = o + 2 + BE16 length — capped at the parser's own
    // 64 hops; construction is shared hex-string arithmetic, parsing
    // is cross-engine independent (Spark byte walk vs SQL recursion).
    // Malformed classes (%7=3 truncated mid-payload, %7=5 corrupted
    // SOI) must null out on both engines.
    "q217_jpeg_header" ->
      """WITH RECURSIVE hx0 AS (
        |  SELECT doc_id,
        |    'FFD8' || 'FFE0' || lpad(hex(doc_id % 32 + 16), 4, '0')
        |      || repeat('00', CAST(doc_id % 32 + 14 AS INTEGER))
        |      || CASE WHEN doc_id % 7 = 6 THEN 'FFFF' ELSE '' END
        |      || CASE WHEN doc_id % 7 = 1 THEN 'FF01' ELSE '' END
        |      || 'FFC0000B08' || lpad(hex(doc_id % 3000 + 1), 4, '0')
        |      || lpad(hex(doc_id % 4000 + 1), 4, '0')
        |      || '01112200' || 'FFD9' AS hx
        |  FROM documents),
        |hxm AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 3 THEN substr(hx, 1, 20)
        |         WHEN doc_id % 7 = 5 THEN '00' || substr(hx, 3)
        |         ELSE hx END AS hx
        |  FROM hx0),
        |i AS (SELECT doc_id, unhex(hx) AS img, hx FROM hxm),
        |walk AS (
        |  SELECT doc_id, hx, 2 AS o, 0 AS depth
        |  FROM i WHERE substr(hx, 1, 4) = 'FFD8'
        |  UNION ALL
        |  -- three hop kinds, mirroring the byte walk exactly: an FF fill
        |  -- byte advances ONE byte (and spends a hop, so a pad flood
        |  -- terminates at the same cap); a standalone TEM (FF 01, ISO
        |  -- 10918-1 Table B.1: no length field) advances TWO bytes; a
        |  -- plain segment advances by its BE16 length
        |  SELECT doc_id, hx,
        |    CASE WHEN substr(hx, 2*o + 3, 2) = 'FF' THEN o + 1
        |         WHEN substr(hx, 2*o + 3, 2) = '01' THEN o + 2
        |         ELSE o + 2 + TRY_CAST('0x' || substr(hx, 2*o + 5, 4) AS INTEGER)
        |    END, depth + 1
        |  FROM walk
        |  WHERE depth + 1 < 64
        |    AND 2*o + 8 <= length(hx)
        |    AND substr(hx, 2*o + 1, 2) = 'FF'
        |    AND (substr(hx, 2*o + 3, 2) IN ('FF', '01')
        |      OR (substr(hx, 2*o + 3, 2) NOT IN
        |        ('C0','C1','C2','C3','C5','C6','C7','C9','CA','CB','CD','CE','CF',
        |         'D0','D1','D2','D3','D4','D5','D6','D7','D8','D9')
        |        AND COALESCE(TRY_CAST('0x' || substr(hx, 2*o + 5, 4) AS INTEGER), 0) >= 2))),
        |sof AS (
        |  -- the SOF's own declared length must cover precision+dims
        |  -- (>= 8), mirroring the parser's spec-strict guard — dims
        |  -- read past a shorter declared payload would be bytes of the
        |  -- NEXT segment
        |  SELECT doc_id,
        |    CAST('0x' || substr(hx, 2*(o + 7) + 1, 4) AS BIGINT) AS w0,
        |    CAST('0x' || substr(hx, 2*(o + 5) + 1, 4) AS BIGINT) AS h0
        |  FROM walk
        |  WHERE 2*o + 4 <= length(hx)
        |    AND substr(hx, 2*o + 1, 2) = 'FF'
        |    AND substr(hx, 2*o + 3, 2) IN
        |      ('C0','C1','C2','C3','C5','C6','C7','C9','CA','CB','CD','CE','CF')
        |    AND 2*(o + 9) <= length(hx)
        |    AND COALESCE(TRY_CAST('0x' || substr(hx, 2*(o + 2) + 1, 4) AS INTEGER), 0) >= 8)
        |SELECT d.doc_id, CAST(octet_length(i.img) AS BIGINT) AS n_bytes,
        |  CASE WHEN s.w0 >= 1 AND s.h0 >= 1 THEN s.w0 END AS width,
        |  CASE WHEN s.w0 >= 1 AND s.h0 >= 1 THEN s.h0 END AS height
        |FROM documents d JOIN i ON i.doc_id = d.doc_id
        |LEFT JOIN sof s ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // PIXEL-LEVEL raster decode (q218): both engines construct the
    // identical binary-PGM blob in hex-string space (header ASCII +
    // formula pixels), then DERIVE THE STATISTICS INDEPENDENTLY —
    // Spark with the native PgmStats byte walk (magic, token scan
    // incl. '#' comments, one raster pass), DuckDB by re-checking the
    // magic + payload coverage from the BLOB and re-aggregating
    // sum/min/max and the 4-bin histogram from the blob's own pixel
    // bytes via hex-slice arithmetic. All-integer stats -> exact hash.
    // Malformed classes (%9=4 truncated raster, %9=7 corrupted magic)
    // must null out on both engines.
    "q218_pgm_pixel_stats" ->
      """WITH b AS (
        |  SELECT doc_id, doc_id % 15 + 2 AS w, doc_id % 5 + 2 AS h,
        |    (doc_id % 15 + 2) * (doc_id % 5 + 2) AS n,
        |    'P5' || chr(10)
        |      || CASE WHEN doc_id % 9 = 2
        |           THEN '# synthetic luminance tile' || chr(10) ELSE '' END
        |      || CAST(doc_id % 15 + 2 AS VARCHAR) || ' '
        |      || CAST(doc_id % 5 + 2 AS VARCHAR) || chr(10) || '255' || chr(10)
        |      AS hdr
        |  FROM documents),
        |hx0 AS (
        |  SELECT doc_id, w, h, n, length(hdr) AS hl,
        |    hex(encode(hdr)) || array_to_string(list_transform(
        |      generate_series(0, CAST(n - 1 AS BIGINT)),
        |      i -> lpad(hex((doc_id * 31 + i * 7) % 256), 2, '0')), '') AS hx
        |  FROM b),
        |hxm AS (
        |  SELECT doc_id, w, h, n, hl,
        |    CASE WHEN doc_id % 9 = 4 THEN substr(hx, 1, length(hx) - 6)
        |         WHEN doc_id % 9 = 7 THEN '00' || substr(hx, 3)
        |         ELSE hx END AS hx
        |  FROM hx0),
        |i AS (SELECT doc_id, w, h, n, hl, unhex(hx) AS img, hx FROM hxm),
        |p AS (
        |  SELECT doc_id, CAST(octet_length(img) AS BIGINT) AS n_bytes,
        |    w, h, n, hl, hx,
        |    (substr(hx, 1, 4) = '5035'
        |      AND octet_length(img) >= hl + n
        |      AND n <= 16777216) AS ok
        |  FROM i),
        |px AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(0, CAST(n - 1 AS BIGINT)),
        |      i -> CAST('0x' || substr(hx, 2*(hl + i) + 1, 2) AS BIGINT))) AS v
        |  FROM p WHERE ok),
        |st AS (
        |  SELECT doc_id, CAST(SUM(v) AS BIGINT) AS px_sum,
        |    MIN(v) AS px_min, MAX(v) AS px_max,
        |    CAST(SUM(CASE WHEN v // 64 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
        |    CAST(SUM(CASE WHEN v // 64 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
        |    CAST(SUM(CASE WHEN v // 64 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
        |    CAST(SUM(CASE WHEN v // 64 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3
        |  FROM px GROUP BY doc_id)
        |SELECT d.doc_id, p.n_bytes,
        |  CASE WHEN p.ok THEN p.w END AS width,
        |  CASE WHEN p.ok THEN p.h END AS height,
        |  st.px_sum AS px_sum, st.px_min AS px_min, st.px_max AS px_max,
        |  st.b0 AS b0, st.b1 AS b1, st.b2 AS b2, st.b3 AS b3
        |FROM documents d JOIN p ON p.doc_id = d.doc_id
        |LEFT JOIN st ON st.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // Streaming ExactSubstr burst monitor (q211): the census is a pure
    // algebraic windowed COUNT, so the WHOLE stream query replays from
    // the batch table — arrival window = doc_id div 100 (1 doc/sec
    // fixture, 100 s tumble aligned to the base epoch), per-doc
    // DISTINCT windows, df >= 2 WITHIN the arrival window, q208's
    // (df, win) max-struct tiebreak for the top offender
    "q211_stream_exact_substr" ->
      s"""WITH p AS (
        |  SELECT doc_id // 100 AS win_id,
        |    COALESCE(text, '') || CASE WHEN doc_id % 17 = 0
        |      THEN '${graft.operators.Curation.exactSubstrPlantSql}'
        |      ELSE '' END AS t
        |  -- NULL doc_id has no arrival time: dropped on BOTH engines
        |  -- (the stream fixture filters identically)
        |  FROM documents WHERE doc_id IS NOT NULL),
        |tk AS (
        |  SELECT win_id,
        |    ${Tokens.Space.sql("t")} AS toks
        |  FROM p),
        |w AS (
        |  SELECT win_id,
        |    unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(len(toks) - ${graft.operators.Curation.ExactSubstrL - 1}, 0)),
        |      i -> array_to_string(toks[i:i+${graft.operators.Curation.ExactSubstrL - 1}], ' ')))) AS win
        |  FROM tk),
        |d AS (
        |  SELECT win_id, win, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM w GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |top AS (
        |  SELECT win_id, win FROM (
        |    SELECT win_id, win,
        |      ROW_NUMBER() OVER (PARTITION BY win_id
        |        ORDER BY df DESC, win DESC) AS rn
        |    FROM d) WHERE rn = 1)
        |SELECT d.win_id,
        |  COUNT(*) AS n_dup_windows,
        |  CAST(SUM(d.df) AS BIGINT) AS dup_doc_mass,
        |  CAST(MAX(d.df) AS BIGINT) AS max_df,
        |  MAX(top.win) AS top_win
        |FROM d LEFT JOIN top ON top.win_id = d.win_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  ).map { case (k, v) => k -> mat(v) } // every CTE MATERIALIZED — see [[mat]]
}
