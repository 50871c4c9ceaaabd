package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query contract — see SURVEY.md §2 for the inventory.
  *
  * [[registry]] is the one list of operators from the coverage
  * checklist; [[queries]] and [[oracleSql]] are the two views of it
  * that Bench, Verify and the gates read, keyed by the same names.
  */
object SparkEntry {

  /** One registry entry: the query name, the query builder (session,
    * sf dir), and — for a SQL-expressible semantics — the DuckDB
    * oracle twin (same column aliases, same rounding) for the hash
    * compare. No oracle means the rows-only check. */
  final case class QueryDef(name: String, build: (SparkSession, String) => DataFrame,
                            oracle: Option[String] = None)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val registry: Seq[QueryDef] = Seq(
    // Relational / analytic core
    QueryDef("q1_agg", Relational.q1Agg _, Some(Relational.q1Sql)),
    QueryDef("q3_join", Relational.q3Join _, Some(Relational.q3Sql)),
    QueryDef("q5_multijoin", Relational.q5MultiJoin _, Some(Relational.q5Sql)),
    QueryDef("q6_filter", Relational.q6Filter _, Some(Relational.q6Sql)),
    QueryDef("q_topn_window", Relational.topNWindow _, Some(Relational.topNSql)),
    // same result through the k-bounded heap AGGREGATE (map-side
    // partial top-k — the plan that survives 100 TB); shares
    // q_topn_window's oracle verbatim
    QueryDef("q_topk_agg", Relational.topKAgg _, Some(Relational.topNSql)),
    QueryDef("q_semi_anti", Relational.semiAnti _, Some(Relational.semiAntiSql)),
    QueryDef("q_rollup", Relational.rollupAgg _, Some(Relational.rollupSql)),
    QueryDef("q7_volume", Relational2.q7Volume _, Some(Relational2.q7Sql)),
    QueryDef("q10_returns", Relational2.q10Returns _, Some(Relational2.q10Sql)),
    QueryDef("q12_priority", Relational2.q12Priority _, Some(Relational2.q12Sql)),
    QueryDef("q14_promo", Relational2.q14Promo _, Some(Relational2.q14Sql)),
    QueryDef("q18_large", Relational2.q18Large _, Some(Relational2.q18Sql)),
    QueryDef("q22_idle", Relational2.q22Idle _, Some(Relational2.q22Sql)),
    QueryDef("q4_exists", Relational2.q4Exists _, Some(Relational2.q4Sql)),
    QueryDef("q_approx_distinct", Relational2.approxDistinct _),
    QueryDef("q8_mktshare", Relational3.q8MktShare _, Some(Relational3.q8Sql)),
    QueryDef("q13_custdist", Relational3.q13CustDist _, Some(Relational3.q13Sql)),
    QueryDef("q15_topsupp", Relational3.q15TopSupp _, Some(Relational3.q15Sql)),
    QueryDef("q17_smallqty", Relational3.q17SmallQty _, Some(Relational3.q17Sql)),
    QueryDef("q19_disjunct", Relational3.q19Disjunct _, Some(Relational3.q19Sql)),
    QueryDef("q21_waiting", Relational3.q21Waiting _, Some(Relational3.q21Sql)),
    QueryDef("q_full_outer", Relational4.qFullOuter _, Some(Relational4.qFullOuterSql)),
    QueryDef("q_setops", Relational4.qSetOps _, Some(Relational4.qSetOpsSql)),
    QueryDef("q_pivot", Relational4.qPivot _, Some(Relational4.qPivotSql)),
    QueryDef("q_cube", Relational4.qCube _, Some(Relational4.qCubeSql)),
    QueryDef("q2_argmin", Relational5.q2Argmin _, Some(Relational5.q2ArgminSql)),
    QueryDef("q9_profit", Relational5.q9Profit _, Some(Relational5.q9ProfitSql)),
    QueryDef("q11_share", Relational5.q11Share _, Some(Relational5.q11ShareSql)),
    QueryDef("q16_suppcnt", Relational5.q16SuppCnt _, Some(Relational5.q16SuppCntSql)),
    QueryDef("q20_excess", Relational5.q20Excess _, Some(Relational5.q20ExcessSql)),
    QueryDef("q_table_stats", (s, d) => Relational5.qTableStats(s, d),
      Some(Relational5.qTableStatsSql)),
    // HLL NDV profile — the mode a 100 TB operator runs; rows-only
    // gate (sketch NDV is engine-specific), rsd-bounded vs the exact
    // twin in QueriesSpec
    QueryDef("q_table_stats_approx",
      (s, d) => Relational5.qTableStats(s, d, approx = true)),
    // Solace/Beam event surface
    QueryDef("tumbling_agg", EventOps.tumblingAgg _, Some(EventOps.tumblingSql)),
    QueryDef("sliding_agg", EventOps.slidingAgg _, Some(EventOps.slidingSql)),
    // sliding distinct-user pair: exact explode-and-dedup twin (the
    // oracle) + HLL sketch-merge deployment shape (rows + spec)
    QueryDef("q_distinct_sliding", EventOps.distinctSliding _,
      Some(EventOps.distinctSlidingSql)),
    QueryDef("q_distinct_sliding_approx", EventOps.distinctSlidingApprox _),
    QueryDef("session_window", EventOps.sessionWindowAgg _, Some(EventOps.sessionSql)),
    QueryDef("topic_route", EventOps.topicRoute _, Some(EventOps.topicRouteSql)),
    QueryDef("msg_dedup", EventOps.msgDedup _, Some(EventOps.msgDedupSql)),
    QueryDef("q_skew_salted", (s, d) => EventOps.skewSaltedJoin(s, d),
      Some(EventOps.skewSaltedSql)),
    // forced shuffle-merge skew stress pair (dim not broadcastable at
    // 100 TB): salted spreads the hot key, unsalted is the straggler
    QueryDef("q_skew_shuffle_salted",
      (s, d) => EventOps.skewShuffleJoin(s, d, salted = true),
      Some(EventOps.skewSaltedSql)),
    QueryDef("q_skew_shuffle_unsalted",
      (s, d) => EventOps.skewShuffleJoin(s, d, salted = false),
      Some(EventOps.skewSaltedSql)),
    // heavy hitters via bounded Misra-Gries sketch -> exact verify of
    // the <=k candidates: the shuffle never carries the item domain,
    // and the k > phi superset guarantee makes the composition exact
    // (deterministic despite the sketch) -> plain SQL oracle applies
    QueryDef("q_heavy_hitters", (s, d) => EventOps.heavyHitters(s, d),
      Some(EventOps.heavyHittersSql)),
    QueryDef("q_stats_moments", EventOps.statsMoments _, Some(EventOps.statsMomentsSql)),
    QueryDef("q_percentiles", EventOps.percentiles _, Some(EventOps.percentilesSql)),
    QueryDef("sender_vs_receive_ts", EventOps.senderVsReceiveTs _,
      Some(EventOps.senderVsReceiveSql)),
    QueryDef("q_cumulative", EventOps.cumulative _, Some(EventOps.cumulativeSql)),
    QueryDef("q_json_props", EventOps.jsonProps _, Some(EventOps.jsonPropsSql)),
    QueryDef("q_approx_percentile", EventOps.approxPercentiles _),
    QueryDef("q_asof_join", TemporalJoins.asofJoin _, Some(TemporalJoins.asofJoinSql)),
    QueryDef("q_range_join", TemporalJoins.rangeJoin _, Some(TemporalJoins.rangeJoinSql)),
    // both-sides-intervals overlap join: bucketized equi-join on the
    // max-interval-length grid, pair emitted once from the bucket of
    // the later start — never an n² nested loop, no dedup shuffle
    QueryDef("q_interval_join", TemporalJoins.intervalJoin _,
      Some(TemporalJoins.intervalJoinSql)),
    // RANGE-frame window (trailing wall-clock hour per type): frame
    // extent defined by the order VALUE, ties are peers
    QueryDef("q_range_frame", EventOps.rangeFrame _, Some(EventOps.rangeFrameSql)),
    QueryDef("q_funnel", EventOps.funnel _, Some(EventOps.funnelSql)),
    QueryDef("q_retention", EventOps.retention _, Some(EventOps.retentionSql)),
    QueryDef("q_anomaly", EventOps.anomalies _, Some(EventOps.anomaliesSql)),
    // event-sequence transition matrix (Markov view) + equi-width
    // per-type value histograms
    QueryDef("q_user_path", EventOps.userPath _, Some(EventOps.userPathSql)),
    QueryDef("q_histogram", EventOps.histogram _, Some(EventOps.histogramSql)),
    // Text analysis / dedup
    QueryDef("wordcount", TextOps.wordCount _, Some(TextOps.wordCountSql)),
    QueryDef("windowed_wordcount", TextOps.windowedWordCount _,
      Some(TextOps.windowedWordCountSql)),
    QueryDef("dedup_exact", TextOps.dedupExact _, Some(TextOps.dedupExactSql)),
    QueryDef("token_count", TextOps.tokenCount _, Some(TextOps.tokenCountSql)),
    QueryDef("doc_pack_sequences", TextOps.docPackSequences _,
      Some(TextOps.docPackSequencesSql)),
    QueryDef("doc_shard_plan", TextOps.docShardPlan _, Some(TextOps.docShardPlanSql)),
    QueryDef("doc_chunk_windows", TextOps.docChunkWindows _, Some(TextOps.docChunkWindowsSql)),
    QueryDef("doc_term_commonness", TextOps.docTermCommonness _,
      Some(TextOps.docTermCommonnessSql)),
    // corpus-trained bigram LM scores (perplexity-filter stage):
    // model trained + applied in one plan, exact-integer pooled ratios
    QueryDef("doc_lm_score", TextOps.docLmScore _, Some(TextOps.docLmScoreSql)),
    // the scorer's rank-keeping stage: per-source cond_pred quantile +
    // novelty-ceiling keep flags, tiny-strata guard; composed into
    // training_pipeline as the opt-in lmScoreFilter anti-join
    QueryDef("doc_lm_adaptive", TextOps.docLmAdaptive _, Some(TextOps.docLmAdaptiveSql)),
    QueryDef("doc_quality_adaptive", (s, d) => TextOps.docQualityAdaptive(s, d),
      Some(TextOps.docQualityAdaptiveSql)),
    QueryDef("doc_quality_adaptive_approx",
      (s, d) => TextOps.docQualityAdaptive(s, d, approx = true)),
    // per-(source, predicted-language) quality-rank keeping — the
    // multilingual composition of lang_id into the adaptive filter;
    // composed into training_pipeline as the opt-in qualityByLang
    // anti-join (approx mode)
    QueryDef("doc_quality_by_lang", (s, d) => TextOps.docQualityByLang(s, d),
      Some(TextOps.docQualityByLangSql)),
    QueryDef("text_quality", TextOps.textQuality _, Some(TextOps.textQualitySql)),
    QueryDef("lang_id", TextOps.langId _, Some(TextOps.langIdSql)),
    // per-source language mix (mixture-weight dashboard): classifier
    // inline on the source-bearing scan, one aggregate + tiny window
    QueryDef("source_language_report", TextOps.sourceLanguageReport _,
      Some(TextOps.sourceLanguageReportSql)),
    QueryDef("doc_fingerprint", TextOps.docFingerprint _, Some(TextOps.docFingerprintSql)),
    // every map-side curation signal in ONE corpus scan (component
    // semantics, spec-pinned; at 100 TB the scan is the cost)
    QueryDef("doc_signals", TextOps.docSignals _, Some(TextOps.docSignalsSql)),
    QueryDef("doc_shingle_stats", TextOps.shingleStats _, Some(TextOps.shingleStatsSql)),
    QueryDef("doc_repetition", TextOps.docRepetition _, Some(TextOps.docRepetitionSql)),
    QueryDef("doc_novelty", TextOps.docNovelty _, Some(TextOps.docNoveltySql)),
    QueryDef("tfidf_top_term", TextOps.tfidfTopTerm _, Some(TextOps.tfidfTopTermSql)),
    QueryDef("doc_sample", TextOps.docSample _, Some(TextOps.docSampleSql)),
    // exact-k per-source sample through the k-bounded heap aggregate:
    // the shuffle carries <=k rows per (mapper, source) where the
    // row_number formulation sorts every stratum in full
    QueryDef("doc_sample_exact_k", (s, d) => TextOps.docSampleExactK(s, d),
      Some(TextOps.docSampleExactKSql)),
    // source-weighted data mixing: keep thresholds derived from
    // corpus counts in-plan (dimension-sized aggs broadcast back)
    QueryDef("doc_mixture_sample", TextOps.docMixtureSample _,
      Some(TextOps.docMixtureSampleSql)),
    // equal-language target mix via inverse-share rates — the
    // mixture-side composition of the language report's shares
    QueryDef("doc_mixture_by_lang", TextOps.docMixtureByLang _,
      Some(TextOps.docMixtureByLangSql)),
    // contact-info redaction over deterministically planted PII:
    // map-side codegen regexp, zero shuffles
    QueryDef("doc_pii_scrub", TextOps.docPiiScrub _, Some(TextOps.docPiiScrubSql)),
    // HTML/boilerplate extraction (round 13): planted-page gate, the
    // crawl-to-clean-text ingest stage
    QueryDef("doc_html_extract", TextOps.docHtmlExtract _, Some(TextOps.docHtmlExtractSql)),
    // per-source corpus quality dashboard: integer counts of the
    // quality / repetition / contamination / near-dup flags
    QueryDef("source_quality_report", TextOps.sourceQualityReport _,
      Some(TextOps.sourceQualityReportSql)),
    QueryDef("decontamination", (s, d) => TextOps.decontamination(s, d),
      Some(TextOps.decontaminationSql)),
    // 8-byte hashed gram keys (the 100 TB shuffle-volume mode);
    // spec-gated by equality against the raw-gram oracle twin
    QueryDef("decontamination_hashed",
      (s, d) => TextOps.decontamination(s, d, hashGrams = true)),
    // bloom prefilter on the corpus scan (scalar-subquery
    // BloomFilterAggregate); no false negatives + exact verify join
    // => bit-identical to decontamination, shares its hash oracle
    QueryDef("decontamination_bloom", (s, d) => TextOps.decontaminationBloom(s, d),
      Some(TextOps.decontaminationSql)),
    // composed end-to-end job: dedup -> decontaminate -> quality ->
    // sample -> partitioned write; rows-gated (LSH recall < 1), the
    // component-predicate spec is the correctness gate
    QueryDef("training_pipeline", (s, d) => TrainingPipeline.run(s, d)),
    // deterministic twin: exact-Jaccard dedup -> the COMPOSED pipeline
    // is hash-gated end to end against one DuckDB oracle
    QueryDef("training_pipeline_exact", TrainingPipeline.runExact _,
      Some(TrainingPipeline.runExactSql)),
    // Dedup suite
    QueryDef("dedup_ngram_jaccard", DedupOps.ngramJaccard _, Some(DedupOps.jaccardSql)),
    // gate entry keeps the deterministic exact-recall union; the
    // pure-LSH scale plan ships as its own entry so the bench artifact
    // carries the cost delta (no oracle — recall < 1 by construction,
    // gated by the QueriesSpec recall assertion instead)
    QueryDef("dedup_minhash", (s, d) => DedupOps.minhashLsh(s, d), Some(DedupOps.jaccardSql)),
    QueryDef("dedup_minhash_pure_lsh",
      (s, d) => DedupOps.minhashLsh(s, d, exactRecallUnion = false)),
    QueryDef("dedup_containment", DedupOps.containment _, Some(DedupOps.containmentSql)),
    // ingestion-time incremental dedup: a ~10% "incoming" batch probes
    // the parquet minhash index (universe/sets/bands built once);
    // gate mode unions the batch-touching exact prefix pairs so the
    // hash oracle applies; pure-probe scale mode is spec-gated
    QueryDef("dedup_incremental", (s, d) => DedupOps.dedupIncremental(s, d),
      Some(DedupOps.dedupIncrementalSql)),
    // substring-level dedup: maximal cross-doc duplicated token spans
    // (gaps-and-islands over dup-gram positions); hashGrams deployment
    // mode spec-gated by equality
    QueryDef("dedup_spans", (s, d) => DedupOps.dedupSpans(s, d), Some(DedupOps.dedupSpansSql)),
    // xxhash64 has no DuckDB twin -> rows-only check
    QueryDef("dedup_simhash", DedupOps.simhash _),
    QueryDef("dedup_fuzzy_edit", DedupOps.fuzzyEdit _, Some(DedupOps.fuzzyEditSql)),
    QueryDef("dedup_clusters", DedupOps.dupClusters _, Some(DedupOps.dupClustersSql)),
    QueryDef("dedup_cluster_best", DedupOps.dupClusterBest _, Some(DedupOps.dupClusterBestSql)),
    QueryDef("doc_split_leakproof", DedupOps.docSplitLeakproof _,
      Some(DedupOps.docSplitLeakproofSql)),
    QueryDef("doc_split_leakproof_wide", DedupOps.docSplitLeakproofWide _),
    QueryDef("source_overlap", DedupOps.sourceOverlap _, Some(DedupOps.sourceOverlapSql)),
    // source-level 3-gram Jaccard matrix: exact (one corpus shuffle,
    // diagonal-trick sizes) + the KMV bottom-k sketch scale mode
    // (8 KB state per source; spec-gated error bound vs the exact twin)
    QueryDef("source_jaccard", DedupOps.sourceJaccard _, Some(DedupOps.sourceJaccardSql)),
    // xxhash64 has no DuckDB twin -> rows-only + QueriesSpec
    // error-bound gate against the exact twin
    QueryDef("source_jaccard_kmv", (s, d) => DedupOps.sourceJaccardKmv(s, d)),
    // the same sketch under the oversized-sources route (oneRowMax=0
    // forces what a >10^4-source corpus would take): ids-broadcast
    // pair skeleton + sketch attach joins instead of the single-row
    // collapse — result-identical by spec, golden-plan-pinned here
    QueryDef("source_jaccard_kmv_fallback",
      (s, d) => DedupOps.sourceJaccardKmv(s, d, oneRowMax = 0L)),
    // Vector similarity
    QueryDef("dedup_embedding", (s, d) => VectorOps.embeddingNearDup(s, d),
      Some(VectorOps.embeddingNearDupSql)),
    QueryDef("dedup_embedding_lsh", (s, d) => VectorOps.embeddingNearDupLsh(s, d)),
    // cluster-bounded near-dup (SemDeDup shape): coarse k-means +
    // 2-way redundant assignment bounds candidates at Θ(n^1.5);
    // declared regime = true duplicate copies (cos ≳ 0.9 — planted-
    // copy spec measures 1.00), the scale rung the LSH mode's
    // table-count ceiling hands off to; rows-only gate + recall specs
    QueryDef("dedup_embedding_ivf", (s, d) => VectorOps.embeddingNearDupIvf(s, d)),
    QueryDef("ann_bruteforce", VectorOps.annBruteForce _, Some(VectorOps.annBruteForceSql)),
    // cosine RANGE search (the vector-DB radius query): exact mode is
    // deterministic -> hash gate; the IVF-pruned mode shares annIvf's
    // probe stem with a threshold filter in place of the top-k window
    // (recall spec + bit-parity of emitted cosines vs the exact twin)
    QueryDef("ann_range_exact", (s, d) => VectorOps.annRangeExact(s, d),
      Some(VectorOps.annRangeExactSql)),
    // EXACT since round 12 (adaptive angular-radius
    // bound probes a certified superset; same cosine kernel) -> it
    // shares the exact twin's oracle and hash-gates fully
    QueryDef("ann_range_ivf", (s, d) => VectorOps.annRangeIvf(s, d),
      Some(VectorOps.annRangeExactSql)),
    // range-serving split (round 13): same exact result off the
    // PREBUILT radius-carrying index — no per-call Lloyd build; the
    // serving path carries the same certificate (persisted radius is the build-time statistic,
    // appends widen it monotonically) -> same full hash gate
    QueryDef("ann_range_ivf_query", (s, d) => VectorOps.annRangeIvfQuery(s, d),
      Some(VectorOps.annRangeExactSql)),
    // recall<1 by design -> rows-only + ScalaTest recall spec
    QueryDef("ann_lsh", (s, d) => VectorOps.annLsh(s, d)),
    QueryDef("ann_ivf", (s, d) => VectorOps.annIvf(s, d)),
    // deployment split: parquet index built once (first call), query
    // path only reads it — bit-identical output to ann_ivf (spec-pinned)
    QueryDef("ann_ivf_query", (s, d) => VectorOps.annIvfQuery(s, d)),
    QueryDef("ann_pq", VectorOps.annPq _),
    // composed IVF-PQ serving path: probe-restricted code-list scan at
    // 32x compression, exact re-rank; index built once to parquet
    QueryDef("ann_ivfpq_query", (s, d) => VectorOps.annIvfPqQuery(s, d)),
    QueryDef("knn_centroid", VectorOps.knnCentroid _, Some(VectorOps.knnCentroidSql)),
    // Multimodal codec + plumbing
    // image-content near-dup (round 13): dHash over the BMP payloads'
    // pixel region, banded like dedup_simhash, planted gradient pairs;
    // integer sampling + compares only (no xxhash) -> the one dedup
    // signature with a FULL cross-engine hash gate
    QueryDef("dedup_image_phash", MultimodalOps.imagePhash _,
      Some(MultimodalOps.imagePhashSql)),
    QueryDef("mm_binary_meta", MultimodalOps.binaryMeta _, Some(MultimodalOps.binaryMetaSql)),
    // header codec through the batched mapPartitions path (+ byte-hist
    // feature) — the shape a vectorized native decoder plugs into
    QueryDef("mm_feature", (s, d) => MultimodalOps.featureExtractDf(s, d),
      Some(MultimodalOps.featureSql)),
    // the same codec as one codegen'd projection: magic-byte dispatch
    // + fixed-offset header fields, scan-speed
    QueryDef("mm_media_decode", (s, d) => MultimodalOps.mediaDecode(s, d),
      Some(MultimodalOps.mediaDecodeSql)),
    QueryDef("mm_frame_sample", MultimodalOps.frameSample _,
      Some(MultimodalOps.frameSampleSql)),
    // media-TIME sampling driven by the walked mvhd duration (frame =
    // t*n_frames/duration, exact integers): one mapPartitions pass,
    // zero shuffles; hash-gated against the box-walk CTE twin
    QueryDef("mm_time_sample", (s, d) => MultimodalOps.mp4TimeSample(s, d),
      Some(MultimodalOps.mp4TimeSampleSql)),
    // deterministic ~1/19 population slices of the three recursive-
    // CTE-twinned operators: the twin cost is per-payload, so the
    // slice keeps the DuckDB walks inside the big-SF probe budget
    // while exercising every decode branch (19 coprime to all branch
    // moduli — MultimodalOps.gateSlice)
    QueryDef("mm_media_decode_slice", MultimodalOps.mediaDecodeSlice _,
      Some(MultimodalOps.mediaDecodeSliceSql)),
    QueryDef("mm_feature_slice", MultimodalOps.featureExtractDfSlice _,
      Some(MultimodalOps.featureSliceSql)),
    QueryDef("mm_time_sample_slice", MultimodalOps.mp4TimeSampleSlice _,
      Some(MultimodalOps.mp4TimeSampleSliceSql)),
    // VIDEO near-dup: mp4TimeSample demux picks instants, the phash
    // kernel signs each 72-byte frame region, slot-keyed band-pair
    // join + >=2-shared-frames aggregate; planted perturbed-copy
    // videos (ids = 70/198 mod 320, group-shared surrogate header)
    QueryDef("dedup_video_phash", (s, d) => MultimodalOps.videoPhash(s, d),
      Some(MultimodalOps.videoPhashSql)),
    QueryDef("dedup_video_phash_slice", MultimodalOps.videoPhashSlice _,
      Some(MultimodalOps.videoPhashSliceSql)),
    // AUDIO near-dup: 64-bit windowed energy-contour signature over
    // the WAV payloads' PCM region (chromaprint shape, rate-invariant
    // by construction), shared band-pair join; planted perturbed-copy
    // pairs (ids = 19/59 mod 80) — completes the perceptual ladder;
    // integer windowed energies + compares only -> full cross-engine
    // hash gate (the dedup_image_phash class)
    QueryDef("dedup_audio_phash", MultimodalOps.audioPhash _,
      Some(MultimodalOps.audioPhashSql)),
    // engine-internal scalar reduction of the interval join — the
    // sf10 gate form (368M pairs never materialize in the compare)
    QueryDef("q_interval_join_agg", TemporalJoins.intervalJoinAgg _,
      Some(TemporalJoins.intervalJoinAggSql)),
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** DuckDB oracle SQL per query key (same aliases + rounding). */
  val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
