package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Assets, Tables}
import graft.operators._

/** Training-data-pipeline operator surface: dedup, text analysis,
  * similarity search, multimodal — each driven by the `documents` /
  * `embeddings` testdata tables, with DuckDB oracles wherever the
  * operator is SQL-expressible and engine-stable (integer-derived
  * outputs; see the operator scaladocs for the stability arguments). */
object PipelineQueries {

  /** Columns profiled by `profile_columns` (all of orders): only COUNTS
    * cross the engine boundary, so type-to-string casts need not format
    * identically — just injectively — in both engines. */
  val ordersProfileCols: Seq[String] = Seq("o_orderkey", "o_custkey",
    "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")

  /** Terms for the lexical-retrieval queries: two common tokens plus the
    * rare 'dup' marker, so the conjunctive query is selective (~3% of
    * docs) and the ranked query's idf weights differ across terms. */
  val searchTerms: Seq[String] = Seq("spark", "vector", "dup")

  /** Phrase for the positional lookup: a bigram the generator emits
    * (~50 corpus occurrences at sf0.01). */
  val phraseTerms: Seq[String] = Seq("table", "hash")

  /** The profile_columns registration body, exposed for PlanSpec. */
  def profileColumnsOrders(s: SparkSession, d: String): DataFrame =
    Profiling.profileColumns(Tables.orders(s, d), ordersProfileCols)

  /** MERGE-INTO demo over orders with a deterministically derived change
    * batch (disjoint key sets by construction): update priority on
    * %13==0, delete %17==3 (minus the update keys), insert fresh keys
    * beyond the max for %19==1. Integer/string columns only, so the
    * merged table hash-compares exactly. */
  def upsertOrders(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val snap = Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    val updates = snap.filter(col("o_orderkey") % 13 === 0)
      .withColumn("o_orderpriority", lit("MERGED"))
      .withColumn("op", lit("update"))
    val deletes = snap
      .filter(col("o_orderkey") % 17 === 3 && col("o_orderkey") % 13 =!= 0)
      .withColumn("op", lit("delete"))
    val inserts = snap.filter(col("o_orderkey") % 19 === 1)
      .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000000L))
      .withColumn("o_orderstatus", lit("N"))
      .withColumn("o_orderpriority", lit("5-LOW"))
      .withColumn("op", lit("insert"))
    Upsert.applyChanges(snap, updates.unionByName(deletes).unionByName(inserts),
        "o_orderkey")
      .orderBy("o_orderkey")
  }

  val upsertOrdersSql: String =
    """WITH snap AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM orders
      |), changes AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |         'MERGED' AS o_orderpriority, 'update' AS op
      |  FROM snap WHERE o_orderkey % 13 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, 'delete'
      |  FROM snap WHERE o_orderkey % 17 = 3 AND o_orderkey % 13 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000000, o_custkey, 'N', '5-LOW', 'insert'
      |  FROM snap WHERE o_orderkey % 19 = 1
      |)
      |SELECT * FROM (
      |  SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_orderpriority
      |  FROM snap s ANTI JOIN changes c ON s.o_orderkey = c.o_orderkey
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
      |  FROM changes WHERE op <> 'delete'
      |) ORDER BY o_orderkey""".stripMargin

  private val annQueryIds: Seq[Long] = (0L until 20L)

  /** MinHash near-dup pairs, computed once per sfDir and memoized: both
    * dedup_minhash_lsh and dedup_components consume the same pair set,
    * and the LSH pipeline (shingle -> 64 minhashes -> banded buckets ->
    * exact verify) is the expensive part — recomputing it inside the
    * components query would double its cost. */
  private[graft] def minhashPairs(s: SparkSession, d: String): DataFrame =
    Assets.memo("minhashPairs", s, d)(Dedup.minhashLsh(Tables.documents(s, d)))

  /** Dup-span zip tally memoized per sfDir (VERDICT r13 #2):
    * text_scrub_dup_spans and text_dup_span_coverage both derive from
    * the same (doc, pos, tok, gram-hash) corpus tally — the tokenize +
    * hash pass is the expensive part (~9 s of the pair's combined bench
    * cost), and each query's own rollups are cheap. */
  private[graft] def dupSpanTally(s: SparkSession, d: String): DataFrame =
    Assets.memo("dupSpanTally", s, d)(
      TextAnalysis.dupSpanTallyPlan(Tables.documents(s, d)))

  /** Quality-classifier token tally memoized per sfDir (VERDICT r13 #3):
    * clf_quality_vocab and clf_quality_score share one (doc, decile,
    * distinct-token) corpus pass — the vocab query trains the model, the
    * score query trains it AND applies it, and both costs are dominated
    * by the tokenize/decile tally this caches. */
  private[graft] def clfEnriched(s: SparkSession, d: String): DataFrame =
    Assets.memo("clfEnriched", s, d)(
      QualityClassifier.enrichedTokensPlan(Tables.documents(s, d)))

  /** BPE merge training memoized per sfDir: vocab_bpe_merges and
    * vocab_bpe_pieces share one greedy training loop. The merge list is
    * driver-local, so the entry serves any session. */
  private[graft] def bpeMerges(s: SparkSession, d: String): Seq[Bpe.Merge] =
    Assets.memo("bpeMerges", s, d)(Bpe.trainMerges(Tables.documents(s, d)))

  /** Oracle PRESENTATION order per query, applied at this registration
    * boundary — NOT inside the operators (VERDICT r5 #2): a total sort of
    * a corpus-sized output is pure verification-harness contract, and
    * embedding it in the operator would bill every production caller a
    * needless range-shuffle at 100 TB. Operators return unsorted;
    * PlanSpec asserts their raw plans contain no global sort. */
  val oracleOrder: Map[String, Seq[String]] = Map(
    "dedup_exact" -> Seq("keep_doc_id"),
    "dedup_ngram_jaccard" -> Seq("doc_a", "doc_b"),
    "dedup_minhash_lsh" -> Seq("doc_a", "doc_b"),
    "dedup_simhash" -> Seq("doc_a", "doc_b"),
    "dedup_incremental" -> Seq("doc_id"),
    "dedup_components" -> Seq("doc_id"),
    "dedup_components_star" -> Seq("doc_id"),
    "dedup_retention" -> Seq("doc_id"),
    "dedup_paragraphs" -> Seq("doc_id"),
    "text_token_counts" -> Seq("doc_id"),
    "text_quality" -> Seq("doc_id"),
    "text_lang_id" -> Seq("doc_id"),
    "text_fingerprint" -> Seq("doc_id"),
    "text_winnowing" -> Seq("doc_id", "fingerprint"),
    "text_repetition" -> Seq("doc_id"),
    "text_bigram_coverage" -> Seq("doc_id"),
    "text_dup_span_coverage" -> Seq("doc_id"),
    "text_scrub_dup_spans" -> Seq("doc_id"),
    "text_pii_scrub" -> Seq("doc_id"),
    "report_filter_reasons" -> Seq("rule"),
    "sink_zonemap_skip" -> Seq("event_type"),
    "source_quarantine" -> Seq("status"),
    "embed_validate" -> Seq("vec_id"),
    "report_embedding_drift" -> Seq("label"),
    "embed_hash_vectors" -> Seq("doc_id", "bucket"),
    "dedup_hashvec" -> Seq("doc_a", "doc_b"),
    "ann_topk" -> Seq("query_id", "rank"),
    "ann_near_dup" -> Seq("vec_a", "vec_b"),
    "ann_lsh" -> Seq("query_id", "rank"),
    "ann_ivf" -> Seq("query_id", "rank"),
    "ann_ivf_probe" -> Seq("query_id", "rank"),
    "cluster_kmeans" -> Seq("vec_id"),
    "embed_random_projection" -> Seq("vec_id"),
    "quantize_int8" -> Seq("vec_id", "i"),
    "ann_pq_codes" -> Seq("vec_id", "subspace"),
    "ann_pq_topk" -> Seq("query_id", "rank"),
    "ann_ivfpq_topk" -> Seq("query_id", "rank"),
    "ann_pq_refine" -> Seq("query_id", "rank"),
    "mm_decode_features" -> Seq("asset_id"),
    "mm_frame_features" -> Seq("asset_id", "frame_idx"),
    "sample_hash" -> Seq("doc_id"),
    "sample_stratified" -> Seq("doc_id"),
    "sample_mix_sources" -> Seq("doc_id"),
    "sample_mix_temperature" -> Seq("doc_id"),
    "sample_curriculum" -> Seq("doc_id"),
    "pipeline_clean_corpus" -> Seq("doc_id"),
    "decontaminate" -> Seq("doc_id"),
    "pack_sequences" -> Seq("doc_id"),
    "tokenize_corpus" -> Seq("doc_id", "pos"),
    "text_tfidf_topterms" -> Seq("doc_id", "rn"),
    "vocab_bpe_merges" -> Seq("rank"),
    "vocab_bpe_pieces" -> Seq("piece"),
    "tokenize_bpe" -> Seq("doc_id", "word_pos", "piece_pos"),
    "chunk_overlap" -> Seq("doc_id", "chunk_idx"),
    "sketch_quantile_hist" -> Seq("lang"),
    "sketch_kmv_distinct" -> Seq("event_type"),
    "sketch_kmv_intersect" -> Seq("type_a", "type_b"),
    "clf_quality_vocab" -> Seq("tok"),
    "clf_quality_score" -> Seq("doc_id"),
    "source_binary" -> Seq("name"),
    "mv_event_totals" -> Seq("event_type"),
    "embed_gram" -> Seq("i", "j"),
    "source_provenance" -> Seq("shard"),
    "snapshot_time_travel" -> Seq("version"),
    "snapshot_diff" -> Seq("o_orderkey"),
    "pipeline_funnel_observed" -> Seq("stage"),
    "embed_pca_project" -> Seq("vec_id"),
    "events_cohort_retention" -> Seq("cohort_day", "day_offset"),
    "sample_weighted" -> Seq("doc_id"),
    "events_gap_fill" -> Seq("user_id", "day_id"),
    "events_ewma" -> Seq("user_id", "day_id"),
    "events_features_pit" -> Seq("event_id"),
    "events_wau" -> Seq("window_end"),
    "profile_fk_orphans" -> Seq("fk_name"),
    "source_schema_evolution" -> Seq("day_id"),
    "report_oov_rate" -> Seq("source", "lang"),
    "clean_winsorize" -> Seq("o_orderkey"),
    "pipeline_train_corpus" -> Seq("split"),
    "events_funnel_steps" -> Seq("step"),
    "report_source_lang_lift" -> Seq("source", "lang"),
    "vocab_fuzzy_pairs" -> Seq("tok_a", "tok_b"),
    "sample_per_group" -> Seq("source", "rn"),
    "sample_split_grouped" -> Seq("doc_id"),
    "report_type_drift" -> Seq("event_type"),
    "search_keyword" -> Seq("doc_id"),
    "search_phrase" -> Seq("doc_id"),
    "search_tfidf_topk" -> Seq("doc_id"),
    "search_bm25_topk" -> Seq("doc_id"),
    "text_lm_fluency" -> Seq("doc_id"),
    "sample_dsir" -> Seq("doc_id"),
    "text_sentence_stats" -> Seq("doc_id"),
    "report_ann_recall" -> Seq("method", "slice", "query_id"),
    "sink_bloom_skip" -> Seq("o_orderkey"))

  /** The operator registrations as written — sorted only where the
    * operator itself has a semantic order. PlanSpec sweeps THESE plans
    * for absent global sorts. */
  val rawQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- deduplication ---
    "dedup_exact" -> ((s, d) => Dedup.exact(Tables.documents(s, d))),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(Tables.documents(s, d))),
    "dedup_minhash_lsh" -> (minhashPairs _),
    "dedup_simhash" -> ((s, d) => Dedup.simhashPairs(Tables.documents(s, d))),
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // the corpus index is the staged parquet asset it is in production
      // — per-invocation cost is the batch probe, not an index rebuild
      IncrementalDedup.flagBatchStaged(s, d,
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 7),
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 7))
    }),
    "dedup_components" -> ((s, d) =>
      DedupComponents.components(minhashPairs(s, d))),
    // the O(log^2 n) large-star/small-star strategy over the same pairs —
    // registered so the diameter-proof path is driver-exercised; shares
    // dedup_components' closure oracle (identical output by construction)
    // localThreshold = 0: this registration EXERCISES the distributed
    // star iterations every round; the sibling dedup_components keeps the
    // hybrid default (local union-find under the threshold)
    "dedup_components_star" -> ((s, d) =>
      DedupComponents.components(minhashPairs(s, d),
        strategy = DedupComponents.LargeSmallStar, localThreshold = 0)),
    "dedup_semantic" -> ((s, d) =>
      SemanticDedup.clusters(Tables.embeddings(s, d))),
    // the ingest gate of the vector family: classify every vector once
    // (null/empty/ragged/nonfinite/zero), downstream operators assume a
    // validated corpus (EmbeddingQuality scaladoc: validate-then-assume)
    // model-free text vectorization (feature hashing) + its near-dup
    // consumer: the documents -> vector-family bridge
    "embed_hash_vectors" -> ((s, d) =>
      TextVectorize.hashVectors(Tables.documents(s, d))),
    "dedup_hashvec" -> ((s, d) =>
      TextVectorize.hashVecNearDup(Tables.documents(s, d))),
    "embed_validate" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
      EmbeddingQuality.validate(vecs, EmbeddingQuality.inferDim(vecs))
    }),
    // the decision step after components: per cluster keep the highest-
    // QUALITY member, not the smallest id; singletons always kept
    "dedup_retention" -> ((s, d) =>
      DedupComponents.retention(Tables.documents(s, d), minhashPairs(s, d))),
    // paragraph-level boilerplate removal with reconstruction (CCNet):
    // positional word chunks, corpus doc-frequency, rebuild kept text
    "dedup_paragraphs" -> ((s, d) => Dedup.paragraphDedup(Tables.documents(s, d))),
    // --- text analysis ---
    "text_token_counts" -> ((s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d))),
    "text_quality" -> ((s, d) => TextAnalysis.qualityScore(Tables.documents(s, d))),
    "text_lang_id" -> ((s, d) => TextAnalysis.langId(Tables.documents(s, d))),
    "text_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))),
    "text_winnowing" -> ((s, d) => TextAnalysis.winnowingFingerprints(Tables.documents(s, d))),
    "text_repetition" -> ((s, d) => TextAnalysis.repetition(Tables.documents(s, d))),
    "text_bigram_coverage" -> ((s, d) => TextAnalysis.bigramCoverage(Tables.documents(s, d))),
    "text_dup_span_coverage" -> ((s, d) => TextAnalysis.dupSpanCoverageFrom(dupSpanTally(s, d))),
    "text_scrub_dup_spans" -> ((s, d) => TextAnalysis.scrubDupSpansFrom(dupSpanTally(s, d))),
    // --- similarity search ---
    "ann_topk" -> ((s, d) => SimilaritySearch.bruteForceTopK(Tables.embeddings(s, d), annQueryIds)),
    "ann_near_dup" -> ((s, d) => SimilaritySearch.cosineNearDupExact(Tables.embeddings(s, d))),
    // bitsPerTable sized to the testdata corpus per the log2(n) guidance
    // on hyperplaneBuckets (n <= 5000 -> 12 bits = 4096 buckets/table)
    "ann_lsh" -> ((s, d) => SimilaritySearch.randomHyperplaneAnn(Tables.embeddings(s, d), bitsPerTable = 12)),
    "ann_ivf" -> ((s, d) => IvfAnn.topK(Tables.embeddings(s, d))),
    // the index-build / probe split: queries rank a corpus they did not
    // shape — the batch twin of stream_ann_probe (shared oracle)
    "ann_ivf_probe" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      IvfAnn.topKAgainst(emb.filter(col("vec_id") % 10 =!= 7),
        emb.filter(col("vec_id") % 10 === 7))
    }),
    // --- clustering + embedding compression (the IVF-PQ scale layout) ---
    "cluster_kmeans" -> ((s, d) => IvfAnn.clusters(Tables.embeddings(s, d))),
    "embed_random_projection" -> ((s, d) => RandomProjection.project(Tables.embeddings(s, d))),
    "quantize_int8" -> ((s, d) => Quantization.int8(Tables.embeddings(s, d))),
    "ann_pq_codes" -> ((s, d) => Quantization.pqCodes(Tables.embeddings(s, d))),
    "ann_pq_topk" -> ((s, d) => Quantization.pqTopK(Tables.embeddings(s, d), annQueryIds)),
    "ann_ivfpq_topk" -> ((s, d) => Quantization.ivfPqTopK(Tables.embeddings(s, d), annQueryIds)),
    // recall@k of the bucketed ANN methods vs exact ground truth
    "report_ann_recall" -> ((s, d) =>
      SimilaritySearch.annRecallReportStaged(s, d, annQueryIds)),
    // per-class centroid shift between standing corpus and arrival slice
    "report_embedding_drift" -> ((s, d) =>
      CorpusStats.embeddingDrift(Tables.embeddings(s, d))),
    // ADC shortlist + exact re-rank (FAISS refine): the production recall
    // recovery — `refine` exact scores per query instead of |corpus|
    "ann_pq_refine" -> ((s, d) => Quantization.pqTopK(Tables.embeddings(s, d), annQueryIds, refine = 100)),
    // --- multimodal ---
    "mm_decode_features" -> ((s, d) => Multimodal.decodeFeatures(Multimodal.assetTable(Tables.documents(s, d)))),
    "mm_frame_features" -> ((s, d) => Multimodal.sampleFrameFeatures(Multimodal.assetTable(Tables.documents(s, d)))),
    "mm_feature_near_dup" -> ((s, d) => Multimodal.featureNearDup(Multimodal.assetTable(Tables.documents(s, d)))),
    "mm_feature_near_dup_lsh" -> ((s, d) => Multimodal.featureNearDupLsh(Multimodal.assetTable(Tables.documents(s, d)))),
    // --- sketches ---
    "sketch_hll_distinct" -> ((s, d) => Sketches.hllDistinct(Tables.events(s, d), "event_type", "user_id")),
    "sketch_hll_agg" -> ((s, d) => Sketches.hllDistinctAgg(Tables.events(s, d), "event_type", "user_id")),
    "sketch_cms_topk" -> ((s, d) => Sketches.cmsTopK(Tables.documents(s, d))),
    "sketch_kmv_distinct" -> ((s, d) => Sketches.kmvDistinct(Sketches.withUserDay(Tables.events(s, d)))),
    "sketch_kmv_intersect" -> ((s, d) => Sketches.kmvIntersect(Sketches.withUserDay(Tables.events(s, d)))),
    // --- model-based quality filtering ---
    "clf_quality_vocab" -> ((s, d) => QualityClassifier.clfVocabFrom(clfEnriched(s, d))),
    "clf_quality_score" -> ((s, d) => QualityClassifier.clfScoreFrom(clfEnriched(s, d))),
    "sketch_quantile_hist" -> ((s, d) => Sketches.hdrQuantileHist(Tables.documents(s, d))),
    // sketch-driven outlier clipping: hdr_quantile cutoffs + narrow clip
    "clean_winsorize" -> ((s, d) => Sketches.winsorizedPrices(Tables.orders(s, d))),
    // --- scrubbing + deterministic sampling ---
    "text_pii_scrub" -> ((s, d) => TextAnalysis.piiScrub(Tables.documents(s, d))),
    "sample_hash" -> ((s, d) => Sampling.sampleDocs(Tables.documents(s, d))),
    "sample_stratified" -> ((s, d) => Sampling.stratifiedSample(Tables.documents(s, d))),
    "sample_split" -> ((s, d) => Sampling.trainValTestSplit(Tables.documents(s, d))),
    "sample_mix_sources" -> ((s, d) => Sampling.mixSources(Tables.documents(s, d))),
    "sample_mix_temperature" -> ((s, d) => Sampling.mixSourcesTemperature(Tables.documents(s, d))),
    "sample_curriculum" -> ((s, d) => Sampling.curriculumAssign(Tables.documents(s, d))),
    "report_filter_reasons" -> ((s, d) => TextAnalysis.filterReasons(Tables.documents(s, d))),
    "profile_columns" -> (profileColumnsOrders _),
    "report_key_skew" -> ((s, d) => Profiling.keySkew(Tables.events(s, d), "user_id")),
    "sink_upsert" -> (upsertOrders _),
    "text_length_quantiles" -> ((s, d) => CorpusStats.lengthQuantiles(Tables.documents(s, d))),
    "report_token_budget" -> ((s, d) => CorpusStats.tokenBudgetReport(Tables.documents(s, d))),
    // --- composed end-to-end cleaning pipeline ---
    "pipeline_clean_corpus" -> ((s, d) => CorpusPipeline.cleanCorpus(Tables.documents(s, d))),
    // the COMPLETE train build: gate -> scrub -> dedup -> grouped split -> packing manifest
    "pipeline_train_corpus" -> ((s, d) =>
      CorpusPipeline.trainCorpus(Tables.documents(s, d), minhashPairs(s, d))),
    "pipeline_funnel" -> ((s, d) => CorpusPipeline.funnel(Tables.documents(s, d))),
    "chunk_overlap" -> ((s, d) => Chunking.chunkDocs(Tables.documents(s, d))),
    "events_cohort_retention" -> ((s, d) =>
      EventAnalytics.cohortRetention(Tables.events(s, d))),
    "events_gap_fill" -> ((s, d) =>
      EventAnalytics.gapFillDaily(Tables.events(s, d))),
    // the gap-fill consumer: decayed trailing activity + integer spike flag
    "events_ewma" -> ((s, d) => EventAnalytics.ewmaDaily(Tables.events(s, d))),
    // point-in-time-correct per-user features at each label row
    "events_features_pit" -> ((s, d) =>
      EventAnalytics.pointInTimeFeatures(Tables.events(s, d))),
    // sliding-window distinct: trailing-7-day active users per day
    "events_wau" -> ((s, d) => EventAnalytics.activeUsers7d(Tables.events(s, d))),
    // referential-integrity audit over the testdata's declared FKs
    "profile_fk_orphans" -> ((s, d) => Profiling.fkOrphans(Seq(
      Profiling.FkCheck("lineitem_orderkey", Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey"),
      Profiling.FkCheck("orders_custkey", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey"),
      Profiling.FkCheck("lineitem_partkey", Tables.lineitem(s, d), "l_partkey",
        Tables.part(s, d), "p_partkey"),
      Profiling.FkCheck("customer_nationkey", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey")))),
    "events_funnel_steps" -> ((s, d) =>
      EventAnalytics.funnelSteps(Tables.events(s, d))),
    "sample_weighted" -> ((s, d) => Sampling.prioritySample(Tables.documents(s, d))),
    // exact-k deterministic per-stratum sample via the bounded topk aggregate
    "sample_per_group" -> ((s, d) => Sampling.perGroupSample(Tables.documents(s, d))),
    // leakage-free split: near-dup clusters never straddle train/val/test
    "sample_split_grouped" -> ((s, d) =>
      DedupComponents.groupedSplit(Tables.documents(s, d), minhashPairs(s, d))),
    "report_source_lang_lift" -> ((s, d) =>
      CorpusStats.sourceLangLift(Tables.documents(s, d))),
    // two-sample event-mix drift across a time boundary, integer scores
    "report_type_drift" -> ((s, d) => EventAnalytics.typeDrift(Tables.events(s, d))),
    // lexical retrieval: conjunctive term lookup + integer tf-idf ranking
    // the search family probes the STANDING postings asset (VERDICT r12
    // #3): one corpus scan at stage-build time, zero at query time — the
    // single-scan direct spellings remain as the teaching twins and are
    // result-equality-gated against these in SearchSpec
    "search_keyword" -> ((s, d) => Search.keywordSearchStaged(s, d, searchTerms)),
    // exact adjacent-token phrase lookup (contamination-audit primitive)
    "search_phrase" -> ((s, d) => Search.phraseSearchStaged(s, d, phraseTerms)),
    "search_tfidf_topk" -> ((s, d) => Search.tfidfSearchStaged(s, d, searchTerms)),
    "search_bm25_topk" -> ((s, d) => Search.bm25SearchStaged(s, d, searchTerms)),
    "text_lm_fluency" -> ((s, d) => BigramLm.fluency(Tables.documents(s, d))),
    // DSIR selection: src1 plays the curated target domain
    "sample_dsir" -> ((s, d) => ImportanceSampling.dsirTopK(Tables.documents(s, d), "src1")),
    "text_sentence_stats" -> ((s, d) => TextAnalysis.sentenceStats(Tables.documents(s, d))),
    "sink_bloom_skip" -> (BloomSkip.pointLookup _),
    "decontaminate" -> ((s, d) => Decontaminate.flagContaminated(Tables.documents(s, d))),
    "pack_sequences" -> ((s, d) => SequencePacking.packDocs(Tables.documents(s, d))),
    // --- partitioned sink + planning-time partition pruning ---
    "sink_partition_prune" -> ((s, d) => PartitionedSink.prunedDailyAgg(s, d)),
    "sink_partition_overwrite" -> ((s, d) => PartitionedSink.dynamicOverwriteSummary(s, d)),
    // file-level min/max skipping over a range-clustered layout — the
    // RANGE-predicate sibling of partition pruning's categorical dirs
    "sink_zonemap_skip" -> ((s, d) => ZoneMaps.windowAgg(s, d)),
    "layout_zorder" -> (Layout.zOrderKeys _),
    "sink_compact" -> (Compaction.roundTripAgg _),
    "sink_bucketed_join" -> ((s, d) => BucketedSink.bucketedJoin(s, d)),
    // --- tokenizer vocabulary with dense ids ---
    "vocab_build" -> ((s, d) => VocabBuild.vocabStaged(s, d)),
    // typo-pair detection: deletion-neighborhood candidates + exact verify
    "vocab_fuzzy_pairs" -> ((s, d) => FuzzyVocab.fuzzyPairs(Tables.documents(s, d))),
    // tokenizer health: per-slice OOV occurrence rate vs the trained vocab
    "report_oov_rate" -> ((s, d) => VocabBuild.oovRate(Tables.documents(s, d))),
    // --- real BPE merge training (the greedy pair-fusion loop) ---
    "vocab_bpe_merges" -> ((s, d) =>
      Bpe.merges(Tables.documents(s, d), bpeMerges(s, d))),
    "vocab_bpe_pieces" -> ((s, d) =>
      Bpe.pieces(Tables.documents(s, d), bpeMerges(s, d))),
    "tokenize_bpe" -> ((s, d) =>
      Bpe.tokenizeBpe(Tables.documents(s, d), bpeMerges(s, d))),
    "tokenize_corpus" -> ((s, d) => VocabBuild.tokenizeStaged(s, d)),
    // per-doc top-k salient terms: integer tf-idf over the dense-id
    // vocab, ranked by the native topk_pairs aggregate
    "text_tfidf_topterms" -> ((s, d) => VocabBuild.tfidfTopTermsStaged(s, d)),
    // --- JSONL source round-trip (explicit schema, FAILFAST) ---
    "source_jsonl" -> ((s, d) => graft.sources.JsonLines.roundTripAgg(s, d)),
    // --- CSV source round-trip (same contract, shared oracle) ---
    "source_csv" -> ((s, d) => graft.sources.CsvLines.roundTripAgg(s, d)),
    // PERMISSIVE + _corrupt_record routing: corrupt lines quarantined,
    // clean rows checksummed — the ingest stance FAILFAST cannot take
    "source_quarantine" -> ((s, d) =>
      graft.sources.JsonQuarantine.quarantineReport(s, d)),
    // --- ORC source round-trip (columnar twin; schema as a CHECK) ---
    "source_orc" -> ((s, d) => graft.sources.OrcSource.roundTripAgg(s, d)),
    // from-scratch Avro reader/writer on the avro core lib (the spark-avro
    // module isn't in this distribution): DSv2 batch source, same checksum
    "source_avro" -> ((s, d) => graft.sources.AvroSource.roundTripAgg(s, d)),
    // logical-type surface of the same connector: timestamp-micros +
    // decimal(12,2) through the events table (VERDICT r9 #3)
    "source_avro_events" -> ((s, d) =>
      graft.sources.AvroSource.eventsRoundTripAgg(s, d)),
    // ARRAY-typed surface: embeddings (array<float>) through the same
    // connector with a quantized-int64 element checksum
    "source_avro_embeddings" -> ((s, d) =>
      graft.sources.AvroSource.embeddingsRoundTripAgg(s, d)),
    // nested STRUCT surface: events re-shaped with a typed payload record
    "source_avro_nested" -> ((s, d) =>
      graft.sources.AvroSource.nestedRoundTripAgg(s, d)),
    // additive schema evolution for AVRO: two generations in one scan
    // through the merged schema, old files null-fill the added column
    "source_avro_evolved" -> ((s, d) =>
      graft.sources.AvroSource.evolvedReadAgg(s, d)),
    // additive schema evolution: mergeSchema union, old files null-fill
    "source_schema_evolution" -> ((s, d) =>
      graft.sources.SchemaEvolution.evolvedRead(s, d)),
    "source_binary" -> ((s, d) => graft.sources.BinaryFiles.binaryManifest(s, d)),
    "mv_event_totals" -> ((s, d) => Summaries.eventTypeTotals(s, d)),
    // --- distributed PCA ---
    "embed_gram" -> ((s, d) => Pca.gram(Tables.embeddings(s, d))),
    "embed_pca_project" -> ((s, d) => Pca.project(Tables.embeddings(s, d))),
    "source_provenance" -> ((s, d) => ShardedSink.provenance(s, d)),
    // --- versioned snapshots / time travel ---
    "snapshot_time_travel" -> ((s, d) => VersionedTable.timeTravel(s, d)),
    "snapshot_diff" -> ((s, d) => VersionedTable.diff(s, d)),
    "pipeline_funnel_observed" -> ((s, d) => CorpusPipeline.funnelObserved(Tables.documents(s, d))),
    "sink_optimize" -> ((s, d) => Compaction.optimizeAgg(s, d)),
    // --- training-shard writer: content-hash-balanced shards + manifest ---
    "sink_shards" -> ((s, d) => ShardedSink.manifest(s, d)))

  /** The driver surface: raw registrations with the oracle presentation
    * sort applied at this boundary. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (name, fn) =>
      name -> oracleOrder.get(name).fold(fn) { cols =>
        (s: SparkSession, d: String) =>
          fn(s, d).orderBy(cols.map(org.apache.spark.sql.functions.col): _*)
      }
    }

  /** Static entries plus the PCA projection's TRAINED-LITERAL oracle,
    * which exists only after embed_pca_project has run in this JVM
    * (Verify writes oracle_sql.json after the sweep, so it carries the
    * literals the sweep scored with). */
  def oracles: Map[String, String] = staticOracles ++ Pca.dynamicOracle

  private val staticOracles: Map[String, String] = Map(
    "embed_gram" -> Pca.gramSql,
    // _metadata-derived shard must equal the content-derived assignment
    "source_provenance" -> ShardedSink.manifestSql(),
    "snapshot_time_travel" -> VersionedTable.timeTravelSql,
    "snapshot_diff" -> VersionedTable.diffSql,
    // observe() side-channel counters equal the four-agg replay exactly
    "pipeline_funnel_observed" -> CorpusPipeline.funnelSql(),
    "sink_optimize" -> Compaction.optimizeAggSql,
    "dedup_exact" -> Dedup.exactSql,
    "dedup_ngram_jaccard" -> Dedup.ngramJaccardSql(),
    // minhash+LSH verifies candidates with exact Jaccard; at the measured
    // testdata separation (planted pairs j>=0.87, recall >1-1e-6) its
    // output equals the exact all-pairs result — the UNCAPPED spelling
    // (minhash does not hot-shingle-cap its verify)
    "dedup_minhash_lsh" -> Dedup.ngramJaccardSql(maxDocFreq = None),
    // simhash banding is candidate-exact for Hamming<=6, so the all-pairs
    // SQL replay of the md5-term simhash is a full value oracle
    "dedup_simhash" -> Dedup.simhashPairsSql(),
    "dedup_incremental" -> IncrementalDedup.flagBatchSql("doc_id % 10 = 7"),
    // components over the minhash pairs; oracle closes over the exact
    // pair set (= minhash output on testdata, same equivalence as above)
    "dedup_components" -> DedupComponents.componentsSql(
      s"SELECT doc_a, doc_b FROM (${Dedup.ngramJaccardSql(maxDocFreq = None)})"),
    "dedup_components_star" -> DedupComponents.componentsSql(
      s"SELECT doc_a, doc_b FROM (${Dedup.ngramJaccardSql(maxDocFreq = None)})"),
    "dedup_retention" -> DedupComponents.retentionSql(
      s"SELECT doc_a, doc_b FROM (${Dedup.ngramJaccardSql(maxDocFreq = None)})"),
    // SemDeDup: deterministic quantizer (shared CTE prefix with ann_ivf)
    // + exact within-cell cosine verify + recursive-CTE closure — fully
    // hash-oracled for the same reason ann_ivf is
    "dedup_semantic" -> SemanticDedup.clustersSql(dim = 64),
    "dedup_paragraphs" -> Dedup.paragraphDedupSql(),
    "text_token_counts" -> TextAnalysis.tokenCountsSql,
    "text_quality" -> TextAnalysis.qualityScoreSql,
    "text_lang_id" -> TextAnalysis.langIdSql,
    "text_fingerprint" -> TextAnalysis.fingerprintSql,
    "text_winnowing" -> TextAnalysis.winnowingSql(),
    "text_repetition" -> TextAnalysis.repetitionSql,
    "text_bigram_coverage" -> TextAnalysis.bigramCoverageSql(),
    "text_dup_span_coverage" -> TextAnalysis.dupSpanCoverageSql(),
    // removal twin of the coverage metric: scrubbed text crosses as md5,
    // proving byte-exact reassembly
    "text_scrub_dup_spans" -> TextAnalysis.scrubDupSpansSql(),
    "ann_topk" -> SimilaritySearch.bruteForceTopKSql(annQueryIds),
    "ann_near_dup" -> SimilaritySearch.cosineNearDupExactSql(),
    // approximate, yet fully hash-oracled: the md5-derived integer
    // bucketing is bit-reproducible, so DuckDB replays the SAME
    // candidate set and exact-scores it (recall < 1 never enters)
    "ann_lsh" -> SimilaritySearch.annLshSql(dim = 64, bitsPerTable = 12),
    // IVF too is deterministic end-to-end (md5 seeds + integer Lloyd),
    // so DuckDB replays the full quantizer training and probe
    "ann_ivf" -> IvfAnn.topKSql(dim = 64),
    "ann_ivf_probe" -> IvfAnn.topKAgainstSql(dim = 64, "vec_id % 10 = 7"),
    // k-means/int8/PQ share IVF's determinism contract (md5 seeds +
    // integer Lloyd; exact IEEE double scalar quantize) — full oracles
    "cluster_kmeans" -> IvfAnn.clustersSql(dim = 64),
    "embed_random_projection" -> RandomProjection.projectSql(),
    "quantize_int8" -> Quantization.int8Sql(),
    "ann_pq_codes" -> Quantization.pqCodesSql(),
    "ann_pq_topk" -> Quantization.pqTopKSql(annQueryIds),
    "ann_ivfpq_topk" -> Quantization.ivfPqTopKSql(annQueryIds),
    "report_ann_recall" -> SimilaritySearch.annRecallReportSql(annQueryIds),
    "report_embedding_drift" -> CorpusStats.embeddingDriftSql(),
    "ann_pq_refine" -> Quantization.pqTopKSql(annQueryIds, refine = 100),
    "mm_decode_features" -> Multimodal.decodeFeaturesSql,
    "mm_frame_features" -> Multimodal.sampleFrameFeaturesSql(),
    // exact twin of the LSH-candidate near-dup: full value oracle AND the
    // recall yardstick for the LSH spelling below
    "mm_feature_near_dup" -> Multimodal.featureNearDupSql(),
    "mm_feature_near_dup_lsh" -> Multimodal.featureNearDupLshSql(),
    // deterministic md5-based sketches: DuckDB replays the sketch itself
    "sketch_hll_distinct" -> Sketches.hllDistinctSql,
    // the TypedImperativeAggregate spelling lands on the same estimates
    "sketch_hll_agg" -> Sketches.hllDistinctSql,
    "sketch_cms_topk" -> Sketches.cmsTopKSql(),
    "sketch_kmv_distinct" -> Sketches.kmvDistinctSql(),
    "sketch_kmv_intersect" -> Sketches.kmvIntersectSql(),
    "clf_quality_vocab" -> QualityClassifier.clfVocabSql,
    "clf_quality_score" -> QualityClassifier.clfScoreSql,
    "sketch_quantile_hist" -> Sketches.hdrQuantileHistSql,
    "text_pii_scrub" -> TextAnalysis.piiScrubSql,
    "sample_hash" -> Sampling.sampleDocsSql(),
    "sample_stratified" -> Sampling.stratifiedSampleSql(),
    "sample_split" -> Sampling.trainValTestSplitSql,
    "sample_mix_sources" -> Sampling.mixSourcesSql(),
    "sample_mix_temperature" -> Sampling.mixSourcesTemperatureSql(),
    "sample_curriculum" -> Sampling.curriculumAssignSql(),
    "report_filter_reasons" -> TextAnalysis.filterReasonsSql,
    "profile_columns" -> Profiling.profileColumnsSql("orders", ordersProfileCols),
    "report_key_skew" -> Profiling.keySkewSql("events", "user_id"),
    "sink_upsert" -> upsertOrdersSql,
    "text_length_quantiles" -> CorpusStats.lengthQuantilesSql(),
    "report_token_budget" -> CorpusStats.tokenBudgetReportSql,
    "pipeline_clean_corpus" -> CorpusPipeline.cleanCorpusSql(),
    "pipeline_funnel" -> CorpusPipeline.funnelSql(),
    "chunk_overlap" -> Chunking.chunkDocsSql(),
    "events_cohort_retention" -> EventAnalytics.cohortRetentionSql(),
    "events_gap_fill" -> EventAnalytics.gapFillDailySql(),
    "events_ewma" -> EventAnalytics.ewmaDailySql(),
    "events_features_pit" -> EventAnalytics.pointInTimeFeaturesSql(),
    "events_wau" -> EventAnalytics.activeUsers7dSql(),
    "profile_fk_orphans" -> Profiling.fkOrphansSql(Seq(
      ("lineitem_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("orders_custkey", "orders", "o_custkey", "customer", "c_custkey"),
      ("lineitem_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
      ("customer_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"))),
    "events_funnel_steps" -> EventAnalytics.funnelStepsSql(),
    "sample_weighted" -> Sampling.prioritySampleSql(),
    "sample_per_group" -> Sampling.perGroupSampleSql(),
    "sample_split_grouped" -> DedupComponents.groupedSplitSql(
      s"SELECT doc_a, doc_b FROM (${Dedup.ngramJaccardSql(maxDocFreq = None)})"),
    "report_type_drift" -> EventAnalytics.typeDriftSql(),
    "search_keyword" -> Search.keywordSearchSql(searchTerms),
    "search_phrase" -> Search.phraseSearchSql(phraseTerms),
    "search_tfidf_topk" -> Search.tfidfSearchSql(searchTerms),
    "search_bm25_topk" -> Search.bm25SearchSql(searchTerms),
    "text_lm_fluency" -> BigramLm.fluencySql(),
    "sample_dsir" -> ImportanceSampling.dsirTopKSql("src1"),
    "text_sentence_stats" -> TextAnalysis.sentenceStatsSql(),
    "sink_bloom_skip" -> BloomSkip.pointLookupSql,
    "report_source_lang_lift" -> CorpusStats.sourceLangLiftSql,
    "decontaminate" -> Decontaminate.flagContaminatedSql(),
    "pack_sequences" -> SequencePacking.packDocsSql(),
    // partitioned round-trip must be lossless: oracle reads the raw table
    "sink_partition_prune" -> PartitionedSink.prunedDailyAggSql(),
    // zone-mapped route must be answer-invisible: oracle reads raw events
    "sink_zonemap_skip" -> ZoneMaps.windowAggSql,
    // untouched partitions survive byte-exact, the rewritten one shows
    // the redaction — exactly what dynamic overwrite must guarantee
    "sink_partition_overwrite" -> PartitionedSink.dynamicOverwriteSummarySql,
    "layout_zorder" -> Layout.zOrderKeysSql,
    "sink_compact" -> Compaction.roundTripAggSql,
    "sink_bucketed_join" -> BucketedSink.bucketedJoinSql,
    "vocab_build" -> VocabBuild.vocabSql(),
    "vocab_fuzzy_pairs" -> FuzzyVocab.fuzzyPairsSql(),
    "report_oov_rate" -> VocabBuild.oovRateSql(),
    "clean_winsorize" -> Sketches.winsorizedPricesSql,
    "pipeline_train_corpus" -> CorpusPipeline.trainCorpusSql(
      s"SELECT doc_a, doc_b FROM (${Dedup.ngramJaccardSql(maxDocFreq = None)})"),
    // the DuckDB replay unrolls all 20 greedy rounds — pair counts,
    // total-order argmax, double-pass rewrite — so the merge LIST and
    // the post-merge subword distribution are both full hash oracles
    "vocab_bpe_merges" -> Bpe.mergesSql(),
    "vocab_bpe_pieces" -> Bpe.piecesSql(),
    // the apply step: corpus words join the post-merge spelled vocab
    "tokenize_bpe" -> Bpe.tokenizeBpeSql(),
    "tokenize_corpus" -> VocabBuild.tokenizeSql(),
    "text_tfidf_topterms" -> VocabBuild.tfidfSql(),
    // content checksum proves the JSONL round-trip is lossless
    "source_jsonl" -> graft.sources.JsonLines.roundTripAggSql,
    "source_csv" -> graft.sources.CsvLines.roundTripAggSql,
    "source_quarantine" -> graft.sources.JsonQuarantine.quarantineReportSql,
    "embed_validate" -> EmbeddingQuality.validateSql,
    "embed_hash_vectors" -> TextVectorize.hashVectorsSql(),
    "dedup_hashvec" -> TextVectorize.hashVecNearDupSql(),
    "source_orc" -> graft.sources.OrcSource.roundTripAggSql,
    "source_avro" -> graft.sources.AvroSource.roundTripAggSql,
    "source_avro_events" -> graft.sources.AvroSource.eventsRoundTripAggSql,
    "source_avro_embeddings" -> graft.sources.AvroSource.embeddingsRoundTripAggSql,
    "source_avro_nested" -> graft.sources.AvroSource.nestedRoundTripAggSql,
    "source_avro_evolved" -> graft.sources.AvroSource.evolvedReadAggSql,
    "source_schema_evolution" -> graft.sources.SchemaEvolution.evolvedReadSql,
    "source_binary" -> graft.sources.BinaryFiles.binaryManifestSql,
    "mv_event_totals" -> Summaries.eventTypeTotalsSql,
    "sink_shards" -> ShardedSink.manifestSql())
}
