package graft

import org.apache.spark.sql.types._

/** Empty-input discipline: an empty ingest day, an empty quality-gate
  * survivor set, or an empty join side is ROUTINE at pipeline scale —
  * every scan/join-shaped operator must degrade to an empty (or
  * all-zero aggregate) result, never throw. Index-BUILD operators
  * (k-means IVF) are deliberately out of scope: clustering an empty
  * corpus is a configuration error, not a data condition.
  */
@Nightly
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    def write(name: String, schema: StructType): Unit =
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        .write.parquet(s"$dir/$name.parquet")
    write("documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
    // ts as long: the real feed is TIMESTAMP(NANOS), which the loader
    // reads as long nanos — an empty long column takes the same path
    write("events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))))
    write("embeddings", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))
    // corpus_expectations' referential check joins events → customer
    write("customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))))
    dir
  }

  /** Row-producing ops: empty corpus in, zero rows out. */
  private val emptyOut = Seq(
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "dedup_simhash_pairs",
    "dedup_cluster", "dedup_keep_best", "dedup_substring",
    "dedup_substring_incremental", "dedup_substring_spans",
    "dedup_substring_excise", "dedup_semdedup",
    "dedup_embedding_cosine", "dedup_embedding_cosine_lsh",
    "dedup_embedding_incremental",
    "doc_chunk", "chunk_dedup", "chunk_dedup_fuzzy", "chunk_dedup_incremental",
    "corpus_quantiles", "vocab_bpe_pairs", "text_ngram_topk",
    "text_quality_score", "text_token_count", "text_fingerprint",
    "sample_split_hash", "sample_stratified", "corpus_mix", "corpus_stats",
    "sample_temperature", "text_entropy",
    "pack_sequences", "corpus_curate", "emb_quantize_int8", "sim_brute_topk",
    "sim_lsh_topk", "emb_quantize_binary", "sim_binary_topk",
    "mm_frame_sample",
    "text_bm25_topk", "text_bm25_eval", "text_tfidf_topterms",
    "sim_hybrid_rrf", "events_zorder_layout", "events_zorder_prune_eval",
    "chunk_bm25_topk", "events_zorder_incremental", "sim_mrl_eval", "corpus_source_cap",
    "vocab_wordpiece_train", "vocab_wordpiece_tokenize",
    "sim_hybrid_mmr", "sim_filtered_topk", "sim_filtered_ivf_topk",
    "mm_image_dhash", "mm_image_neardup_pairs",
    "mm_audio_fingerprint", "mm_audio_neardup_pairs",
    "mm_video_fingerprint", "mm_video_neardup_pairs",
    "vocab_unigram_train", "vocab_unigram_tokenize",
    "quality_classifier_apply", "corpus_curate_model",
    "quality_classifier_calibration",
    "dedup_bloom", "dedup_bloom_sharded", "dedup_bloom_incremental",
    "text_ngram_cms_topk", "text_ngram_cms_incremental",
    "corpus_dsir_weights", "corpus_dsir_select",
    "events_hll_by_type", "events_hll_incremental",
    "dedup_pagerank", "dedup_keep_central",
    "corpus_quantile_sketch", "corpus_quantile_sketch_incremental",
    "text_bigram_nll", "emb_project_rp", "sim_rp_topk",
    "sample_split_cluster", "vocab_growth", "dedup_component_sizes",
    "corpus_token_budget", "corpus_source_shares", "emb_label_centroids",
    "text_ngram_novelty")

  /** Aggregate-shaped ops: one (or per-check) row of zero counts is the
    * correct empty-corpus answer — they must run, not throw. */
  private val runsOnly = Seq("vocab_kmv", "events_unique_users_kmv",
    "corpus_expectations", "dedup_substring_eval",
    "corpus_drift", "mm_image_neardup_eval", "mm_audio_neardup_eval",
    "mm_video_neardup_eval",
    "quality_classifier_train", "quality_classifier_eval",
    "quality_classifier_incremental",
    "dedup_bloom_eval", "text_ngram_cms_eval", "corpus_dsir_eval",
    "events_unique_users_hll", "vocab_hll", "corpus_quantile_sketch_eval",
    "emb_project_rp_eval", "dedup_graph_stats", "dedup_method_agreement",
    "sample_split_leakage", "corpus_token_budget_eval", "corpus_source_gini",
    "corpus_funnel", "pack_sequences_eval")

  for (name <- emptyOut) {
    test(s"$name returns zero rows on an empty corpus") {
      assert(LegacyEntry.queries(name)(spark, emptyDir).count() == 0L)
    }
  }

  for (name <- runsOnly) {
    test(s"$name runs on an empty corpus (zero-count report, no throw)") {
      LegacyEntry.queries(name)(spark, emptyDir).collect()
    }
  }
}
