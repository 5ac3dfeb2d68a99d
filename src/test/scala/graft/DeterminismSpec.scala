package graft

/** Partition-order independence pins: the operators whose comments claim
  * "deterministic under any shuffle order" must produce IDENTICAL rows
  * when the same query runs under different partition counts (different
  * partitioning = different accumulation order, different hash-table
  * iteration, different task interleaving). Covers the families where
  * nondeterminism would hide: sorted JSON aggregation, iterative CC,
  * double-ratio aggregates, window-ranked ANN, and the estimate join.
  */
@Nightly
class DeterminismSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private val pinned = Seq(
    "agg_pg_json_agg",      // collect_list sorted before serialization
    "dedup_cluster",        // iterative large-star/small-star fixpoint
    "corpus_stats",         // double ratios from integer sums
    "sim_q8_topk",          // rank window + partition-local top-k
    "dedup_minhash_estimate", // multi-join over checkpointed inputs
    "dedup_semantic_cluster", // CC fixpoint over the cosine pair graph
    "corpus_quantiles",     // histogram CDF under one single-partition window
    "vocab_bpe_pairs",      // two-phase top-k (tie-broken by pair)
    "dedup_keep_best",      // CC fixpoint + min(struct) keeper election
    "dedup_embedding_incremental", // parity-cut LSH candidates + agg
    "sample_temperature",   // integer-weight Σw_s — THE order-exact claim
    "events_unique_users_kmv", // k-th min over distinct hashes (unique → total order)
    "dedup_simhash_cluster", // CC fixpoint over the hamming pair graph
    "sim_pq_topk",          // Lloyd sorted folds + ADC shortlist + rescore rank
    "sim_ivf_pq_topk",      // IVF pair set × ADC — two approximation chains composed
    "corpus_shard_assign_incremental", // standing window + broadcast tails + append window
    "dedup_substring",      // winnowed fp inverted index + df cap + pair counts
    "dedup_substring_incremental", // batch-probe fp join + admission aggregate
    "dedup_substring_spans", // per-doc gaps-and-islands over shared fp positions
    "dedup_substring_excise", // ownership min-agg + in-row splice of sorted islands
    "dedup_substring_eval", // diagonal-run truth vs winnowed detector, one row
    "dedup_semdedup",       // argmin assign + cluster-bounded pairs + CC + election
    "text_bm25_topk",       // token-sorted score fold + round-6 rank keys
    "sim_hybrid_rrf",       // two-leg fusion: exact divisions in fixed sum order
    "chunk_bm25_topk",      // the same fold over the chunk corpus + parent exclusion
    "vocab_wordpiece_tokenize", // collected-vocab MaxMatch over the word-freq frame
    "events_zorder_incremental", // standing-params lattice + clamped ingest
    "corpus_source_cap",    // salted-hash keep order, partitioning-invariant
    "corpus_drift",         // token-sorted KL/TV folds over the union vocab
    "sim_hybrid_mmr",       // K-1 unrolled greedy rounds, each localCheckpointed
    "mm_image_neardup_pairs", // codec round-trip hash + pigeonhole block join
    "mm_audio_neardup_pairs", // WAV round-trip energy hash + the same join
    "mm_video_neardup_pairs", // MP4 box-walk payload hash + the same join
    "vocab_unigram_train",  // EM rounds: sorted cost lists + integer Viterbi
    "vocab_unigram_tokenize", // Viterbi fold under the trained cost lists
    "quality_classifier_train", // GD rounds: micros gradients + sorted margin folds
    "quality_classifier_eval",  // split-train-score composition, one row
    "corpus_curate_model",      // model filter -> hash election -> salted cap
    "quality_classifier_calibration", // decile table over the trained scores
    "quality_classifier_incremental", // warm-start chain: two phases, one schedule
    "dedup_bloom",           // bit_or word table + min-over-salt probe
    "dedup_bloom_sharded",   // per-shard geometry + (shard, word_idx) probe join
    "dedup_bloom_incremental", // full-outer word merge under one geometry
    "dedup_bloom_eval",      // guarantee + FP decomposition, one row
    "text_ngram_cms_topk",   // min-over-cells estimate + tie-broken top-k
    "text_ngram_cms_incremental", // full-outer cell merge, count additivity
    "text_ngram_cms_eval",   // one-sided-error pin + ranked top-20 overlap
    "corpus_dsir_select",    // integer weight sums + gumbel-keyed rank
    "sim_binary_topk",       // hamming shortlist + float rescore, two-phase
    "corpus_dsir_eval",      // sampled vs argmax enrichment, one row
    "events_unique_users_hll", // exact-integer harmonic sum + micro-grid ln
    "events_hll_incremental", // full-outer register max-merge
    "dedup_pagerank",        // 8 unrolled integer-mass damped rounds
    "corpus_quantile_sketch", // bounded-cell CDF + integer interpolation
    "text_bigram_nll",       // nano-grid integer transition fold
    "emb_project_rp_eval",   // in-row folds + integer micro mean
    "dedup_graph_stats",     // oriented-edge triangle joins, exact integers
    "dedup_method_agreement", // pair-set jaccards over three generators
    "sample_split_leakage",  // CC-labeled boundary counts, exact integers
    "vocab_growth",          // cumulative register maxes + micro-grid ln
    "dedup_component_sizes", // CC-size histogram, exact integers
    "corpus_token_budget_eval", // domain-window threshold + broadcast compare
    "corpus_source_gini",    // rank-weighted integer Lorenz sum
    "corpus_funnel",         // five-stage chain: gate, election, CC, cap
    "emb_label_centroids",   // integer centroid means + one IEEE sqrt
    "text_ngram_novelty",    // df join + integer unique fractions
    "pack_sequences_eval")   // per-shard cumsum boundary accounting

  for (name <- pinned) {
    test(s"$name is identical under 3 vs 11 shuffle partitions") {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      def run(): Seq[String] =
        LegacyEntry.queries(name)(spark, d).collect().map(_.toString).toSeq
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        val a = run()
        spark.conf.set("spark.sql.shuffle.partitions", "11")
        val b = run()
        assert(a.nonEmpty || name == "dedup_cluster")
        assert(a == b, s"$name diverged across partition counts")
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }
}
