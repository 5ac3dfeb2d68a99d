package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.LegacyTables._
import graft.functions.Functions._
import graft.functions.LegacyFunctions._

/** Deduplication operators for a training-data pipeline: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every variant is expressed as scan → (explode) →
  * hash-aggregate / hash-join, i.e. shuffles only on content-derived keys
  * (hash, shingle, band, bucket) that distribute uniformly. Nothing is
  * pairwise over the corpus except where an LSH/band bucket has already
  * bounded the candidate set; the one exact-pairwise operator
  * (dedup_embedding_cosine) is the small-reference-set baseline and
  * documents its LSH-bucketed scale path (sim_lsh_topk).
  *
  * All content hashes are md5 (hex string) — engine-portable, stable
  * across Spark/DuckDB/anything, unlike murmur/xxhash seeds.
  */
object DedupOps {

  type Q = (SparkSession, String) => DataFrame

  /** Exact dedup: hash-groupBy on md5(text). Keeper = min doc_id.
    * One shuffle on the 128-bit hash — uniform by construction. */
  val exact: Q = (s, d) =>
    documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy("content_hash")

  /** Distinct word-3-gram shingles per document (shared by jaccard +
    * minhash). text_shingles is the one-pass custom expression
    * (graft.expressions.TextShingles) — same semantics as the declarative
    * normalize+split+slide pipeline, ~15× faster; explode keeps this
    * fully distributed. */
  private[ops] def docShingles(s: SparkSession, d: String): DataFrame =
    shinglesOfDocs(s, documents(s, d))

  /** The (doc_id, sh) shingle frame of an arbitrary document frame —
    * exposed so streaming twins can append per-batch shingle state that
    * is row-identical to the batch operator's frame (content-derived,
    * so replays collapse under DISTINCT). */
  private[graft] def shinglesOfDocs(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.expressions.TextShingles.register(s)
    docs.select(col("doc_id"), explode(expr("text_shingles(text, 3)")).as("sh"))
  }

  /** N-gram Jaccard near-dup via inverted index: explode shingles,
    * self-join on shingle (pair intersection counts), |A∪B| = |A|+|B|−|∩|,
    * keep pairs ≥ 0.3. Integer output (inter/union) — engine-exact.
    * This is the scalable formulation: no doc×doc cross join; work is
    * proportional to Σ df(shingle)², controllable by pruning hot shingles
    * (df cap) at higher scale. */
  private def jaccardFromShingles(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("doc_id"), col("n_sh").as("na")), col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n_sh").as("nb")), col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumn("union_sz", col("na") + col("nb") - col("inter"))
      .where(col("inter") * 10 >= col("union_sz") * 3) // jaccard >= 0.3, integer math
      .select("doc_a", "doc_b", "inter", "union_sz")
      .orderBy("doc_a", "doc_b")
  }

  val ngramJaccard: Q = (s, d) =>
    // one-checkpoint shingle discipline (r13, see cappedPairsFromShingles)
    jaccardFromShingles(docShingles(s, d).localCheckpoint())

  /** Document-frequency cap for the capped jaccard variant: shingles seen
    * in more than this many documents are dropped before pair generation.
    * The self-join's work is Σ df(shingle)², so one boilerplate shingle
    * shared by 1M docs would alone generate 10¹² candidate pairs — the cap
    * bounds every shingle's contribution at DfCap². */
  private val DfCap = 100

  /** Jaccard near-dup with hot shingles pruned — the 100 TB-safe form of
    * [[ngramJaccard]]. Semantics: jaccard over the df≤cap shingle space
    * (sizes AND intersections both exclude hot shingles, so the ratio is
    * consistent). Recall trade, stated: a pair similar ONLY through
    * ubiquitous shingles (boilerplate, headers) is missed — at threshold
    * 0.3 such pairs are dominated by shared boilerplate, which is usually
    * exactly what dedup should NOT fire on. The hot list is tiny by
    * construction (few shingles can exceed df > cap), so it broadcasts. */
  val ngramJaccardCapped: Q = (s, d) => cappedPairsFromShingles(docShingles(s, d))

  /** The df-capped jaccard pair generator over an arbitrary shingle
    * frame — the [[ngramJaccardCapped]] body, exposed so the funnel
    * twin's read-time fold runs the IDENTICAL generator over its
    * accumulated shingle state. */
  private[graft] def cappedPairsFromShingles(sh0: DataFrame): DataFrame = {
    // the shingle frame feeds four branches (df aggregate + sizes + both
    // self-join sides). r9 measured checkpointing BOTH sh and the
    // anti-joined frame (2.97 s vs 2.73 s recomputed) and kept
    // recompute; r13 re-measured with ONE checkpoint of the raw shingle
    // frame only (every branch then derives by a cheap broadcast
    // anti-join from cache, and AQE exchange-reuse still dedupes the
    // hot/sizes aggregates): 3.67 -> 2.79 s isolated sf0.1, and every
    // jaccard-graph consumer (cluster/keep_*/savings/funnel/split/...)
    // inherits the cut because the 3-4 shingle Generate passes were
    // their shared floor
    val sh = sh0.localCheckpoint()
    val hot = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .where(col("df") > DfCap).select("sh")
    jaccardFromShingles(sh.join(broadcast(hot), Seq("sh"), "left_anti"))
  }

  /** Cap-bind diagnostics for the pair-generator caps (r13, the
    * keep_central second-decade follow-up): one row with the shingle-df
    * distribution against [[DfCap]] (the bound on every jaccard-family
    * pair generator: work ∝ Σ df² over KEPT shingles) and the minhash
    * band-bucket distribution against [[BandBucketCap]]. Read: if
    * `kept_df2_sum` grows ≳10× per decade while `n_hot_shingles` stays
    * ~0, the cap is NOT binding on that corpus — the growth is
    * sub-cap bucket thickening (many shingles drifting toward the cap),
    * and tightening the cap is the lever, priced by `n_hot_*` (what a
    * tighter cap would drop). Instrument, not a registry key: its
    * consumers are the scale probes and the bench addendum. */
  private[graft] def capBindStats(s: SparkSession, d: String): DataFrame = {
    val df = docShingles(s, d).groupBy("sh").agg(count(lit(1)).as("df"))
    val sh = df.agg(
      count(lit(1)).as("n_shingles"),
      sum(when(col("df") > DfCap, 1L).otherwise(0L)).as("n_hot_shingles"),
      sum(when(col("df") <= DfCap, col("df") * col("df")).otherwise(0L))
        .as("kept_df2_sum"),
      max(when(col("df") <= DfCap, col("df"))).as("max_kept_df"),
      max(col("df")).as("max_df"))
    val bk = bandFrame(minhashSignatures(s, d))
      .groupBy("band", "bkey").agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("n_band_buckets"),
        sum(when(col("n") > BandBucketCap, 1L).otherwise(0L))
          .as("n_capped_buckets"),
        sum(when(col("n") <= BandBucketCap, col("n") * col("n")).otherwise(0L))
          .as("kept_bucket2_sum"),
        max(col("n")).as("max_bucket"))
    sh.crossJoin(bk)
  }

  /** Asymmetric shingle containment C(A→B) = |A∩B| / |A|: detects a
    * document whose content is (mostly) a SUBSET of another — quotes,
    * excerpts, re-posts with added boilerplate — which symmetric jaccard
    * under-scores whenever the container is much larger (J = |∩|/|∪|
    * shrinks with |B|, C(A→B) doesn't). Same inverted-index pair plan as
    * [[ngramJaccard]] (work ∝ Σ df², df-cappable identically), with the
    * directed ratio emitted for BOTH directions of each candidate pair
    * that clear the 0.8 threshold — integer-math gate, ratio rounded
    * only for display. */
  val ngramContainment: Q = (s, d) => {
    // one-checkpoint shingle discipline (r13, see cappedPairsFromShingles)
    val sh = docShingles(s, d).localCheckpoint()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id"), col("n_sh").as("na")), col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n_sh").as("nb")), col("doc_b") === col("doc_id")).drop("doc_id")
      .localCheckpoint() // two directed reads below; no cross-branch CSE
    def directed(contained: String, container: String, n: String) =
      pairs.where(col("inter") * 5 >= col(n) * 4) // containment >= 0.8
        .select(col(contained).as("contained_doc"), col(container).as("container_doc"),
          col("inter"), col(n).as("n_sh"),
          round(col("inter").cast("double") / col(n).cast("double"), 6).as("containment_r"))
    directed("doc_a", "doc_b", "na").unionByName(directed("doc_b", "doc_a", "nb"))
      .orderBy("contained_doc", "container_doc")
  }

  private val NumHashes = 9
  private val BandSize = 3 // 3 bands × 3 rows

  /** MinHash signatures: min over shingles of seeded md5, string-min —
    * portable across engines (no integer hash seeds needed). Computed by
    * the one-pass [[graft.expressions.MinHashSignatures]] expression over
    * the shingle array: a pure scan+map. The explode+groupBy form it
    * replaces did partial-aggregate map-side (so its exchange was small
    * too); what this removes is the doc-keyed aggregation hash table per
    * partition and the exchange entirely — signature memory is one row's
    * worth regardless of docs per partition. Wall-clock is md5-bound and
    * unchanged at test SF; bit-identity with the aggregation form is
    * pinned in FunctionsSpec. */
  private def minhashSignatures(s: SparkSession, d: String): DataFrame =
    signaturesOf(s, documents(s, d))

  /** Signature frame over an arbitrary (doc_id, text) frame — shared
    * with [[graft.streaming.MinhashDedupIngest]], so the streaming
    * index and the batch operator can never hash differently. */
  private[graft] def signaturesOf(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.expressions.TextShingles.register(s)
    graft.expressions.MinHashSignatures.register(s)
    docs
      .select(col("doc_id"),
        expr(s"minhash_sigs(text_shingles(text, 3), $NumHashes)").as("sigs"))
      .select(col("doc_id") +:
        (0 until NumHashes).map(i => element_at(col("sigs"), i + 1).as(s"s$i")): _*)
  }

  /** (doc_id, band, bkey) band frame of a signature frame — the ONE
    * banding scheme, shared by [[bandPairs]] and the streaming index. */
  private[graft] def bandFrame(sig: DataFrame): DataFrame = {
    val bandCols = (0 until NumHashes / BandSize).map { b =>
      val key = concat_ws("|", (0 until BandSize).map(r => col(s"s${b * BandSize + r}")): _*)
      struct(lit(b).as("band"), key.as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** Deduped candidate pairs of the banded signature index (no output
    * sort) — shared by the LSH query and the estimate audit, so the two
    * can never silently disagree on what a candidate is. */
  private def bandPairs(sig: DataFrame, bucketCap: Option[Int] = None,
      materialize: Boolean = true): DataFrame = {
    // delimited join key (inside bandFrame): today's signatures are
    // fixed-width md5 hex (no ambiguity), but a separator keeps distinct
    // signature tuples from ever concatenating to the same key if the
    // scheme changes width
    // one-checkpoint discipline (r13, see cappedPairsFromShingles): the
    // md5-heavy signature pipeline under this frame otherwise re-runs
    // for the hot-bucket aggregate and both self-join sides. The one
    // caller whose in-session cost was BELOW the materialization
    // barrier (minhashIncremental, 0.22 s lazy vs 0.72 s cached — the
    // r13 official bench's own regression gate flagged and confirmed
    // it) opts out and keeps the lazy AQE-reused shape.
    val bands0 = bandFrame(sig)
    val bands = if (materialize) bands0.localCheckpoint() else bands0
    // hot-band cap (same posture as the shingle DfCap): a band bucket of
    // n docs costs n² in the self-join, and a bucket every templated doc
    // falls into is boilerplate, not near-duplication — dropping buckets
    // over the cap bounds Σ|bucket|² without touching discriminative
    // buckets. The hot set is tiny by construction → broadcast anti-join.
    val kept = bucketCap match {
      case None => bands
      case Some(cap) =>
        val hot = bands.groupBy("band", "bkey").agg(count(lit(1)).as("n"))
          .where(col("n") > cap).select("band", "bkey")
        bands.join(broadcast(hot), Seq("band", "bkey"), "left_anti")
    }
    kept.as("a")
      .join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Band-bucket cap for [[minhashLshCapped]]: at the harness scale no
    * real bucket exceeds it (capped ≡ uncapped — the oracle checks
    * that), and LshCapSpec proves the cap FIRES on a corpus where 15
    * identical templates flood every bucket. */
  private[graft] val BandBucketCap = 10

  /** MinHash + LSH banding: 9 hashes, 3 bands of 3; docs sharing any band
    * key are candidate near-dups. Shuffles on (band, bandkey) — the
    * classic sub-quadratic dedup at corpus scale. */
  val minhashLsh: Q = (s, d) =>
    bandPairs(minhashSignatures(s, d)).orderBy("doc_a", "doc_b")

  /** The 100 TB-safe form of [[minhashLsh]]: identical banding with
    * buckets over [[BandBucketCap]] docs dropped before the self-join —
    * the hot-band skew bound for heavily templated corpora, where one
    * boilerplate band key would otherwise concentrate n² join work on a
    * single reducer. Semantics: pairs that ONLY collide through a
    * universal bucket are (deliberately) not candidates; genuinely
    * near-duplicate pairs keep their discriminative buckets. */
  val minhashLshCapped: Q = (s, d) =>
    bandPairs(minhashSignatures(s, d), Some(BandBucketCap))
      .orderBy("doc_a", "doc_b")

  /** Incremental MinHash-LSH dedup — the lambda-ingest form of
    * [[minhashLshCapped]] (family split convention: even doc_ids are
    * the standing corpus, odd the new batch): for each INGESTED
    * document, how many standing documents and how many earlier-batch
    * documents (smaller odd id) share at least one capped band bucket —
    * the LSH admission decision a curation pipeline makes at ingest,
    * the same report shape as [[substringIncremental]] /
    * [[embeddingIncremental]]. The candidate definition is LITERALLY
    * [[bandPairs]] with the production bucket cap, so this report can
    * never disagree with the batch pair list it summarizes; per-batch
    * cost ∝ batch bands × bucket size (≤ cap), never corpus². The
    * persisted-index production shape is
    * [[graft.streaming.MinhashDedupIngest]] (standing band index on
    * disk, batch-id append log, read-time dedup). */
  val minhashIncremental: Q = (s, d) => {
    // fully lazy (r13): this key's in-session cost without any
    // materialization is ~0.22 s — BOTH checkpoint levels measured
    // worse (pairs: 1.95 s probe; bands: 0.72 s in-session, confirmed
    // by the official bench's regression reprobe), so the union's two
    // references stay deduped by AQE exchange reuse instead
    val pairs = bandPairs(minhashSignatures(s, d), Some(BandBucketCap),
      materialize = false)
    val dirp = pairs.select(col("doc_a").as("v"), col("doc_b").as("partner"))
      .unionByName(pairs.select(col("doc_b").as("v"), col("doc_a").as("partner")))
      .where(col("v") % 2 === 1)
    val perDoc = dirp.groupBy("v").agg(
      sum(when(col("partner") % 2 === 0, 1L).otherwise(0L)).as("cm"),
      sum(when(col("partner") % 2 === 1 && col("partner") < col("v"), 1L)
        .otherwise(0L)).as("bm"))
    documents(s, d).select(col("doc_id")).where(col("doc_id") % 2 === 1)
      .join(perDoc, col("doc_id") === col("v"), "left")
      .select(col("doc_id"),
        coalesce(col("cm"), lit(0L)).as("n_corpus_dups"),
        coalesce(col("bm"), lit(0L)).as("n_earlier_batch_dups"))
      .withColumn("kept",
        col("n_corpus_dups") === 0 && col("n_earlier_batch_dups") === 0)
      .orderBy("doc_id")
  }

  /** MinHash as an ESTIMATOR, not just a bucketizer: for each LSH
    * candidate pair, the fraction of agreeing signature components is an
    * unbiased estimate of jaccard (P[min-hash collision] = J) — emitted
    * NEXT TO the exact inverted-index jaccard so the sketch's error on
    * every pair is a measured column, not an assumption (the same
    * philosophy as Bench's ANN recall report). At 100 TB the estimate is
    * what a pipeline thresholds on — the exact join here is the audit
    * path, restricted to the (already sub-quadratic) candidate set. A
    * shared-band pair shares the argmin shingle of that band, so the
    * exact-intersection inner join can never drop a candidate. */
  val minhashEstimate: Q = (s, d) => {
    // signatures feed three branches (both sides of the estimate join +
    // the band index) and shingles feed three more (both sides of the
    // intersection self-join + sizes) — materialize each once instead of
    // letting every branch re-run the md5/shingle pipeline (no
    // cross-branch CSE in Spark; same pattern as blockedPairsFrom)
    val sig = minhashSignatures(s, d).localCheckpoint()
    // pairs feeds three branches too (est join + both sides of candDocs)
    val pairs = bandPairs(sig).localCheckpoint()
    val sa = sig.toDF(sig.columns.map(c => if (c == "doc_id") "doc_a" else c + "_a"): _*)
    val sb = sig.toDF(sig.columns.map(c => if (c == "doc_id") "doc_b" else c + "_b"): _*)
    val est = pairs.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("est_matches",
        (0 until NumHashes).map(i =>
          when(col(s"s${i}_a") === col(s"s${i}_b"), 1).otherwise(0))
          .reduce(_ + _).cast("long"))
      .select("doc_a", "doc_b", "est_matches")
    val sh = docShingles(s, d).localCheckpoint()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // restrict the exact-intersection self-join to candidate DOCS first:
    // the audit's cost is then bounded by candidate-doc shingle df, not
    // the full-corpus Σdf² the LSH index exists to avoid (sizes stay
    // corpus-wide — a doc's |A| is its true shingle count)
    val candDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val shc = sh.join(candDocs, Seq("doc_id"), "left_semi")
    val inter = shc.as("a")
      .join(shc.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    est.join(inter, Seq("doc_a", "doc_b"))
      .join(sizes.select(col("doc_id"), col("n_sh").as("na")), col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n_sh").as("nb")), col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumn("union_sz", col("na") + col("nb") - col("inter"))
      .select(col("doc_a"), col("doc_b"), col("est_matches"), col("inter"), col("union_sz"),
        round(abs(col("est_matches").cast("double") / NumHashes -
          col("inter").cast("double") / col("union_sz").cast("double")), 6).as("est_err_r"))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash: 64-bit fingerprint; bit b = sign of Σ_tokens (±1 from bit b
    * of md5(token)). Emitted as a 64-char bitstring.
    *
    * Packed-bit formulation: the first 16 hex digits of md5(token) are
    * parsed into two 32-bit longs ONCE per token, and the per-bit ±1 sums
    * become 64 codegen'd `sum((h >> k) & 1)` aggregates in a single hash
    * aggregation — sign(2·S_b − N) replaces sign(Σ±1). One shuffle of one
    * row per (doc, token) where the old explode(0..63) form shuffled 64×
    * that; no collect_list reassembly pass either. */
  /** Per-document packed bit sums (s0..s63 MSB-first + n_tok) — shared by
    * the fingerprint emit and the pairing query. */
  private def simhashSums(s: SparkSession, d: String): DataFrame = {
    graft.expressions.TextShingles.register(s)
    val toks = documents(s, d)
      .select(col("doc_id"), explode(expr("text_shingles(text, 1)")).as("tok"))
      .withColumn("h", md5(col("tok")))
      // two unsigned 32-bit halves — conv parses hex, each fits a long
      .withColumn("hi", conv(substring(col("h"), 1, 8), 16, 10).cast("long"))
      .withColumn("lo", conv(substring(col("h"), 9, 8), 16, 10).cast("long"))
    // bit b of the 64-bit prefix, MSB-first (bit 0 = MSB of `hi`), matching
    // the nibble arithmetic of the oracle SQL exactly
    val bitSums = (0 until 64).map { b =>
      val (src, sh) = if (b < 32) (col("hi"), 31 - b) else (col("lo"), 63 - b)
      sum(shiftright(src, sh).bitwiseAND(lit(1L))).as(s"s$b")
    }
    val aggCols = bitSums :+ count(lit(1)).as("n_tok")
    toks.groupBy("doc_id").agg(aggCols.head, aggCols.tail: _*)
  }

  /** The aggregation form of the fingerprint — kept as the reference
    * implementation the one-pass expression is pinned against
    * (FunctionsSpec); the registered queries use [[fingerprints]]. */
  private[graft] def simhashAggForm(s: SparkSession, d: String): DataFrame =
    documentsSimhashAssemble(simhashSums(s, d))

  val simhash: Q = (s, d) =>
    fingerprints(s, d).select(col("doc_id"),
      concat((0 until 64).map { b =>
        val (c, sh) = if (b < 32) (col("fp_hi"), 31 - b) else (col("fp_lo"), 63 - b)
        when(shiftright(c, sh).bitwiseAND(lit(1L)) === 1L, "1").otherwise("0")
      }: _*).as("simhash"))
      .orderBy("doc_id")

  /** Assemble the 64-char bitstring: bit b set iff 2·S_b > N (the packed
    * equivalent of Σ±1 > 0). */
  private def documentsSimhashAssemble(agg: DataFrame): DataFrame =
    agg.select(col("doc_id"),
      concat((0 until 64).map(b =>
        when(col(s"s$b") * 2 > col("n_tok"), "1").otherwise("0")): _*).as("simhash"))
      .orderBy("doc_id")

  private val MaxHamming = 3

  /** 64-bit simhash fingerprints packed as two sign-free unsigned-32
    * longs (fp_hi = bits 0..31 MSB-first, fp_lo = bits 32..63) — the
    * representation every engine's bit ops agree on. Computed by the
    * one-pass [[graft.expressions.SimHashFingerprint]] expression over
    * the token array: a pure scan+map, NO exchange — the explode +
    * 64-aggregate groupBy it replaces shuffled a 65-column partial per
    * document (bit-equality with that form pinned in FunctionsSpec). */
  private def fingerprints(s: SparkSession, d: String): DataFrame = {
    graft.expressions.TextShingles.register(s)
    graft.expressions.SimHashFingerprint.register(s)
    documents(s, d)
      .select(col("doc_id"), expr("simhash_fp(text_shingles(text, 1))").as("fp"))
      .select(col("doc_id"),
        element_at(col("fp"), 1).as("fp_hi"), element_at(col("fp"), 2).as("fp_lo"))
  }

  /** Generalized pigeonhole candidate index over a fingerprint table
    * (doc_id, fp_hi, fp_lo): split the 64 bits into `nBlocks`
    * near-equal blocks and key each doc on every `comboSize`-subset of
    * block values. Pigeonhole: a pair within hamming `maxHamming`
    * differs in ≤ maxHamming blocks, so it AGREES on ≥ nBlocks −
    * maxHamming blocks — and therefore shares at least one whole
    * comboSize-subset whenever comboSize ≤ nBlocks − maxHamming
    * (Manku/Jain/Sarma's simhash-dedup table scheme, generalized).
    * Candidates come from an equi-join on (combo id, packed combo key);
    * work ∝ Σ bucket², never |docs|²; every emitted pair is
    * exact-checked with codegen'd bit_count(xor), so the index is
    * lossless at ≤ maxHamming regardless of the (nBlocks, comboSize)
    * choice — the knob trades index rows for bucket width.
    *
    * Cost model / crossover: C(nBlocks, comboSize) index rows per doc;
    * key width ≈ comboSize·64/nBlocks bits, so expected join work ≈
    * C(b,m)·N²/2^(64m/b). (4,1): 4 rows/doc, 16-bit keys → 4N²/2¹⁶ —
    * the right default to ~10⁸ docs. (6,2): 15 rows/doc, ~21-bit keys →
    * 15N²/2²¹ — 16× less join work for 3.75× the index, the win once
    * expected bucket size N/2¹⁶ passes the C(6,2)/C(4,1) row overhead,
    * i.e. N ≳ 2¹⁶·15/4 ≈ 2.5·10⁵ per-bucket-balanced — in practice the
    * knee is where 16-bit buckets stop fitting a task's join budget,
    * ~10⁸ docs for uniform fingerprints (word-soup corpora cluster, so
    * the real signal is the Σ bucket² metric, not N). */
  private[graft] def blockedPairsFrom(fp: DataFrame, nBlocks: Int,
      comboSize: Int, maxHamming: Int): DataFrame = {
    require(comboSize >= 1 && comboSize <= nBlocks - maxHamming,
      s"pigeonhole needs comboSize ≤ nBlocks - maxHamming; " +
        s"got ($nBlocks, $comboSize) at hamming $maxHamming")
    val sizes  = Array.tabulate(nBlocks)(i =>
      64 / nBlocks + (if (i < 64 % nBlocks) 1 else 0))
    val starts = sizes.scanLeft(0)(_ + _)
    require(sizes.sorted.takeRight(comboSize).sum <= 63,
      "packed combo key must fit a signed long")
    // Self-joins re-execute their input on both sides (no cross-branch
    // CSE in Spark), and the fingerprint pipeline upstream is a full
    // corpus scan + shingle aggregation — materialize the N-row
    // fingerprint table once so the join probes it, not the pipeline.
    val packed = fp.withColumn("fp64",
      shiftleft(col("fp_hi"), 32).bitwiseOR(col("fp_lo")))
      .localCheckpoint()
    def blockVal(i: Int): Column =
      shiftrightunsigned(col("fp64"), 64 - starts(i) - sizes(i))
        .bitwiseAND(lit((1L << sizes(i)) - 1))
    // combo key = block values packed MSB-first into one long
    val keyExprs = (0 until nBlocks).combinations(comboSize).toSeq.map { c =>
      c.tail.foldLeft(blockVal(c.head)) { (acc, i) =>
        shiftleft(acc, sizes(i)).bitwiseOR(blockVal(i))
      }
    }
    val idx = packed.select(col("doc_id"), col("fp_hi"), col("fp_lo"),
      posexplode(array(keyExprs: _*)).as(Seq("cmb", "key")))
    idx.as("a")
      .join(idx.as("b"),
        col("a.cmb") === col("b.cmb") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (bit_count(col("a.fp_hi").bitwiseXOR(col("b.fp_hi"))) +
          bit_count(col("a.fp_lo").bitwiseXOR(col("b.fp_lo"))))
          .cast("long").as("hamming"))
      .distinct() // a close pair collides in several combos
      .where(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairing parameterized on the block split —
    * see [[blockedPairsFrom]] for the pigeonhole argument and the
    * (nBlocks, comboSize) cost model. */
  def simhashPairsBlocked(nBlocks: Int, comboSize: Int,
      maxHamming: Int = MaxHamming): Q = (s, d) =>
    blockedPairsFrom(fingerprints(s, d), nBlocks, comboSize, maxHamming)
      .orderBy("doc_a", "doc_b")

  /** SimHash near-dup pairing — the search step the fingerprint exists
    * for: pairs within hamming distance ≤ [[MaxHamming]], via the
    * 4-blocks-of-16 pigeonhole index (65536 buckets/index — the right
    * default to ~10⁸ docs; see [[blockedPairsFrom]]). */
  val simhashPairs: Q = simhashPairsBlocked(4, 1)

  /** Candidate pairs by hamming distance with cumulative mass at or
    * below each distance — "what does moving the hamming threshold
    * buy" without re-running the pipeline, the simhash sibling of
    * [[thresholdHistogram]] (the jaccard family's decile table). Runs
    * on the (6,2) pigeonhole generator, which is COMPLETE to
    * [[MaxHamming]] = 3 by the pigeonhole bound (6 − 2 = 4 ≥ 3), so
    * every count is exact, not a sample of the index. Fixed 4 rows at
    * any corpus size; the cumulative window runs on the 4-row domain. */
  val simhashHistogram: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window.orderBy("hamming")
    val hist = blockedPairsFrom(fingerprints(s, d), 6, 2, MaxHamming)
      .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
    s.range(0, MaxHamming + 1).select(col("id").as("hamming"))
      .join(hist, Seq("hamming"), "left")
      .select(col("hamming"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      .withColumn("cum_pairs", sum("n_pairs").over(w))
      .orderBy("hamming")
  }

  /** Embedding-cosine near-dup pairs (threshold 0.3). Exact pairwise
    * baseline: broadcast nested-loop over the smaller side; at corpus
    * scale the same threshold query runs over sim_lsh buckets instead
    * (sub-quadratic). Dot products accumulate left-to-right in double —
    * bit-reproducible. */
  /** THE corrupt-vector gate, single-sourced for the cosine family
    * (here), the ANN family (SimOps.corpusWithNorm) and the index
    * append path: wrong-length, null, zero, and NaN vectors have no
    * usable direction — and ANSI mode turns the truncated `element_at`
    * into a stage-killing exception. `!isnan` is load-bearing: BOTH
    * engines order NaN above every number, so `nrm > 0` alone ADMITS an
    * all-NaN vector, whose NaN cosine then outranks every real neighbor
    * under DESC sort. The oracles carry the same explicit WHERE
    * ([[EmbCleanSql]]) so the engines drop identical rows. */
  private[graft] object EmbGate {
    val Dim = 64
    def clean(df: DataFrame, normName: String): DataFrame =
      df.where(size(col("embedding")) === Dim)
        .withColumn(normName, sqrt(expr("float_dot(embedding, embedding)")))
        // finiteness is three-sided: NaN norm (all-NaN vector), +Inf
        // norm (a +Inf element — Inf/Inf cosine is NaN, which outranks
        // every real neighbor under DESC in both engines), and the
        // mixed ±Inf vector whose dot is already NaN. `> 0` alone
        // admits ALL of these because NaN sorts above every number.
        .where(col(normName) > 0 && !isnan(col(normName)) &&
          col(normName) < lit(Double.PositiveInfinity))
  }

  private def cleanEmbeddings(s: SparkSession, d: String): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    EmbGate.clean(embeddings(s, d).select(col("vec_id"), col("embedding")), "nrm")
  }

  /** Exact-audit instrument bound: the exact pairwise ops run on a
    * deterministic 1-in-step vec_id subsample capped near this many
    * vectors, so the audit is O(EvalCap²) at ANY corpus size. step = 1
    * at every verify sf (n = 500) — the oracle sees the unsampled
    * semantics wherever parity is checked; at 100 TB the same query is
    * a bounded audit job, not an accidental n² pairwise pass. */
  private val EvalCap = 2000.0

  /** The cleaned corpus restricted to the deterministic audit sample,
    * with the step it used (for restricting a SECOND frame to the same
    * universe). Sampling on `vec_id % step` rather than a random split
    * keeps both engines — and any two ops sharing the sample — on
    * byte-identical universes. */
  private def sampledCleanEmbeddings(s: SparkSession, d: String): (DataFrame, Long) = {
    val clean = cleanEmbeddings(s, d)
    val step = math.max(1L, math.ceil(clean.count() / EvalCap).toLong)
    (clean.where(pmod(col("vec_id"), lit(step)) === 0), step)
  }

  val embeddingCosine: Q = (s, d) => {
    // Precompute each vector's norm once (O(n)) instead of per pair
    // (O(n²)); float_dot is the codegen'd expression — identical doubles,
    // ~50× less interpreted work than the lambda form. The exact
    // baseline is an AUDIT, so it runs on the deterministic EvalCap
    // sample (a no-op at verify SFs): registered queries must all be
    // runnable at any corpus size, including the truth instrument.
    val (e, _) = sampledCleanEmbeddings(s, d)
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("sim", expr("float_dot(ea, eb)") / (col("na") * col("nb")))
      .where(col("sim") > 0.3)
      .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("sim_r"))
      .orderBy("vec_a", "vec_b")
  }

  private val PairLshTables = 8
  private val PairLshBits = 8

  /** Sign buckets for the pair-LSH index: table t keys on the sign bits
    * of dims 8t+1 .. 8t+8 — 8 tables × 8 bits uses each of the 64 dims
    * exactly once. */
  private def pairBuckets(emb: String): Column =
    array((0 until PairLshTables).map { t =>
      concat((0 until PairLshBits).map(j =>
        when(element_at(col(emb), PairLshBits * t + j + 1) >= 0, "1")
          .otherwise("0")): _*)
    }: _*)

  /** Embedding-cosine near-dup via multi-table sign-LSH — the bucketed
    * form of [[embeddingCosine]], so the registered near-dup family has
    * no O(n²) default. Candidates are corpus self-join pairs sharing any
    * table's 8-bit bucket (work ∝ Σ_t Σ_bucket |bucket|², ~N²/2⁵ for
    * random signs instead of N²/2); pairs dedup BEFORE the embeddings
    * join back on (same shape as the multi-table ANN path), then the
    * exact cosine threshold runs only on candidates.
    *
    * Approximation is one-sided: every emitted pair is exact-verified
    * (precision 1.0); a pair is MISSED only if its two vectors disagree
    * in all 8 tables. Bits-per-table is the recall/cost knob: fewer bits
    * → wider buckets → more recall and more candidates. On near-random
    * embeddings (sign-agreement ≈ 0.6 at cosine 0.3) recall is modest by
    * construction — measured at sf0.01: 140 of the exact baseline's 990
    * pairs (14%) at ~3% of the pairwise work, 27% at cosine ≥ 0.4. This
    * corpus is the adversarial case: its "near-dups" top out at cosine
    * 0.51, where sign bits barely correlate. On a real near-dup corpus
    * (cosine ≥ 0.9 pairs, per-bit agreement ≥ 0.9) the probability of
    * missing a pair in all 8 tables is ≈ (1−0.9⁸)⁸ < 2%. */
  /** The exact-verified thresholded cosine pair set, UNSORTED — the
    * registered pair query adds the oracle's ORDER BY; the cluster
    * consumer must not pay a global sort it immediately discards. */
  private def cosineLshPairs(s: SparkSession, d: String,
      candidateFilter: Column = lit(true)): DataFrame = {
    // deliberately NOT checkpointed (r13 negative result): e is a cheap
    // columnar scan + norm projection; materializing it measured FLAT on
    // the lsh key and +8-11% on the cluster consumers (the barrier costs
    // more than re-scanning 5 MB of parquet 4×)
    val e = cleanEmbeddings(s, d)
    val bk = e.select(col("vec_id"),
      posexplode(pairBuckets("embedding")).as(Seq("t", "bucket")))
    val pairs = bk.as("a")
      .join(bk.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .where(candidateFilter) // cut before the distinct + embeddings join-back
      .distinct()
    pairs
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("nrm").as("na")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), "vec_b")
      .withColumn("sim", expr("float_dot(ea, eb)") / (col("na") * col("nb")))
      .where(col("sim") > 0.3)
      .select(col("vec_a"), col("vec_b"), round(col("sim"), 6).as("sim_r"))
  }

  val embeddingCosineLsh: Q = (s, d) =>
    cosineLshPairs(s, d).orderBy("vec_a", "vec_b")

  /** Incremental semantic dedup — the embedding-side lambda ingest shape
    * (the vector twin of [[PipelineOps.chunkDedupIncremental]]): a new
    * batch of vectors (odd vec_ids — the deterministic stand-in for
    * today's ingest) dedups against the standing corpus (even vec_ids)
    * WITHOUT recomputing corpus-corpus pairs. The candidate filter prunes
    * the bucket self-join to batch-involving pairs BEFORE the distinct
    * and the embeddings join-back, so the per-batch cost is
    * Σ_buckets |batch∩bucket|·|bucket| — proportional to the batch, not
    * the corpus². A batch vector is kept iff it cosine-matches (>0.3) no
    * corpus vector and no earlier (lower-id) batch vector — the same
    * first-occurrence policy as the chunk-level incremental op. Every
    * decision is exact-verified (the LSH step only proposes). */
  val embeddingIncremental: Q = (s, d) => {
    val isBatch = (c: Column) => c % 2 === 1
    // deliberately NOT checkpointed (r13): the union below references
    // the pair pipeline twice, but in-session the whole pipeline costs
    // ~0.35 s and the materialization barrier ~0.5 s — the bench
    // session (the official metric) measured the checkpoint at +0.69 s
    // while the isolated cold probe read it as neutral; the barrier
    // only pays where the duplicated compute exceeds it
    val pairs = cosineLshPairs(s, d,
      isBatch(col("vec_a")) || isBatch(col("vec_b")))
    val matches = pairs.select(col("vec_a").as("v"), col("vec_b").as("partner"))
      .unionByName(pairs.select(col("vec_b").as("v"), col("vec_a").as("partner")))
    val perVec = matches.where(isBatch(col("v")))
      .groupBy("v").agg(
        sum(when(col("partner") % 2 === 0, 1L).otherwise(0L)).as("cm"),
        sum(when(isBatch(col("partner")) && col("partner") < col("v"), 1L)
          .otherwise(0L)).as("bm"))
    cleanEmbeddings(s, d).select(col("vec_id")).where(isBatch(col("vec_id")))
      .join(perVec, col("vec_id") === col("v"), "left")
      .select(col("vec_id"),
        coalesce(col("cm"), lit(0L)).as("n_corpus_matches"),
        coalesce(col("bm"), lit(0L)).as("n_earlier_batch_matches"))
      .withColumn("kept",
        col("n_corpus_matches") === 0 && col("n_earlier_batch_matches") === 0)
      .orderBy("vec_id")
  }

  /** The audit the O(n²) baseline exists FOR, registered as a measured
    * one-row table (the minhash_estimate / lang_id_eval philosophy):
    * exact thresholded pairs vs the bucketed sign-LSH pairs, their
    * intersection, and the resulting precision/recall — integer counts
    * and one guarded division, so the quality of the sub-quadratic
    * default is an oracle-checked NUMBER every round, not a bench-only
    * observation. (LSH precision is 1.0 by construction — every emitted
    * pair is exact-verified; recall is the corpus-dependent quantity.)
    * At 100 TB both sides stay bounded: the exact truth side IS the
    * [[embeddingCosine]] audit sample, and the LSH side is restricted
    * to the same universe, so precision/recall are measured on
    * identical pair sets in both engines. */
  val embeddingLshEval: Q = (s, d) => {
    // the exact (truth) side is quadratic, so it runs on the
    // deterministic EvalCap subsample — the audit stays O(EvalCap²) at
    // ANY corpus size while the LSH side still exercises the full
    // production index (then restricted to sampled pairs, so
    // precision/recall are measured on the same universe). step = 1 at
    // every verify sf (n = 500), so the oracle sees the unsampled
    // semantics wherever parity is checked.
    val (sampled, step) = sampledCleanEmbeddings(s, d)
    val a = sampled.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = sampled.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    // r13: both pair sets fed two aggregates each (count + the
    // intersection) — materialized once, concurrently (Par §2.6), so
    // the O(EvalCap²) exact scoring and the LSH index pass each run once
    val Seq(exact, lsh) = Par.run(
      () => a.join(b, col("vec_a") < col("vec_b"))
        .withColumn("sim", expr("float_dot(ea, eb)") / (col("na") * col("nb")))
        .where(col("sim") > 0.3)
        .select("vec_a", "vec_b").localCheckpoint(),
      () => cosineLshPairs(s, d)
        .where(pmod(col("vec_a"), lit(step)) === 0 && pmod(col("vec_b"), lit(step)) === 0)
        .select("vec_a", "vec_b").localCheckpoint())
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val nLsh = lsh.agg(count(lit(1)).as("n_lsh"))
    val nBoth = exact.join(lsh, Seq("vec_a", "vec_b"), "left_semi")
      .agg(count(lit(1)).as("n_both"))
    nExact.crossJoin(nLsh).crossJoin(nBoth) // three 1-row frames
      .select(col("n_exact"), col("n_lsh"), col("n_both"),
        when(col("n_lsh") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_both").cast("double") / col("n_lsh").cast("double"), 6))
          .as("precision_r"),
        when(col("n_exact") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_both").cast("double") / col("n_exact").cast("double"), 6))
          .as("recall_r"))
  }

  /** One large-star round over a canonical (u > v) edge list: every
    * node u points its LARGER neighbors at m(u) = min(Γ(u) ∪ {u}).
    * m(u) is a partial-aggregated min — a hub's edges collapse map-side,
    * so no key's full adjacency ever crosses the wire as one group. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy("u").agg(min("v").as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    sym.join(m, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v")) // v > u >= m: canonical
    // no distinct here: duplicate edges don't change small-star's mins,
    // and its final distinct dedups the round's output — one fewer
    // shuffle per round
  }

  /** One small-star round: every node u points its SMALLER neighbors
    * (and itself) at m(u) = min(Γ⁻(u) ∪ {u}). Keys are the LARGER
    * endpoints, so a converged star's root — the one high-degree node —
    * is never a key here at all. */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy("u").agg(min("v").as("mv")) // mv < u by canonicity
    e.join(m, "u")
      .select(col("v").as("nu"), col("mv").as("nv")) // v >= mv; drop v = mv
      .where(col("nu") =!= col("nv"))
      .unionByName(m.select(col("u").as("nu"), col("mv").as("nv")))
      .distinct()
      .select(col("nu").as("u"), col("nv").as("v"))
  }

  /** Connected components by alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the skew-safe O(log n)-round form. Min-label propagation needs
    * O(diameter) passes and funnels a giant component's traffic through
    * its hub key every pass; star rounds converge in O(log n) regardless
    * of diameter, and the per-node min is a partial aggregate while the
    * emit join's hot side is the VALUE column (labels), not the key —
    * at 100 TB the residual m-join skew is AQE skew-split territory,
    * not a guaranteed hot key.
    *
    * Input: pairs (doc_a < doc_b). Output: (doc_id, cluster_keeper =
    * component-min doc_id) for every node in some pair — identical
    * fixpoint to min-reachable label propagation, so deterministic and
    * engine-portable. Returns the converged star forest's labels and
    * the round count (exposed for the round-complexity test). */
  private[graft] def connectedComponents(pairs: DataFrame): (DataFrame, Int) = {
    // canonical edges: u = larger endpoint, v = smaller. Checkpointed so
    // the (possibly expensive) pair-producing lineage runs once, not per
    // reference inside round 1 (Spark has no cross-branch CSE). No
    // distinct: duplicate input pairs can't change any round's mins and
    // small-star's output distinct removes them from round 1 onward.
    var edges = pairs
      .select(col("doc_b").as("u"), col("doc_a").as("v"))
      .localCheckpoint()
    // Set-equality signature of a round's canonical distinct edge list:
    // (count, xxhash64 bit_xor) — order-independent, overflow-free,
    // duplicates impossible. The signature aggregation doubles as the
    // action that materializes the round's cache, so each round costs
    // exactly ONE job; stability = two consecutive rounds with equal
    // signatures (the raw input edge list never needs its own probe).
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prevSig = (-1L, -1L)
    var rounds = 0
    var stable = false
    val MaxRounds = 50
    while (!stable && rounds < MaxRounds) {
      // LAZY localCheckpoint: cuts the plan lineage for the next round,
      // but the sig aggregation is the action that materializes it — one
      // job per round, not a checkpoint job plus a probe job. (cache()
      // would also fold the two, but disables AQE partition coalescing
      // inside the cached subtree — measurably slower here.)
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val nextSig = sig(next)
      // a signature match is only a candidate fixpoint: confirm with one
      // exact set-difference so a hash collision can't end the loop
      // early. Both sides are distinct smallStar outputs with equal
      // counts (from the signature), so one-directional except suffices.
      // Runs only on signature match — once per convergence, not per
      // round; both inputs are checkpointed.
      stable = nextSig == prevSig && next.except(edges).isEmpty
      prevSig = nextSig
      edges = next
      rounds += 1
    }
    if (!stable)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $MaxRounds star rounds; " +
          "refusing to emit unconverged cluster labels (star rounds converge in " +
          "O(log n) — hitting this cap means a pathological or adversarial graph)")
    // converged: every non-root points straight at its component root
    val labels = edges.select(col("u").as("doc_id"), col("v").as("cluster_keeper"))
      .unionByName(edges.select(col("v").as("doc_id"), col("v").as("cluster_keeper")))
      .distinct()
    (labels, rounds)
  }

  /** Near-dup cluster assignment: connected components over the CAPPED
    * jaccard pair graph ([[ngramJaccardCapped]] — as for EVERY
    * graph/split/funnel consumer: the uncapped generator's Σdf² blows
    * up on one hot boilerplate shingle, so only the explicitly-named
    * baseline key `dedup_ngram_jaccard` ever runs it), each document
    * labeled with the min doc_id reachable from it (the cluster's
    * canonical keeper). Only docs that appear in some pair are emitted
    * (singletons are their own keeper trivially). Harness shingle df
    * maxes at 81 (sf1) < cap 100, so the capped and uncapped graphs —
    * and every golden — are identical at all verify corpora.
    *
    * Scale note: star-contraction round count grows with component
    * chain DEPTH, and ScaleUp's mutated 10× corpus links its near-dup
    * groups into one giant component by construction — so the ratio
    * CAN read super-linear on an adversarial corpus (registered in
    * Bench's ExpectedSuperlinear with that mechanism). Measured
    * ISOLATED on a quiet box (round 8, fresh JVM, load 0.6): sf0.1
    * 4.2 s → sf1 12.8 s, ratio 3.04 — well under the 12× bar; the
    * round-7 artifact's 13.7× raw reading was co-tenant contention,
    * as every reprobed neighbor also showed. */
  val cluster: Q = (s, d) => {
    val pairs = ngramJaccardCapped(s, d).select("doc_a", "doc_b")
    connectedComponents(pairs)._1.orderBy("doc_id")
  }

  /** Semantic near-dup clustering: the same skew-safe connected
    * components over the BUCKETED embedding-cosine pair graph
    * ([[embeddingCosineLsh]]) — the embedding-side twin of [[cluster]],
    * so both near-dup families (lexical and semantic) end in a
    * canonical-keeper assignment with no O(n²) step anywhere. */
  val semanticCluster: Q = (s, d) => {
    val pairs = cosineLshPairs(s, d)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    connectedComponents(pairs)._1
      .select(col("doc_id").as("vec_id"), col("cluster_keeper"))
      .orderBy("vec_id")
  }

  /** Fingerprint-space near-dup clustering: the same skew-safe
    * connected components over the simhash hamming-≤3 pair graph
    * ([[simhashPairs]]) — completing the triad with [[cluster]]
    * (lexical/jaccard) and [[semanticCluster]] (embedding/cosine):
    * every near-dup family the engine indexes ends in the same
    * canonical-keeper assignment, with no O(n²) step and ONE shared CC
    * implementation (and, oracle-side, one shared CC rounds
    * fragment). */
  val simhashCluster: Q = (s, d) => {
    val pairs = blockedPairsFrom(fingerprints(s, d), 4, 1, MaxHamming)
      .select("doc_a", "doc_b")
    connectedComponents(pairs)._1.orderBy("doc_id")
  }

  /** Quality-aware keeper election: within each near-dup cluster (the
    * [[cluster]] components over the jaccard pair graph), keep the BEST
    * document — best quality tier first ([[TextOps.withQuality]]'s gate,
    * so the tier definition can't drift from the curation ops), lowest
    * doc_id as the deterministic tie-break — instead of the blind min
    * doc_id. This is the dedup policy a real corpus wants: when a clean
    * original and a mangled scrape collide, the original survives.
    * Cost over [[cluster]]: one |paired docs|-sized join against the
    * scan-shaped quality projection and the same tiny per-cluster
    * aggregate (min of a (rank, id) struct — partial-agg friendly). */
  val keepBest: Q = (s, d) => {
    val pairs = ngramJaccardCapped(s, d).select("doc_a", "doc_b")
    val labels = connectedComponents(pairs)._1
    val ranked = TextOps.withQuality(documents(s, d))
      .select(col("doc_id"),
        when(col("quality") === "good", 0)
          .when(col("quality") === "ok", 1).otherwise(2).cast("int").as("q_rank"))
    labels.join(ranked, "doc_id")
      .groupBy(col("cluster_keeper").as("cluster_id"))
      .agg(min(struct(col("q_rank"), col("doc_id"))).as("k"),
        count(lit(1)).as("n_docs"))
      .select(col("cluster_id"), col("k.doc_id").as("best_doc"),
        col("k.q_rank").as("best_rank"), col("n_docs"))
      .orderBy("cluster_id")
  }

  // ------------------------------------------------------------------
  // PageRank centrality — the graph-analytics step past connected
  // components: CC says WHICH documents form a near-dup cluster,
  // centrality says which one best REPRESENTS it. keepBest elects by an
  // external quality signal; keepCentral elects by the graph itself —
  // the document most linked within its cluster (the canonical original
  // that every partial scrape overlaps) outranks a leaf that matched
  // only one neighbor. On a 100 TB corpus both signals exist and
  // disagree often enough that shipping only one is a policy decision
  // the engine shouldn't make.
  // ------------------------------------------------------------------

  /** Damping d = 0.85 in micros. */
  private[ops] val PrDampMicro = 850000L
  /** Fixed unrolled round count — the bounded-iteration oracle
    * discipline (CC rounds / MMR rounds / BPE rounds): 8 damped rounds
    * contract the power iteration by 0.85^8 ≈ 0.27 of the initial
    * error, ample to separate centers from leaves (the election only
    * needs the RANKING within each cluster, not convergence to the
    * fixpoint). */
  private[ops] val PrRounds = 8
  /** Total integer mass: 1e12 units spread over the nodes. Everything
    * stays BIGINT — per-edge contribution is (damp · (pr div deg)) div
    * 1e6, teleport is (150000 · (mass div N)) div 1e6 — so every round
    * is shuffle-order-independent exact arithmetic in both engines
    * (worst product 8.5e17 < 2^63); the integer divisions leak ≤ a few
    * units per node per round, priced in the spec's mass-conservation
    * pin. */
  private[ops] val PrTotalMass = 1000000000000L

  /** 8 rounds of damped PageRank over an undirected pair graph, all
    * BIGINT. Scale shape: each round is ONE equi-join of the pr frame
    * (|nodes| rows) with the edge list — pair-bounded by the same LSH /
    * df caps that bound the pair generators themselves — plus one
    * groupBy(dst) whose partial SUM combines map-side; fixed 8 rounds,
    * lineage cut by checkpoint mid-loop (the CC discipline). No global
    * sort, no per-node driver work. */
  private[graft] def pagerankFrom(pairs: DataFrame): DataFrame = {
    // materialize the (possibly expensive) pair-producing lineage ONCE
    // before the symmetrizing union references it twice — Spark has no
    // cross-branch CSE, so the previous shape (checkpoint AFTER the
    // union) ran the capped-jaccard self-join twice per call (guide
    // §2.4: remove recomputation before tuning anything else). Callers
    // that already hold a checkpointed pair frame pay one cheap cached
    // copy here, nothing more.
    val p = pairs.localCheckpoint()
    val edges = p
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val nRow = deg.agg(count(lit(1)).as("n_nodes"))
    var pr = deg.crossJoin(broadcast(nRow))
      .select(col("src").as("doc_id"), col("deg"), col("n_nodes"),
        expr(s"CAST($PrTotalMass AS BIGINT) div n_nodes").as("pr"))
    for (r <- 1 to PrRounds) {
      val contribs = pr.select(col("doc_id").as("src"),
          expr(s"($PrDampMicro * (pr div deg)) div 1000000").as("c"))
        .join(edges, "src")
        .groupBy("dst").agg(sum("c").as("in_mass"))
      pr = pr.join(contribs, pr("doc_id") === contribs("dst"), "left")
        .select(col("doc_id"), col("deg"), col("n_nodes"),
          (expr(s"(150000 * (CAST($PrTotalMass AS BIGINT) div n_nodes)) div 1000000") +
            coalesce(col("in_mass"), lit(0L))).as("pr"))
      // cut the join-per-round lineage before planning cost compounds
      // (the sim_hybrid_mmr lesson, at a gentler 2-joins-per-round rate)
      if (r % 4 == 0) pr = pr.localCheckpoint()
    }
    pr.select(col("doc_id"), col("deg"), col("pr").as("pr_mass"))
  }

  /** Centrality of every document in the jaccard near-dup pair graph —
    * the [[cluster]] node domain with its mass ranking. */
  val pagerank: Q = (s, d) =>
    pagerankFrom(ngramJaccardCapped(s, d).select("doc_a", "doc_b"))
      .orderBy("doc_id")

  /** Graph-central keeper election: within each CC cluster, keep the
    * max-PageRank document (min doc_id on exact mass ties). The
    * centrality join adds one |paired docs|-sized exchange over
    * [[cluster]]; the per-cluster argmax is the same tiny
    * partial-agg-friendly struct-max as [[keepBest]]. */
  val keepCentral: Q = (s, d) => {
    // ONE capped pair generation feeds both the CC and the PageRank
    // branch (r13, guide §2.4): unmaterialized, the Σdf² shingle
    // self-join lineage ran once inside connectedComponents' internal
    // checkpoint and TWICE more inside pagerankFrom's symmetrizing
    // union — 3× the family's dominant cost for one logical frame
    // (the keepCentralIncremental lambda already checkpointed its
    // shared generator; this applies the same discipline here).
    val pairs = ngramJaccardCapped(s, d).select("doc_a", "doc_b")
      .localCheckpoint()
    // CC's star rounds and PageRank's 8 power rounds are independent
    // chains over the same checkpointed frame; overlapped so each
    // chain's stage tail back-fills the other's idle cores (Par §2.6)
    val Seq(labels, pr) = Par.run(
      () => connectedComponents(pairs)._1,
      () => pagerankFrom(pairs))
    labels.join(pr, "doc_id")
      .groupBy(col("cluster_keeper").as("cluster_id"))
      .agg(max(struct(col("pr_mass"), (lit(0L) - col("doc_id")).as("neg_id"))).as("k"),
        count(lit(1)).as("n_docs"))
      .select(col("cluster_id"), (lit(0L) - col("k.neg_id")).as("central_doc"),
        col("k.pr_mass").as("central_mass"), col("n_docs"))
      .orderBy("cluster_id")
  }

  /** Incremental keeper election — the [[keepCentral]] lambda under the
    * registry's standing-corpus split convention (even doc_ids = the
    * standing corpus with its CC labels + PageRank masses already built;
    * odd = the incoming batch, exactly [[minhashIncremental]] /
    * [[embeddingIncremental]]'s split). The point: electing a keeper on
    * ingest must NOT re-run CC + 8 PageRank rounds over the corpus
    * graph — per-batch work is the batch's capped cross pairs against
    * the standing side plus domain-sized aggregates.
    *
    * Semantics (all BIGINT, frozen-field):
    *  - a batch doc joins the standing cluster where it has the most
    *    capped-jaccard partners (ties → smaller cluster_id); a partner
    *    outside the standing pair graph anchors its own singleton
    *    cluster. No cross pairs → the doc is its own cluster (the
    *    [[graft.streaming.SplitAssignIngest]] novel-doc rule: correct at
    *    assignment time, not an approximation).
    *  - its mass is the first power-iteration estimate under the FROZEN
    *    standing field: Σ over standing partners of
    *    (damp · (pr div deg)) div 1e6 — the same per-edge term as
    *    [[pagerankFrom]]'s rounds, with standing masses and degrees
    *    deliberately NOT updated (that's what makes it incremental; the
    *    periodic full rebuild is [[keepCentral]] itself). Teleport is
    *    omitted, so the election is conservative: a batch doc outranks
    *    the standing central only on neighbor contributions alone, and
    *    exact mass ties keep the standing central.
    *
    * Scale shape: the standing CC/PR chain is the offline build (at
    * 100 TB it persists like the band/IVF indexes; here it's derived
    * from the even half per the split convention); the batch path is
    * one pair-bounded join batch×standing, two left joins against the
    * |paired-docs|-sized label/mass frames, and struct-max partial
    * aggregates over touched clusters — cost ∝ batch, never corpus².
    * Reference rationale: the same standing-vs-delta lambda every other
    * dedup family ships (`flink-applications/03-flink-cdc-jdbc.json:4`'s
    * continuous-ingest posture applied to keeper election). */
  val keepCentralIncremental: Q = (s, d) => {
    // ONE capped pair generation feeds both halves; checkpointed so the
    // shingle self-join lineage runs once, not once per branch below
    val all = ngramJaccardCapped(s, d).select("doc_a", "doc_b").localCheckpoint()
    val even = all.where(col("doc_a") % 2 === 0 && col("doc_b") % 2 === 0)
    // independent chains over the cached frame, overlapped (Par §2.6)
    val Seq(labels, pr) = Par.run(
      () => connectedComponents(even)._1, // (doc_id, cluster_keeper)
      () => pagerankFrom(even))           // (doc_id, deg, pr_mass)
    val standingCentral = labels.join(pr, "doc_id")
      .groupBy(col("cluster_keeper").as("cluster_id"))
      .agg(max(struct(col("pr_mass"), (lit(0L) - col("doc_id")).as("neg_id"))).as("k"))
      .select(col("cluster_id"), (lit(0L) - col("k.neg_id")).as("s_doc"),
        col("k.pr_mass").as("s_mass"))
    // batch→standing cross edges from the SAME generator (parity filter,
    // not a second self-join)
    val cross = all.where(col("doc_a") % 2 =!= col("doc_b") % 2)
      .select(
        when(col("doc_a") % 2 === 1, col("doc_a")).otherwise(col("doc_b")).as("b_doc"),
        when(col("doc_a") % 2 === 1, col("doc_b")).otherwise(col("doc_a")).as("partner"))
    val pc = cross
      .join(labels.withColumnRenamed("doc_id", "partner"), Seq("partner"), "left")
      .join(pr.withColumnRenamed("doc_id", "partner"), Seq("partner"), "left")
      .select(col("b_doc"),
        coalesce(col("cluster_keeper"), col("partner")).as("p_cluster"),
        coalesce(expr(s"($PrDampMicro * (pr_mass div deg)) div 1000000"), lit(0L))
          .as("c"))
    val assigned = pc.groupBy("b_doc", "p_cluster").agg(count(lit(1)).as("n_links"))
      .groupBy("b_doc")
      .agg(max(struct(col("n_links"), (lit(0L) - col("p_cluster")).as("neg_c"))).as("k"))
      .select(col("b_doc"), (lit(0L) - col("k.neg_c")).as("cluster_id"))
      .join(pc.groupBy("b_doc").agg(sum("c").as("est_mass")), "b_doc")
    // election per touched cluster: standing central (src_rank 1 wins
    // mass ties) vs the batch docs assigned there; clusters anchored by
    // an unpaired standing doc have no election row — central is that
    // doc itself at mass 0
    val cand = assigned.select(col("cluster_id"), col("b_doc").as("doc"),
      col("est_mass").as("mass"), lit(0).as("src_rank"))
    val touched = assigned.select("cluster_id").distinct()
      .join(standingCentral, Seq("cluster_id"), "left")
      .select(col("cluster_id"), coalesce(col("s_doc"), col("cluster_id")).as("doc"),
        coalesce(col("s_mass"), lit(0L)).as("mass"), lit(1).as("src_rank"))
    val elected = cand.unionByName(touched)
      .groupBy("cluster_id")
      .agg(max(struct(col("mass"), col("src_rank"),
          (lit(0L) - col("doc")).as("neg_d"))).as("k"),
        sum(when(col("src_rank") === 0, 1L).otherwise(0L)).as("n_batch_joined"))
      .select(col("cluster_id"), (lit(0L) - col("k.neg_d")).as("central_doc"),
        col("k.mass").as("central_mass"),
        when(col("k.src_rank") === 1, lit("standing")).otherwise(lit("batch"))
          .as("central_src"),
        col("n_batch_joined"))
    // novel batch docs: their own singleton clusters (odd ids can never
    // collide with the even standing cluster ids)
    val unmatched = documents(s, d).select(col("doc_id"))
      .where(col("doc_id") % 2 === 1)
      .join(assigned.select(col("b_doc").as("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("cluster_id"), col("doc_id").as("central_doc"),
        lit(0L).as("central_mass"), lit("batch").as("central_src"),
        lit(1L).as("n_batch_joined"))
    elected.unionByName(unmatched).orderBy("cluster_id")
  }

  /** Pair-graph structure audit in one row: triangle count, wedge
    * count, and the global clustering coefficient — the instrument
    * that tells a dedup operator whether its pair graph is CLIQUES
    * (true duplicate groups triangulate: A≈B≈C implies A≈C, so high
    * coefficient) or CHAINS (drifting near-dup paths where transitive
    * closure over-merges — the known failure mode of CC-based dedup
    * at loose thresholds). Exact integer arithmetic throughout:
    * triangles enumerate a<b<c via two joins of the ORIENTED edge
    * list (each join pair-bounded by the same LSH/df caps that bound
    * the pair generators; the oriented form counts each triangle
    * exactly once), wedges are Σ deg·(deg−1)/2, and the coefficient
    * is micro-rounded 3·T/W. */
  val graphStats: Q = (s, d) => {
    val pairs = ngramJaccardCapped(s, d).select("doc_a", "doc_b")
    val e = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .where(col("u") < col("v")).distinct().localCheckpoint()
    val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("deg"))
    val nodesEdges = deg.agg(count(lit(1)).as("n_nodes"),
      expr("coalesce(SUM(deg), CAST(0 AS BIGINT)) div 2").as("n_edges"),
      expr("coalesce(SUM(deg * (deg - 1) div 2), CAST(0 AS BIGINT))").as("n_wedges"))
    // wedges a<b<c from edges (a,b),(a,c); the closing edge (b,c)
    // confirms the triangle — counted once because all three edges
    // are oriented low→high
    val e2 = e.select(col("u").as("a"), col("v").as("b"))
    val e3 = e.select(col("u").as("a2"), col("v").as("c"))
    val tri = e2.join(e3, col("a") === col("a2") && col("b") < col("c"))
      .join(e.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    nodesEdges.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"))
      .withColumn("clustering_micro", expr(
        "CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT) ELSE (3 * n_triangles * 1000000) div n_wedges END"))
  }

  /** Per-document n-gram novelty: the fraction of a document's distinct
    * shingles that appear in NO other document (corpus df = 1) — the
    * boilerplate gauge. Near 1: unique content; near 0: the document is
    * assembled from text the corpus already has (mirror fragments,
    * templates, quote farms) even when no single pair crosses the
    * jaccard threshold — the gray zone pairwise dedup can't see. One
    * shingle-df aggregate (map-side partials) + one hash join of the
    * shingle frame against the df table; work ∝ corpus shingle volume,
    * never docs². */
  val ngramNovelty: Q = (s, d) => {
    val sh = docShingles(s, d).localCheckpoint()
    val df = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    sh.join(df, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        coalesce(sum(when(col("df") === 1, 1L).otherwise(0L)), lit(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_sh"), col("n_unique"),
        expr("CASE WHEN n_sh = 0 THEN CAST(0 AS BIGINT) ELSE (n_unique * 1000000) div n_sh END")
          .as("novelty_micro"))
      .orderBy("doc_id")
  }

  /** Cluster-size histogram over the jaccard pair graph — the dup-mass
    * distribution a curation report leads with: how many docs sit in
    * clusters of size k (k=1 singletons included), i.e. how much of the
    * corpus is duplicated AND in what shape (a few giant mirror-farms
    * vs many 2-copy pairs — very different excision strategies). The
    * histogram domain is component SIZES (tiny, bounded by the largest
    * cluster), so everything after CC is a domain-sized aggregate; the
    * singleton row comes from two broadcast 1-row counts, never a join
    * against the unpaired mass. */
  val componentSizes: Q = (s, d) => {
    val pairs = ngramJaccardCapped(s, d).select("doc_a", "doc_b")
    val labels = connectedComponents(pairs)._1
    val hist = labels.groupBy("cluster_keeper")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    val singles = documents(s, d).agg(count(lit(1)).as("n_total"))
      .crossJoin(broadcast(labels.agg(count(lit(1)).as("n_paired"))))
      .select(lit(1L).as("cluster_size"),
        (col("n_total") - col("n_paired")).as("n_clusters"))
      .where(col("n_clusters") > 0)
    hist.unionByName(singles)
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy("cluster_size")
  }

  /** Cross-method audit in one row: how much do the three near-dup
    * pair generators — lexical (shingle jaccard), fingerprint (simhash
    * hamming ≤ 3), semantic (embedding cosine LSH) — AGREE on this
    * corpus? Each pairwise overlap is a Jaccard of PAIR SETS in
    * micros. This is the instrument a curation team reads before
    * picking a dedup policy: high lexical↔fingerprint agreement says
    * simhash is a cheap proxy for shingles here; low text↔semantic
    * agreement says the embedding space finds a DIFFERENT relation
    * (on the harness corpus the embeddings are synthetic and
    * uncorrelated with text — the honest reading is ≈ 0, and the
    * instrument should say so rather than assume it). All counts are
    * exact integers; the only divisions are final micro roundings. */
  val methodAgreement: Q = (s, d) => {
    // the three pair generators are fully independent corpus passes —
    // materialized concurrently so each one's reduce tail back-fills
    // the others' idle cores (Par §2.6)
    val Seq(jp, sp, cp) = Par.run(
      () => ngramJaccardCapped(s, d).select("doc_a", "doc_b").localCheckpoint(),
      () => blockedPairsFrom(fingerprints(s, d), 4, 1, MaxHamming)
        .select("doc_a", "doc_b").localCheckpoint(),
      () => cosineLshPairs(s, d)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")).localCheckpoint())
    // six 1-row aggregates over the three cached pair frames: as
    // broadcast-crossJoin subtrees of one plan they executed strictly
    // sequentially at action time (each BroadcastExchange materializes
    // on its own); collected as bounded scalars CONCURRENTLY instead
    // (six 1-row jobs — the bounded-collect convention; the agree_*
    // micro arithmetic below is unchanged and still evaluated by Spark)
    def cnt(df: DataFrame): Long = df.agg(count(lit(1))).head().getLong(0)
    val Seq(nJ, nS, nC, iJS, iJC, iSC) = Par.run(
      () => cnt(jp), () => cnt(sp), () => cnt(cp),
      () => cnt(jp.join(sp, Seq("doc_a", "doc_b"))),
      () => cnt(jp.join(cp, Seq("doc_a", "doc_b"))),
      () => cnt(sp.join(cp, Seq("doc_a", "doc_b"))))
    def agree(i: String, a: String, b: String) =
      expr(s"CASE WHEN $a + $b - $i = 0 THEN CAST(0 AS BIGINT) ELSE ($i * 1000000) div ($a + $b - $i) END")
    s.range(1).select(
        lit(nJ).as("n_jaccard"), lit(nS).as("n_simhash"), lit(nC).as("n_cosine"),
        lit(iJS).as("i_js"), lit(iJC).as("i_jc"), lit(iSC).as("i_sc"))
      .select(col("n_jaccard"), col("n_simhash"), col("n_cosine"),
        col("i_js"), col("i_jc"), col("i_sc"),
        agree("i_js", "n_jaccard", "n_simhash").as("agree_js_micro"),
        agree("i_jc", "n_jaccard", "n_cosine").as("agree_jc_micro"),
        agree("i_sc", "n_simhash", "n_cosine").as("agree_sc_micro"))
  }

  /** Token-mass accounting per dedup policy — the number a curation
    * PLANNING session actually reads: not how many PAIRS each method
    * finds ([[methodAgreement]]'s view) but how many documents and
    * TOKENS dropping non-keepers would buy, per method, against the
    * corpus totals. Complements the funnel (which prices ONE fixed
    * chain) with the method-by-method compare that decides WHICH chain
    * to run on the next 100 TB.
    *
    * All three removed sets are keeper-complement projections of
    * machinery that is already scale-bounded: exact is the md5
    * group-min, the cluster methods are the shared skew-safe CC over
    * the CAPPED jaccard / pigeonhole-blocked simhash pair graphs.
    * The token join touches only removed docs; totals are one
    * broadcast row; everything after is 3-row method domain. */
  val savings: Q = (s, d) => {
    // materialized once: four consumers (totals + three method rows)
    // would otherwise each re-run the scan+tokenize pass (the NLL
    // recompute-tax lesson — no exchange reuse fires across subtrees)
    // the four corpus-touching inputs (token counts, content hashes,
    // jaccard CC, simhash CC) are fully independent — materialized
    // concurrently (Par §2.6); everything below consumes their cached
    // output lazily exactly as before
    val Seq(toks, ch, jacLabels, simLabels) = Par.run(
      () => documents(s, d).select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("ntok"))
        .localCheckpoint(true),
      () => documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("ch")).localCheckpoint(true),
      () => connectedComponents(
        ngramJaccardCapped(s, d).select("doc_a", "doc_b"))._1,
      () => connectedComponents(
        blockedPairsFrom(fingerprints(s, d), 4, 1, MaxHamming)
          .select("doc_a", "doc_b"))._1)
    val totals = toks.agg(count(lit(1)).as("docs_total"),
      sum("ntok").as("tokens_total"))
    val exactRemoved = ch
      .join(ch.groupBy("ch").agg(min("doc_id").as("keeper")), Seq("ch"))
      .where(col("doc_id") =!= col("keeper")).select("doc_id")
    val jacRemoved = jacLabels
      .where(col("doc_id") =!= col("cluster_keeper")).select("doc_id")
    val simRemoved = simLabels
      .where(col("doc_id") =!= col("cluster_keeper")).select("doc_id")
    def methodRow(m: String, removed: DataFrame): DataFrame =
      removed.join(toks, "doc_id")
        .agg(count(lit(1)).as("docs_removed"),
          coalesce(sum("ntok"), lit(0L)).as("tokens_removed"))
        .select(lit(m).as("method"), col("docs_removed"), col("tokens_removed"))
    methodRow("exact", exactRemoved)
      .unionByName(methodRow("ngram_cluster", jacRemoved))
      .unionByName(methodRow("simhash_cluster", simRemoved))
      .crossJoin(broadcast(totals))
      .select(col("method"), col("docs_total"), col("docs_removed"),
        col("tokens_total"), col("tokens_removed"),
        expr("""CASE WHEN tokens_total = 0 THEN CAST(0 AS BIGINT)
                ELSE (tokens_removed * 1000000) div tokens_total END""")
          .as("saved_micro"))
      .orderBy("method")
  }

  /** Threshold-calibration histogram: candidate-pair counts by jaccard
    * DECILE over the capped inverted-index pair frame with the
    * threshold floor LOWERED to 0.1 — the instrument that answers "what
    * does moving the dedup threshold buy/cost" BEFORE anyone re-runs
    * the pipeline at a new setting: each row is (decile floor, pairs in
    * that decile, cumulative pairs at-or-above it), so the 0.3
    * operating point's pair mass sits next to what 0.2 or 0.5 would
    * select. Work ∝ the same Σ(df≤cap)² bound as the generators
    * (candidates below 0.1 are never materialized past the aggregate);
    * the histogram domain is 10 rows at any corpus size. Integer math:
    * decile = (10·inter) div union (exact), no floats anywhere. */
  val thresholdHistogram: Q = (s, d) => {
    // same one-checkpoint discipline as cappedPairsFromShingles (r13):
    // the shingle Generate passes were the shared floor of every branch
    val sh = docShingles(s, d).localCheckpoint()
    val hot = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .where(col("df") > DfCap).select("sh")
    val kept = sh.join(broadcast(hot), Seq("sh"), "left_anti")
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = kept.as("a")
      .join(kept.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id"), col("n_sh").as("na")), col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n_sh").as("nb")), col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumn("union_sz", col("na") + col("nb") - col("inter"))
      .where(col("inter") * 10 >= col("union_sz")) // jaccard >= 0.1
      .withColumn("decile", expr("CAST((inter * 10) div union_sz AS INT)"))
      .withColumn("decile", least(col("decile"), lit(9))) // j = 1.0 joins the top bucket
    val hist = pairs.groupBy("decile").agg(count(lit(1)).as("n_pairs"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("decile").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    hist.withColumn("cum_pairs_at_or_above", sum("n_pairs").over(w))
      .select(col("decile"), (col("decile") * 100000L).as("floor_micro"),
        col("n_pairs"), col("cum_pairs_at_or_above"))
      .orderBy("decile")
  }

  /** Provenance audit of the near-dup pair graph: the (source_lo,
    * source_hi) matrix of capped-jaccard pair counts. Intra-source
    * mass (src_lo = src_hi) reads as templates/boilerplate within one
    * provider; cross-source mass reads as MIRRORS — the same page
    * arriving through two providers — which is the dup class a mixing
    * policy must excise BEFORE weighting sources (a mirrored corpus
    * double-counts its shared mass into both sources' shares,
    * corrupting corpus_source_shares' Lorenz table). Cost over the
    * pair generator: two scan-shaped doc_id equi-joins and one
    * aggregate on the SOURCE-PAIR domain (≤ sources², 20² here) —
    * per-pair work O(1), output domain-sized at any corpus scale. The
    * lo/hi canonicalization makes the matrix upper-triangular, so
    * (a,b) and (b,a) mass lands in one cell. */
  val crossSource: Q = (s, d) => {
    val pairs = ngramJaccardCapped(s, d).select("doc_a", "doc_b")
    val src = documents(s, d)
      .select(col("doc_id"), coalesce(col("source"), lit("")).as("src"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("src").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("src").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("src_lo"),
        greatest(col("sa"), col("sb")).as("src_hi"))
      .groupBy("src_lo", "src_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_cross", (col("src_lo") =!= col("src_hi")).cast("int"))
      .orderBy("src_lo", "src_hi")
  }

  /** Winnowed-fingerprint substring dedup (Schleimer et al., SIGMOD'03;
    * the exact-substring class of Lee et al. 2022): detect document pairs
    * sharing VERBATIM character spans — quotations, mirrored paragraphs,
    * template reuse — which shingle jaccard only sees once the overlap
    * dominates the whole document. Per document, every [[SubK]]-char
    * window of the normalized text is polynomial-hashed (Horner mod
    * [[SubM]], powers precomputed once in Scala and inlined as literals
    * into BOTH engines' expressions, so the arithmetic is identical by
    * construction); winnowing then selects, from every run of [[SubW]]
    * consecutive window hashes, the (min hash, leftmost position) — the
    * MOSS guarantee: any shared span of ≥ K+W−1 = 27 normalized chars
    * yields at least one shared selected fingerprint — and since the
    * emitted pairs require [[SubMinShared]] = 2 agreeing fingerprints
    * (to suppress single-phrase chance collisions), the effective
    * detection guarantee is spans ≥ K+2W−1 = 35 normalized chars, at
    * ~2/(W+1) the density of all-positions hashing.
    *
    * Scale shape: hashing + selection happen entirely IN-ROW — the
    * one-pass [[graft.expressions.WinnowedFingerprints]] expression
    * (rolling Horner hash + monotonic-deque window minimum, O(n) per
    * document; the declarative transform-chain spelling is kept as
    * [[winnowFpsDeclarative]] and parity-pinned, but is O(n²·k) because
    * substr re-scans the UTF-8 prefix — measured 110 s vs 1.3 s at
    * sf0.1), so the scan emits only the winnowed ~2n/(W+1)
    * fingerprints. From there it
    * is the family's standard inverted-index plan: one shuffle on the
    * uniform content-derived fp, hot fingerprints pruned at df >
    * [[SubDfCap]] (broadcast left_anti, Σdf² bounded), pair counts ≥
    * [[SubMinShared]] (calibrated on this corpus: true near-dup pairs
    * share 22–107 fingerprints, chance word-soup phrase collisions share
    * exactly 1). Documents shorter than K normalized chars cannot carry
    * a detectable span and are filtered at the scan. */
  // private[graft]: shared with graft.streaming.StreamingSubstring so
  // the ingest twin can never drift from the batch operator's parameters
  private[graft] val SubK = 20
  private[graft] val SubW = 8
  private val SubM = graft.expressions.WinnowedFingerprints.M
  private val SubB = graft.expressions.WinnowedFingerprints.B
  private val SubPows: IndexedSeq[Long] =
    (1 until SubK).scanLeft(1L)((p, _) => p * SubB % SubM).toIndexedSeq
  private val SubShift = graft.expressions.WinnowedFingerprints.Shift
  private[graft] val SubDfCap = 100
  private[graft] val SubMinShared = 2

  /** The declarative spelling of the fingerprint stage — value-identical
    * to the one-pass expression by the OpGoldensSpec parity pin, kept as
    * the executable specification (it is also, structurally, the DuckDB
    * oracle CTE chain). O(n²·k) per document (substr re-scans the UTF-8
    * prefix per call) — never use in the registered operator. */
  private[graft] def winnowFpsDeclarative(s: SparkSession, d: String): DataFrame = {
    val hsum = (0 until SubK)
      .map(j => s"ascii(substr(nrm, i+$j, 1)) * ${SubPows(j)}L").mkString(" + ")
    documents(s, d)
      .select(col("doc_id"), normalizeText(col("text")).as("nrm"))
      .where(length(col("nrm")) >= SubK)
      .withColumn("keys", expr(
        s"transform(sequence(1, length(nrm) - ${SubK - 1}), i -> (($hsum) % ${SubM}L) * ${SubShift}L + i)"))
      .select(col("doc_id"), explode(expr(
        s"""array_distinct(transform(
              transform(sequence(1, greatest(size(keys) - ${SubW - 1}, 1)),
                        t -> array_min(slice(keys, t, $SubW))),
              k -> k div ${SubShift}L))""")).as("fp"))
  }

  val substringWinnow: Q = (s, d) => {
    graft.expressions.WinnowedFingerprints.register(s)
    val fps = documents(s, d)
      .select(col("doc_id"),
        explode(expr(s"winnow_fps(text, $SubK, $SubW)")).as("fp"))
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .where(col("df") > SubDfCap).select("fp")
    val kept = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    kept.as("a")
      .join(kept.as("b"), col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= SubMinShared)
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental substring dedup — the lambda-ingest form of
    * [[substringWinnow]] (family split convention: even doc_ids are the
    * standing corpus, odd the new batch): for each INGESTED document,
    * how many standing documents and how many earlier-batch documents
    * (smaller odd id) share ≥ [[SubMinShared]] winnowed fingerprints —
    * the admission decision a curation pipeline makes before a document
    * enters the corpus, the same report shape as
    * [[embeddingIncremental]]. Per-batch cost ∝ batch fingerprints ×
    * df(≤ [[SubDfCap]]), never corpus²: the probe side of the fp join
    * is the BATCH's fingerprints only; the standing side is the
    * inverted index the batch operator already maintains (and the
    * streaming form holds in bucket state). Documents too short to
    * fingerprint (< K normalized chars) cannot carry a detectable span
    * and are admitted with zero matches. */
  val substringIncremental: Q = (s, d) => {
    graft.expressions.WinnowedFingerprints.register(s)
    val fps = documents(s, d)
      .select(col("doc_id"),
        explode(expr(s"winnow_fps(text, $SubK, $SubW)")).as("fp"))
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .where(col("df") > SubDfCap).select("fp")
    val kept = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    val probe = kept.where(col("doc_id") % 2 === 1)
    val matches = probe.as("a")
      .join(kept.as("b"), col("a.fp") === col("b.fp") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("v"), col("b.doc_id").as("partner"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= SubMinShared)
    val perDoc = matches.groupBy("v").agg(
      sum(when(col("partner") % 2 === 0, 1L).otherwise(0L)).as("cm"),
      sum(when(col("partner") % 2 === 1 && col("partner") < col("v"), 1L)
        .otherwise(0L)).as("bm"))
    documents(s, d).select(col("doc_id")).where(col("doc_id") % 2 === 1)
      .join(perDoc, col("doc_id") === col("v"), "left")
      .select(col("doc_id"),
        coalesce(col("cm"), lit(0L)).as("n_corpus_dups"),
        coalesce(col("bm"), lit(0L)).as("n_earlier_batch_dups"))
      .withColumn("kept",
        col("n_corpus_dups") === 0 && col("n_earlier_batch_dups") === 0)
      .orderBy("doc_id")
  }

  /** Duplicated-span map — the position-level report behind
    * [[substringWinnow]] and the direct input to Lee-et-al-style span
    * EXCISION (their pipeline removes the duplicated region, not the
    * document): per document, the merged character intervals of the
    * NORMALIZED text covered by winnowed fingerprints that also occur
    * in at least one OTHER document (2 ≤ df ≤ [[SubDfCap]] — a phrase
    * repeated only within one document is not cross-doc duplication).
    * Winnowing selects a fingerprint at least every [[SubW]] positions,
    * and W < K, so consecutive shared k-gram windows inside a long
    * verbatim span always overlap and merge into ONE island; island
    * edges are approximate within ~K+W chars — the price of hashing
    * 2/(W+1) of positions instead of all of them.
    *
    * Plan: the same in-row winnow pass (position-carrying variant),
    * one fp-keyed df aggregate, a semi join back, then a per-doc
    * gaps-and-islands window (lag + running sum — state per doc is one
    * row, the window key is the uniform doc_id). */
  val substringSpans: Q = (s, d) => {
    graft.expressions.WinnowedFingerprints.register(s)
    val keys = documents(s, d)
      .select(col("doc_id"),
        explode(expr(s"winnow_keys(text, $SubK, $SubW)")).as("key"))
      .select(col("doc_id"), expr(s"key div ${SubShift}L").as("fp"),
        (col("key") % SubShift).cast("int").as("pos"))
    val shared = keys.groupBy("fp")
      .agg(countDistinct("doc_id").as("df_docs"))
      .where(col("df_docs") >= 2 && col("df_docs") <= SubDfCap)
      .select("fp")
    val hits = keys.join(shared, Seq("fp"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val wRun = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    hits
      .withColumn("prev", lag("pos", 1).over(w))
      .withColumn("ni",
        when(col("prev").isNull || col("pos") - col("prev") > SubK, 1L).otherwise(0L))
      .withColumn("island", sum("ni").over(wRun))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(SubK - 1)).as("span_end"),
        count(lit(1)).as("n_fps"))
      .select("doc_id", "span_start", "span_end", "n_fps")
      .orderBy("doc_id", "span_start")
  }

  /** Duplicated-span EXCISION — the step Lee et al. 2022 actually run
    * (they cut the duplicated region out of the corpus, not the
    * document): per document, the normalized text with every
    * cross-doc-duplicated island removed UNLESS this document is the
    * region's first occurrence. Keep-first policy at island
    * granularity: each shared fingerprint's owner is the minimum doc_id
    * holding it; an island is removed iff the minimum owner across its
    * fingerprints is an EARLIER document — so exactly one copy of every
    * duplicated region survives (the earliest), the same first-wins
    * convention as [[exact]]'s keeper election.
    *
    * Plan: the [[substringSpans]] chain plus one tiny per-fp min-doc
    * aggregate joined into the island window (same doc_id exchange);
    * the splice itself is in-row — sorted disjoint islands folded over
    * the normalized text with one aggregate() pass (islands are
    * disjoint by construction: islands split at position gaps > K, so
    * char intervals never overlap). Docs with no removed islands pass
    * through unchanged; docs too short to fingerprint pass through
    * whole. */
  val substringExcise: Q = (s, d) => {
    graft.expressions.WinnowedFingerprints.register(s)
    val keys = documents(s, d)
      .select(col("doc_id"),
        explode(expr(s"winnow_keys(text, $SubK, $SubW)")).as("key"))
      .select(col("doc_id"), expr(s"key div ${SubShift}L").as("fp"),
        (col("key") % SubShift).cast("int").as("pos"))
    val fpOwn = keys.groupBy("fp")
      .agg(countDistinct("doc_id").as("df_docs"), min("doc_id").as("fp_owner"))
      .where(col("df_docs") >= 2 && col("df_docs") <= SubDfCap)
      .select("fp", "fp_owner")
    val hits = keys.join(fpOwn, Seq("fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val wRun = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val removed = hits
      .withColumn("prev", lag("pos", 1).over(w))
      .withColumn("ni",
        when(col("prev").isNull || col("pos") - col("prev") > SubK, 1L).otherwise(0L))
      .withColumn("island", sum("ni").over(wRun))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("s"), (max("pos") + lit(SubK - 1)).as("e"),
        min("fp_owner").as("own"))
      .where(col("own") < col("doc_id"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("isl"),
        count(lit(1)).as("n_removed"))
    documents(s, d)
      .select(col("doc_id"), normalizeText(col("text")).as("nrm"))
      .join(removed, Seq("doc_id"), "left")
      .withColumn("isl", coalesce(col("isl"),
        expr("CAST(array() AS ARRAY<STRUCT<s: INT, e: INT>>)")))
      .withColumn("clean_text", expr(
        """concat(
             aggregate(isl, named_struct('p', 0, 'acc', ''),
               (st, x) -> named_struct('p', x.e,
                 'acc', concat(st.acc, substr(nrm, st.p + 1, x.s - st.p - 1))),
               st -> st.acc),
             substr(nrm, if(size(isl) = 0, 0, element_at(isl, -1).e) + 1))"""))
      .select(col("doc_id"), coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        (length(col("nrm")) - length(col("clean_text"))).cast("long").as("removed_chars"),
        col("clean_text"))
      .orderBy("doc_id")
  }

  /** The winnowing guarantee, MEASURED — the family's audit instrument
    * (the [[embeddingLshEval]] / minhash_estimate philosophy: every
    * approximate index in this engine carries an oracle-checked quality
    * number). Truth side: document pairs sharing an EXACT aligned run
    * of ≥ 2W consecutive k-gram windows — i.e. a verbatim span ≥
    * K+2W−1 = 35 normalized chars, found without winnowing: all
    * window hashes (the expression's kgram_keys audit mode), pairwise
    * matches grouped by the alignment DIAGONAL (pa − pb), runs via the
    * same gaps-and-islands window the span map uses. Detector side:
    * [[substringWinnow]]'s pair set. Output is one row: pair counts,
    * intersection, precision and RECALL — and the Schleimer guarantee
    * says recall must be exactly 1.0 (every ≥35-char span retains ≥ 2
    * winnowed fingerprints), so the guarantee is re-proven on the
    * corpus every round, not just asserted in a comment. (One
    * theoretical hole, stated: a PERIODIC span — "ab ab ab…" — can
    * collapse its window minima to one repeated hash value, leaving a
    * single distinct fingerprint below the ≥2 floor; measured recall
    * is 1.0 at sf0.001, sf0.01 AND sf1, so the corpus has no such
    * span, and the eval row would surface one the round it appears.)
    * Precision < 1 is expected: two fingerprints can agree without a
    * single aligned 35-char run (scattered shorter repeats) —
    * measured 0.20/0.15 at sf0.001/sf0.01, and 0.010 at sf1 where the
    * ScaleUp word-mutation scheme leaves many cross-replica 3-word
    * survivals that share scattered fingerprints but never a full
    * 35-char run.
    *
    * Cost, stated: the truth side joins UNWINNOWED grams — ~(W+1)/2 ×
    * the operator's fingerprint volume, df-capped identically. This is
    * the audit's price, paid at verify scale; the production path is
    * the winnowed operator. Measured ISOLATED on a quiet box (round 8,
    * fresh JVM, load 0.6): sf0.1 8.1 s → sf1 56.0 s, ratio 6.96 —
    * under the 12× bar; the round-7 artifact's 13.7× raw reading was
    * co-tenant contention. The unwinnowed-gram mechanism is registered
    * in Bench's ExpectedSuperlinear so a future over-bar reading
    * carries its cost model in-artifact. */
  val substringEval: Q = (s, d) => {
    graft.expressions.WinnowedFingerprints.register(s)
    val raw = documents(s, d)
      .select(col("doc_id"),
        explode(expr(s"kgram_keys(text, $SubK, $SubW)")).as("key"))
      .select(col("doc_id"), expr(s"key div ${SubShift}L").as("fp"),
        (col("key") % SubShift).cast("int").as("pos"))
    val okFp = raw.groupBy("fp")
      .agg(countDistinct("doc_id").as("df_docs"))
      .where(col("df_docs") >= 2 && col("df_docs") <= SubDfCap)
      .select("fp")
    val g = raw.join(okFp, Seq("fp"), "left_semi")
    val grams = g.as("a")
      .join(g.as("b"), col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), (col("a.pos") - col("b.pos")).as("diag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    val wRun = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val truth = grams
      .withColumn("prev", lag("pa", 1).over(w))
      .withColumn("ni",
        when(col("prev").isNull || col("pa") - col("prev") > 1, 1L).otherwise(0L))
      .withColumn("island", sum("ni").over(wRun))
      .groupBy("doc_a", "doc_b", "diag", "island")
      .agg(count(lit(1)).as("run_len"))
      .where(col("run_len") >= 2 * SubW)
      .select("doc_a", "doc_b").distinct()
    // r13: the truth chain fed two aggregates (count + intersection) and
    // so did the detector chain — each full (W+1)/2× gram pipeline ran
    // TWICE per query. Materialize both pair sets once, concurrently
    // (independent chains, Par §2.6); the three tiny aggregates below
    // read the cached frames.
    val Seq(truthC, win) = Par.run(
      () => truth.localCheckpoint(),
      () => substringWinnow(s, d).select("doc_a", "doc_b").localCheckpoint())
    val nTruth = truthC.agg(count(lit(1)).as("n_truth"))
    val nWin = win.agg(count(lit(1)).as("n_winnow"))
    val nBoth = truthC.join(win, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("n_both"))
    nTruth.crossJoin(nWin).crossJoin(nBoth)
      .select(col("n_truth"), col("n_winnow"), col("n_both"),
        when(col("n_winnow") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_both").cast("double") / col("n_winnow").cast("double"), 6))
          .as("precision_r"),
        when(col("n_truth") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_both").cast("double") / col("n_truth").cast("double"), 6))
          .as("recall_r"))
  }

  val queries: Map[String, Q] = Map(
    "dedup_exact" -> exact,
    "dedup_keep_best" -> keepBest,
    "dedup_cluster" -> cluster,
    "dedup_ngram_jaccard" -> ngramJaccard,
    "dedup_ngram_containment" -> ngramContainment,
    "dedup_ngram_jaccard_capped" -> ngramJaccardCapped,
    "dedup_minhash_lsh" -> minhashLsh,
    "dedup_minhash_lsh_capped" -> minhashLshCapped,
    "dedup_minhash_estimate" -> minhashEstimate,
    "dedup_minhash_incremental" -> minhashIncremental,
    "dedup_simhash" -> simhash,
    "dedup_simhash_pairs" -> simhashPairs,
    "dedup_simhash_pairs_blocked" -> simhashPairsBlocked(6, 2),
    "dedup_simhash_histogram" -> simhashHistogram,
    "dedup_simhash_cluster" -> simhashCluster,
    "dedup_substring" -> substringWinnow,
    "dedup_substring_incremental" -> substringIncremental,
    "dedup_substring_spans" -> substringSpans,
    "dedup_substring_excise" -> substringExcise,
    "dedup_substring_eval" -> substringEval,
    "dedup_embedding_cosine" -> embeddingCosine,
    "dedup_embedding_cosine_lsh" -> embeddingCosineLsh,
    "dedup_embedding_incremental" -> embeddingIncremental,
    "dedup_embedding_lsh_eval" -> embeddingLshEval,
    "dedup_semantic_cluster" -> semanticCluster,
    "dedup_pagerank" -> pagerank,
    "dedup_keep_central" -> keepCentral,
    "dedup_keep_central_incremental" -> keepCentralIncremental,
    "dedup_graph_stats" -> graphStats,
    "dedup_method_agreement" -> methodAgreement,
    "dedup_savings" -> savings,
    "dedup_component_sizes" -> componentSizes,
    "dedup_cross_source" -> crossSource,
    "dedup_threshold_histogram" -> thresholdHistogram,
    "text_ngram_novelty" -> ngramNovelty,
  )

  /** Shared SQL fragments for the oracles (DuckDB dialect). NormSql is
    * THE cross-engine spelling of [[graft.functions.LegacyFunctions.normalizeText]]
    * — every text oracle must reference it, never re-inline the literal,
    * so a normalization change can't silently break one oracle's parity
    * while the others keep passing. */
  private[ops] def normSqlOf(col: String): String =
    s"trim(regexp_replace(regexp_replace(lower($col), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
  private[ops] val NormSql = normSqlOf("text")
  private[ops] val ShinglesSql =
    s"""norm AS (SELECT doc_id, $NormSql AS t FROM documents),
        words AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
        idx AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i FROM words),
        sh AS (SELECT DISTINCT doc_id,
                 CASE WHEN len(w) >= 3 THEN array_to_string(w[i:i+2], ' ')
                      ELSE array_to_string(w, ' ') END AS sh
               FROM idx)"""

  private val sigSelect = (0 until NumHashes)
    .map(i => s"min(md5(sh || '#$i')) AS s$i").mkString(", ")
  private val bandSelects = (0 until NumHashes / BandSize).map { b =>
    val key = (0 until BandSize).map(r => s"s${b * BandSize + r}").mkString(" || '|' || ")
    s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
  }.mkString(" UNION ALL ")

  private val DotSql = (a: String, b: String) =>
    s"list_sum(list_transform(generate_series(1, 64), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper,
         COUNT(*) AS n_copies FROM documents
         GROUP BY content_hash ORDER BY content_hash""",
    // the jaccard cluster families ride the same unrolled CC rounds as
    // the semantic/simhash oracles — the round-6 recursive closure form
    // replayed at sf1 in 36 s only because jaccard clusters stay small;
    // the rounds form is cluster-shape-independent
    "dedup_cluster" ->
      s"""WITH jpairs AS MATERIALIZED (SELECT doc_a, doc_b
              FROM ($JaccardPairsSelect)),
          ${ccRoundsCtes("jpairs", "doc_a", "doc_b")}
          SELECT * FROM (
            SELECT v AS doc_id, lbl AS cluster_keeper FROM cc_labels
            UNION ALL
            SELECT -1, -1 FROM (SELECT 1) poison
            WHERE (SELECT n_changed FROM cc_guard) > 0)
          ORDER BY doc_id""",
    "dedup_keep_best" ->
      s"""WITH jpairs AS MATERIALIZED (SELECT doc_a, doc_b
              FROM ($JaccardPairsSelect)),
          ${ccRoundsCtes("jpairs", "doc_a", "doc_b")},
          labels AS (SELECT v AS doc_id, lbl AS cluster_keeper FROM cc_labels),
          qb AS (SELECT doc_id, ${TextOps.QualityColsSql} FROM documents),
          rnk AS (SELECT doc_id,
                    CAST(CASE ${TextOps.QualityCaseSql}
                         WHEN 'good' THEN 0 WHEN 'ok' THEN 1 ELSE 2 END AS INT) AS q_rank
                  FROM qb),
          j AS (SELECT l.cluster_keeper AS cluster_id, l.doc_id, r.q_rank,
                  row_number() OVER (PARTITION BY l.cluster_keeper
                    ORDER BY r.q_rank, l.doc_id) AS rn,
                  CAST(COUNT(*) OVER (PARTITION BY l.cluster_keeper) AS BIGINT) AS n_docs
                FROM labels l JOIN rnk r USING (doc_id))
          SELECT * FROM (
            SELECT cluster_id, doc_id AS best_doc, q_rank AS best_rank, n_docs
            FROM j WHERE rn = 1
            UNION ALL
            SELECT -1, -1, -1, CAST(-1 AS BIGINT) FROM (SELECT 1) poison
            WHERE (SELECT n_changed FROM cc_guard) > 0)
          ORDER BY cluster_id""",
    "dedup_pagerank" ->
      s"""WITH jpairs AS MATERIALIZED (SELECT doc_a, doc_b
              FROM ($JaccardPairsSelect)),
          ${prRoundsCtes("jpairs", "doc_a", "doc_b")}
          SELECT doc_id, deg, pr AS pr_mass FROM pr$PrRounds ORDER BY doc_id""",
    "dedup_keep_central" ->
      s"""WITH jpairs AS MATERIALIZED (SELECT doc_a, doc_b
              FROM ($JaccardPairsSelect)),
          ${ccRoundsCtes("jpairs", "doc_a", "doc_b")},
          ${prRoundsCtes("jpairs", "doc_a", "doc_b")},
          jn AS (SELECT c.lbl AS cluster_id, p.doc_id, p.pr,
                   row_number() OVER (PARTITION BY c.lbl
                     ORDER BY p.pr DESC, p.doc_id) AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY c.lbl) AS BIGINT) AS n_docs
                 FROM cc_labels c JOIN pr$PrRounds p ON p.doc_id = c.v)
          SELECT * FROM (
            SELECT cluster_id, doc_id AS central_doc, pr AS central_mass, n_docs
            FROM jn WHERE rn = 1
            UNION ALL
            SELECT -1, -1, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) FROM (SELECT 1) poison
            WHERE (SELECT n_changed FROM cc_guard) > 0)
          ORDER BY cluster_id""",
    // the incremental election: CC + PR rounds run on the EVEN-ONLY pair
    // graph (the standing build); the batch path is pure joins/windows
    // over the cross edges — mirrors the Spark frozen-field semantics
    // term for term (same damp·(pr div deg) div 1e6 edge contribution,
    // no teleport, standing wins exact mass ties via src_rank DESC)
    "dedup_keep_central_incremental" ->
      s"""WITH jp AS MATERIALIZED (SELECT doc_a, doc_b
              FROM ($JaccardPairsSelect)),
          jeven AS MATERIALIZED (SELECT doc_a, doc_b FROM jp
              WHERE doc_a % 2 = 0 AND doc_b % 2 = 0),
          ${ccRoundsCtes("jeven", "doc_a", "doc_b")},
          ${prRoundsCtes("jeven", "doc_a", "doc_b")},
          scj AS (SELECT c.lbl AS cluster_id, p.doc_id, p.pr,
                    row_number() OVER (PARTITION BY c.lbl
                      ORDER BY p.pr DESC, p.doc_id) AS rn
                  FROM cc_labels c JOIN pr$PrRounds p ON p.doc_id = c.v),
          scentral AS (SELECT cluster_id, doc_id AS s_doc, pr AS s_mass
                       FROM scj WHERE rn = 1),
          cre AS (SELECT CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END AS b_doc,
                         CASE WHEN doc_a % 2 = 1 THEN doc_b ELSE doc_a END AS partner
                  FROM jp WHERE (doc_a % 2) <> (doc_b % 2)),
          pcx AS (SELECT cre.b_doc,
                    COALESCE(l.lbl, cre.partner) AS p_cluster,
                    COALESCE(($PrDampMicro * (p.pr // p.deg)) // 1000000, 0) AS c
                  FROM cre
                  LEFT JOIN cc_labels l ON l.v = cre.partner
                  LEFT JOIN pr$PrRounds p ON p.doc_id = cre.partner),
          lnk AS (SELECT b_doc, p_cluster, COUNT(*) AS n_links
                  FROM pcx GROUP BY b_doc, p_cluster),
          asn AS (SELECT b_doc, p_cluster AS cluster_id
                  FROM (SELECT b_doc, p_cluster,
                          row_number() OVER (PARTITION BY b_doc
                            ORDER BY n_links DESC, p_cluster) AS arn
                        FROM lnk) WHERE arn = 1),
          estm AS (SELECT b_doc, CAST(SUM(c) AS BIGINT) AS est_mass
                   FROM pcx GROUP BY b_doc),
          cand AS (SELECT a.cluster_id, a.b_doc AS doc, e.est_mass AS mass,
                          0 AS src_rank
                   FROM asn a JOIN estm e ON e.b_doc = a.b_doc
                   UNION ALL
                   SELECT t.cluster_id, COALESCE(sc.s_doc, t.cluster_id),
                          CAST(COALESCE(sc.s_mass, 0) AS BIGINT), 1
                   FROM (SELECT DISTINCT cluster_id FROM asn) t
                   LEFT JOIN scentral sc ON sc.cluster_id = t.cluster_id),
          el AS (SELECT cluster_id, doc, mass, src_rank,
                   row_number() OVER (PARTITION BY cluster_id
                     ORDER BY mass DESC, src_rank DESC, doc) AS ern,
                   SUM(CASE WHEN src_rank = 0 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY cluster_id) AS nbj
                 FROM cand)
          SELECT * FROM (
            SELECT cluster_id, doc AS central_doc,
                   CAST(mass AS BIGINT) AS central_mass,
                   CASE WHEN src_rank = 1 THEN 'standing' ELSE 'batch' END
                     AS central_src,
                   CAST(nbj AS BIGINT) AS n_batch_joined
            FROM el WHERE ern = 1
            UNION ALL
            SELECT d.doc_id, d.doc_id, CAST(0 AS BIGINT), 'batch',
                   CAST(1 AS BIGINT)
            FROM documents d
            WHERE d.doc_id % 2 = 1
              AND NOT EXISTS (SELECT 1 FROM asn WHERE asn.b_doc = d.doc_id)
            UNION ALL
            SELECT -1, -1, CAST(-1 AS BIGINT), 'poison', CAST(-1 AS BIGINT)
            FROM (SELECT 1) poison
            WHERE (SELECT n_changed FROM cc_guard) > 0)
          ORDER BY cluster_id""",
    "dedup_ngram_jaccard" ->
      s"""WITH $ShinglesSql,
          sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
          pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
                    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT doc_a, doc_b, inter, sa.n_sh + sb.n_sh - inter AS union_sz
          FROM pairs
          JOIN sz sa ON sa.doc_id = doc_a
          JOIN sz sb ON sb.doc_id = doc_b
          WHERE inter * 10 >= (sa.n_sh + sb.n_sh - inter) * 3
          ORDER BY doc_a, doc_b""",
    "dedup_ngram_containment" ->
      s"""WITH $ShinglesSql,
          sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
          pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
                    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2),
          j AS (SELECT doc_a, doc_b, inter, sa.n_sh AS na, sb.n_sh AS nb
                FROM pairs
                JOIN sz sa ON sa.doc_id = doc_a
                JOIN sz sb ON sb.doc_id = doc_b),
          dir AS (SELECT doc_a AS contained_doc, doc_b AS container_doc, inter, na AS n_sh
                  FROM j WHERE inter * 5 >= na * 4
                  UNION ALL
                  SELECT doc_b, doc_a, inter, nb FROM j WHERE inter * 5 >= nb * 4)
          SELECT contained_doc, container_doc, inter, n_sh,
            round(CAST(inter AS DOUBLE) / CAST(n_sh AS DOUBLE), 6) AS containment_r
          FROM dir ORDER BY contained_doc, container_doc""",
    "dedup_ngram_jaccard_capped" ->
      s"""WITH $ShinglesSql,
          dfq AS (SELECT sh AS hsh, COUNT(*) AS df FROM sh GROUP BY sh),
          kept AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfq ON s.sh = dfq.hsh
                   WHERE df <= $DfCap),
          sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
          pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
                    FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT doc_a, doc_b, inter, sa.n_sh + sb.n_sh - inter AS union_sz
          FROM pairs
          JOIN sz sa ON sa.doc_id = doc_a
          JOIN sz sb ON sb.doc_id = doc_b
          WHERE inter * 10 >= (sa.n_sh + sb.n_sh - inter) * 3
          ORDER BY doc_a, doc_b""",
    "dedup_minhash_lsh" ->
      s"""WITH $ShinglesSql,
          sig AS (SELECT doc_id, $sigSelect FROM sh GROUP BY doc_id),
          bands AS ($bandSelects)
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
          ORDER BY doc_a, doc_b""",
    "dedup_minhash_lsh_capped" ->
      s"""WITH $ShinglesSql,
          sig AS (SELECT doc_id, $sigSelect FROM sh GROUP BY doc_id),
          bands AS ($bandSelects),
          hot AS (SELECT band, bkey FROM bands GROUP BY band, bkey
                  HAVING COUNT(*) > $BandBucketCap),
          kept AS (SELECT b.* FROM bands b
                   WHERE NOT EXISTS (SELECT 1 FROM hot h
                                     WHERE h.band = b.band AND h.bkey = b.bkey))
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM kept a JOIN kept b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
          ORDER BY doc_a, doc_b""",
    "dedup_minhash_incremental" ->
      s"""WITH $ShinglesSql,
          sig AS (SELECT doc_id, $sigSelect FROM sh GROUP BY doc_id),
          bands AS ($bandSelects),
          hot AS (SELECT band, bkey FROM bands GROUP BY band, bkey
                  HAVING COUNT(*) > $BandBucketCap),
          kept0 AS (SELECT b.* FROM bands b
                    WHERE NOT EXISTS (SELECT 1 FROM hot h
                                      WHERE h.band = b.band AND h.bkey = b.bkey)),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM kept0 a JOIN kept0 b
                     ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
          dirp AS (SELECT doc_a AS v, doc_b AS partner FROM cand
                   UNION ALL SELECT doc_b, doc_a FROM cand),
          per_doc AS (SELECT v,
                        SUM(CASE WHEN partner % 2 = 0 THEN 1 ELSE 0 END) AS cm,
                        SUM(CASE WHEN partner % 2 = 1 AND partner < v THEN 1 ELSE 0 END) AS bm
                      FROM dirp WHERE v % 2 = 1 GROUP BY v)
          SELECT d.doc_id,
                 CAST(COALESCE(cm, 0) AS BIGINT) AS n_corpus_dups,
                 CAST(COALESCE(bm, 0) AS BIGINT) AS n_earlier_batch_dups,
                 (COALESCE(cm, 0) = 0 AND COALESCE(bm, 0) = 0) AS kept
          FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.v
          WHERE d.doc_id % 2 = 1
          ORDER BY d.doc_id""",
    "dedup_minhash_estimate" -> {
      val matchSum = (0 until NumHashes)
        .map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $ShinglesSql,
          sig AS (SELECT doc_id, $sigSelect FROM sh GROUP BY doc_id),
          bands AS ($bandSelects),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM bands a JOIN bands b
                     ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
          m AS (SELECT c.doc_a, c.doc_b, CAST($matchSum AS BIGINT) AS est_matches
                FROM cand c
                JOIN sig sa ON sa.doc_id = c.doc_a
                JOIN sig sb ON sb.doc_id = c.doc_b),
          sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
          ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
                 FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
          SELECT m.doc_a, m.doc_b, m.est_matches,
            CAST(ix.inter AS BIGINT) AS inter,
            CAST(sa.n_sh + sb.n_sh - ix.inter AS BIGINT) AS union_sz,
            round(abs(CAST(m.est_matches AS DOUBLE) / $NumHashes -
              CAST(ix.inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - ix.inter AS DOUBLE)), 6) AS est_err_r
          FROM m
          JOIN ix ON ix.doc_a = m.doc_a AND ix.doc_b = m.doc_b
          JOIN sz sa ON sa.doc_id = m.doc_a
          JOIN sz sb ON sb.doc_id = m.doc_b
          ORDER BY m.doc_a, m.doc_b""" },
    "dedup_simhash" ->
      s"""WITH norm AS (SELECT doc_id, $NormSql AS t FROM documents),
          toks AS (SELECT DISTINCT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm),
          bits AS (SELECT doc_id, tok, unnest(generate_series(0, 63)) AS b FROM toks),
          c AS (SELECT doc_id, b,
                  2 * (((strpos('0123456789abcdef', substr(md5(tok), b // 4 + 1, 1)) - 1)
                       >> (3 - b % 4)) & 1) - 1 AS contrib
                FROM bits),
          sc AS (SELECT doc_id, b, SUM(contrib) AS s FROM c GROUP BY doc_id, b)
          SELECT doc_id,
            string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
          FROM sc GROUP BY doc_id ORDER BY doc_id""",
    "dedup_simhash_pairs" -> SimhashPairsSql,
    // the (6,2) block-pair index is lossless at hamming ≤ 3 (pigeonhole:
    // ≥ 3 agreeing blocks ⇒ some agreeing block PAIR), so its oracle is
    // byte-identical to the 4-block form's
    "dedup_simhash_pairs_blocked" -> SimhashPairsSql,
    "dedup_simhash_histogram" -> SimhashHistogramSql,
    "dedup_simhash_cluster" ->
      s"""WITH $SimhashPairChainSql,
          ${ccRoundsCtes("spairs", "doc_a", "doc_b")}
          SELECT * FROM (
            SELECT v AS doc_id, lbl AS cluster_keeper FROM cc_labels
            UNION ALL
            SELECT -1, -1 FROM (SELECT 1) poison
            WHERE (SELECT n_changed FROM cc_guard) > 0)
          ORDER BY doc_id""",
    // dedup_substring: the winnowed-fingerprint CTE chain mirrors
    // substringWinnow stage for stage; the polynomial-hash literals are
    // generated from the SAME Scala power table the Spark expression
    // inlines, so the arithmetic cannot drift between engines.
    "dedup_substring" -> {
      val hsum = (0 until SubK)
        .map(j => s"ord(substr(nrm, i+$j, 1)) * CAST(${SubPows(j)} AS BIGINT)")
        .mkString(" + ")
      s"""WITH docs AS (SELECT doc_id, ${normSqlOf("text")} AS nrm FROM documents),
          d2 AS (SELECT doc_id, nrm, length(nrm) - ${SubK - 1} AS npos
                 FROM docs WHERE length(nrm) >= $SubK),
          pos AS (SELECT doc_id, nrm, npos,
                    unnest(generate_series(1, npos)) AS i FROM d2),
          keys AS (SELECT doc_id, npos, i,
                     (($hsum) % $SubM) * CAST($SubShift AS BIGINT) + i AS key
                   FROM pos),
          sel AS (SELECT DISTINCT doc_id,
                    (min(key) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND ${SubW - 1} FOLLOWING))
                      // CAST($SubShift AS BIGINT) AS fp
                  FROM keys QUALIFY i <= greatest(npos - ${SubW - 1}, 1)),
          df AS (SELECT fp, count(*) AS df FROM sel GROUP BY fp),
          kept AS (SELECT doc_id, fp FROM sel JOIN df USING (fp)
                   WHERE df <= $SubDfCap)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
          FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= $SubMinShared
          ORDER BY doc_a, doc_b"""
    },
    "dedup_substring_incremental" -> {
      val hsum = (0 until SubK)
        .map(j => s"ord(substr(nrm, i+$j, 1)) * CAST(${SubPows(j)} AS BIGINT)")
        .mkString(" + ")
      s"""WITH docs AS (SELECT doc_id, ${normSqlOf("text")} AS nrm FROM documents),
          d2 AS (SELECT doc_id, nrm, length(nrm) - ${SubK - 1} AS npos
                 FROM docs WHERE length(nrm) >= $SubK),
          pos AS (SELECT doc_id, nrm, npos,
                    unnest(generate_series(1, npos)) AS i FROM d2),
          keys AS (SELECT doc_id, npos, i,
                     (($hsum) % $SubM) * CAST($SubShift AS BIGINT) + i AS key
                   FROM pos),
          sel AS (SELECT DISTINCT doc_id,
                    (min(key) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND ${SubW - 1} FOLLOWING))
                      // CAST($SubShift AS BIGINT) AS fp
                  FROM keys QUALIFY i <= greatest(npos - ${SubW - 1}, 1)),
          df AS (SELECT fp, count(*) AS df FROM sel GROUP BY fp),
          kept AS (SELECT doc_id, fp FROM sel JOIN df USING (fp)
                   WHERE df <= $SubDfCap),
          matches AS (SELECT a.doc_id AS v, b.doc_id AS partner
                      FROM kept a JOIN kept b
                        ON a.fp = b.fp AND a.doc_id <> b.doc_id
                      WHERE a.doc_id % 2 = 1
                      GROUP BY 1, 2 HAVING count(*) >= $SubMinShared),
          per_doc AS (SELECT v,
                        SUM(CASE WHEN partner % 2 = 0 THEN 1 ELSE 0 END) AS cm,
                        SUM(CASE WHEN partner % 2 = 1 AND partner < v THEN 1 ELSE 0 END) AS bm
                      FROM matches GROUP BY v)
          SELECT d.doc_id,
                 CAST(COALESCE(cm, 0) AS BIGINT) AS n_corpus_dups,
                 CAST(COALESCE(bm, 0) AS BIGINT) AS n_earlier_batch_dups,
                 (COALESCE(cm, 0) = 0 AND COALESCE(bm, 0) = 0) AS kept
          FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.v
          WHERE d.doc_id % 2 = 1
          ORDER BY d.doc_id"""
    },
    "dedup_substring_spans" -> {
      val hsum = (0 until SubK)
        .map(j => s"ord(substr(nrm, i+$j, 1)) * CAST(${SubPows(j)} AS BIGINT)")
        .mkString(" + ")
      s"""WITH docs AS (SELECT doc_id, ${normSqlOf("text")} AS nrm FROM documents),
          d2 AS (SELECT doc_id, nrm, length(nrm) - ${SubK - 1} AS npos
                 FROM docs WHERE length(nrm) >= $SubK),
          pos AS (SELECT doc_id, nrm, npos,
                    unnest(generate_series(1, npos)) AS i FROM d2),
          keys AS (SELECT doc_id, npos, i,
                     (($hsum) % $SubM) * CAST($SubShift AS BIGINT) + i AS key
                   FROM pos),
          sel AS (SELECT DISTINCT doc_id,
                    min(key) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND ${SubW - 1} FOLLOWING) AS selkey
                  FROM keys QUALIFY i <= greatest(npos - ${SubW - 1}, 1)),
          fpp AS (SELECT doc_id, selkey // CAST($SubShift AS BIGINT) AS fp,
                    CAST(selkey % CAST($SubShift AS BIGINT) AS INT) AS pos
                  FROM sel),
          shared AS (SELECT fp FROM fpp GROUP BY fp
                     HAVING count(DISTINCT doc_id) BETWEEN 2 AND $SubDfCap),
          hits AS (SELECT doc_id, pos FROM fpp SEMI JOIN shared USING (fp)),
          isl AS (SELECT doc_id, pos,
                    CASE WHEN lag(pos) OVER w IS NULL
                           OR pos - lag(pos) OVER w > $SubK THEN 1 ELSE 0 END AS ni
                  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
          isl2 AS (SELECT doc_id, pos,
                     SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
                   FROM isl)
          SELECT doc_id, MIN(pos) AS span_start,
                 MAX(pos) + ${SubK - 1} AS span_end,
                 count(*) AS n_fps
          FROM isl2 GROUP BY doc_id, island
          ORDER BY doc_id, span_start"""
    },
    // dedup_substring_excise: the spans chain + per-fp min-doc
    // ownership; the splice is lag-segments + ordered string_agg where
    // Spark folds sorted islands in-row — same segments, same clean text
    "dedup_substring_excise" -> {
      val hsum = (0 until SubK)
        .map(j => s"ord(substr(nrm, i+$j, 1)) * CAST(${SubPows(j)} AS BIGINT)")
        .mkString(" + ")
      s"""WITH docs AS (SELECT doc_id, ${normSqlOf("text")} AS nrm FROM documents),
          d2 AS (SELECT doc_id, nrm, length(nrm) - ${SubK - 1} AS npos
                 FROM docs WHERE length(nrm) >= $SubK),
          pos AS (SELECT doc_id, nrm, npos,
                    unnest(generate_series(1, npos)) AS i FROM d2),
          keys AS (SELECT doc_id, npos, i,
                     (($hsum) % $SubM) * CAST($SubShift AS BIGINT) + i AS key
                   FROM pos),
          sel AS (SELECT DISTINCT doc_id,
                    min(key) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND ${SubW - 1} FOLLOWING) AS selkey
                  FROM keys QUALIFY i <= greatest(npos - ${SubW - 1}, 1)),
          fpp AS (SELECT doc_id, selkey // CAST($SubShift AS BIGINT) AS fp,
                    CAST(selkey % CAST($SubShift AS BIGINT) AS INT) AS pos
                  FROM sel),
          fpown AS (SELECT fp, MIN(doc_id) AS fp_owner FROM fpp GROUP BY fp
                    HAVING count(DISTINCT doc_id) BETWEEN 2 AND $SubDfCap),
          hits AS (SELECT doc_id, pos, fp_owner FROM fpp JOIN fpown USING (fp)),
          isl AS (SELECT doc_id, pos, fp_owner,
                    CASE WHEN lag(pos) OVER w IS NULL
                           OR pos - lag(pos) OVER w > $SubK THEN 1 ELSE 0 END AS ni
                  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
          isl2 AS (SELECT doc_id, pos, fp_owner,
                     SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
                   FROM isl),
          rem AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + ${SubK - 1} AS e
                  FROM isl2 GROUP BY doc_id, island
                  HAVING MIN(fp_owner) < doc_id),
          segs AS (SELECT doc_id, s, e,
                     lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY s) AS pe
                   FROM rem),
          asm AS (SELECT g.doc_id,
                    string_agg(substr(d.nrm, g.pe + 1, g.s - g.pe - 1), ''
                      ORDER BY g.s) AS headseg,
                    MAX(g.e) AS maxe, COUNT(*) AS n_removed
                  FROM segs g JOIN docs d ON d.doc_id = g.doc_id
                  GROUP BY g.doc_id)
          SELECT d.doc_id,
                 CAST(COALESCE(a.n_removed, 0) AS BIGINT) AS n_removed,
                 length(d.nrm) - length(CASE WHEN a.doc_id IS NULL THEN d.nrm
                   ELSE a.headseg || substr(d.nrm, a.maxe + 1) END) AS removed_chars,
                 CASE WHEN a.doc_id IS NULL THEN d.nrm
                   ELSE a.headseg || substr(d.nrm, a.maxe + 1) END AS clean_text
          FROM docs d LEFT JOIN asm a ON d.doc_id = a.doc_id
          ORDER BY d.doc_id"""
    },
    // dedup_substring_eval: truth = aligned-diagonal runs >= 2W over the
    // UNWINNOWED gram keys; detector = the dedup_substring pair chain —
    // both sides share the keys CTE, one row out
    "dedup_substring_eval" -> {
      val hsum = (0 until SubK)
        .map(j => s"ord(substr(nrm, i+$j, 1)) * CAST(${SubPows(j)} AS BIGINT)")
        .mkString(" + ")
      s"""WITH docs AS (SELECT doc_id, ${normSqlOf("text")} AS nrm FROM documents),
          d2 AS (SELECT doc_id, nrm, length(nrm) - ${SubK - 1} AS npos
                 FROM docs WHERE length(nrm) >= $SubK),
          pos AS (SELECT doc_id, nrm, npos,
                    unnest(generate_series(1, npos)) AS i FROM d2),
          keys AS (SELECT doc_id, npos, i,
                     (($hsum) % $SubM) * CAST($SubShift AS BIGINT) + i AS key
                   FROM pos),
          raw AS (SELECT doc_id, key // CAST($SubShift AS BIGINT) AS fp,
                    CAST(key % CAST($SubShift AS BIGINT) AS INT) AS pos
                  FROM keys),
          okfp AS (SELECT fp FROM raw GROUP BY fp
                   HAVING count(DISTINCT doc_id) BETWEEN 2 AND $SubDfCap),
          g AS (SELECT doc_id, fp, pos FROM raw SEMI JOIN okfp USING (fp)),
          grams AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.pos AS pa, a.pos - b.pos AS diag
                    FROM g a JOIN g b ON a.fp = b.fp AND a.doc_id < b.doc_id),
          gisl AS (SELECT doc_a, doc_b, diag, pa,
                     CASE WHEN lag(pa) OVER w IS NULL
                            OR pa - lag(pa) OVER w > 1 THEN 1 ELSE 0 END AS ni
                   FROM grams
                   WINDOW w AS (PARTITION BY doc_a, doc_b, diag ORDER BY pa)),
          gisl2 AS (SELECT doc_a, doc_b, diag, pa,
                      SUM(ni) OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa
                         ROWS UNBOUNDED PRECEDING) AS island
                    FROM gisl),
          truth AS (SELECT DISTINCT doc_a, doc_b FROM (
                      SELECT doc_a, doc_b FROM gisl2
                      GROUP BY doc_a, doc_b, diag, island
                      HAVING count(*) >= ${2 * SubW})),
          wsel AS (SELECT DISTINCT doc_id,
                     (min(key) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW AND ${SubW - 1} FOLLOWING))
                       // CAST($SubShift AS BIGINT) AS fp
                   FROM keys QUALIFY i <= greatest(npos - ${SubW - 1}, 1)),
          wdf AS (SELECT fp, count(*) AS df FROM wsel GROUP BY fp),
          wkept AS (SELECT doc_id, fp FROM wsel JOIN wdf USING (fp)
                    WHERE df <= $SubDfCap),
          wp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM wkept a JOIN wkept b ON a.fp = b.fp AND a.doc_id < b.doc_id
                 GROUP BY 1, 2 HAVING count(*) >= $SubMinShared),
          nt AS (SELECT count(*) AS n_truth FROM truth),
          nw AS (SELECT count(*) AS n_winnow FROM wp),
          nb AS (SELECT count(*) AS n_both FROM truth SEMI JOIN wp
                   USING (doc_a, doc_b))
          SELECT n_truth, n_winnow, n_both,
                 CASE WHEN n_winnow = 0 THEN NULL
                   ELSE round(CAST(n_both AS DOUBLE) / n_winnow, 6) END AS precision_r,
                 CASE WHEN n_truth = 0 THEN NULL
                   ELSE round(CAST(n_both AS DOUBLE) / n_truth, 6) END AS recall_r
          FROM nt, nw, nb"""
    },
  ) ++ cosineOracles

  // lazy: referenced by `oracles` above their definition point
  /** The simhash fingerprint + 4×16-bit pigeonhole chain, ending in the
    * thresholded pair CTE `spairs(doc_a, doc_b, hamming)` — shared by
    * the pair oracle and the simhash-cluster CC rounds. */
  private lazy val SimhashPairChainSql =
      s"""norm AS (SELECT doc_id, $NormSql AS t FROM documents),
          toks AS (SELECT DISTINCT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm),
          bits AS (SELECT doc_id, tok, unnest(generate_series(0, 63)) AS b FROM toks),
          c AS (SELECT doc_id, b,
                  2 * (((strpos('0123456789abcdef', substr(md5(tok), b // 4 + 1, 1)) - 1)
                       >> (3 - b % 4)) & 1) - 1 AS contrib
                FROM bits),
          sc AS (SELECT doc_id, b, SUM(contrib) AS s FROM c GROUP BY doc_id, b),
          -- fp is read FOUR times by blocks and blocks TWICE by cand:
          -- without MATERIALIZED, DuckDB re-inlines the ~170M-row bits
          -- chain up to 8x (measured: the sf1 replay spilled past 80 GB
          -- of temp and ran the disk out); materialized, the chain runs
          -- once and the replay passes in ~3 min
          fp AS MATERIALIZED (SELECT doc_id,
                   CAST(SUM(CASE WHEN s > 0 AND b < 32 THEN (1::BIGINT << (31 - b)) ELSE 0 END) AS BIGINT) AS fp_hi,
                   CAST(SUM(CASE WHEN s > 0 AND b >= 32 THEN (1::BIGINT << (63 - b)) ELSE 0 END) AS BIGINT) AS fp_lo
                 FROM sc GROUP BY doc_id),
          blocks AS MATERIALIZED (
            SELECT doc_id, fp_hi, fp_lo, 0 AS blk, fp_hi // 65536 AS bval FROM fp
            UNION ALL SELECT doc_id, fp_hi, fp_lo, 1, fp_hi % 65536 FROM fp
            UNION ALL SELECT doc_id, fp_hi, fp_lo, 2, fp_lo // 65536 FROM fp
            UNION ALL SELECT doc_id, fp_hi, fp_lo, 3, fp_lo % 65536 FROM fp),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(bit_count(xor(a.fp_hi, b.fp_hi)) +
                          bit_count(xor(a.fp_lo, b.fp_lo)) AS BIGINT) AS hamming
                   FROM blocks a JOIN blocks b
                     ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id),
          spairs AS (SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3)"""

  private lazy val SimhashPairsSql =
      s"""WITH $SimhashPairChainSql
          SELECT doc_a, doc_b, hamming FROM spairs ORDER BY doc_a, doc_b"""

  private lazy val SimhashHistogramSql =
      s"""WITH $SimhashPairChainSql,
          shh AS (SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs
                  FROM spairs GROUP BY 1),
          shg AS (SELECT CAST(unnest(generate_series(0, $MaxHamming)) AS BIGINT) AS hamming)
          SELECT shg.hamming,
            CAST(COALESCE(shh.n_pairs, 0) AS BIGINT) AS n_pairs,
            CAST(SUM(COALESCE(shh.n_pairs, 0)) OVER (ORDER BY shg.hamming) AS BIGINT) AS cum_pairs
          FROM shg LEFT JOIN shh ON shh.hamming = shg.hamming
          ORDER BY shg.hamming"""

  /** The CAPPED jaccard pair chain as a standalone SELECT (for nesting
    * inside derived tables where CTE names would collide) — mirrors
    * [[ngramJaccardCapped]]: shingles with df > [[DfCap]] are pruned
    * before pair generation, so every downstream graph / split / funnel
    * consumer runs on the Σdf²-bounded generator, never the uncapped
    * baseline. `kept` is MATERIALIZED — sz and the self-join read it
    * three times, and DuckDB's re-inlining would replay the shingle
    * explosion each time (the simhash-oracle lesson). Shared with
    * PipelineOps' split/funnel oracles. */
  private[ops] lazy val JaccardPairsSelect =
    s"""WITH $ShinglesSql,
        dfq AS (SELECT sh AS hsh, COUNT(*) AS df FROM sh GROUP BY sh),
        kept AS MATERIALIZED (SELECT s.doc_id, s.sh FROM sh s
               JOIN dfq ON s.sh = dfq.hsh WHERE df <= $DfCap),
        sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
        jp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
               FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
        SELECT doc_a, doc_b FROM jp
        JOIN sz sa ON sa.doc_id = doc_a
        JOIN sz sb ON sb.doc_id = doc_b
        WHERE inter * 10 >= (sa.n_sh + sb.n_sh - inter) * 3"""

  private lazy val cosineOracles: Map[String, String] = Map(
    "text_ngram_novelty" ->
      s"""WITH $ShinglesSql,
          df AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY sh),
          pd AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh,
                   CAST(coalesce(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_unique
                 FROM sh s JOIN df ON df.sh = s.sh GROUP BY s.doc_id)
          SELECT doc_id, n_sh, n_unique,
            CASE WHEN n_sh = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST((n_unique * 1000000) // n_sh AS BIGINT) END AS novelty_micro
          FROM pd ORDER BY doc_id""",
    "dedup_component_sizes" ->
      s"""WITH jm AS MATERIALIZED (SELECT doc_a, doc_b
              FROM ($JaccardPairsSelect)),
          ${ccRoundsCtes("jm", "doc_a", "doc_b")},
          cs AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS cluster_size
                 FROM cc_labels GROUP BY lbl),
          h AS (SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
                FROM cs GROUP BY cluster_size),
          sg AS (SELECT CAST(1 AS BIGINT) AS cluster_size,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
                     - (SELECT CAST(COUNT(*) AS BIGINT) FROM cc_labels) AS n_clusters)
          SELECT * FROM (
            SELECT cluster_size, n_clusters, cluster_size * n_clusters AS n_docs
            FROM (SELECT * FROM h
                  UNION ALL SELECT * FROM sg WHERE n_clusters > 0)
            UNION ALL
            SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
            FROM (SELECT 1)
            WHERE (SELECT n_changed FROM cc_guard) > 0)
          ORDER BY cluster_size""",
    "dedup_threshold_histogram" ->
      s"""WITH $ShinglesSql,
          dfq AS (SELECT sh AS hsh, COUNT(*) AS df FROM sh GROUP BY sh),
          kept AS MATERIALIZED (SELECT s.doc_id, s.sh FROM sh s
                 JOIN dfq ON s.sh = dfq.hsh WHERE df <= $DfCap),
          sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
          jp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
                 FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
          pj AS (SELECT inter, sa.n_sh + sb.n_sh - inter AS union_sz
                 FROM jp JOIN sz sa ON sa.doc_id = doc_a
                         JOIN sz sb ON sb.doc_id = doc_b
                 WHERE inter * 10 >= (sa.n_sh + sb.n_sh - inter)),
          dk AS (SELECT LEAST(CAST((inter * 10) // union_sz AS INT), 9) AS decile FROM pj),
          h AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM dk GROUP BY decile)
          SELECT decile, CAST(decile AS BIGINT) * 100000 AS floor_micro, n_pairs,
            CAST(SUM(n_pairs) OVER (ORDER BY decile DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
              AS cum_pairs_at_or_above
          FROM h ORDER BY decile""",
    "dedup_cross_source" ->
      s"""WITH jm AS MATERIALIZED (SELECT doc_a, doc_b
              FROM ($JaccardPairsSelect)),
          src AS (SELECT doc_id, COALESCE(source, '') AS src FROM documents),
          p AS (SELECT LEAST(a.src, b.src) AS src_lo,
                  GREATEST(a.src, b.src) AS src_hi
                FROM jm JOIN src a ON a.doc_id = jm.doc_a
                        JOIN src b ON b.doc_id = jm.doc_b)
          SELECT src_lo, src_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs,
            CAST(CASE WHEN src_lo <> src_hi THEN 1 ELSE 0 END AS INT) AS is_cross
          FROM p GROUP BY src_lo, src_hi ORDER BY src_lo, src_hi""",
    "dedup_graph_stats" ->
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT doc_a AS u, doc_b AS v
              FROM ($JaccardPairsSelect)),
          dg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS deg
                 FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY x),
          ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(coalesce(SUM(deg), 0) // 2 AS BIGINT) AS n_edges,
                   CAST(coalesce(SUM(deg * (deg - 1) // 2), 0) AS BIGINT) AS n_wedges
                 FROM dg),
          tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
                  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
                            JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
          SELECT n_nodes, n_edges, n_wedges, n_triangles,
            CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST((3 * n_triangles * 1000000) // n_wedges AS BIGINT) END AS clustering_micro
          FROM ne, tri""",
    "dedup_method_agreement" ->
      s"""WITH jm AS MATERIALIZED (SELECT doc_a, doc_b FROM ($JaccardPairsSelect)),
          sm AS MATERIALIZED (SELECT doc_a, doc_b FROM (
              WITH $SimhashPairChainSql SELECT doc_a, doc_b FROM spairs)),
          cm AS MATERIALIZED (SELECT vec_a AS doc_a, vec_b AS doc_b FROM (
              WITH $CosineLshCtes SELECT vec_a, vec_b FROM tpairs)),
          nj AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_jaccard FROM jm),
          ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_simhash FROM sm),
          nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cosine FROM cm),
          ijs AS (SELECT CAST(COUNT(*) AS BIGINT) AS i_js
                  FROM jm JOIN sm USING (doc_a, doc_b)),
          ijc AS (SELECT CAST(COUNT(*) AS BIGINT) AS i_jc
                  FROM jm JOIN cm USING (doc_a, doc_b)),
          isc AS (SELECT CAST(COUNT(*) AS BIGINT) AS i_sc
                  FROM sm JOIN cm USING (doc_a, doc_b))
          SELECT n_jaccard, n_simhash, n_cosine, i_js, i_jc, i_sc,
            CASE WHEN n_jaccard + n_simhash - i_js = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST((i_js * 1000000) // (n_jaccard + n_simhash - i_js) AS BIGINT) END AS agree_js_micro,
            CASE WHEN n_jaccard + n_cosine - i_jc = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST((i_jc * 1000000) // (n_jaccard + n_cosine - i_jc) AS BIGINT) END AS agree_jc_micro,
            CASE WHEN n_simhash + n_cosine - i_sc = 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST((i_sc * 1000000) // (n_simhash + n_cosine - i_sc) AS BIGINT) END AS agree_sc_micro
          FROM nj, ns, nc, ijs, ijc, isc""",
    // NOTE on scoping: DuckDB does NOT reliably shadow an outer CTE
    // name inside a nested WITH (a first draft's outer `toks` captured
    // the simhash chain's inner `toks`) — so every outer name here is
    // unique (dtoks/dtot/...) and both CC chains live in fully
    // self-contained nested scopes that share no name with the outer
    // level, each surfacing its own convergence guard.
    "dedup_savings" ->
      raw"""WITH dtoks AS MATERIALIZED (SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ntok
             FROM documents),
          dtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS docs_total,
               CAST(SUM(ntok) AS BIGINT) AS tokens_total FROM dtoks),
          exr AS (SELECT d.doc_id FROM documents d
             JOIN (SELECT md5(text) AS ch, MIN(doc_id) AS keeper
                   FROM documents GROUP BY 1) k ON md5(d.text) = k.ch
             WHERE d.doc_id <> k.keeper),
          jrm0 AS MATERIALIZED (SELECT v, lbl, n_changed FROM (
             WITH jp AS MATERIALIZED (SELECT doc_a, doc_b FROM ($JaccardPairsSelect)),
             ${ccRoundsCtes("jp", "doc_a", "doc_b")}
             SELECT c.v, c.lbl, g.n_changed FROM cc_labels c, cc_guard g)),
          jrm AS (SELECT v AS doc_id FROM jrm0 WHERE v <> lbl),
          srm0 AS MATERIALIZED (SELECT v, lbl, n_changed FROM (
             WITH $SimhashPairChainSql,
             ${ccRoundsCtes("spairs", "doc_a", "doc_b")}
             SELECT c.v, c.lbl, g.n_changed FROM cc_labels c, cc_guard g)),
          srm AS (SELECT v AS doc_id FROM srm0 WHERE v <> lbl),
          acc AS (
            SELECT 'exact' AS method,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM exr) AS docs_removed,
              (SELECT CAST(coalesce(SUM(t.ntok), 0) AS BIGINT)
               FROM exr JOIN dtoks t USING (doc_id)) AS tokens_removed
            UNION ALL
            SELECT 'ngram_cluster',
              (SELECT CAST(COUNT(*) AS BIGINT) FROM jrm),
              (SELECT CAST(coalesce(SUM(t.ntok), 0) AS BIGINT)
               FROM jrm JOIN dtoks t USING (doc_id))
            UNION ALL
            SELECT 'simhash_cluster',
              (SELECT CAST(COUNT(*) AS BIGINT) FROM srm),
              (SELECT CAST(coalesce(SUM(t.ntok), 0) AS BIGINT)
               FROM srm JOIN dtoks t USING (doc_id)))
          SELECT * FROM (
            SELECT a.method, dtot.docs_total, a.docs_removed,
              dtot.tokens_total, a.tokens_removed,
              CASE WHEN dtot.tokens_total = 0 THEN CAST(0 AS BIGINT)
                   ELSE CAST((a.tokens_removed * 1000000) // dtot.tokens_total AS BIGINT) END AS saved_micro
            FROM acc a, dtot
            UNION ALL
            SELECT '~guard', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
              CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
            FROM (SELECT 1) poison
            WHERE (SELECT max(n_changed) FROM jrm0) > 0
               OR (SELECT max(n_changed) FROM srm0) > 0)
          ORDER BY method""",
    // stp/smp mirror sampledCleanEmbeddings: step = 1 at every verify
    // sf (n = 500), so the sample is the whole corpus here
    "dedup_embedding_cosine" ->
      s"""WITH $EmbCleanSql,
          stp AS (SELECT greatest(1, CAST(ceil(COUNT(*) / 2000.0) AS BIGINT)) AS step FROM embc),
          e AS (SELECT vec_id, embedding FROM embc, stp WHERE vec_id % step = 0)
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
            round(${DotSql("a.embedding", "b.embedding")} /
              (sqrt(${DotSql("a.embedding", "a.embedding")}) *
               sqrt(${DotSql("b.embedding", "b.embedding")})), 6) AS sim_r
          FROM e a JOIN e b ON a.vec_id < b.vec_id
          WHERE ${DotSql("a.embedding", "b.embedding")} /
              (sqrt(${DotSql("a.embedding", "a.embedding")}) *
               sqrt(${DotSql("b.embedding", "b.embedding")})) > 0.3
          ORDER BY vec_a, vec_b""",
    "dedup_embedding_cosine_lsh" ->
      s"""WITH $CosineLshCtes
          SELECT vec_a, vec_b, sim_r FROM tpairs ORDER BY vec_a, vec_b""",
    // the oracle replays the FULL pair set (the candidate filter is a
    // pure perf cut: pairs with both sides even are never consulted by
    // the batch-side aggregation, so full vs filtered agree exactly)
    "dedup_embedding_incremental" ->
      s"""WITH $CosineLshCtes,
          m AS (SELECT vec_a AS v, vec_b AS partner FROM tpairs
                UNION ALL SELECT vec_b, vec_a FROM tpairs),
          bm AS (SELECT v,
                   CAST(SUM(CASE WHEN partner % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cm,
                   CAST(SUM(CASE WHEN partner % 2 = 1 AND partner < v THEN 1 ELSE 0 END) AS BIGINT) AS bm
                 FROM m WHERE v % 2 = 1 GROUP BY v)
          SELECT e.vec_id,
            coalesce(bm.cm, 0) AS n_corpus_matches,
            coalesce(bm.bm, 0) AS n_earlier_batch_matches,
            (coalesce(bm.cm, 0) = 0 AND coalesce(bm.bm, 0) = 0) AS kept
          FROM (SELECT vec_id FROM embc WHERE vec_id % 2 = 1) e
          LEFT JOIN bm ON bm.v = e.vec_id
          ORDER BY e.vec_id""",
    "dedup_embedding_lsh_eval" ->
      s"""WITH $CosineLshCtes,
          stp AS (SELECT greatest(1, CAST(ceil(COUNT(*) / 2000.0) AS BIGINT)) AS step FROM embc),
          smp AS (SELECT vec_id, embedding FROM embc, stp WHERE vec_id % step = 0),
          ex AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
                 FROM smp a JOIN smp b ON a.vec_id < b.vec_id
                 WHERE ${DotSql("a.embedding", "b.embedding")} /
                     (sqrt(${DotSql("a.embedding", "a.embedding")}) *
                      sqrt(${DotSql("b.embedding", "b.embedding")})) > 0.3),
          tp AS (SELECT t.* FROM tpairs t, stp
                 WHERE t.vec_a % step = 0 AND t.vec_b % step = 0),
          ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex),
          nl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lsh FROM tp),
          nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_both
                 FROM ex WHERE EXISTS (SELECT 1 FROM tp t
                                       WHERE t.vec_a = ex.vec_a AND t.vec_b = ex.vec_b))
          SELECT n_exact, n_lsh, n_both,
            CASE WHEN n_lsh = 0 THEN NULL
                 ELSE round(CAST(n_both AS DOUBLE) / CAST(n_lsh AS DOUBLE), 6) END AS precision_r,
            CASE WHEN n_exact = 0 THEN NULL
                 ELSE round(CAST(n_both AS DOUBLE) / CAST(n_exact AS DOUBLE), 6) END AS recall_r
          FROM ne, nl, nb""",
    "dedup_semantic_cluster" -> semanticClusterOracle,
  )

  /** Unrolled CC rounds for the semantic-cluster oracle. The round-6
    * oracle computed the component min via a RECURSIVE transitive-
    * closure CTE — correct, but Σ_c m_c² rows: the sf1 replay corpus
    * collapses into ONE 20000-node component (400M closure rows) and
    * the replay ran >20 min before interrupt, with or without a
    * materialized edge list. This is the same lesson the Spark side
    * learned with star-contraction: never materialize reachability,
    * iterate labels. Here: hash-to-min label propagation — each round
    * takes the min of (own label, neighbors' labels, label's label);
    * the pointer-jump term halves label-chain depth per round, so
    * [[CcOracleRounds]] = 24 unrolled rounds cover any component an
    * sf replay can produce (log₂-ish convergence; measured: the sf1
    * giant component converges well inside it, full oracle 7.6 s).
    * Fixpoint = component min — identical to the star-contraction
    * labels. One extra round feeds the convergence guard: if ANY label
    * still changes in round R+1, a poison row (-1, -1) is emitted and
    * the row-count compare fails LOUDLY — an unconverged oracle can
    * never silently pass.
    *
    * lazy: referenced from the (object-init-forced) oracles map before
    * this declaration point — a plain val would read as 0 there (the
    * same initialization-order constraint as CosineLshCtes). */
  private lazy val CcOracleRounds = 24

  /** The rounds + guard as a reusable CTE chain over ANY pair CTE
    * `(aCol, bCol)` — ends in `cc_labels(v, lbl)` (the converged
    * labels) and `cc_guard(n_changed)` (how many labels round R+1
    * would still change — nonzero means unconverged). Every consumer
    * must gate a schema-shaped poison row on cc_guard so an
    * unconverged fixpoint fails its compare loudly. Shared by all
    * three cluster families (jaccard, cosine, simhash) and the
    * keeper election.
    *
    * cc_pairs is MATERIALIZED before edges: the UNION's two branches
    * otherwise inline the (possibly very expensive) pair-producing
    * chain TWICE — the simhash chain's 320M-row bits CTE evaluated
    * doubly at sf1 spilled ~80 GB of DuckDB temp before running the
    * disk out. Same lesson as the Spark side's localCheckpoint before
    * self-joins: no cross-branch CSE anywhere. */
  private[ops] def ccRoundsCtes(pairsCte: String, aCol: String, bCol: String): String = {
    val rounds = (1 to CcOracleRounds + 1).map { i =>
      val p = s"l${i - 1}"
      s"""l$i AS MATERIALIZED (
           SELECT p.v, LEAST(p.lbl, COALESCE(nm.m, p.lbl), COALESCE(j.lbl, p.lbl)) AS lbl
           FROM $p p
           LEFT JOIN (SELECT e.s AS v, MIN(pl.lbl) AS m
                      FROM edges e JOIN $p pl ON pl.v = e.t GROUP BY e.s) nm
             ON nm.v = p.v
           LEFT JOIN $p j ON j.v = p.lbl)"""
    }.mkString(",\n          ")
    val (fin, grd) = (s"l$CcOracleRounds", s"l${CcOracleRounds + 1}")
    s"""cc_pairs AS MATERIALIZED (SELECT $aCol AS pa, $bCol AS pb FROM $pairsCte),
        edges AS MATERIALIZED (SELECT pa AS s, pb AS t FROM cc_pairs
                  UNION ALL SELECT pb, pa FROM cc_pairs),
        l0 AS MATERIALIZED (SELECT s AS v, LEAST(s, MIN(t)) AS lbl
                            FROM edges GROUP BY s),
        $rounds,
        cc_labels AS (SELECT v, lbl FROM $fin),
        cc_guard AS (SELECT COUNT(*) AS n_changed
                     FROM $fin a JOIN $grd b ON a.v = b.v AND a.lbl <> b.lbl)"""
  }

  /** Unrolled PageRank rounds over `pairsCte(aCol, bCol)` — the DuckDB
    * half of [[pagerankFrom]], ending in `pr{PrRounds}(doc_id, deg,
    * tele, pr)`. Every round references its predecessor once and the
    * edge list once; both are MATERIALIZED (the re-inlining gotcha
    * would otherwise replay the whole shingle chain per round). */
  private[ops] def prRoundsCtes(pairsCte: String, aCol: String, bCol: String): String = {
    val rounds = (1 to PrRounds).map { i =>
      val p = s"pr${i - 1}"
      s"""pr$i AS MATERIALIZED (
           SELECT p.doc_id, p.deg, p.tele, p.tele + COALESCE(cm.m, 0) AS pr
           FROM $p p
           LEFT JOIN (SELECT e.dst,
                        CAST(SUM(($PrDampMicro * (q.pr // q.deg)) // 1000000) AS BIGINT) AS m
                      FROM $p q JOIN pr_edges e ON e.src = q.doc_id
                      GROUP BY e.dst) cm
             ON cm.dst = p.doc_id)"""
    }.mkString(",\n        ")
    s"""pr_pairs AS MATERIALIZED (SELECT $aCol AS pa, $bCol AS pb FROM $pairsCte),
        pr_edges AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pr_pairs
                  UNION ALL SELECT pb, pa FROM pr_pairs),
        pr_deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
                  FROM pr_edges GROUP BY src),
        pr_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM pr_deg),
        pr0 AS MATERIALIZED (SELECT d.src AS doc_id, d.deg,
                  (150000 * (CAST($PrTotalMass AS BIGINT) // n.n_nodes)) // 1000000 AS tele,
                  CAST($PrTotalMass AS BIGINT) // n.n_nodes AS pr
                FROM pr_deg d CROSS JOIN pr_n n),
        $rounds"""
  }

  private lazy val semanticClusterOracle: String =
    s"""WITH $CosineLshCtes,
        ${ccRoundsCtes("tpairs", "vec_a", "vec_b")}
        SELECT * FROM (
          SELECT v AS vec_id, lbl AS cluster_keeper FROM cc_labels
          UNION ALL
          SELECT -1, -1 FROM (SELECT 1) poison
          WHERE (SELECT n_changed FROM cc_guard) > 0)
        ORDER BY vec_id"""

  /** Multi-table sign-LSH candidate chain ending in the exact-verified
    * thresholded pair set `tpairs(vec_a, vec_b, sim_r)` — shared by the
    * pair query and the semantic-cluster CC rounds. */
  /** DuckDB spelling of [[cleanEmbeddings]] — the corrupt-vector gate
    * both engines apply identically. */
  // lazy: declared after the oracles val that interpolates it (same
  // initialization-order constraint as CosineLshCtes below)
  private[ops] lazy val EmbCleanSql =
    s"""embc AS (SELECT vec_id, embedding FROM embeddings
         WHERE len(embedding) = ${EmbGate.Dim}
           AND sqrt(${DotSql("embedding", "embedding")}) > 0
           AND NOT isnan(sqrt(${DotSql("embedding", "embedding")}))
           AND NOT isinf(sqrt(${DotSql("embedding", "embedding")})))"""

  private lazy val CosineLshCtes = {
    val tableSql = (0 until PairLshTables).map { t =>
      val key = (0 until PairLshBits).map(j =>
        s"CASE WHEN embedding[${PairLshBits * t + j + 1}] >= 0 THEN '1' ELSE '0' END")
        .mkString("(", " || ", ")")
      s"SELECT vec_id, $t AS t, $key AS bucket FROM embc"
    }.mkString(" UNION ALL ")
    s"""$EmbCleanSql,
        bk AS ($tableSql),
        cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                 FROM bk a JOIN bk b
                   ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        tpairs AS (SELECT p.vec_a, p.vec_b,
            round(${DotSql("a.embedding", "b.embedding")} /
              (sqrt(${DotSql("a.embedding", "a.embedding")}) *
               sqrt(${DotSql("b.embedding", "b.embedding")})), 6) AS sim_r
          FROM cand p
          JOIN embc a ON a.vec_id = p.vec_a
          JOIN embc b ON b.vec_id = p.vec_b
          WHERE ${DotSql("a.embedding", "b.embedding")} /
              (sqrt(${DotSql("a.embedding", "a.embedding")}) *
               sqrt(${DotSql("b.embedding", "b.embedding")})) > 0.3)"""
  }
}
