package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming left-outer enrichment with dim late arrival (twin #41) —
  * the production shape of `join_left_outer_enrich` (ops/RefOps.scala):
  * in a live pipeline the fact stream and the dimension CDC stream are
  * not synchronized, so a fact row routinely arrives BEFORE the dim row
  * that would enrich it. The batch operator cannot see this wrinkle (it
  * always joins complete frames); the production contract is: emit the
  * fact immediately with explicit null-discipline placeholders
  * ('unknown' / '(none)' / matched=0 — a report must not block on a
  * missing dimension), then UPGRADE it when the dim row lands (a later
  * ledger row with matched=1 supersedes the placeholder — changelog
  * semantics, like the reference's own upsert sink,
  * flink-applications/01-basic-jdbc.json:26).
  *
  * One envelope stream carries both kinds (`kind` ∈ fact|dim — the
  * topic-of-envelopes model the CDC sources already use): facts are
  * (o_orderkey, o_custkey), dims are (c_custkey, c_name,
  * c_mktsegment). State is two append logs with batch ids — enrolled
  * facts and enrolled dims — plus the emission LEDGER.
  *
  * Per batch b, emissions are computed from the registry state
  * STRICTLY BELOW b plus the batch's own arrivals (the twin-#40 replay
  * lever — a redelivered batch excludes its own earlier appends, so
  * the recompute is byte-identical to the first delivery):
  *  - arriving facts LEFT join the dim state visible at b (prior dims
  *    ∪ this batch's dims — a fact and its dim in one batch enrich
  *    immediately, the batch operator's degenerate case);
  *  - PRIOR facts (batch < b) inner-join the batch's genuinely NEW
  *    dims (LeftAnti the prior dim registry on the dim key) — each
  *    such pair is an upgrade emission at batch b. A dim redelivered
  *    at a later batch is not "new" (its first enrollment sits below
  *    b), so an upgrade can never double-fire; on a replay OF its
  *    first batch the strict-below probe hides its own enrollment and
  *    the identical upgrade row re-emits, collapsing in the fold.
  * Both joins BROADCAST the dim side — the batch operator's plan
  * posture (a filtered dim is the canonical broadcast candidate); the
  * fact stream never shuffles for enrichment.
  *
  * The ledger fold ([[ledgerFromDir]]) elects per fact key: the
  * matched row of the MINIMUM batch id if any (first-match-wins, so an
  * out-of-order replay cannot rewrite history), else the placeholder
  * (all placeholder rows for a key are byte-identical by the replay
  * argument). After the dim
  * stream closes, the ledger is byte-equal to the batch operator over
  * the full fact ∪ dim frames (EnrichIngestSpec pins it, plus the
  * mid-stream placeholder state the batch form can't see).
  *
  * PRECONDITION (the twin-#40 caveat verbatim): batch ids must be
  * MONOTONE over the store's lifetime — restarts must reuse the same
  * checkpoint. A fresh checkpoint resets ids to 0: the strict-below
  * probes ignore prior enrollments and re-deliveries would re-read as
  * new. A new campaign needs a new store dir, not a reset checkpoint.
  *
  * Compaction: the LEDGER folds to its elected rows
  * ([[IndexCompaction.compactPreferredDelivery]], preference
  * (1 − matched, batch_id)) — a fixed point because a future emission
  * for an existing key is either a byte-identical replay (ties) or an
  * upgrade whose preference is smaller exactly when the fold should
  * re-elect it. The FACT and DIM registries are deliberately NOT
  * compactable: their probes filter on `batch_id < b` (the replay
  * lever), and any id collapse destroys the history a replayed batch
  * folds against — the same replay-horizon class as
  * [[SetDiffIngest]]'s fingerprint registry, refused rather than
  * offered wrong. */
object EnrichIngest {

  /** Seed empty fact/dim registries (the campaign may instead pre-seed
    * dims with a standing snapshot at batch −1 via [[enrollDims]]).
    * The LEDGER is overwritten-empty too: re-initializing a previously
    * used store dir must not carry stale emissions into the new
    * campaign — old rows sit at old batch ids and would WIN the
    * min-batch election over everything the new campaign emits. */
  def init(s: SparkSession, dir: String): Unit = {
    s.range(0).select(col("id").as("c_custkey"),
      lit("").as("c_name"), lit("").as("c_mktsegment"),
      col("id").as("batch_id"))
      .write.mode("overwrite").parquet(dir + "/dims")
    s.range(0).select(col("id").as("o_orderkey"), col("id").as("o_custkey"),
      col("id").as("batch_id"))
      .write.mode("overwrite").parquet(dir + "/facts")
    s.range(0).select(col("id").as("o_orderkey"), col("id").as("o_custkey"),
      lit("").as("cust_name"), lit("").as("segment"),
      lit(0).cast("int").as("matched"), col("id").as("batch_id"))
      .write.mode("overwrite").parquet(dir + "/ledger")
  }

  /** Enroll a standing dim snapshot at batch −1 (visible to every
    * probe — the strict-below bound is < 0 only for replays of a batch
    * that never existed). */
  def enrollDims(s: SparkSession, dims: DataFrame, dir: String): Unit =
    dims.select("c_custkey", "c_name", "c_mktsegment")
      .withColumn("batch_id", lit(-1L))
      .write.mode("append").parquet(dir + "/dims")

  /** One deterministic dim version per key. The dim stream is CDC: the
    * same c_custkey can arrive twice in one batch (intra-batch
    * duplicate) or re-arrive later with NEW attributes (an update) —
    * un-folded, a fact joining it emits two matched rows at one
    * batch_id and the ledger's min_by election ties nondeterministically
    * (the [[SetDiffIngest]] onePerDoc hazard, here for dims). Election:
    * the MINIMUM (batch_id, c_name, c_mktsegment) row —
    * first-enrolled-version-wins, the same preference direction as the
    * ledger's min-batch election (a fact matched at batch 2 and a fact
    * arriving at batch 9 must see the SAME version of their shared
    * dim), with the lexicographic attribute struct breaking intra-batch
    * ties deterministically. Replay-stable: the fold's input under a
    * redelivered batch is byte-identical (strict-below registry rows
    * plus the batch's own arrivals), so its output is too. */
  private def oneDimPerKey(dims: DataFrame): DataFrame =
    dims.groupBy("c_custkey")
      .agg(min(struct(col("batch_id"), col("c_name"), col("c_mktsegment"))).as("r"))
      .select(col("c_custkey"), col("r.c_name"), col("r.c_mktsegment"))

  private def enriched(facts: DataFrame, dims: DataFrame): DataFrame =
    facts.join(broadcast(dims), col("o_custkey") === col("c_custkey"), "left_outer")
      .select(col("o_orderkey"), col("o_custkey"),
        coalesce(col("c_name"), lit("unknown")).as("cust_name"),
        coalesce(col("c_mktsegment"), lit("(none)")).as("segment"),
        when(col("c_custkey").isNotNull, 1).otherwise(0).cast("int").as("matched"))

  /** Classify one envelope batch: emit enrichments for arriving facts,
    * emit upgrades for prior facts the batch's new dims now match,
    * enroll both kinds. See the object scaladoc for the replay and
    * monotone-batch-id arguments. */
  def processBatch(s: SparkSession, dir: String, env: DataFrame,
      batchId: Long): Unit = {
    val facts = env.where(col("kind") === "fact")
      .select(col("o_orderkey"), col("o_custkey"))
      .distinct().localCheckpoint(true)
    // arriving dims fold to one row per key BEFORE anything joins them
    // (intra-batch duplicate keys with differing attributes would
    // otherwise double-emit — oneDimPerKey's doc); batch_id is the
    // arriving batch, so the fold is the same election the state fold
    // below runs
    val dims = oneDimPerKey(
        env.where(col("kind") === "dim")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
          .withColumn("batch_id", lit(batchId)))
      .localCheckpoint(true)
    val priorDimRows = s.read.parquet(dir + "/dims")
      .where(col("batch_id") < batchId)
      .select("c_custkey", "c_name", "c_mktsegment", "batch_id")
    // the dim state visible at b: prior enrollments ∪ this batch's
    // arrivals, elected to one version per key (a CDC update enrolled
    // at a later batch loses to the first enrollment — every fact,
    // whenever it arrives, sees the same version of a dim)
    val dimState = oneDimPerKey(
      priorDimRows.unionByName(dims.withColumn("batch_id", lit(batchId))))
    val newDims = dims.join(
      priorDimRows.select("c_custkey").distinct(), Seq("c_custkey"), "left_anti")
    val priorFacts = s.read.parquet(dir + "/facts")
      .where(col("batch_id") < batchId)
      .select("o_orderkey", "o_custkey").distinct()
    val emissions = enriched(facts, dimState)
      .unionByName(enriched(priorFacts, newDims).where(col("matched") === 1))
      .localCheckpoint(true) // emissions materialize before the appends
                             // below fatten the registries they read
    emissions.withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(dir + "/ledger")
    facts.withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(dir + "/facts")
    dims.withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(dir + "/dims")
  }

  /** Caller supplies trigger + checkpoint and starts the query. The
    * checkpoint must be the SAME across restarts of a campaign (object
    * scaladoc — a fresh checkpoint resets batch ids and breaks the
    * strict-below probes). */
  def ingest(env: DataFrame, dir: String): DataStreamWriter[Row] =
    env.writeStream
      .outputMode("append")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        processBatch(b.sparkSession, dir, b, id)
      }

  /** The enrichment report as of NOW: per fact, the first matched
    * emission if the dim has landed, else the placeholder — the
    * mid-stream read a dashboard takes, and after the streams close,
    * byte-equal to the batch `join_left_outer_enrich` over the same
    * frames. */
  def ledgerFromDir(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir + "/ledger")
      .groupBy("o_orderkey")
      .agg(min_by(struct(col("o_custkey"), col("cust_name"),
          col("segment"), col("matched")),
        struct((lit(1) - col("matched")).as("p"), col("batch_id").as("b")))
        .as("r"))
      .select(col("o_orderkey"), col("r.o_custkey"), col("r.cust_name"),
        col("r.segment"), col("r.matched"))
      .orderBy("o_orderkey")

  /** Compact the ledger to its elected fold (object scaladoc for the
    * fixed-point argument); the fact/dim registries stay uncompacted
    * (replay-horizon class). */
  def compact(s: SparkSession, dir: String): Unit =
    IndexCompaction.compactPreferredDelivery(s, dir + "/ledger",
      Seq("o_orderkey"),
      struct((lit(1) - col("matched")).as("p"), col("batch_id").as("b")))
}
