package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Incremental sequence packing (twin #42) — the streaming form of
  * `pack_sequences` (ops/PipelineOps.scala): documents arriving on a
  * stream are appended into the OPEN tail bins of their shard, bins
  * close as the running token total crosses each [[CtxTokens]]
  * boundary, and an assignment once emitted is NEVER revised — the
  * training-data delivery contract (a trainer may already have read
  * the bin). This is the op consumers actually read: the batch packer
  * lays out a finished corpus; a live curation pipeline packs docs as
  * curation releases them.
  *
  * Semantics: within a shard, docs pack in ARRIVAL order — (batch_id,
  * doc_id), with doc_id ordering inside a batch — and the bin id is
  * the same concat-and-chop rule as the batch op: bin =
  * (tokens-before-this-doc) div [[CtxTokens]], where tokens-before is
  * the shard's enrolled token total STRICTLY BELOW this batch plus the
  * intra-batch running sum. When the stream delivers docs in doc_id
  * order (the common case: an upstream stage emits curated spans in
  * key order), arrival order ≡ doc_id order and the final ledger is
  * BYTE-EQUAL to the batch `pack_sequences` (PackIngestSpec pins it).
  * An out-of-order delivery yields a DIFFERENT but equally valid
  * packing — every doc exactly once, same per-shard fill discipline —
  * pinned against an arrival-order recompute; it cannot equal the
  * batch layout and no streaming packer that never revises emissions
  * can do better (a late small-id doc would have to shift every
  * later assignment).
  *
  * Replay discipline (the twin-#40/#41 registry posture): per batch b,
  * the new-doc filter and the shard totals probe the registry
  * STRICTLY BELOW b, so a redelivered batch excludes its own earlier
  * appends and recomputes byte-identical emissions (they collapse in
  * the read fold); a doc redelivered at a LATER batch is already
  * enrolled below it and packs nothing twice. PRECONDITION: batch ids
  * monotone over the store's lifetime — restarts must reuse the same
  * checkpoint; a new campaign needs a new store dir ([[init]] clears
  * ledger and registry both).
  *
  * State at 100 TB: the registry carries one row per enrolled doc
  * (id, shard, n_tok, batch) — the packer itself needs only
  * [[graft.ops.PipelineOps.NShards]] running totals, but the registry
  * is what makes redelivery and late-duplicate suppression exact. The
  * per-batch probe is one filtered aggregate over it (NShards-row
  * output, broadcast back); emission work is ∝ the batch, not the
  * history. The LEDGER compacts to one row per doc
  * ([[IndexCompaction.compactFirstDelivery]] — all rows for a key are
  * byte-identical by the replay argument, so first-delivery election
  * is a fixed point); the registry is NOT compactable (its probes are
  * strict-below, so a fold would move their replay horizon). */
object PackIngest {
  private val NShards = graft.ops.PipelineOps.NShards
  private val CtxTokens = graft.ops.PipelineOps.CtxTokens

  /** Seed an empty store. Overwrites BOTH the registry and the ledger:
    * re-initializing a used dir must not carry a dead campaign's
    * assignments (they'd win the min-batch election). */
  def init(s: SparkSession, dir: String): Unit = {
    s.range(0).select(col("id").as("doc_id"), col("id").as("shard"),
      lit(0).cast("int").as("n_tok"), col("id").as("batch_id"))
      .write.mode("overwrite").parquet(dir + "/docs")
    s.range(0).select(col("id").as("doc_id"), col("id").as("shard"),
      lit(0).cast("int").as("n_tok"), col("id").as("bin"),
      col("id").as("batch_id"))
      .write.mode("overwrite").parquet(dir + "/ledger")
  }

  /** Pack one arriving batch: enroll genuinely new docs, assign each a
    * bin by the shard's running token total (strictly-below registry
    * state + intra-batch cumulative sum), append assignments to the
    * ledger. See the object scaladoc for replay and order semantics. */
  def processBatch(s: SparkSession, dir: String, batch: DataFrame,
      batchId: Long): Unit = {
    // one deterministic row per arriving doc (an intra-batch duplicate
    // delivery folds to the minimum token row — byte-identical rows in
    // the honest case, deterministic under any case)
    val arriving0 = batch
      .select(col("doc_id"), (col("doc_id") % NShards).as("shard"),
        size(split(trim(col("text")), "\\s+")).as("n_tok"))
      .groupBy("doc_id")
      .agg(min(struct(col("shard"), col("n_tok"))).as("r"))
      .select(col("doc_id"), col("r.shard").as("shard"), col("r.n_tok").as("n_tok"))
    // the registry is append-only and a replayed batch appends its rows
    // AGAIN (byte-identical, same batch_id) — fold to one row per doc
    // BEFORE the token sums, or a replay doubles cum0 and shifts every
    // later bin (caught by PackIngestSpec's redelivery pin)
    val prior = s.read.parquet(dir + "/docs").where(col("batch_id") < batchId)
      .groupBy("doc_id")
      .agg(min(struct(col("batch_id"), col("shard"), col("n_tok"))).as("r"))
      .select(col("doc_id"), col("r.shard").as("shard"), col("r.n_tok").as("n_tok"))
    // a doc enrolled below this batch is already packed — at-least-once
    // redelivery packs nothing twice
    val arriving = arriving0
      .join(prior.select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    // the open-bin state: per shard, tokens enrolled strictly below b
    // (NShards rows — broadcast back into the batch)
    val cum0 = prior.groupBy("shard").agg(sum("n_tok").as("cum0"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val emissions = arriving
      .join(broadcast(cum0), Seq("shard"), "left")
      .withColumn("cum", coalesce(col("cum0"), lit(0L)) + sum("n_tok").over(w))
      .withColumn("bin", expr(s"CAST((cum - n_tok) DIV $CtxTokens AS BIGINT)"))
      .select("doc_id", "shard", "n_tok", "bin")
      .localCheckpoint(true) // materialize before the append below
                             // fattens the registry this frame read
    emissions.withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(dir + "/ledger")
    arriving.withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(dir + "/docs")
  }

  /** Caller supplies trigger + checkpoint and starts the query; the
    * checkpoint must be the SAME across restarts of a campaign (object
    * scaladoc — monotone batch ids). */
  def ingest(docs: DataFrame, dir: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        processBatch(b.sparkSession, dir, b, id)
      }

  /** The packed layout as of NOW: per doc, its first-delivered
    * assignment (all deliveries are byte-identical by the replay
    * argument — min_by makes the fold total anyway). After an in-order
    * stream closes, byte-equal to the batch `pack_sequences`. */
  def ledgerFromDir(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir + "/ledger")
      .groupBy("doc_id")
      .agg(min_by(struct(col("shard"), col("n_tok"), col("bin")),
        col("batch_id")).as("r"))
      .select(col("doc_id"), col("r.shard").as("shard"),
        col("r.n_tok").as("n_tok"), col("r.bin").as("bin"))
      .orderBy("doc_id")

  /** Fold the ledger to its elected rows (fixed point — object
    * scaladoc); the doc registry stays uncompacted (replay-horizon
    * class, refused rather than offered wrong). */
  def compact(s: SparkSession, dir: String): Unit =
    IndexCompaction.compactFirstDelivery(s, dir + "/ledger", Seq("doc_id"))
}
