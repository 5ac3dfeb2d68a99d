package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** MinHash-LSH near-dup admission at ingest (twin #31) — the persisted
  * production shape of `dedup_minhash_incremental` (ops/DedupOps
  * .scala): a STANDING BAND INDEX (band, bkey, doc_id) is built offline
  * from the corpus; each arriving batch (1) computes its documents'
  * signatures and bands with the batch operator's own expressions
  * ([[graft.ops.DedupOps.signaturesOf]] / `bandFrame` — one hashing
  * scheme, shared, so the two can never disagree), (2) probes the
  * index ∪ its own bands for partners sharing any band bucket,
  * (3) records a decision row per document — standing-partner count,
  * earlier-ingested-partner count, the admission verdict — and
  * (4) appends its OWN bands to the index, admitted or not (the batch
  * operator counts candidates among ALL documents, so enrollment must
  * too; the decision is the report, not an enrollment filter).
  *
  * Hot-bucket cap: buckets holding more than
  * [[graft.ops.DedupOps.BandBucketCap]] documents in the CURRENT index
  * state stop pairing — the arrival-prospective form of the batch
  * operator's corpus-retrospective cap (the StreamingSubstring
  * posture): identical whenever no bucket crosses the cap, which the
  * parity spec pins on its corpus; when a bucket does cross mid-stream,
  * earlier decisions keep their (then-correct) answers — re-judging
  * history is exactly what an ingest pipeline must not do.
  *
  * Exactly-once in ANSWERS under at-least-once redelivery:
  *  - band appends carry the batch id and the index is read through a
  *    (doc_id, band, bkey) DISTINCT — re-appended bands are invisible;
  *  - decisions carry the batch id and fold per doc_id keeping the
  *    MINIMUM batch id's row ([[decisionsFromDir]]): a replay that
  *    observes a fatter index (its own bands, or — under out-of-order
  *    id arrival — later small-id docs) cannot overwrite the first
  *    delivery's verdict. MinhashIngestSpec pins the kill-between-
  *    chunks replay and the duplicated-append interleaving.
  */
object MinhashDedupIngest {

  private def bandsOf(s: SparkSession, docs: DataFrame): DataFrame =
    graft.ops.DedupOps.bandFrame(graft.ops.DedupOps.signaturesOf(s, docs))

  /** Build the standing band index from a (doc_id, text) frame.
    * batch_id −1 marks standing (offline) rows — the probe's
    * "corpus partner" class. */
  def buildBandIndex(s: SparkSession, docs: DataFrame, dir: String): Unit =
    bandsOf(s, docs).withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").parquet(dir + "/bands")

  /** Process one (doc_id, text) batch: probe, decide, append. Exposed
    * separately so the replay pins can re-deliver batches directly. */
  def processBatch(s: SparkSession, dir: String, docs: DataFrame,
      batchId: Long): Unit = {
    val newBands = bandsOf(s, docs).localCheckpoint(true)
    val indexed = s.read.parquet(dir + "/bands")
      .select(col("doc_id"), col("band"), col("bkey"),
        (col("batch_id") === -1L).as("st"))
      .distinct() // replay-appended duplicates are invisible
    val pool = indexed
      .unionByName(newBands.withColumn("st", lit(false)))
      .distinct() // a doc's own bands may already be in the index (replay)
    // arrival-prospective hot cap over the pool (scaladoc)
    val hot = pool.groupBy("band", "bkey")
      .agg(count(lit(1)).as("n")).where(col("n") > graft.ops.DedupOps.BandBucketCap)
      .select("band", "bkey")
    val kept = pool.join(broadcast(hot), Seq("band", "bkey"), "left_anti")
    val probe = kept.join(
      newBands.select(col("doc_id").as("v")).distinct(), col("doc_id") === col("v"))
      .select(col("v"), col("band"), col("bkey"))
    val partners = probe.as("a")
      .join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.v") =!= col("b.doc_id"))
      .select(col("a.v"), col("b.doc_id").as("partner"), col("b.st"))
      .distinct()
    val perDoc = partners.groupBy("v").agg(
      sum(when(col("st"), 1L).otherwise(0L)).as("cm"),
      sum(when(!col("st") && col("partner") < col("v"), 1L).otherwise(0L)).as("bm"))
    val decisions = docs.select(col("doc_id"))
      .join(perDoc, col("doc_id") === col("v"), "left")
      .select(col("doc_id"),
        coalesce(col("cm"), lit(0L)).as("n_corpus_dups"),
        coalesce(col("bm"), lit(0L)).as("n_earlier_batch_dups"))
      .withColumn("kept",
        col("n_corpus_dups") === 0 && col("n_earlier_batch_dups") === 0)
      .localCheckpoint(true) // EAGER: decisions materialize before the
                             // append below fattens the index they read
    decisions.withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(dir + "/decisions")
    newBands.withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(dir + "/bands")
  }

  /** Caller supplies trigger + checkpoint and starts the query. */
  def ingest(docs: DataFrame, dir: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        processBatch(b.sparkSession, dir, b, id)
      }

  /** Rewrite both logs to their folded forms — probe- and
    * decision-invariant for every future read and append. The band
    * index folds per (doc_id, band, bkey, standing-class)
    * ([[LegacyCompaction.compactClassDistinct]] — the read-time
    * DISTINCT is the fold, and the probe reads the class, never the
    * batch id); the decision log folds first-delivery-wins
    * ([[IndexCompaction.compactFirstDelivery]] — exactly the
    * [[decisionsFromDir]] min_by). At 100 TB this is the index family
    * whose read cost grows fastest unbounded: every probe pays the
    * band log's file listing + DISTINCT over O(batches) appends;
    * compacted, both are O(state). */
  def compact(s: SparkSession, dir: String): Unit = {
    LegacyCompaction.compactClassDistinct(s, dir + "/bands",
      Seq("doc_id", "band", "bkey"))
    IndexCompaction.compactFirstDelivery(s, dir + "/decisions",
      Seq("doc_id"))
  }

  /** The decision log, replay-folded: per doc_id, the row of the
    * MINIMUM batch id (min_by on the whole struct — first delivery
    * wins deterministically; within one batch id replays recompute
    * identical rows because the index reads through DISTINCT). */
  def decisionsFromDir(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir + "/decisions")
      .groupBy("doc_id")
      .agg(min_by(
        struct(col("n_corpus_dups"), col("n_earlier_batch_dups"), col("kept")),
        col("batch_id")).as("r"))
      .select(col("doc_id"), col("r.n_corpus_dups"),
        col("r.n_earlier_batch_dups"), col("r.kept"))
}
