package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Maintained uniform holdout at ingest (twin #32) — the production
  * shape of `sample_bottomk` (ops/PipelineOps.scala): a standing
  * exactly-k uniform holdout set that stays valid as the corpus grows,
  * the eval-set complement of the split-assign twin. The mechanism is
  * the bottom-k monoid (the StreamingKmv machinery pointed at
  * SELECTION instead of cardinality): bottom-k of a union equals
  * bottom-k of the parts' bottom-ks, so each batch contributes only
  * its own k smallest salted hashes ([[graft.ops.PipelineOps.bkHash]]
  * — the batch operator's hash, shared) to an append-only candidate
  * log, and the standing sample is a read-time fold.
  *
  * Exactly-once in ANSWERS for free: the sample is a pure function of
  * the SET of appended candidates, candidates are content-derived
  * (doc_id → hash), and the read folds through a DISTINCT — any
  * redelivery interleaving appends byte-identical rows that collapse.
  * No state store, no decision log to reconcile; this is the
  * strongest replay posture in the twin shelf because the maintained
  * object is itself a monoid. Per-batch cost: the batch's own top-k
  * heap (TakeOrderedAndProject) + a k-row append; index size ≤ k rows
  * per batch ever appended, compactable by rewriting the fold. */
object BottomkSampleIngest {

  private def bottomK(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.ops.PipelineOps.bkHash(col("doc_id")).as("sample_hash"))
      .orderBy("sample_hash", "doc_id").limit(graft.ops.PipelineOps.BkK)

  /** Seed the candidate log with the standing corpus's bottom-k. */
  def buildSampleIndex(s: SparkSession, docs: DataFrame, dir: String): Unit =
    bottomK(docs).withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").parquet(dir + "/cands")

  /** Append one batch's bottom-k candidates. */
  def processBatch(s: SparkSession, dir: String, docs: DataFrame,
      batchId: Long): Unit =
    bottomK(docs).withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(dir + "/cands")

  /** Caller supplies trigger + checkpoint and starts the query. */
  def ingest(docs: DataFrame, dir: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        processBatch(b.sparkSession, dir, b, id)
      }

  /** Rewrite the candidate log to its folded bottom-k — result-
    * invariant for every future read and append ([[IndexCompaction]]'s
    * fixed-point argument: hashes are static and batches only add
    * candidates, so a row outside the current bottom-k can never
    * re-enter). Run on the deployment's own cadence to keep log files
    * ∝ state, not ∝ batches. */
  def compact(s: SparkSession, dir: String): Unit =
    LegacyCompaction.compactTopK(s, dir + "/cands",
      Seq(col("sample_hash"), col("doc_id")), graft.ops.PipelineOps.BkK,
      Seq("doc_id", "sample_hash"))

  /** The standing holdout: bottom-k fold over the DISTINCT candidate
    * set — byte-identical to the batch operator over the same corpus
    * (the monoid claim, pinned by BottomkSampleSpec). */
  def sampleFromDir(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("sample_hash", "doc_id")
    s.read.parquet(dir + "/cands")
      .select("doc_id", "sample_hash").distinct()
      .orderBy("sample_hash", "doc_id").limit(graft.ops.PipelineOps.BkK)
      .withColumn("rank", row_number().over(w).cast("int"))
      .select("rank", "doc_id", "sample_hash")
      .orderBy("rank")
  }
}
