package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Maintained WEIGHTED holdout at ingest (twin #36) — the production
  * shape of `sample_weighted_bottomk` (ops/PipelineOps.scala): a
  * standing exact-k token-mass-weighted draw that stays valid as the
  * corpus grows. Same monoid posture as [[BottomkSampleIngest]] (twin
  * #32): the A-ES priority (max of w salted md5s) is a pure function
  * of the document's content, top-k by priority of a union equals
  * top-k of the parts' top-ks, so each batch appends only its own
  * k-largest-priority candidates and the standing sample is a
  * read-time fold over the DISTINCT candidate set. Redelivery appends
  * byte-identical rows that collapse — no state store, no decision
  * log. Per-batch cost: the batch's own heap top-k
  * (TakeOrderedAndProject over a projection) + a ≤ k-row append.
  *
  * One weighted-specific caveat, pinned in WeightedSampleSpec: the
  * candidate row carries (doc_id, w, priority) and w is derived from
  * the batch's OWN text column — a document redelivered with DIFFERENT
  * text would enroll two candidate rows. That is the same
  * content-addressing assumption every content-derived twin makes
  * (the bloom/minhash ingests' doc identity), stated rather than
  * hidden. */
object WeightedSampleIngest {

  private def topK(docs: DataFrame): DataFrame =
    graft.ops.PipelineOps.weightedTopK(docs)

  /** Seed the candidate log with the standing corpus's weighted top-k. */
  def buildSampleIndex(s: SparkSession, docs: DataFrame, dir: String): Unit =
    topK(docs).withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").parquet(dir + "/cands")

  /** Append one batch's weighted top-k candidates. */
  def processBatch(s: SparkSession, dir: String, docs: DataFrame,
      batchId: Long): Unit =
    topK(docs).withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(dir + "/cands")

  /** Caller supplies trigger + checkpoint and starts the query. */
  def ingest(docs: DataFrame, dir: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        processBatch(b.sparkSession, dir, b, id)
      }

  /** Rewrite the candidate log to its folded top-k — result-invariant
    * for every future read and append ([[IndexCompaction]]'s fixed-
    * point argument; priorities are static functions of content). */
  def compact(s: SparkSession, dir: String): Unit =
    LegacyCompaction.compactTopK(s, dir + "/cands",
      Seq(col("priority").desc, col("doc_id")), graft.ops.PipelineOps.WbkK,
      Seq("doc_id", "w", "priority"))

  /** The standing weighted holdout: top-k fold over the DISTINCT
    * candidate set — byte-identical to the batch operator over the
    * same corpus (the monoid claim, pinned by WeightedSampleSpec). */
  def sampleFromDir(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("priority").desc, col("doc_id"))
    s.read.parquet(dir + "/cands")
      .select("doc_id", "w", "priority").distinct()
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(graft.ops.PipelineOps.WbkK)
      .withColumn("rank", row_number().over(w).cast("int"))
      .select("rank", "doc_id", "w", "priority")
      .orderBy("rank")
  }
}
