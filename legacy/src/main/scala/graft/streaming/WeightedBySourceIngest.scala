package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Maintained per-SOURCE weighted holdouts at ingest (twin #39) — the
  * production shape of `sample_weighted_by_source`
  * (ops/PipelineOps.scala): a standing exact-k-per-source
  * token-mass-weighted draw per domain, the per-domain eval sets a
  * mixture pipeline actually keeps live (a corpus-wide holdout
  * underrepresents small sources by construction; these don't).
  *
  * Same monoid posture as [[WeightedSampleIngest]] (twin #36), applied
  * PER GROUP: the A-ES priority is a pure function of the document's
  * content, and for every source the top-k by priority of a union
  * equals the top-k of the parts' per-source top-ks — so each batch
  * appends only its own per-source k-best candidates and the standing
  * sample is a read-time per-source fold over the DISTINCT candidate
  * set. Redelivery appends byte-identical rows that collapse — no
  * state store, no decision log. Per-batch cost: the batch's own
  * per-group cut (WindowGroupLimit prunes per-partition BEFORE the
  * exchange, so the shuffle carries ≤ sources×k×partitions rows) +
  * a ≤ sources×k-row append.
  *
  * Both weighted caveats are inherited and stated, not hidden: w
  * derives from the batch's OWN text (content addressing — a doc
  * redelivered with different text enrolls twice), and a doc
  * redelivered under a DIFFERENT source label enrolls in both sources'
  * candidate sets (source is part of the draw's identity, exactly as
  * in the batch operator, where a relabeled doc IS a different draw
  * member). */
object WeightedBySourceIngest {

  private def topK(docs: DataFrame): DataFrame =
    graft.ops.PipelineOps.weightedSourceTopK(docs)

  /** Seed the candidate log with the standing corpus's per-source
    * top-k. */
  def buildSampleIndex(s: SparkSession, docs: DataFrame, dir: String): Unit =
    topK(docs).withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").parquet(dir + "/cands")

  /** Append one batch's per-source weighted top-k candidates. */
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

  /** Rewrite the candidate log to its folded per-source top-k —
    * result-invariant for every future read and append
    * ([[IndexCompaction]]'s fixed-point argument holds per group:
    * priorities are static functions of content and candidates only
    * add, so a row outside its source's current top-k can never
    * re-enter any future per-source top-k). */
  def compact(s: SparkSession, dir: String): Unit =
    LegacyCompaction.compactGroupTopK(s, dir + "/cands", Seq("source"),
      Seq(col("priority").desc, col("doc_id")),
      graft.ops.PipelineOps.WbkSrcK,
      Seq("source", "doc_id", "w", "priority"))

  /** The standing per-source holdouts: per-source top-k fold over the
    * DISTINCT candidate set — byte-identical to the batch operator
    * over the same corpus (the per-group monoid claim, pinned by
    * WeightedSampleSpec). */
  def sampleFromDir(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("priority").desc, col("doc_id"))
    s.read.parquet(dir + "/cands")
      .select("source", "doc_id", "w", "priority").distinct()
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= graft.ops.PipelineOps.WbkSrcK)
      .select("source", "rank", "doc_id", "w", "priority")
      .orderBy("source", "rank")
  }
}
