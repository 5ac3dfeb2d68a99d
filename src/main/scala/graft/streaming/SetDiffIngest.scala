package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming corpus reconciliation (twin #40) — the production shape
  * of `set_diff_refresh` (ops/RefOps.scala): a re-crawl never arrives
  * as a complete corpus, it streams in batches, and the pipeline wants
  * each arriving document CLASSIFIED on arrival (added / changed /
  * unchanged vs the standing fingerprint registry) plus, at close, the
  * one verdict only the end of the refresh can decide: dropped.
  *
  * State is a fingerprint registry (doc_id, fp, batch_id): standing
  * rows seeded at batch_id −1, every arriving doc appends its own fp
  * under its batch id (so a LATER re-crawl of the same doc compares
  * against the latest observed content — CDC semantics, not
  * snapshot). The probe for batch b folds the registry to each doc's
  * fp of the MAXIMUM batch id STRICTLY BELOW b — the registry state
  * the first delivery of b saw. That strict bound is the replay lever:
  * a redelivered batch excludes its own earlier appends (without it, a
  * replayed doc would compare against ITS OWN fp and every 'changed'
  * would re-decide 'unchanged') and excludes later batches' appends,
  * so the recompute is byte-identical to the first delivery;
  * re-appended registry rows collapse under the (doc_id, fp,
  * batch_id) DISTINCT read. Decisions additionally fold
  * first-delivery-wins (min batch id per doc) so even an out-of-order replay
  * cannot overwrite history.
  *
  * Fingerprints compare NULL-SAFELY (`<=>`) and presence is decided by
  * registry membership, never fp nullability — the same two traps the
  * batch operator documents (md5(NULL) is NULL; a null-text re-crawl
  * of a null-text doc is 'unchanged', not 'changed').
  *
  * 'dropped' is NOT a per-batch verdict: absence is only decidable
  * when the refresh closes. [[diffFromDir]] computes it as standing
  * registry LeftAnti the arrived set — the one read that must wait for
  * end-of-stream, stated rather than hidden (the batch operator gets
  * it "for free" only because it sees the whole refresh at once). */
object SetDiffIngest {

  private def fp(df: DataFrame): DataFrame =
    df.select(col("doc_id"), md5(col("text")).as("fp"))

  /** One fp per doc_id per batch, deterministically. A crawler CAN
    * deliver the same doc twice in one batch with different bodies
    * (redirect + canonical fetch); without this fold the registry
    * would hold two rows at one batch_id, `max_by(fp, batch_id)`
    * would tie nondeterministically, and the batch would emit two
    * conflicting decision rows whose first-delivery min_by fold is
    * also a tie — breaking the byte-identical-replay argument. The
    * lexicographic-max fp is an arbitrary but DETERMINISTIC electee,
    * so first delivery and every replay elect the same row. */
  private def onePerDoc(fps: DataFrame): DataFrame =
    fps.groupBy("doc_id").agg(max(col("fp")).as("fp"))

  /** Seed the fingerprint registry with the standing corpus. */
  def buildFpIndex(s: SparkSession, docs: DataFrame, dir: String): Unit =
    onePerDoc(fp(docs)).withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").parquet(dir + "/fps")

  /** Classify one arriving re-crawl batch against the registry state
    * strictly before `batchId`, record the decisions, enroll the
    * batch's fingerprints.
    *
    * PRECONDITION (same single-writer caveat as the ingest): batch ids
    * must be MONOTONE over the store's lifetime — i.e. restarts must
    * reuse the same checkpoint so Spark keeps numbering where it left
    * off. Restarting against an existing registry with a FRESH
    * checkpoint resets ids to 0: the strict `batch_id < b` probe then
    * ignores every prior enrollment (all at ids ≥ 0), and the new
    * decisions at smaller ids win the min_by first-delivery fold,
    * silently overwriting recorded history. A new refresh campaign
    * over an existing standing corpus needs a NEW store dir (re-seed
    * via [[buildFpIndex]]), not a reset checkpoint. */
  def processBatch(s: SparkSession, dir: String, docs: DataFrame,
      batchId: Long): Unit = {
    val arriving = onePerDoc(fp(docs)).localCheckpoint(true)
    val registry = s.read.parquet(dir + "/fps")
      .where(col("batch_id") < batchId)
      .select("doc_id", "fp", "batch_id").distinct()
      .groupBy("doc_id")
      .agg(max_by(col("fp"), col("batch_id")).as("known_fp"),
        lit(true).as("known"))
    val decisions = arriving
      .join(registry, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("known").isNull, lit("added"))
          .when(col("fp") <=> col("known_fp"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
      .localCheckpoint(true) // decisions materialize before the append
                             // below fattens the registry they read
    decisions.withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(dir + "/decisions")
    arriving.withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(dir + "/fps")
  }

  /** Caller supplies trigger + checkpoint and starts the query. The
    * checkpoint must be the SAME across restarts of a campaign (see
    * [[processBatch]] — a fresh checkpoint resets batch ids and breaks
    * the strict-below probe and the first-delivery fold). */
  def ingest(docs: DataFrame, dir: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        processBatch(b.sparkSession, dir, b, id)
      }

  /** Compact the DECISION log to its first-delivery fold — safe
    * because a replay's batch id is ≥ the kept minimum, so min_by keeps
    * electing the kept row. The fp REGISTRY is deliberately NOT
    * compactable: its probe filters on `batch_id < b`, so the fold a
    * replayed batch b needs is the registry's history BELOW b, and any
    * rewrite that collapses ids destroys it (a doc whose only surviving
    * row carries an id ≥ b would read as ABSENT to the replay and
    * re-decide 'added'). The registry is compactable only once offsets
    * are committed strictly beyond every logged batch — an argument
    * this module can't check, so it refuses to offer it rather than
    * offer it wrong. */
  def compact(s: SparkSession, dir: String): Unit =
    IndexCompaction.compactFirstDelivery(s, dir + "/decisions",
      Seq("doc_id"))

  /** The reconciliation ledger after the refresh closes: every
    * arriving doc's first-delivery verdict, plus 'dropped' for every
    * standing doc the refresh never re-delivered — byte-identical to
    * the batch `set_diff_refresh` over the same standing corpus and
    * the union of the batches (pinned in SetDiffIngestSpec). */
  def diffFromDir(s: SparkSession, dir: String): DataFrame = {
    val dec = s.read.parquet(dir + "/decisions")
      .groupBy("doc_id")
      .agg(min_by(col("status"), col("batch_id")).as("status"))
    val dropped = s.read.parquet(dir + "/fps")
      .where(col("batch_id") === -1L).select("doc_id").distinct()
      .join(dec.select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("status", lit("dropped"))
    dec.unionByName(dropped).orderBy("doc_id")
  }
}
