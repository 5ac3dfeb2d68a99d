package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Probe-then-insert bloom dedup at ingest (twin #25) — the actual
  * Dolma cross-snapshot pipeline, not just its filter maintenance: each
  * arriving batch (1) probes the STANDING filter, (2) elects one keeper
  * per content hash WITHIN the batch (min doc_id — the corpus_curate
  * election), (3) records a decision row per document, (4) enrolls the
  * kept hashes. Standing state is O(m) bits + the append-only decision
  * log; per-batch cost is the batch's own hashes against the broadcast
  * word table.
  *
  * Exactly-once in ANSWERS under at-least-once redelivery, from two
  * facts and one ordering constraint:
  *  - enrollment is the bloom OR-monoid — replays absorb;
  *  - a REPLAYED batch probes a filter that already contains its own
  *    hashes, so its probe rows read hit=1 where the first delivery
  *    read 0. The decision log therefore folds per (batch_id, doc_id)
  *    with min(bloom_hit) / max(keep): the FIRST delivery's answer
  *    wins deterministically (if any attempt saw the doc as new, it
  *    was new), no matter how many replays pile on;
  *  - decisions MUST be written before enrollment. If enrollment could
  *    land first and the writer crash before the decision append, the
  *    replay's hit=1 rows would be the only record of a genuinely new
  *    document. Decisions-first means every replay interleaving leaves
  *    at least one hit=0 row for the min-fold to find.
  *    BloomDedupSpec pins exactly this interleaving.
  *
  * False positives are the documented price (a new doc whose k
  * positions collide reads hit=1 and is dropped — dedup_bloom_eval
  * measures the rate, the bench gates it); false negatives remain
  * impossible: a hash, once enrolled, probes 1 forever. */
object BloomDedupIngest {

  /** Process one batch. Exposed separately so the replay pins can
    * re-deliver batches (and interleave partial state) directly. */
  def processBatch(s: SparkSession, dir: String, docs: DataFrame,
      batchId: Long): Unit = {
    val hashed = docs.select(col("doc_id"),
      md5(coalesce(col("text"), lit(""))).as("ch"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // cold start freezes the first batch's distinct count as capacity
    // (appendToBloomIndex's documented bootstrap)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir + "/geom")))
      graft.ops.SketchOps.bloomGeomOf(hashed.select("ch").distinct())
        .coalesce(1).write.mode("overwrite").parquet(dir + "/geom")
    val hits =
      if (fs.exists(new org.apache.hadoop.fs.Path(dir + "/words")))
        graft.ops.SketchOps.bloomHitsOf(s, hashed, dir)
      else hashed.select(col("doc_id"), lit(0).as("bloom_hit"))
    // within-batch election: the batch's own duplicates never reach the
    // filter as distinct hashes, so one keeper per hash (min doc_id)
    val elected = hashed.groupBy("ch").agg(min("doc_id").as("keeper"))
    val decisions = hashed.join(hits, "doc_id")
      .join(elected, "ch")
      .select(col("doc_id"), col("ch"), col("bloom_hit"),
        (col("bloom_hit") === 0 && col("doc_id") === col("keeper"))
          .cast("int").as("keep"))
      .localCheckpoint(true) // EAGER pin (explicitly, though true is the
                             // default): the probe answers must
                             // materialize BEFORE enrollment mutates the
                             // filter this frame reads — eagerness, not
                             // just checkpointing, is the load-bearing
                             // property; a lazy checkpoint would defer
                             // the scan past enrollHashes' append
    // ordering constraint: decisions land before enrollment (scaladoc)
    decisions.withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(dir + "/decisions")
    graft.ops.SketchOps.enrollHashes(s, dir,
      decisions.where(col("keep") === 1).select("ch"))
  }

  /** Caller supplies trigger + checkpoint and starts the query. */
  def ingest(docs: DataFrame, dir: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        processBatch(b.sparkSession, dir, b, id)
      }

  /** Rewrite the word log to one pre-OR'd row per cell — probe-
    * invariant (bit_or is the store's own fold, [[IndexCompaction]]).
    * The DECISIONS log is deliberately NOT compacted: it is the
    * operator's output history, not folded state, and its replay fold
    * is keyed by batch_id (provenance compaction would erase the very
    * column the fold reconciles on). */
  def compact(s: SparkSession, dir: String): Unit =
    LegacyCompaction.compactBloomWords(s, dir + "/words")

  /** The decision log, replay-folded: min(bloom_hit) / max(keep) per
    * (batch_id, doc_id) — the first delivery's answer, deterministically,
    * under any redelivery count or interleaving. */
  def decisionsFromDir(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir + "/decisions")
      .groupBy("batch_id", "doc_id")
      .agg(min("bloom_hit").as("bloom_hit"), max("keep").as("keep"))
      .select("doc_id", "bloom_hit", "keep")
}
