package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming maintenance of the join-pruning bloom filter (twin #35) —
  * the dim side of [[graft.ops.SketchOps.joinBloomPrefilter]] arriving
  * as a CDC-shaped stream (the reference's own shape: pizzeria dims
  * land as change events; here each batch of orders enrolls its
  * selective keys) while the fact-side prune stays queryable.
  *
  * The directory IS the state (the index-family contract): geometry is
  * frozen at build from PLANNED dim capacity, each micro-batch appends
  * its urgent keys' sparse word table at that geometry, and the filter
  * compacts by bit_or at read time. OR is idempotent, so — like the
  * HLL registers and unlike the CMS cells — replay safety needs no
  * batch-id machinery at all: any redelivery interleaving is absorbed
  * by the merge.
  *
  * The equality this twin pins is the one the operator actually
  * promises: at EVERY append state the prefiltered join equals the
  * plain join over the enrolled dim slice (false negatives impossible
  * by construction; false positives die in the join) — so a dim
  * UPDATE stream keeps the 100 TB fact prune correct without ever
  * rebuilding the filter. */
object JoinBloomIngest {

  /** Enroll one orders batch: filter to the selective slice, hash the
    * join keys onto the md5 grid, append their words at the standing
    * geometry. Cost ∝ the batch's own keys. */
  def appendBatch(s: SparkSession, dir: String, orders: DataFrame): Unit =
    graft.ops.SketchOps.enrollHashes(s, dir,
      orders.where(col("o_orderpriority") === "1-URGENT")
        .select(md5(col("o_orderkey").cast("string")).as("ch")).distinct())

  /** Caller supplies trigger + checkpoint and starts the query. */
  def ingest(orders: DataFrame, dir: String): DataStreamWriter[Row] =
    orders.writeStream
      .outputMode("append")
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        appendBatch(b.sparkSession, dir, b)
      }

  /** The pruned fact join against everything enrolled so far. */
  def prefilterFromIndex(s: SparkSession, d: String, dir: String): DataFrame =
    graft.ops.SketchOps.joinPrefilterFromIndex(s, d, dir)

  /** Rewrite the word log to one pre-OR'd row per cell — the fold is
    * the store's own bit_or monoid, so every future probe and append
    * is unchanged ([[IndexCompaction]]). */
  def compact(s: SparkSession, dir: String): Unit =
    LegacyCompaction.compactBloomWords(s, dir + "/words")
}
