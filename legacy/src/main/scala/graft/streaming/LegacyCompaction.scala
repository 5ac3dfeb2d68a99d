package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Compaction folds of the legacy curation twins' logs, on the same
  * write-beside-then-swap protocol as [[IndexCompaction]] (whose crash
  * story and recovery apply unchanged):
  *
  *  - top-k candidate logs (bottom-k / weighted holdouts): priorities
  *    are static functions of content and batches only ADD candidates,
  *    so a row outside the current global top-k can never re-enter any
  *    future top-k — keeping exactly the current winners loses nothing.
  *  - bloom word logs: the fold is bit_or per word cell, idempotent
  *    and commutative — one pre-OR'd row per cell IS the fold. */
object LegacyCompaction {
  import IndexCompaction.{recoverIfInterrupted, swapIn}

  /** Compact a candidate log to its current top-k under (orderCols,
    * then the remaining columns as written). `keep` must be the SAME
    * ordering + k the store's read fold uses — the caller-facing
    * wrappers on each ingest object pin that. The rewritten log carries
    * batch_id = -1 (the seed sentinel: provenance of compacted rows is
    * intentionally collapsed, exactly like a seed build). */
  def compactTopK(s: SparkSession, path: String,
      order: Seq[org.apache.spark.sql.Column], k: Int,
      valueCols: Seq[String]): Unit = {
    recoverIfInterrupted(s, path)
    val folded = s.read.parquet(path)
      .select(valueCols.map(col): _*).distinct()
      .orderBy(order: _*).limit(k)
      .withColumn("batch_id", lit(-1L))
      .coalesce(1)
    swapIn(s, path, folded)
  }
  /** Compact a candidate log whose fold is a PER-GROUP top-k (the
    * per-source holdouts): within each `partCols` group, keep the k
    * best rows under `order`. Same fixed-point argument as
    * [[compactTopK]], applied group-wise — priorities are static
    * functions of content and batches only add candidates, so a row
    * outside its group's current top-k can never re-enter any future
    * per-group top-k. The cut runs as WindowGroupLimit (per-partition
    * per-group pruning before the exchange), so the rewrite shuffles
    * ≤ groups×k×partitions rows at any log size. */
  def compactGroupTopK(s: SparkSession, path: String,
      partCols: Seq[String], order: Seq[org.apache.spark.sql.Column],
      k: Int, valueCols: Seq[String]): Unit = {
    recoverIfInterrupted(s, path)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partCols.map(col): _*).orderBy(order: _*)
    val folded = s.read.parquet(path)
      .select(valueCols.map(col): _*).distinct()
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k).drop("__rk")
      .withColumn("batch_id", lit(-1L))
      .coalesce(1)
    swapIn(s, path, folded)
  }
  /** Compact a membership log whose read fold is DISTINCT over the
    * value columns plus the row's standing/ingested CLASS (batch_id
    * == -1 vs ≥ 0) — the minhash band index. Collapsing batch ids
    * WITHIN a class is invisible to the fold (the probe reads only the
    * class, never the id); collapsing ACROSS classes would not be (a
    * standing and an ingested row of the same band answer different
    * partner questions — corpus-dup vs earlier-batch-dup), so the
    * class survives the rewrite as min(batch_id) per (valueCols,
    * class): -1 for standing rows, the earliest delivery for ingested
    * ones. Content-derived like the candidate logs: a redelivered
    * batch re-appends rows that land inside an already-kept class —
    * the fixed-point argument needs no replay horizon. No coalesce:
    * the fold is corpus-sized (docs × bands), so the rewrite keeps the
    * shuffle's parallelism (AQE sizes it to the data) — the file count
    * drops from O(batches) to O(partitions). */
  def compactClassDistinct(s: SparkSession, path: String,
      valueCols: Seq[String]): Unit = {
    recoverIfInterrupted(s, path)
    val folded = s.read.parquet(path)
      .groupBy((valueCols.map(col) :+
        (col("batch_id") === -1L).as("__st")): _*)
      .agg(min("batch_id").as("batch_id"))
      .select((valueCols.map(col) :+ col("batch_id")): _*)
    swapIn(s, path, folded)
  }
  /** Compact a register log whose fold is MAX per cell key — the HLL
    * class (idempotent like OR). Every column except `valueCol` is the
    * key, so the same code serves the flat (bucket) and segmented
    * (seg, bucket) register layouts.
    *
    * Deliberately NOT offered for the ADDITIVE stores (CMS cells,
    * quantile-sketch cells, growth segdocs, dispersion partials, funnel
    * partials): their read folds dedup on batch_id BEFORE the sum, and
    * compaction erases exactly the ids a redelivered batch would
    * reconcile against — a replay arriving after compaction would
    * double-count. Additive logs compact safely only past a replay
    * horizon (offsets committed strictly beyond every logged batch),
    * an argument this harness can't check; the idempotent folds need
    * no such argument. */
  def compactMaxFold(s: SparkSession, path: String, valueCol: String): Unit = {
    recoverIfInterrupted(s, path)
    val log = s.read.parquet(path)
    val keyCols = log.columns.filterNot(_ == valueCol).toSeq
    val folded = log.groupBy(keyCols.map(col): _*)
      .agg(max(valueCol).as(valueCol))
      .select(log.columns.map(col): _*)
      .coalesce(1)
    swapIn(s, path, folded)
  }
  /** Compact a bloom word log: bit_or per cell key (every column
    * except `word` is part of the key, so the same code serves the
    * flat (word_idx) and sharded (shard, word_idx) layouts). */
  def compactBloomWords(s: SparkSession, path: String): Unit = {
    recoverIfInterrupted(s, path)
    val log = s.read.parquet(path)
    val keyCols = log.columns.filterNot(_ == "word").toSeq
    val folded = log.groupBy(keyCols.map(col): _*)
      .agg(expr("bit_or(word)").as("word"))
      .select(log.columns.map(col): _*)
      .coalesce(1)
    swapIn(s, path, folded)
  }}
