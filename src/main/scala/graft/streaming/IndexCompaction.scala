package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Compaction for the append-log ledgers of the ingest twins — the
  * operation their scaladoc promises ("compactable by rewriting the
  * fold"). Under the per-batch append pattern a log ingesting 10k
  * micro-batches holds 10k parquet files, and the read-time fold pays
  * file-listing + footer costs linear in BATCHES, not in state.
  * Compaction rewrites the log to its folded form — the result every
  * future read and append sees is UNCHANGED, because each ledger's
  * fold elects one row per key and the elected rows are a fixed point
  * (argued per fold below).
  *
  * Crash story (same posture as [[UpsertSink.mergeBatch]]): the folded
  * frame is fully written to `<path>.compact` BEFORE the live log is
  * touched, then two renames swap it in with the displaced log parked
  * at `<path>.old` until the swap completes. A crash leaves either the
  * old log, the old log plus a stale tmp (overwritten on retry), or
  * the new log — never a HALF-log — with one narrow exception: a crash
  * BETWEEN the two renames leaves the store path empty and the intact
  * old log parked at `.old`. That window is self-healing on the next
  * compaction attempt ([[recoverIfInterrupted]] runs at swapIn entry
  * and restores `.old` before touching anything); a reader hitting the
  * window early can call [[recoverIfInterrupted]] itself — the restore
  * is a single rename, idempotent, and never races the fold
  * (single-writer is the supported mode, the same assumption every
  * ingest twin states). */
object IndexCompaction {

  /** Parquet file count of a log directory (the gauge compaction
    * exists to shrink). */
  def parquetFileCount(s: SparkSession, path: String): Int = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(st => st.getPath.getName.endsWith(".parquet"))
  }

  /** Heal the between-renames crash window: if the live log is MISSING
    * and an `.old` parking exists, a prior compaction died after
    * parking the log and before swapping the fold in — restore the
    * parked log (the fold attempt is abandoned; its `.compact` tmp, if
    * any, is overwritten by the next attempt). Returns true when a
    * restore happened. No-op in every healthy state, including "both
    * exist" (a crash after the second rename, where the live log is
    * already the new fold and `.old` is just un-deleted garbage). */
  def recoverIfInterrupted(s: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bak = new Path(path + ".old")
    if (!fs.exists(p) && fs.exists(bak)) {
      if (!fs.rename(bak, p))
        sys.error(s"compaction recovery: could not restore $bak to $path")
      true
    } else false
  }

  /** Write `folded` beside `path`, then swap it in atomically-enough:
    * old log parked at `.old` during the flip, removed on success,
    * restored on a failed second rename. */
  private[streaming] def swapIn(s: SparkSession, path: String, folded: DataFrame): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + ".compact")
    val bak = new Path(path + ".old")
    // materialize the fold BEFORE touching the source it reads from
    folded.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(bak, true)
    if (fs.exists(p) && !fs.rename(p, bak))
      sys.error(s"compaction: could not park the live log $path")
    if (!fs.rename(tmp, p)) {
      fs.rename(bak, p) // restore; the fold attempt is abandoned
      sys.error(s"compaction: could not swap the folded log into $path")
    }
    fs.delete(bak, true)
  }

  /** Compact a decision log whose read fold is first-delivery-wins —
    * per key, the row of the MINIMUM batch id (a min_by fold). Keeping
    * exactly that row, with its original batch id, is a fixed point: a
    * future append carries either a new key (unaffected) or a batch id
    * ≥ the kept minimum for an existing key (a replay can only
    * redeliver an already-delivered batch), so min_by keeps electing
    * the kept row. Rows tied on the kept batch id are byte-identical by
    * the store's replay argument, so the within-tie pick is immaterial.
    * The output is corpus-sized (one row per ingested key), so no
    * coalesce — AQE sizes the rewrite's parallelism to the data. */
  def compactFirstDelivery(s: SparkSession, path: String,
      keyCols: Seq[String]): Unit = {
    recoverIfInterrupted(s, path)
    val log = s.read.parquet(path)
    val rest = log.columns.filterNot(keyCols.contains).toSeq
    val folded = log.groupBy(keyCols.map(col): _*)
      .agg(min_by(struct(rest.map(col): _*), col("batch_id")).as("__r"))
      .select((keyCols.map(col) ++ rest.map(c => col(s"__r.$c").as(c))): _*)
      .select(log.columns.map(col): _*)
    swapIn(s, path, folded)
  }

  /** Compact a ledger whose read fold is PREFERRED-then-first — per
    * key, the row minimizing the caller's `preference` sort key (an
    * ascending struct; ties broken inside it by batch id). The
    * [[EnrichIngest]] ledger is the client: prefer matched enrichments
    * over unmatched (struct(1 − matched, batch_id)), then the first
    * delivery. Keeping exactly the elected row, with its original
    * batch id and preference, is a fixed point under the same argument
    * as [[compactFirstDelivery]] EXTENDED by the store's emission
    * rules: a future append is a new key (unaffected), a replayed
    * emission (byte-identical to a logged row, so its preference ties
    * or exceeds the kept minimum), or a genuinely new upgrade — whose
    * preference is smaller EXACTLY when the fold should re-elect it,
    * which the post-compaction log still does. Requires `preference`
    * to be monotone in the fold's election order, which each client
    * store must argue in its own scaladoc. */
  def compactPreferredDelivery(s: SparkSession, path: String,
      keyCols: Seq[String], preference: org.apache.spark.sql.Column): Unit = {
    recoverIfInterrupted(s, path)
    val log = s.read.parquet(path)
    val rest = log.columns.filterNot(keyCols.contains).toSeq
    val folded = log.groupBy(keyCols.map(col): _*)
      .agg(min_by(struct(rest.map(col): _*), preference).as("__r"))
      .select((keyCols.map(col) ++ rest.map(c => col(s"__r.$c").as(c))): _*)
      .select(log.columns.map(col): _*)
    swapIn(s, path, folded)
  }
}
