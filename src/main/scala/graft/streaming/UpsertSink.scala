package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.Row

/** Keyed upsert sink — the engine's equivalent of Flink's upsert-kafka
  * sink (reference: 01-basic-jdbc.json:26): latest value per key wins,
  * a null/tombstone marker deletes the key.
  *
  * Local/test materialization is a parquet "keyed table" merged per
  * micro-batch via foreachBatch. The table is laid out in hash buckets
  * of the key (`graft_bucket=K/` partition dirs) so a merge rewrites
  * ONLY the buckets containing batch keys. The bucket count follows the
  * table's size (see [[mergeBatch]]): about one read split
  * (`spark.sql.files.maxPartitionBytes`) per bucket. So a small table is
  * one bucket and a merge into it writes one dir, and a large table's
  * per-batch write cost is O(touched buckets of bounded size), not
  * O(table). At cluster scale the same merge logic targets a compacted
  * Kafka topic (append with key bytes; compaction collapses) or a
  * MERGE-capable table format — the per-batch dedup (latest image per
  * key) is the part that must be correct either way.
  *
  * The table root also holds the sink's own schema file (`_graft_schema`,
  * the data columns as Spark's JSON schema), written by every whole-table
  * rewrite, the only path that can change the schema. A merge and a read
  * open the table with it instead of inferring the schema with a
  * footer-reading Spark job; a table without the file (one not written by
  * this sink, or one whose file was removed) is inferred as before.
  */
object UpsertSink {

  /** What one [[mergeBatch]] call did, from values the merge already
    * holds (no extra job): the table's bucket count after the merge, the
    * bucket dirs it rewrote, and whether it rewrote the whole table
    * (first write, layout migration, re-bucket or schema change). */
  case class MergeStats(buckets: Int, bucketsRewritten: Int, fullRewrite: Boolean)

  private val BucketCol = "graft_bucket"

  /** Park suffix for WHOLE-TABLE swaps (first write / migration /
    * re-bucket) — distinct from the per-bucket `.bak` park because its
    * contents carry the old layout's bucket count and must never be
    * merged dir-by-dir into the new layout. */
  private val BakFullSuffix = ".bak.full"

  /** Layout marker persisted at the table root: the bucket count the
    * stored rows were hashed with. Underscore-prefixed so Spark's parquet
    * reader and the data-presence check both ignore it. */
  private val LayoutMarker = "_graft_nbuckets"

  /** Schema file at the table root: the data columns' schema as JSON.
    * Underscore-prefixed for the same reason as the layout marker. */
  private val SchemaFile = "_graft_schema"

  private def bucketOf(keyCols: Seq[String], n: Int) =
    pmod(hash(keyCols.map(col): _*), lit(n))

  private def writeSmallFile(fs: FileSystem, file: Path, content: String): Unit = {
    val out = fs.create(file, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** The whole file as text, or None if it is missing. Reads to EOF: a
    * single read() may return short on non-local filesystems, and a
    * truncated bucket count would misparse (silently forcing a full-table
    * rewrite on every merge). */
  private def readSmallFile(fs: FileSystem, file: Path): Option[String] =
    if (!fs.exists(file)) None
    else {
      val in = fs.open(file)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val bytes = new Array[Byte](4096)
        var n = in.read(bytes)
        while (n > 0) { buf.write(bytes, 0, n); n = in.read(bytes) }
        Some(new String(buf.toByteArray, "UTF-8"))
      } finally in.close()
    }

  /** Bucket count for a merge when the caller names none: the stored
    * count, grown to the smallest power of two that gives each bucket at
    * most one read split of the table's current bytes. A fresh table gets
    * 1. Counts only grow, and only by powers of two, so a table is
    * re-bucketed (one full rewrite each) at most log2 times in its life
    * and a delete-heavy table cannot flap between counts. */
  private[graft] def sizedBuckets(stored: Option[Int], tableBytes: Long,
      splitBytes: Long): Int = {
    val splits = (tableBytes + splitBytes - 1) / splitBytes
    val bySize = if (splits <= 1) 1 else (java.lang.Long.highestOneBit(splits - 1) << 1).toInt
    math.max(stored.getOrElse(1), bySize)
  }

  /** Bytes of the table's data files, from a driver-side listing (no
    * Spark job); 0 for a missing table. Plain `listStatus`, not
    * `listFiles`: a located status reads each file's permissions, which
    * on the local filesystem forks a process per file. */
  private def dataBytes(fs: FileSystem, dir: Path): Long =
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).iterator.map { st =>
      val name = st.getPath.getName
      if (name.startsWith("_") || name.startsWith(".")) 0L
      else if (st.isDirectory) dataBytes(fs, st.getPath)
      else st.getLen
    }.sum

  private def readLayoutMarker(fs: FileSystem, target: Path): Option[Int] =
    readSmallFile(fs, new Path(target, LayoutMarker)).flatMap(_.trim.toIntOption)

  /** The stored schema of the data columns; None when the file is
    * missing, and the caller infers it instead. */
  private def readSchemaFile(fs: FileSystem, target: Path): Option[StructType] =
    readSmallFile(fs, new Path(target, SchemaFile))
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  /** A reader for the table rooted at `root`: with its schema file where
    * it has one, else one that infers the schema (a footer-reading job),
    * as for a per-bucket `.bak` park. */
  private def reader(spark: SparkSession, fs: FileSystem, root: Path): DataFrameReader =
    readSchemaFile(fs, root).fold(spark.read)(spark.read.schema)

  /** Hook for tests: invoked between a bucket's rename-out and rename-in
    * during the per-bucket swap, so a concurrent-reader test can observe
    * the table mid-swap deterministically. */
  private[graft] var midSwapPause: () => Unit = () => ()

  /** Merge one (micro-)batch into the keyed parquet table at `path`.
    * - batch rows are deduped to latest-per-key by (versionCol, tiebreak);
    * - rows with `deleteCol = true` act as tombstones;
    * - existing keys not in the batch are preserved;
    * - only buckets containing batch keys are rewritten (untouched bucket
    *   files are not opened, let alone rewritten).
    *
    * Crash story (parquet harness; production = Delta/Iceberg MERGE or a
    * compacted topic): each bucket flips old→new atomically via rename,
    * and a crash mid-swap leaves every bucket complete (old or new) with
    * displaced old buckets parked in `path.bak` for [[readKeyedTable]]'s
    * recovery. Cross-bucket atomicity is NOT claimed: after a crash some
    * buckets may be new and some restored-old, and correctness instead
    * comes from replay — the streaming checkpoint re-delivers the batch
    * and the version-gated latest-wins merge is idempotent, so the retry
    * converges every bucket to the new state. Concurrent readers of the
    * raw directory may transiently miss a mid-rename bucket; single-writer
    * single-reader-after-batch is the supported harness mode. The schema
    * file is written into the staged table before its commit rename, so
    * a crash leaves the committed table with its own schema file (or, for
    * a restored park, the park's), never another table's.
    *
    * Side jobs: the table is opened with its schema file (no inference
    * job), and a one-bucket table's touched bucket is 0 without a job
    * (an empty batch then rewrites bucket 0 unchanged). So a merge into a
    * small table runs its write job and nothing else.
    *
    * Bucket count: a positive `nBuckets` fixes it. The default (0) sizes
    * it on every call from the stored layout marker and a driver-side
    * listing of the table's bytes ([[sizedBuckets]]), with
    * `spark.sql.files.maxPartitionBytes` as the target bytes per bucket,
    * because a bucket is the unit a reader splits on. A count that
    * differs from the stored one takes the full-rewrite branch below.
    */
  def mergeBatch(batch: DataFrame, keyCols: Seq[String], versionCol: String,
      path: String, deleteCol: Option[String] = None,
      tiebreakCols: Seq[String] = Nil,
      nBuckets: Int = 0): MergeStats = {
    require(nBuckets >= 0, s"nBuckets must be >= 0 (0 sizes it), got $nBuckets")
    val spark = batch.sparkSession
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recovery first: the marker and the size below must describe the
    // table as it stands at the target path
    val existingRaw: Option[DataFrame] = readKeyedTableRaw(spark, fs, path)
    val storedBuckets = readLayoutMarker(fs, target)
    val n =
      if (nBuckets > 0) nBuckets
      else sizedBuckets(storedBuckets, dataBytes(fs, target),
        spark.sessionState.conf.filesMaxPartitionBytes)
    // latest-wins ACROSS batch and existing table: CDC delivery is
    // at-least-once and may replay old events, so an image (or tombstone)
    // only applies if its version is >= what the table already holds.
    // Ties prefer the batch (the result-table use case carries a constant
    // version and must take the fresh recompute). The bucket leads the
    // partition keys (it is a function of the key, so the windows are the
    // same) so that the shuffle below, by bucket alone, satisfies it.
    val w = Window.partitionBy((col(BucketCol) +: keyCols.map(col)): _*)
      .orderBy((col(versionCol).desc +: col("_from_batch").desc
        +: tiebreakCols.map(col(_).desc)): _*)
    val delCol = deleteCol.getOrElse("_no_delete")
    val batchTagged0 = (deleteCol match {
      case Some(c) => batch.withColumn(c, coalesce(col(c), lit(false)))
      case None => batch.withColumn(delCol, lit(false))
    }).withColumn("_from_batch", lit(1))
      .withColumn(BucketCol, bucketOf(keyCols, n))

    // Schema evolution: a batch may ADD columns (upstream DDL change) or
    // arrive WITHOUT columns the table already carries. Widen BOTH sides
    // to the union of data columns (the missing side null-filled) and
    // drop the stored bucket column, which routes this merge through the
    // whole-table rewrite: a per-bucket swap would leave mixed-schema
    // bucket directories that a plain parquet read cannot assemble.
    // Schema changes are rare; one rewrite per change is the honest cost.
    val helperCols = Set(delCol, "_from_batch", BucketCol)
    def addMissing(df: DataFrame,
        want: Seq[org.apache.spark.sql.types.StructField]): DataFrame =
      want.filterNot(f => df.columns.contains(f.name)).foldLeft(df)((acc, f) =>
        acc.withColumn(f.name, lit(null).cast(f.dataType)))
    val batchDataFields = batchTagged0.schema.fields.filterNot(f => helperCols(f.name)).toSeq
    val exDataFields = existingRaw
      .map(_.schema.fields.filterNot(_.name == BucketCol).toSeq).getOrElse(Nil)
    // compare (name, type), not names alone: a TYPE change (upstream
    // widened int → long) must also take the full rewrite, or touched
    // buckets get the new physical type while untouched keep the old —
    // exactly the mixed-schema layout this branch exists to prevent
    def shape(fs: Seq[org.apache.spark.sql.types.StructField]) =
      fs.map(f => f.name -> f.dataType.catalogString).toSet
    val schemaChanged = existingRaw.isDefined &&
      shape(exDataFields) != shape(batchDataFields)
    val existing =
      if (!schemaChanged) existingRaw
      else existingRaw.map(ex => addMissing(dropBucket(ex), batchDataFields))
    val batchTagged =
      if (!schemaChanged) batchTagged0 else addMissing(batchTagged0, exDataFields)

    // A per-bucket merge is only sound when the stored rows were hashed
    // with the SAME bucket count the batch uses: otherwise a key's old
    // image can live in a bucket this batch never touches and survive as a
    // duplicate. The persisted layout marker is authoritative; a bucketed
    // table without one (pre-marker layout) counts as a mismatch and takes
    // the full-rewrite path once, which re-buckets and writes the marker.
    val isBucketedMerge =
      existing.exists(_.columns.contains(BucketCol)) && storedBuckets.contains(n)
    val fullRewrite = !isBucketedMerge // fresh table, migration, or re-bucket

    // Buckets the batch touches — at most n values, so the driver collect
    // here is bounded by the bucket count, never by the batch's size. A
    // full rewrite swaps the whole table and needs none; a one-bucket
    // table needs no job to know it.
    val touched: Seq[Int] =
      if (fullRewrite) Nil
      else if (n == 1) Seq(0)
      else batchTagged.select(BucketCol).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted

    // The stored rows this merge rewrites: the touched buckets (a
    // partition-pruned read; the bucket is the rewrite unit), or the whole
    // table, re-hashed into the new layout after the union (so both sides
    // hash the key at its widened type) on a full rewrite. They meet the
    // batch in ONE window per key: the latest-wins winner stays unless it
    // is a tombstone, and a stored key the batch does not name is alone in
    // its window, so it rides along unchanged. One shuffle, by bucket, into
    // one partition per written bucket: each bucket is written by one task
    // as one file, the same unit a reader splits on. (A batch far larger
    // than its table, such as a bulk first load, is written by as few
    // tasks; the next merge re-buckets it to its size.)
    val stored = existing.map { ex =>
      (if (isBucketedMerge) ex.where(col(BucketCol).isin(touched: _*)) else dropBucket(ex))
        .withColumn(delCol, lit(false)).withColumn("_from_batch", lit(0))
    }
    val merged = stored
      .fold(batchTagged) { ex =>
        val both = ex.unionByName(batchTagged.select(ex.columns.map(col): _*))
        if (isBucketedMerge) both else both.withColumn(BucketCol, bucketOf(keyCols, n))
      }
      .repartition(math.max(1, if (fullRewrite) n else touched.size), col(BucketCol))
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .where(!col(delCol)).drop("_rn", delCol, "_from_batch")

    val tmp = new Path(path + ".tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    merged.write.mode("overwrite").partitionBy(BucketCol).parquet(tmp.toString)

    if (fullRewrite) {
      // The schema file goes in with the data, so the commit rename below
      // publishes both or neither: a table never holds a stale one.
      writeSmallFile(fs, new Path(tmp, SchemaFile),
        StructType(merged.schema.filterNot(_.name == BucketCol)).json)
      // Whole-table swap (first write / migration / re-bucket): same
      // protocol with the entire table as the single swap unit — parked
      // under the DISTINCT `.bak.full` name, because its bucket dirs
      // carry the OLD layout's bucket count: if readers or recovery
      // treated them as per-bucket parks (the `.bak` form), old-layout
      // buckets would be unioned or renamed into the new-layout table,
      // duplicating and resurrecting keys.
      val bak = new Path(path + BakFullSuffix)
      if (fs.exists(bak)) fs.delete(bak, true)
      if (fs.exists(target)) fs.rename(target, bak)
      fs.rename(tmp, target)
      writeSmallFile(fs, new Path(target, LayoutMarker), n.toString)
      if (fs.exists(bak)) fs.delete(bak, true)
    } else {
      // Per-bucket swap: park old buckets in .bak, move new ones in.
      val bakRoot = new Path(path + ".bak")
      if (fs.exists(bakRoot)) fs.delete(bakRoot, true)
      fs.mkdirs(bakRoot)
      touched.foreach { b =>
        val dir = s"$BucketCol=$b"
        val tgtB = new Path(target, dir)
        val tmpB = new Path(tmp, dir)
        if (fs.exists(tgtB)) fs.rename(tgtB, new Path(bakRoot, dir))
        midSwapPause()
        // A bucket emptied by tombstones has no tmp dir — absence IS the
        // new state.
        if (fs.exists(tmpB)) fs.rename(tmpB, tgtB)
      }
      fs.delete(bakRoot, true)
      fs.delete(tmp, true)
    }
    MergeStats(n, if (fullRewrite) n else touched.size, fullRewrite)
  }

  /** Read a keyed table written by [[mergeBatch]] (bucket column hidden).
    *
    * Crash/race consistency: when a swap is (or was) in flight — the
    * `.bak` park directory exists — the read does NOT mutate anything
    * (renaming parked buckets back would corrupt a LIVE writer's swap
    * protocol). Instead it assembles a complete snapshot from concrete
    * directories: every bucket present at the target plus every parked
    * bucket whose target dir is missing. Mid-swap each bucket is thus
    * seen exactly once, at either its old or new image — the same
    * per-bucket atomicity [[mergeBatch]] documents. Listing races with a
    * concurrent rename are absorbed by a bounded retry, and any snapshot
    * that references PARKED dirs is materialized eagerly before being
    * returned — the live writer deletes `.bak` the moment its swap
    * completes, so a lazy plan over parked paths could fail (or silently
    * lose buckets) at its first action; a FileNotFound during the
    * materialization itself means we raced the swap's completion, and
    * the retry re-lists onto the post-swap layout. The materialized
    * snapshot lives in executor storage — the price of a consistent
    * read in the parquet harness (production = a MERGE-capable table
    * format with real snapshot isolation).
    *
    * The directory read is opened with its own schema file, so a read of
    * a sink-written table runs its materialization job and no inference
    * job; a directory without the file (a per-bucket `.bak` park) is
    * inferred. */
  def readKeyedTable(spark: SparkSession, path: String): Option[DataFrame] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(path)
    val bakRoot = new Path(path + ".bak")
    var attempt = 0
    var result: Option[Option[DataFrame]] = None
    while (result.isEmpty) {
      attempt += 1
      try {
        result = Some {
          val bakFull = new Path(path + BakFullSuffix)
          if (fs.exists(bakFull)) {
            // whole-table swap in flight (or crashed): once the target
            // exists the new table is COMMITTED (the rename beat the
            // cleanup) — read it; otherwise the park IS the table. Never
            // union the two: the park carries the old bucket layout.
            if (fs.exists(target) && hasData(fs, target))
              Some(dropBucket(reader(spark, fs, target).parquet(path).localCheckpoint()))
            else if (hasData(fs, bakFull))
              Some(dropBucket(reader(spark, fs, bakFull).parquet(bakFull.toString)
                .localCheckpoint()))
            else None
          } else if (!fs.exists(bakRoot)) {
            // no swap in flight at the CHECK — but one may start before
            // the caller's first action, so materialize here too: the
            // snapshot contract is a consistent frame, not a lazy plan
            if (hasData(fs, target))
              Some(dropBucket(reader(spark, fs, target).parquet(path).localCheckpoint()))
            else None
          } else if (!fs.exists(target)) {
            // whole-table swap died after target->bak: bak IS the table
            if (hasData(fs, bakRoot))
              Some(dropBucket(reader(spark, fs, bakRoot).parquet(bakRoot.toString)
                .localCheckpoint()))
            else None
          } else {
            val tgtDirs = fs.listStatus(target).map(_.getPath)
              .filter(_.getName.startsWith(s"$BucketCol="))
            val parked = fs.listStatus(bakRoot).map(_.getPath)
              .filter(p => p.getName.startsWith(s"$BucketCol=") &&
                !fs.exists(new Path(target, p.getName)))
            val dirs = (tgtDirs ++ parked).map(_.toString).sorted
            if (dirs.isEmpty) None
            // reading concrete bucket dirs skips partition discovery, so
            // the frame comes back without the bucket column — exactly
            // this method's contract. A per-bucket swap never changes the
            // schema, so the target's schema file covers the parked
            // buckets too. Eager localCheckpoint: see doc.
            else Some(reader(spark, fs, target).parquet(dirs: _*).localCheckpoint())
          }
        }
      } catch {
        case e: Throwable if attempt < 5 && causedByMissingFile(e) =>
          Thread.sleep(50L * attempt) // raced a rename/delete; re-list
      }
    }
    result.get
  }

  /** FileNotFound may surface directly (driver-side listing) or wrapped
    * in SparkException layers (task failure during materialization). */
  private def causedByMissingFile(e: Throwable): Boolean = {
    var cur = e
    var depth = 0
    while (cur != null && depth < 10) {
      if (cur.isInstanceOf[java.io.FileNotFoundException]) return true
      cur = cur.getCause
      depth += 1
    }
    false
  }

  private def dropBucket(df: DataFrame): DataFrame =
    if (df.columns.contains(BucketCol)) df.drop(BucketCol) else df

  private def hasData(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists(s =>
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))

  /** Read including the layout's bucket column, recovering from a crashed
    * swap first: any bucket parked in `.bak` whose target dir is missing
    * is restored (safe — the interrupted micro-batch replays and the
    * version-gated merge converges it forward). */
  private def readKeyedTableRaw(spark: SparkSession, fs: FileSystem,
      path: String): Option[DataFrame] = {
    val target = new Path(path)
    val bakRoot = new Path(path + ".bak")
    // Recovery first, so every later read (and the next merge) sees a
    // complete table AT THE TARGET path and never holds a lazy plan over
    // parked files a subsequent swap would delete:
    // - whole-table swap (`.bak.full`) died before its commit rename:
    //   restore the park wholesale; died after: the target is the new
    //   table and the park is a stale OLD-LAYOUT copy — delete it (its
    //   bucket dirs must never be merged into the new layout);
    // - per-bucket swap (`.bak`) died mid-loop: restore each parked
    //   bucket whose target dir is missing (safe — the interrupted
    //   micro-batch replays and the version-gated merge converges it
    //   forward).
    val bakFull = new Path(path + BakFullSuffix)
    if (fs.exists(bakFull)) {
      if (!fs.exists(target)) fs.rename(bakFull, target)
      else fs.delete(bakFull, true)
    }
    if (fs.exists(bakRoot)) {
      if (!fs.exists(target)) fs.rename(bakRoot, target)
      else {
        fs.listStatus(bakRoot).foreach { st =>
          val tgtB = new Path(target, st.getPath.getName)
          if (st.getPath.getName.startsWith(s"$BucketCol=") && !fs.exists(tgtB))
            fs.rename(st.getPath, tgtB)
        }
        fs.delete(bakRoot, true)
      }
    }
    if (!hasData(fs, target)) None
    else Some(reader(spark, fs, target).parquet(path))
  }

  /** Attach the upsert sink to a streaming changelog. */
  def writeUpsertStream(decoded: DataFrame, keyCols: Seq[String],
      versionCol: String, path: String, checkpoint: String,
      deleteCol: Option[String] = None): StreamingQuery =
    decoded.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatch(batch, keyCols, versionCol, path, deleteCol)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
}
