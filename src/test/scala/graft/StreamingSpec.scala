package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.streaming.{AsOfJoin, Debezium, LookupJoin, TxnBuffer, UpsertSink}

/** Streaming-semantics tests: Debezium decode, changelog collapse, keyed
  * upsert sink with tombstones, event-time as-of join (incl. the
  * dim-update-arrives-late case and watermark gating), and the
  * processing-time lookup race (README.md:268-301) reproduced. */
class StreamingSpec extends SparkSpec {

  private val orderRow = StructType(Seq(
    StructField("id", IntegerType),
    StructField("table_assignment_id", IntegerType),
    StructField("order_time", LongType),
    StructField("pizzas", ArrayType(IntegerType))))

  /** Envelopes come from the shared generator, configured like the
    * reference's orders connector (kafka-connectors/orders-cdc.json). */
  private val cdcCfg = graft.sources.CdcFixtures.ConnectorConfig(
    "my_order_source_deb", "my_pg", "defaultdb", Seq("public.orders"))

  private def env(op: String, id: Int, pizzas: Seq[Int], tsMs: Long, txId: Long): String = {
    val row = s"""{"id":$id,"table_assignment_id":4,"order_time":$tsMs,"pizzas":[${pizzas.mkString(",")}]}"""
    graft.sources.CdcFixtures.envelope(cdcCfg, "public", "orders", op, row, tsMs, txId)
  }

  test("Debezium decode: after-image for c/u, before-image for d, metadata carried") {
    import spark.implicits._
    val raw = Seq(
      env("c", 100, Seq(2, 3, 3), 1695510000000L, 501),
      env("u", 100, Seq(1, 1, 1), 1695510001000L, 502),
      env("d", 100, Seq(1, 1, 1), 1695510002000L, 503)).toDF("value")
    val decoded = Debezium.decode(raw, orderRow).orderBy("_tx_id").collect()
    assert(decoded.length == 3)
    assert(decoded(0).getSeq[Int](decoded(0).fieldIndex("pizzas")).toList == List(2, 3, 3))
    assert(decoded(1).getSeq[Int](decoded(1).fieldIndex("pizzas")).toList == List(1, 1, 1))
    assert(decoded(2).getAs[String]("_op") == "d")
    assert(decoded(2).getAs[Int]("id") == 100) // delete decodes the BEFORE image
    assert(decoded(0).getAs[java.sql.Timestamp]("_source_ts").getTime == 1695510000000L)
  }

  test("streaming decode routes poison messages to a dead-letter sink; good rows flow on") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val goodDir = Files.createTempDirectory("dlq_good").toString
    val dlqDir = Files.createTempDirectory("dlq_bad").toString
    val ckpt = Files.createTempDirectory("dlq_ck").toString
    val input = MemoryStream[String]
    val decoded = Debezium.decodeFlagged(input.toDF().toDF("value"), orderRow)
    val q = decoded.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.localCheckpoint() // two writers below, one source read
        b.where(!col("_quarantined")).drop("_quarantined", "_raw")
          .write.mode("append").parquet(goodDir)
        // the DLQ carries the raw bytes — that IS the payload to replay
        b.where(col("_quarantined")).select("_raw")
          .write.mode("append").parquet(dlqDir)
      }
      .start()
    try {
      input.addData(Seq(
        env("c", 1, Seq(2), 1695510000000L, 1),
        "<garbage-not-json",
        env("c", 2, Seq(3), 1695510001000L, 2),
        """{"valid_json":"but not an envelope"}"""))
      q.processAllAvailable()
      val good = spark.read.parquet(goodDir).select("id").collect().map(_.getInt(0)).sorted
      assert(good.toSeq == Seq(1, 2), "both valid envelopes must decode")
      val bad = spark.read.parquet(dlqDir).collect().map(_.getString(0)).sorted
      assert(bad.length == 2 && bad.exists(_.startsWith("<garbage")) &&
        bad.exists(_.contains("valid_json")),
        s"both poison messages must land in the DLQ with raw bytes intact; got ${bad.mkString("|")}")
    } finally q.stop()
  }

  test("latestImagePerKey collapses a changelog; delete wins and removes the key") {
    import spark.implicits._
    val raw = Seq(
      env("c", 1, Seq(1), 1000L, 1),
      env("u", 1, Seq(2), 2000L, 2),
      env("c", 2, Seq(3), 1500L, 3),
      env("c", 3, Seq(4), 1500L, 4),
      env("d", 3, Seq(4), 2500L, 5)).toDF("value")
    val decoded = Debezium.decode(raw, orderRow)
    val latest = Debezium.latestImagePerKey(decoded, Seq("id"), "_tx_id")
      .select("id", "pizzas").collect().map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
    assert(latest == Map(1 -> Seq(2), 2 -> Seq(3))) // key 3 deleted
  }

  test("upsert sink: latest wins across batches, tombstone removes key (FIXTURES.md 3d)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("upsert").toString + "/table"
    // batch 1: two keys
    UpsertSink.mergeBatch(
      Seq((1, "v1", 10L, false), (2, "v2", 10L, false))
        .toDF("id", "v", "ver", "del"),
      Seq("id"), "ver", dir, deleteCol = Some("del"))
    // batch 2: update key 1 (two versions in one batch - latest wins), delete key 2, add key 3
    UpsertSink.mergeBatch(
      Seq((1, "v1b", 20L, false), (1, "v1c", 30L, false),
          (2, "whatever", 25L, true), (3, "v3", 21L, false))
        .toDF("id", "v", "ver", "del"),
      Seq("id"), "ver", dir, deleteCol = Some("del"))
    val got = spark.read.parquet(dir).select("id", "v")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(1 -> "v1c", 3 -> "v3"))
  }

  test("bucketed merge rewrites only touched buckets; untouched files byte-identical") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("bucketed").toString + "/table"
    UpsertSink.mergeBatch(
      spark.range(1000).selectExpr("CAST(id AS INT) AS id", "concat('v', id) AS v", "id AS ver"),
      Seq("id"), "ver", dir, nBuckets = 8)
    def snapshot(): Map[String, String] =
      JFiles.walk(JPaths.get(dir)).iterator().asScala
        .filter(p => JFiles.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map { p =>
          val md = java.security.MessageDigest.getInstance("MD5")
          p.toString -> md.digest(JFiles.readAllBytes(p)).map("%02x".format(_)).mkString
        }.toMap
    val before = snapshot()
    assert(before.keys.map(_.split("/").init.last).toSet.size > 1,
      "table should span multiple bucket dirs")
    UpsertSink.mergeBatch(Seq((5, "V5NEW", 5000L)).toDF("id", "v", "ver"),
      Seq("id"), "ver", dir, nBuckets = 8)
    val after = snapshot()
    // exactly one bucket dir changed; every surviving file outside it is
    // byte-identical (same path, same md5)
    val changedDirs = ((before.keySet diff after.keySet) ++ (after.keySet diff before.keySet) ++
      before.keySet.intersect(after.keySet).filter(k => before(k) != after(k)))
      .map(_.split("/").init.last)
    assert(changedDirs.size == 1, s"expected 1 touched bucket dir, got $changedDirs")
    val got = spark.read.parquet(dir).select("id", "v")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got.size == 1000 && got(5) == "V5NEW" && got(6) == "v6")
  }

  test("keyed-table read recovers a bucket parked in .bak by a crashed swap") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("bucketrec").toString + "/table"
    UpsertSink.mergeBatch(
      spark.range(100).selectExpr("CAST(id AS INT) AS id", "concat('v', id) AS v", "id AS ver"),
      Seq("id"), "ver", dir, nBuckets = 8)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a crash between rename(target->bak) and rename(tmp->target)
    // for one bucket: park it in .bak and remove it from the table
    val bucketDir = fs.listStatus(new Path(dir))
      .map(_.getPath).filter(_.getName.startsWith("graft_bucket=")).head
    fs.mkdirs(new Path(dir + ".bak"))
    fs.rename(bucketDir, new Path(dir + ".bak/" + bucketDir.getName))
    // the read assembles the parked bucket into a complete snapshot but
    // does NOT rename anything (a live writer may own the .bak protocol)
    val restored = UpsertSink.readKeyedTable(spark, dir).get
    assert(restored.count() == 100, "parked bucket should be visible on read")
    assert(fs.exists(new Path(dir + ".bak")), "read must not mutate the layout")
    // the next merge (the single writer) performs the actual recovery
    UpsertSink.mergeBatch(Seq((1, "v1x", 5000L)).toDF("id", "v", "ver"),
      Seq("id"), "ver", dir, nBuckets = 8)
    assert(!fs.exists(new Path(dir + ".bak")))
    assert(UpsertSink.readKeyedTable(spark, dir).get.count() == 100)
  }

  test("upsert merge is idempotent: replaying the identical batch changes nothing") {
    import spark.implicits._
    // the crash story leans on this: after a mid-swap crash the
    // checkpoint re-delivers the batch, and re-merging it must converge
    // to the same table, byte-for-byte row content
    val dir = Files.createTempDirectory("upsert_idem").toString + "/t"
    val b = Seq((1, "v1", 10L, false), (2, "v2", 20L, false), (3, "x", 5L, true))
      .toDF("id", "v", "ver", "del")
    UpsertSink.mergeBatch(b, Seq("id"), "ver", dir, deleteCol = Some("del"), nBuckets = 8)
    val first = spark.read.parquet(dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    UpsertSink.mergeBatch(b, Seq("id"), "ver", dir, deleteCol = Some("del"), nBuckets = 8)
    val second = spark.read.parquet(dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(first == second && first == Set((1, "v1", 10L), (2, "v2", 20L)))
  }

  test("upsert schema evolution: added column widens the table; narrower batch keeps it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("upsert_evo").toString + "/t"
    UpsertSink.mergeBatch(Seq((1, "v1", 10L)).toDF("id", "v", "ver"),
      Seq("id"), "ver", dir, nBuckets = 8)
    // upstream DDL added a column: old rows must widen to null, and the
    // table takes ONE full rewrite so no bucket dir keeps the old schema
    UpsertSink.mergeBatch(Seq((2, "v2", 20L, "n2")).toDF("id", "v", "ver", "note"),
      Seq("id"), "ver", dir, nBuckets = 8)
    val widened = spark.read.parquet(dir).select("id", "v", "note")
      .collect().map(r => r.getInt(0) -> Option(r.getString(2))).toMap
    assert(widened == Map(1 -> None, 2 -> Some("n2")))
    // a later batch WITHOUT the column must not drop it for stored rows
    UpsertSink.mergeBatch(Seq((3, "v3", 30L)).toDF("id", "v", "ver"),
      Seq("id"), "ver", dir, nBuckets = 8)
    val after = spark.read.parquet(dir).select("id", "note")
      .collect().map(r => r.getInt(0) -> Option(r.getString(1))).toMap
    assert(after == Map(1 -> None, 2 -> Some("n2"), 3 -> None))
  }

  test("upsert schema evolution: a column TYPE change takes the full rewrite too") {
    import spark.implicits._
    // name sets match but 'amt' widens int -> long: a per-bucket swap
    // would leave INT32 files in untouched buckets next to INT64 in
    // touched ones — the full rewrite must homogenize the table
    val dir = Files.createTempDirectory("upsert_tevo").toString + "/t"
    UpsertSink.mergeBatch(Seq((1, 10, 10L)).toDF("id", "amt", "ver"),
      Seq("id"), "ver", dir, nBuckets = 8)
    UpsertSink.mergeBatch(Seq((2, 20L, 20L)).toDF("id", "amt", "ver"),
      Seq("id"), "ver", dir, nBuckets = 8)
    val t = spark.read.parquet(dir)
    assert(t.schema("amt").dataType == org.apache.spark.sql.types.LongType,
      s"table must homogenize to the widened type; got ${t.schema}")
    val got = t.select("id", "amt").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(1 -> 10L, 2 -> 20L))
  }

  test("upsert schema evolution: a KEY type change re-buckets stored and batch rows alike") {
    import spark.implicits._
    // the key widens int -> long: the stored image of key 5 and the batch's
    // must hash to the same bucket, or both survive the rewrite
    val dir = Files.createTempDirectory("upsert_kevo").toString + "/t"
    UpsertSink.mergeBatch(
      spark.range(100).selectExpr("CAST(id AS INT) AS id", "concat('v', id) AS v", "id AS ver"),
      Seq("id"), "ver", dir, nBuckets = 8)
    val stats = UpsertSink.mergeBatch(Seq((5L, "V5NEW", 5000L)).toDF("id", "v", "ver"),
      Seq("id"), "ver", dir, nBuckets = 8)
    assert(stats.fullRewrite)
    val got = spark.read.parquet(dir).select("id", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(got.length == 100, s"expected 100 unique keys, got ${got.length}")
    assert(got.toMap.apply(5L) == "V5NEW")
  }

  test("nBuckets change routes through a full rewrite; no stale duplicate keys") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("rebucket").toString + "/table"
    UpsertSink.mergeBatch(
      spark.range(100).selectExpr("CAST(id AS INT) AS id", "concat('v', id) AS v", "id AS ver"),
      Seq("id"), "ver", dir, nBuckets = 64)
    // same key, different bucket count: a per-bucket merge would rewrite
    // only the mod-8 bucket and leave key 5's mod-64 image as a duplicate
    UpsertSink.mergeBatch(Seq((5, "V5NEW", 5000L)).toDF("id", "v", "ver"),
      Seq("id"), "ver", dir, nBuckets = 8)
    val got = spark.read.parquet(dir).select("id", "v")
      .collect().map(r => r.getInt(0) -> r.getString(1))
    assert(got.length == 100, s"expected 100 unique keys, got ${got.length}")
    assert(got.toMap.apply(5) == "V5NEW")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketIds = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith("graft_bucket=")).map(_.stripPrefix("graft_bucket=").toInt)
    assert(bucketIds.forall(_ < 8), "table must be re-bucketed to the new count")
  }

  /** The keyed table's bucket dirs and its layout marker. */
  private def layout(dir: String): (Seq[Int], Option[String]) = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith("graft_bucket=")).map(_.stripPrefix("graft_bucket=").toInt)
      .toSeq.sorted
    val marker = new Path(dir, "_graft_nbuckets")
    val stored = if (!fs.exists(marker)) None else {
      val in = fs.open(marker)
      try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
    }
    (ids, stored)
  }

  test("bucket sizing rule: one split per bucket, powers of two, never below the stored count") {
    val split = 1000L
    assert(UpsertSink.sizedBuckets(None, 0L, split) == 1)
    assert(UpsertSink.sizedBuckets(None, split, split) == 1)
    assert(UpsertSink.sizedBuckets(None, split + 1, split) == 2)
    assert(UpsertSink.sizedBuckets(None, 3 * split, split) == 4)
    assert(UpsertSink.sizedBuckets(None, 4 * split, split) == 4)
    assert(UpsertSink.sizedBuckets(None, 4 * split + 1, split) == 8)
    assert(UpsertSink.sizedBuckets(Some(2), 5 * split, split) == 8)
    assert(UpsertSink.sizedBuckets(Some(64), 10L, split) == 64)
  }

  test("a fresh small table gets one bucket and layout marker 1") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sized_fresh").toString + "/table"
    val stats = UpsertSink.mergeBatch(
      spark.range(300).selectExpr("CAST(id AS INT) AS id", "concat('v', id) AS v", "id AS ver"),
      Seq("id"), "ver", dir)
    assert(stats == UpsertSink.MergeStats(buckets = 1, bucketsRewritten = 1, fullRewrite = true))
    assert(layout(dir) == (Seq(0), Some("1")))
    // a small merge into it stays a one-bucket, in-place merge
    val next = UpsertSink.mergeBatch(Seq((5, "V5NEW", 5000L)).toDF("id", "v", "ver"),
      Seq("id"), "ver", dir)
    assert(next == UpsertSink.MergeStats(1, 1, fullRewrite = false))
    val got = spark.read.parquet(dir).select("id", "v")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got.size == 300 && got(5) == "V5NEW" && got(6) == "v6")
  }

  test("a growing table re-buckets 1 -> 2 -> 4 through full rewrites; latest wins, tombstones hold") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("sized_grow").toString + "/table"
    val conf = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(conf)
    val split = 16 * 1024L
    // the bytes the sizing rule reads: the table's data files
    def tableBytes(): Long =
      if (!JFiles.exists(JPaths.get(dir))) 0L
      else JFiles.walk(JPaths.get(dir)).iterator().asScala
        .filter(p => JFiles.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(JFiles.size(_)).sum
    var model = Map.empty[Int, (String, Long)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[UpsertSink.MergeStats]
    spark.conf.set(conf, split.toString)
    try {
      var round = 0
      while ((seen.isEmpty || seen.last.buckets < 4) && round < 12) {
        val ver = 100L * (round + 1)
        // 300 new keys with incompressible payloads, so the table grows
        val fresh = (round * 300 until (round + 1) * 300).map(k =>
          (k, java.util.UUID.nameUUIDFromBytes(s"$k/$round".getBytes).toString, ver, false))
        // an update and a tombstone for older keys, plus a stale replay
        val old = if (round == 0) Nil else Seq(
          (round * 7, s"upd$round", ver, false),
          (round * 7 + 1, "gone", ver, true),
          (round * 7 + 2, "stale", 1L, false))
        val batch = fresh ++ old
        val before = tableBytes()
        val prevBuckets = seen.lastOption.map(_.buckets)
        val stats = UpsertSink.mergeBatch(batch.toDF("id", "v", "ver", "del"),
          Seq("id"), "ver", dir, deleteCol = Some("del"))
        seen += stats
        batch.foreach { case (k, v, ve, del) =>
          if (model.get(k).forall(_._2 <= ve)) model = if (del) model - k else model + (k -> (v, ve))
        }
        val expected = UpsertSink.sizedBuckets(prevBuckets, before, split)
        assert(stats.buckets == expected, s"round $round: $stats for $before bytes")
        assert(stats.fullRewrite == !prevBuckets.contains(stats.buckets),
          s"round $round: a count change must take the full rewrite, and only it: $stats")
        val (ids, marker) = layout(dir)
        assert(marker.contains(stats.buckets.toString) && ids.forall(_ < stats.buckets),
          s"round $round: layout $ids / $marker against $stats")
        val got = UpsertSink.readKeyedTable(spark, dir).get.select("id", "v", "ver")
          .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
        assert(got.length == got.map(_._1).distinct.length, s"round $round: duplicate keys")
        assert(got.map(r => r._1 -> (r._2, r._3)).toMap == model, s"round $round: table != model")
        round += 1
      }
    } finally prior match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
    val counts = seen.map(_.buckets)
    assert(counts.distinct == Seq(1, 2, 4), s"bucket counts per merge: $counts")
    assert(seen.count(_.fullRewrite) == 3, s"one full rewrite per count: $seen")
    assert(model.contains(7) && model(7)._1 == "upd1" && !model.contains(8) && model(9)._2 != 1L)
  }

  test("an existing bucket count is kept: no shrinking and no migration for a small merge") {
    import spark.implicits._
    for (n <- Seq(64, 8)) {
      val dir = Files.createTempDirectory(s"sized_keep$n").toString + "/table"
      UpsertSink.mergeBatch(
        spark.range(100).selectExpr("CAST(id AS INT) AS id", "concat('v', id) AS v",
          "id AS ver", "false AS del"),
        Seq("id"), "ver", dir, deleteCol = Some("del"), nBuckets = n)
      val (idsBefore, _) = layout(dir)
      // delete most keys: the table shrinks, its bucket count does not
      val stats = UpsertSink.mergeBatch(
        (0 until 90).map(k => (k, "gone", 1000L, true)).toDF("id", "v", "ver", "del"),
        Seq("id"), "ver", dir, deleteCol = Some("del"))
      assert(stats.buckets == n && !stats.fullRewrite, s"n=$n: $stats")
      assert(stats.bucketsRewritten <= idsBefore.size, s"n=$n: $stats")
      val (ids, marker) = layout(dir)
      assert(marker.contains(n.toString) && ids.forall(idsBefore.contains), s"n=$n: $ids")
      val small = UpsertSink.mergeBatch(Seq((95, "V95NEW", 2000L, false)).toDF("id", "v", "ver", "del"),
        Seq("id"), "ver", dir, deleteCol = Some("del"))
      assert(small == UpsertSink.MergeStats(n, 1, fullRewrite = false), s"n=$n: $small")
      val got = spark.read.parquet(dir).select("id", "v")
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      assert(got == (90 until 100).map(k => k -> (if (k == 95) "V95NEW" else s"v$k")).toMap)
    }
  }

  /** Merges `rows` into the keyed table at `dir` as a stream's
    * micro-batch would: with AQE off (a streaming query's session turns it
    * off) and from a batch whose row count the optimizer cannot see (it is
    * read back from files; a local one-row batch lets the optimizer drop
    * the touched-bucket aggregate). Returns the stats and the jobs the
    * merge submitted. */
  private def microBatchMerge(rows: org.apache.spark.sql.DataFrame,
      dir: String): (UpsertSink.MergeStats, Int) = {
    val staged = Files.createTempDirectory("micro_batch").toString + "/batch"
    rows.write.parquet(staged)
    val batch = spark.read.parquet(staged)
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val (stats, seen) = scheduled(UpsertSink.mergeBatch(batch, Seq("id"), "ver", dir))
      (stats, seen.jobs)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Jobs such a merge into a one-bucket table submits: the write alone.
    * The sink used to add two: a footer-reading schema inference on
    * opening the table and the touched-bucket collect. */
  private val OneBucketMergeJobs = 1

  test("a one-row merge into a one-bucket table submits only its write job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("merge_jobs").toString + "/table"
    UpsertSink.mergeBatch(
      spark.range(100).selectExpr("CAST(id AS INT) AS id", "concat('v', id) AS v", "id AS ver"),
      Seq("id"), "ver", dir)
    val (stats, jobs) = microBatchMerge(Seq((5, "V5NEW", 5000L)).toDF("id", "v", "ver"), dir)
    assert(stats == UpsertSink.MergeStats(1, 1, fullRewrite = false))
    assert(jobs == OneBucketMergeJobs, s"jobs submitted: $jobs")
    val got = spark.read.parquet(dir).select("id", "v")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got.size == 100 && got(5) == "V5NEW" && got(6) == "v6")
  }

  test("a merge reads the schema a full rewrite stored; without the file it infers it") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("schema_file").toString + "/table"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schemaFile = new Path(dir, "_graft_schema")
    def stored(): StructType = {
      val in = fs.open(schemaFile)
      try DataType.fromJson(new String(in.readAllBytes(), "UTF-8")).asInstanceOf[StructType]
      finally in.close()
    }
    def shape(st: StructType) = st.fields.map(f => f.name -> f.dataType).toSeq
    def table() = spark.read.parquet(dir).select("id", "v", "note")
      .collect().map(r => r.getInt(0) -> (r.getString(1), Option(r.getString(2)))).toMap
    UpsertSink.mergeBatch(
      spark.range(50).selectExpr("CAST(id AS INT) AS id", "concat('v', id) AS v", "id AS ver"),
      Seq("id"), "ver", dir)
    assert(shape(stored()) == Seq("id" -> IntegerType, "v" -> StringType, "ver" -> LongType))
    // an added column: a schema-changing full rewrite stores the new schema
    val widened = UpsertSink.mergeBatch(
      Seq((7, "V7NEW", 700L, "hot")).toDF("id", "v", "ver", "note"), Seq("id"), "ver", dir)
    assert(widened == UpsertSink.MergeStats(1, 1, fullRewrite = true))
    assert(shape(stored()) == shape(spark.read.parquet(dir).drop("graft_bucket").schema),
      "the stored schema is the one inference reads from the files")
    assert(stored().fieldNames.toSeq == Seq("id", "v", "ver", "note"))
    // the next merge opens the table with the stored schema: no inference
    // job, and it sees the note column, so the batch's schema matches and
    // the merge stays per bucket (a stale file would force a full rewrite)
    val (next, jobs) = microBatchMerge(
      Seq((8, "V8NEW", 800L, "cold")).toDF("id", "v", "ver", "note"), dir)
    assert(next == UpsertSink.MergeStats(1, 1, fullRewrite = false))
    assert(jobs == OneBucketMergeJobs, s"jobs submitted: $jobs")
    val want = (0 until 50).map(k => k -> (s"v$k", Option.empty[String])).toMap ++
      Map(7 -> ("V7NEW", Some("hot")), 8 -> ("V8NEW", Some("cold")))
    assert(table() == want)
    // a table without the file is opened by inference, one job more
    assert(fs.delete(schemaFile, false) && !fs.exists(schemaFile))
    val (inferred, inferredJobs) = microBatchMerge(
      Seq((9, "V9NEW", 900L, "warm")).toDF("id", "v", "ver", "note"), dir)
    assert(inferred == UpsertSink.MergeStats(1, 1, fullRewrite = false))
    assert(inferredJobs == OneBucketMergeJobs + 1, s"jobs submitted: $inferredJobs")
    assert(table() == want + (9 -> ("V9NEW", Some("warm"))))
  }

  test("a keyed-table read opens the table with its stored schema: one job fewer than inference") {
    val dir = Files.createTempDirectory("read_schema").toString + "/table"
    UpsertSink.mergeBatch(
      spark.range(100).selectExpr("CAST(id AS INT) AS id", "concat('v', id) AS v", "id AS ver"),
      Seq("id"), "ver", dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "v", "ver").collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    // the same read with the schema inferred from the files' footers
    val (inferred, inferredJobs) = scheduled(
      spark.read.parquet(dir).drop("graft_bucket").localCheckpoint())
    val (read, readJobs) = scheduled(UpsertSink.readKeyedTable(spark, dir).get)
    assert(readJobs.jobs == inferredJobs.jobs - 1,
      s"jobs submitted: $readJobs, inferring: $inferredJobs")
    assert(read.columns.toSeq == inferred.columns.toSeq)
    assert(rows(read) == rows(inferred) && rows(read).size == 100)
  }

  test("crashed full rewrite: old-layout park is restored or discarded, never merged") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("rebucket_crash").toString + "/table"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    UpsertSink.mergeBatch(
      spark.range(100).selectExpr("CAST(id AS INT) AS id", "concat('v', id) AS v", "id AS ver"),
      Seq("id"), "ver", dir, nBuckets = 64)
    // CRASH WINDOW A — re-bucket died after parking the old table, before
    // the commit rename: target gone, park = complete old-layout table
    fs.rename(new Path(dir), new Path(dir + ".bak.full"))
    val snapA = UpsertSink.readKeyedTable(spark, dir).get
      .select("id", "v").collect().map(r => r.getInt(0) -> r.getString(1))
    assert(snapA.length == 100, s"park-only read saw ${snapA.length} rows")
    // the replayed merge must recover and converge — exactly once per key
    UpsertSink.mergeBatch(Seq((5, "V5NEW", 5000L)).toDF("id", "v", "ver"),
      Seq("id"), "ver", dir, nBuckets = 8)
    val gotA = spark.read.parquet(dir).select("id", "v")
      .collect().map(r => r.getInt(0) -> r.getString(1))
    assert(gotA.length == 100, s"recovery must not duplicate keys: ${gotA.length}")
    assert(gotA.toMap.apply(5) == "V5NEW")
    assert(!fs.exists(new Path(dir + ".bak.full")), "park cleared after recovery")
    // CRASH WINDOW B — died after the commit rename, before cleanup:
    // target = new table, park = stale OLD-LAYOUT copy (64 buckets of it)
    fs.mkdirs(new Path(dir + ".bak.full/graft_bucket=63"))
    val snapB = UpsertSink.readKeyedTable(spark, dir).get
      .select("id", "v").collect().map(r => r.getInt(0) -> r.getString(1))
    assert(snapB.length == 100,
      s"stale old-layout park must be ignored, got ${snapB.length} rows")
    UpsertSink.mergeBatch(Seq((6, "V6NEW", 6000L)).toDF("id", "v", "ver"),
      Seq("id"), "ver", dir, nBuckets = 8)
    assert(!fs.exists(new Path(dir + ".bak.full")), "stale park deleted by recovery")
    val gotB = spark.read.parquet(dir).select("id", "v")
      .collect().map(r => r.getInt(0) -> r.getString(1))
    assert(gotB.length == 100 && gotB.toMap.apply(6) == "V6NEW")
  }

  test("reader mid-swap sees a complete table (every key exactly once)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("midswap").toString + "/table"
    UpsertSink.mergeBatch(
      spark.range(200).selectExpr("CAST(id AS INT) AS id", "concat('v', id) AS v", "id AS ver"),
      Seq("id"), "ver", dir, nBuckets = 8)
    val parked = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    UpsertSink.midSwapPause = () => {
      parked.countDown()
      release.await(30, java.util.concurrent.TimeUnit.SECONDS)
    }
    val writer = new Thread(() =>
      UpsertSink.mergeBatch(Seq((7, "V7NEW", 999L)).toDF("id", "v", "ver"),
        Seq("id"), "ver", dir, nBuckets = 8))
    try {
      writer.start()
      assert(parked.await(30, java.util.concurrent.TimeUnit.SECONDS))
      // key 7's bucket is renamed OUT right now (old image parked in .bak,
      // new image not yet moved in) — the reader must still see all 200
      // keys, with key 7 at its old image. Take the snapshot FRAME now
      // but don't read it yet:
      val snapDf = UpsertSink.readKeyedTable(spark, dir).get.select("id", "v")
      val snap = snapDf.collect().map(r => r.getInt(0) -> r.getString(1))
      assert(snap.length == 200, s"mid-swap read saw ${snap.length} rows")
      assert(snap.toMap.apply(7) == "v7", "mid-swap image of the bucket is the old one")
      // let the writer FINISH (it deletes .bak) and only then re-read the
      // snapshot frame: the materialized snapshot must survive the parked
      // dirs it referenced being deleted out from under it
      release.countDown()
      writer.join(30000)
      val late = snapDf.collect().map(r => r.getInt(0) -> r.getString(1))
      assert(late.length == 200, s"post-swap re-read saw ${late.length} rows")
      assert(late.toMap.apply(7) == "v7", "snapshot must keep its consistent image")
    } finally {
      release.countDown()
      writer.join(30000)
      UpsertSink.midSwapPause = () => ()
    }
    val fin = spark.read.parquet(dir).select("id", "v")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(fin.size == 200 && fin(7) == "V7NEW")
  }

  test("upsert sink ignores replayed stale versions (at-least-once CDC delivery)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("upsert_stale").toString + "/table"
    UpsertSink.mergeBatch(Seq((1, "current", 10L, false)).toDF("id", "v", "ver", "del"),
      Seq("id"), "ver", dir, deleteCol = Some("del"))
    // replay of an OLD image and an OLD tombstone: both must be no-ops
    UpsertSink.mergeBatch(Seq((1, "stale", 3L, false), (1, "gone", 4L, true))
      .toDF("id", "v", "ver", "del"),
      Seq("id"), "ver", dir, deleteCol = Some("del"))
    val got = spark.read.parquet(dir).select("id", "v")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(1 -> "current"))
  }

  test("as-of join (batch): probe matches the version in effect at its event time") {
    import spark.implicits._
    // dim versions: price 8 at t=1000, price 9 at t=3000
    val build = Seq((1, 8, 1000L), (1, 9, 3000L)).toDF("key", "price", "ts")
      .select(col("key"), col("price"), timestamp_millis(col("ts")).as("ts"))
    // probes: t=500 (no version yet), t=2000 (sees 8), t=3000 (sees 9, inclusive), t=4000 (sees 9)
    val probe = Seq((1, "a", 500L), (1, "b", 2000L), (1, "c", 3000L), (1, "d", 4000L))
      .toDF("key", "tag", "ts")
      .select(col("key"), col("tag"), timestamp_millis(col("ts")).as("ts"))
    val got = AsOfJoin.joinDataFrames(probe, build, "key", "ts")
      .collect().map(j => (j.probeTs, j.buildTs)).toSet
    // emitted times are µs since epoch
    assert(got == Set(
      (500000L, None), (2000000L, Some(1000000L)),
      (3000000L, Some(3000000L)), (4000000L, Some(3000000L))))
  }

  test("as-of join distinguishes versions within the same millisecond (µs precision)") {
    import spark.implicits._
    // two versions and two probes all inside millisecond 1000 — only
    // µs-precision comparison pairs them correctly
    val build = Seq((1, 8, 1000100L), (1, 9, 1000700L)).toDF("key", "price", "us")
      .select(col("key"), col("price"), timestamp_micros(col("us")).as("ts"))
    val probe = Seq((1, "a", 1000400L), (1, "b", 1000900L)).toDF("key", "tag", "us")
      .select(col("key"), col("tag"), timestamp_micros(col("us")).as("ts"))
    val got = AsOfJoin.joinDataFrames(probe, build, "key", "ts")
      .collect().map(j => (j.probeTs, j.buildTs)).toSet
    assert(got == Set((1000400L, Some(1000100L)), (1000900L, Some(1000700L))))
  }

  test("as-of join (streaming): dim update arriving AFTER the probe still joins the right version") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Boolean, String)]
    val tagged = input.toDF().toDF("k", "tsMs", "isProbe", "payload")
      .select(col("k"), timestamp_millis(col("tsMs")).as("eventTime"),
        col("isProbe"), col("payload").cast("binary").as("payload"))
      .withWatermark("eventTime", "10 seconds")
      .as[AsOfJoin.AsOfEvent]
    val out = AsOfJoin.join(tagged)
    val q = out.writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    try {
      // dim v1 at ts=1000; probe at ts=2000 arrives FIRST. The dim update
      // at ts=1500 arrives later in processing time but within the
      // 10s allowed lateness, so the probe (gated on the watermark) must
      // pick it up — the reference's min-watermark emission gating
      // (README.md:526-534).
      input.addData(("k1", 1000L, false, "v1"), ("k1", 2000L, true, "p1"))
      q.processAllAvailable()
      input.addData(("k1", 1500L, false, "v1.5"))
      q.processAllAvailable()
      // watermark is still max(2000)-10s < 2000: nothing emitted yet
      assert(spark.table("asof_out").isEmpty,
        "probe must be held until the watermark passes its event time")
      // advance the watermark beyond 2000 (30000 - 10000 = 20000)
      input.addData(("k1", 30000L, false, "v2"))
      q.processAllAvailable()
      input.addData(("k1", 40000L, false, "bump"))
      q.processAllAvailable()
      val rows = spark.table("asof_out").collect()
        .map(r => (r.getAs[Long]("probeTs"),
          Option(r.getAs[Array[Byte]]("buildPayload")).map(new String(_)).orNull))
      // the probe at 2000 must see v1.5 (version as of 1500), NOT v1 or v2
      assert(rows.contains((2000000L, "v1.5")),
        s"expected probe@2000 -> v1.5, got ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("as-of join state GC keeps only reachable versions") {
    // covered structurally: superseded versions below the watermark are
    // dropped. Verified via the public API: a probe far in the future
    // still matches the latest retained version.
    import spark.implicits._
    val build = Seq((1, 1, 100L), (1, 2, 200L), (1, 3, 300L)).toDF("key", "v", "ts")
      .select(col("key"), col("v"), timestamp_millis(col("ts")).as("ts"))
    val probe = Seq((1, "late", 99L), (1, "future", 1000000L)).toDF("key", "tag", "ts")
      .select(col("key"), col("tag"), timestamp_millis(col("ts")).as("ts"))
    val got = AsOfJoin.joinDataFrames(probe, build, "key", "ts")
      .collect().map(j => (j.probeTs, j.buildTs)).toSet
    assert(got == Set((99000L, None), (1000000000L, Some(300000L))))
  }

  test("scenario 6 chain: two as-of joins back to back in one streaming query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // orders (exploded by pizza) probe two dims at the order's event time
    val orders = MemoryStream[(Int, Int, Int, Long)] // id, ta_id, pizza_id, ts
    val pizzas = MemoryStream[(Int, Int, Long)] // id, price, ts
    val assigns = MemoryStream[(Int, Int, Long)] // id, client_id, ts
    val ordersDf = orders.toDF().toDF("id", "ta_id", "pizza_id", "tsMs")
      .select(col("id"), col("ta_id"), col("pizza_id"),
        timestamp_millis(col("tsMs")).as("et"))
    val pizzasDf = pizzas.toDF().toDF("pizza_id", "price", "tsMs")
      .select(col("pizza_id"), col("price"), timestamp_millis(col("tsMs")).as("et"))
    val assignsDf = assigns.toDF().toDF("ta_id", "client_id", "tsMs")
      .select(col("ta_id"), col("client_id"), timestamp_millis(col("tsMs")).as("et"))

    val step1 = AsOfJoin.joinDataFramesWide(ordersDf, pizzasDf,
      "pizza_id", "et", "pizza_", delay = "0 seconds")
    val step2 = AsOfJoin.joinDataFramesWide(step1, assignsDf,
      "ta_id", "et", "ta_", delay = "0 seconds")
    // Chained stateful as-of joins emit rows AT the watermark boundary,
    // which Spark's global-watermark check flags as potentially-late for
    // the downstream op. Safe here: AsOfJoin tolerates late probes
    // (matches against retained version history, bounded staleness), so
    // the check is disabled for chained pipelines.
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val q = step2.writeStream.format("memory").queryName("s6_out")
      .outputMode("append").start()
    try {
      // dim versions: pizza 1 price 8@1000 then 9@6000; assignment 2 -> client 7@2000
      pizzas.addData((1, 8, 1000L), (1, 9, 6000L))
      assigns.addData((2, 7, 2000L))
      // order at t=5000 with two identical pizzas (UNNEST multiplicity)
      orders.addData((1, 2, 1, 5000L), (1, 2, 1, 5000L))
      q.processAllAvailable()
      // push all watermarks far past 5000 (two rounds so emitted rows flow)
      pizzas.addData((99, 0, 100000L)); assigns.addData((99, 0, 100000L))
      orders.addData((99, 99, 99, 100000L))
      q.processAllAvailable()
      pizzas.addData((99, 0, 200000L)); assigns.addData((99, 0, 200000L))
      orders.addData((99, 99, 99, 200000L))
      q.processAllAvailable()
      val rows = spark.table("s6_out")
        .where(col("id") === 1)
        .select("pizza_price", "ta_client_id").collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSeq
      // the order at t=5000 must see price 8 (version@1000, NOT the 9@6000),
      // twice (duplicate pizza preserved), and client 7
      assert(rows == Seq((8, 7), (8, 7)), s"got $rows")
    } finally {
      q.stop()
      spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    }
  }

  test("scenario 6 chain: an order stamped at a heartbeat's event time reaches hop 2 (watermark tie)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Two hops of the scenario-6 chain. Each source carries a heartbeat
    // row (key 99) that moves the watermark, as the benchmark's idle
    // dimensions do. Order 1 is stamped at the heartbeat's event time,
    // so the watermark lands exactly on it; order 2, 2 s earlier, is the
    // control. Hop 1's strict gate holds order 1 until the watermark
    // passes it, and hop 2's late filter, which compares with the
    // previous batch's watermark (that same value), drops it.
    val orders = MemoryStream[(Int, Int, Int, Long)] // id, ta_id, pizza_id, tsMs
    val pizzas = MemoryStream[(Int, Int, Long)] // id, price, tsMs
    val assigns = MemoryStream[(Int, Int, Long)] // id, client_id, tsMs
    val ordersDf = orders.toDF().toDF("id", "ta_id", "pizza_id", "tsMs")
      .select(col("id"), col("ta_id"), col("pizza_id"),
        timestamp_millis(col("tsMs")).as("et"))
    val pizzasDf = pizzas.toDF().toDF("pizza_id", "price", "tsMs")
      .select(col("pizza_id"), col("price"), timestamp_millis(col("tsMs")).as("et"))
    val assignsDf = assigns.toDF().toDF("ta_id", "client_id", "tsMs")
      .select(col("ta_id"), col("client_id"), timestamp_millis(col("tsMs")).as("et"))
    val step1 = AsOfJoin.joinDataFramesWide(ordersDf, pizzasDf,
      "pizza_id", "et", "pizza_", delay = "0 seconds")
    val step2 = AsOfJoin.joinDataFramesWide(step1, assignsDf,
      "ta_id", "et", "ta_", delay = "0 seconds")
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val q = step2.writeStream.format("memory").queryName("tie_out")
      .outputMode("append").start()
    def heartbeat(tsMs: Long): Unit = {
      orders.addData((99, 99, 99, tsMs))
      pizzas.addData((99, 0, tsMs))
      assigns.addData((99, 0, tsMs))
      q.processAllAvailable()
    }
    try {
      pizzas.addData((1, 8, 1000L))
      assigns.addData((2, 7, 1000L))
      orders.addData((1, 2, 1, 5000L), (2, 2, 1, 3000L))
      heartbeat(5000L)
      assert(q.lastProgress.eventTime.get("watermark") == "1970-01-01T00:00:05.000Z",
        "the watermark must land on order 1's event time")
      heartbeat(100000L)
      heartbeat(200000L)
      val rows = spark.table("tie_out").where(col("id") < 99)
        .select("id", "pizza_price", "ta_client_id").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
      assert(rows.contains((2, 8, 7)), s"the control order must reach hop 2, got $rows")
      // the watermark-tie loss: pending while the defect stands; the fix
      // removes this wrapper
      pendingUntilFixed {
        assert(rows.contains((1, 8, 7)), s"the tied order must reach hop 2, got $rows")
      }
    } finally {
      q.stop()
      spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    }
  }

  test("scenario 6 STREAMING end-to-end: five streams -> chain -> foreachBatch agg -> keyed result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("s6full").toString
    val orders = MemoryStream[(Int, Int, Seq[Int], Long)]
    val pizzas = MemoryStream[(Int, String, Int, Long)]
    val assigns = MemoryStream[(Int, Int, Int, Long)]
    val clients = MemoryStream[(Int, String, Long)]
    val tabs = MemoryStream[(Int, String, Long)]
    def ts(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("event_time", timestamp_millis(col("tsMs"))).drop("tsMs")
    val ordersDf = ts(orders.toDF().toDF("id", "table_assignment_id", "pizzas", "tsMs"))
    val pizzasDf = ts(pizzas.toDF().toDF("id", "name", "price", "tsMs"))
    val assignsDf = ts(assigns.toDF().toDF("id", "client_id", "table_id", "tsMs"))
    val clientsDf = ts(clients.toDF().toDF("id", "name", "tsMs"))
    val tabsDf = ts(tabs.toDF().toDF("id", "name", "tsMs"))

    val enriched = graft.queries.Scenarios.q06Enriched(
      ordersDf, pizzasDf, assignsDf, clientsDf, tabsDf)
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    // dims (versioned: pizza 1 price 8@1000 then 9@6000), order at t=5000
    pizzas.addData((1, "Master Splinter", 8, 1000L), (1, "Master Splinter", 9, 6000L))
    assigns.addData((2, 3, 4, 1000L))
    clients.addData((3, "Wall Smith", 1000L))
    tabs.addData((4, "Leonardo", 1000L))
    orders.addData((1, 2, Seq(1, 1), 5000L))
    // watermark bumps so every source's watermark passes 5000 twice
    // (once to flush hop 1, once more to push rows through hops 2-4)
    for (bump <- Seq(100000L, 200000L, 300000L, 400000L)) {
      orders.addData((99, 99, Seq.empty[Int], bump))
      pizzas.addData((99, "x", 0, bump))
      assigns.addData((99, 0, 0, bump))
      clients.addData((99, "x", bump))
      tabs.addData((99, "x", bump))
    }
    val q = enriched.writeStream
      .outputMode("append")
      .option("checkpointLocation", dir + "/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val agg = graft.queries.Scenarios.q06Aggregate(batch)
          graft.streaming.UpsertSink.mergeBatch(
            agg.withColumn("_v", lit(0L)), Seq("order_id"), "_v", dir + "/result")
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    }
    val got = spark.read.parquet(dir + "/result")
      .where(col("order_id") === 1)
      .select("client_name", "table_name", "pizzas").collect()
    assert(got.length == 1, s"expected order 1 aggregated once, got ${got.length}")
    assert(got.head.getString(0) == "Wall Smith")
    assert(got.head.getString(1) == "Leonardo")
    // order@5000 sees price 8 (version@1000), duplicates preserved
    assert(got.head.getString(2) ==
      """[{"pizza":"Master Splinter","price":8},{"pizza":"Master Splinter","price":8}]""")
  }

  test("streaming as-of join: many source blocks run in a bounded number of tasks, same rows as batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val slots = spark.sparkContext.defaultParallelism
    val probes = MemoryStream[(Int, String, Long)] // key, tag, tsMs
    val builds = MemoryStream[(Int, Int, Long)] // key, price, tsMs
    def withTs(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ts", timestamp_millis(col("tsMs"))).drop("tsMs")
    val probeDf = withTs(probes.toDF().toDF("key", "tag", "tsMs"))
    val buildDf = withTs(builds.toDF().toDF("key", "price", "tsMs"))
    // one addData call is one block, so one input partition of the batch
    val blocks = 3 * slots + 2
    val probeRows = (1 to blocks).map(b => Seq((b % 5, s"p$b", 1000L * b + 500)))
    val buildRows = (1 to blocks).map(b => Seq((b % 5, b, 1000L * b))) :+
      Seq((99, 0, 1000000L)) // moves the watermark past every probe
    probeRows.foreach(probes.addData(_))
    buildRows.foreach(builds.addData(_))
    val q = AsOfJoin.joinDataFrames(probeDf, buildDf, "key", "ts")
      .writeStream.format("memory").queryName("asof_fanout").outputMode("append").start()
    try {
      val (_, seen) = scheduled(q.processAllAvailable())
      assert(seen.stageTasks.nonEmpty)
      assert(seen.stageTasks.max <= 2 * slots,
        s"tasks per stage ${seen.stageTasks} for $blocks blocks per side on $slots slots")
      // one more batch runs with the moved watermark and flushes the probes
      builds.addData((99, 0, 1000001L))
      q.processAllAvailable()
      def rows(ds: org.apache.spark.sql.Dataset[AsOfJoin.AsOfJoined]) =
        ds.collect().map(j => (j.k, j.probeTs, j.probePayload.toSeq, j.buildTs,
          j.buildPayload.map(_.toSeq))).sortBy(r => (r._1, r._2)).toSeq
      val streamed = rows(spark.table("asof_fanout").as[AsOfJoin.AsOfJoined])
      val batch = rows(AsOfJoin.joinDataFrames(
        withTs(probeRows.flatten.toDF("key", "tag", "tsMs")),
        withTs((buildRows.flatten :+ ((99, 0, 1000001L))).toDF("key", "price", "tsMs")),
        "key", "ts"))
      assert(streamed.size == blocks)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("processing-time lookup join reproduces the documented race (README.md:268-301)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("lookup").toString + "/dim"
    // dimension state "as of now": only order 1 enriched
    Seq((1, "Medonna")).toDF("order_id", "client").write.mode("overwrite").parquet(dir)
    val dim = spark.read.parquet(dir)
    val stream = Seq(1, 2).toDF("id") // event 2's dim row hasn't landed yet
    val joined = LookupJoin.processingTime(stream, dim, col("id") === col("order_id"))
      .select("id").collect().map(_.getInt(0)).toSet
    assert(joined == Set(1)) // the race: event 2 silently misses (inner join)
    // later, the dim catches up and a re-lookup (next batch) emits it
    Seq((1, "Medonna"), (2, "Wall Smith")).toDF("order_id", "client")
      .write.mode("overwrite").parquet(dir)
    val dim2 = spark.read.parquet(dir)
    val joined2 = LookupJoin.processingTime(stream, dim2, col("id") === col("order_id"))
      .select("id").collect().map(_.getInt(0)).toSet
    assert(joined2 == Set(1, 2))
  }

  test("native windowed streaming aggregation: closed hourly windows emit in append mode (wm_bounded)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Int)] // tsMs, value
    val agg = input.toDF().toDF("tsMs", "v")
      .select(timestamp_millis(col("tsMs")).as("ts"), col("v"))
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      val h = 3600L * 1000
      input.addData((h + 1000, 1), (h + 2000, 2), (2 * h + 1000, 10))
      q.processAllAvailable()
      // watermark = 2h+1s-5s: hour-1 window [1h,2h) is closed and emits
      input.addData((3 * h, 0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .selectExpr("window.start", "n", "sv").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2))).toSet
      assert(rows.contains((h, 2L, 3L)), s"hour-1 window must have emitted; got ${rows.mkString(",")}")
      assert(!rows.exists(_._1 == 3 * h), "still-open window must not emit in append mode")
    } finally q.stop()
  }

  test("stream-stream interval join: matches inside the band emit; watermark evicts old state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val m = 60L * 1000
    val clicks = MemoryStream[(Int, Long)]
    val purchases = MemoryStream[(Int, Long)]
    val c = clicks.toDF().toDF("cu", "ctsMs")
      .select(col("cu"), timestamp_millis(col("ctsMs")).as("click_ts"))
      .withWatermark("click_ts", "0 seconds")
    val p = purchases.toDF().toDF("pu", "ptsMs")
      .select(col("pu"), timestamp_millis(col("ptsMs")).as("purch_ts"))
      .withWatermark("purch_ts", "0 seconds")
    // same band as RefOps.joinInterval: purchase within 1h after the click
    val j = c.join(p,
      col("cu") === col("pu") &&
        col("purch_ts") >= col("click_ts") &&
        col("purch_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
    val q = j.writeStream.format("memory").queryName("ssij")
      .outputMode("append").start()
    def got() = spark.table("ssij")
      .select(col("cu"), unix_millis(col("purch_ts"))).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toSet
    try {
      // (events start at 60min -- a row AT the initial watermark epoch 0
      // is dropped as late, a boundary worth staying clear of)
      clicks.addData((1, 60 * m))
      purchases.addData((1, 70 * m), (1, 130 * m), (2, 70 * m))
      q.processAllAvailable()
      // in-band purchase joins; 130min is past the band; user 2 has no click
      assert(got() == Set(1 -> 70 * m), s"got ${got()}")
      // advance both watermarks far past click-60's band -> its state evicts
      clicks.addData((9, 400 * m)); purchases.addData((9, 400 * m))
      q.processAllAvailable()
      purchases.addData((1, 80 * m)) // in-band for click 60, but beyond the watermark
      q.processAllAvailable()
      assert(got() == Set(1 -> 70 * m, 9 -> 400 * m),
        s"late purchase must not resurrect evicted click state; got ${got()}")
    } finally q.stop()
  }

  test("native session windows: 30-min-gap sessions close at the watermark (streaming events_sessionize)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Int, Long)] // user_id, tsMs
    val agg = input.toDF().toDF("user_id", "tsMs")
      .select(col("user_id"), timestamp_millis(col("tsMs")).as("ts"))
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val q = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      val m = 60L * 1000
      // user 1: two events 10 min apart (one session), then a 60-min gap
      input.addData((1, 0L), (1, 10 * m), (1, 70 * m))
      q.processAllAvailable()
      // watermark = 70min: session [0, 40min) is closed; [70,100min) open
      input.addData((1, 200 * m))
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .selectExpr("user_id", "session_window.start", "n_events").collect()
        .map(r => (r.getInt(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
      assert(rows.contains((1, 0L, 2L)),
        s"gap-merged session [0,40min) must emit with 2 events; got ${rows.mkString(",")}")
      assert(rows.contains((1, 70 * m, 1L)), s"singleton session must emit; got ${rows.mkString(",")}")
      assert(!rows.exists(_._2 == 200 * m), "still-open session must not emit in append mode")
    } finally q.stop()
  }

  test("late rows beyond the watermark are dropped by the windowed aggregation (late_data)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Int)]
    val agg = input.toDF().toDF("tsMs", "v")
      .select(timestamp_millis(col("tsMs")).as("ts"), col("v"))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      val h = 3600L * 1000
      input.addData((h + 1000, 1))
      q.processAllAvailable() // watermark -> h+1s
      input.addData((10 * h, 1)) // watermark -> 10h; closes hour-1 window
      q.processAllAvailable()
      input.addData((h + 2000, 99)) // LATE: hour-1 window already closed
      q.processAllAvailable()
      input.addData((20 * h, 1))
      q.processAllAvailable()
      val rows = spark.table("late_out")
        .selectExpr("window.start", "n").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toMap
      assert(rows(h) == 1L, s"late row must NOT be counted; got ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("idle-source heartbeat advances the watermark so held probes flush (wm_idle)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Boolean, String)]
    // The data stream goes idle after one probe; without the heartbeat the
    // watermark would stall at 0 and the probe would be held forever
    // (the reference's idle-watermark problem, README.md:526-545).
    val raw = input.toDF().toDF("k", "tsMs", "isProbe", "payload")
      .select(col("k"), timestamp_millis(col("tsMs")).as("eventTime"),
        col("isProbe"), col("payload").cast("binary").as("payload"))
    val withHb = graft.streaming.Heartbeats
      .withIdleHeartbeat(raw, "eventTime", "0 seconds", rowsPerSecond = 5)
      .as[AsOfJoin.AsOfEvent]
    val out = AsOfJoin.join(withHb)
    val q = out.writeStream.format("memory").queryName("hb_out")
      .outputMode("append").start()
    try {
      // historical event times (long past) — only the heartbeat can push
      // the watermark beyond them
      input.addData(("k1", 1000L, false, "v1"), ("k1", 2000L, true, "p1"))
      val deadline = System.currentTimeMillis() + 30000
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        done = !spark.table("hb_out").isEmpty
        if (!done) Thread.sleep(500)
      }
      val rows = spark.table("hb_out").collect()
        .map(r => (r.getAs[Long]("probeTs"),
          Option(r.getAs[Array[Byte]]("buildPayload")).map(new String(_)).orNull))
      assert(rows.contains((2000000L, "v1")),
        s"heartbeat should flush the probe; got ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("changelog-through-aggregation: updates retract, deletes empty a group, moves recompute both groups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("chagg").toString
    val input = MemoryStream[(Int, String, Int, String, Long)] // id, grp, v, op, ver
    val decoded = input.toDF().toDF("id", "grp", "v", "_op", "ver")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("grp").agg(count(lit(1)).as("n"), sum("v").as("sv"))
    input.addData((1, "gA", 1, "c", 1L), (2, "gA", 2, "c", 2L), (3, "gB", 5, "c", 3L))
    val q = graft.streaming.ChangelogAgg.run(decoded, Seq("id"), "ver", Seq("grp"),
      agg, dir + "/state", dir + "/result", dir + "/ckpt")
    q.processAllAvailable()
    q.stop()
    val r1 = spark.read.parquet(dir + "/result").select("grp", "n", "sv")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(r1 == Map("gA" -> (2L, 3L), "gB" -> (1L, 5L)))
    // batch 2: id2 value update; id3 deleted (gB empties); id1 MOVES gA->gC
    input.addData((2, "gA", 10, "u", 4L), (3, "gB", 5, "d", 5L), (1, "gC", 1, "u", 6L))
    val q2 = graft.streaming.ChangelogAgg.run(decoded, Seq("id"), "ver", Seq("grp"),
      agg, dir + "/state", dir + "/result", dir + "/ckpt")
    q2.processAllAvailable()
    q2.stop()
    val r2 = spark.read.parquet(dir + "/result").select("grp", "n", "sv")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(r2 == Map("gA" -> (1L, 10L), "gC" -> (1L, 1L)),
      s"got $r2") // gB tombstoned away
  }

  test("changelog agg: a batch touching 1e5 distinct groups stays off the driver") {
    // Regression for the old driver-side collect() of affected groups: a
    // wide CDC burst (here every row its own group) must flow through the
    // distributed scratch-path materialization, not driver memory.
    val dir = Files.createTempDirectory("chaggwide").toString
    val batch = spark.range(100000).selectExpr(
      "CAST(id AS INT) AS id", "concat('g', id) AS grp",
      "CAST(id % 7 AS INT) AS v", "'c' AS _op", "id AS ver")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("grp").agg(count(lit(1)).as("n"), sum("v").as("sv"))
    graft.streaming.ChangelogAgg.processBatch(batch, Seq("id"), "ver",
      Seq("grp"), agg, dir + "/state", dir + "/result")
    assert(spark.read.parquet(dir + "/result").count() === 100000L)
    // second batch: delete half the keys -> half the groups tombstone away
    val dels = spark.range(50000).selectExpr(
      "CAST(id AS INT) AS id", "concat('g', id) AS grp",
      "CAST(id % 7 AS INT) AS v", "'d' AS _op", "id + 200000 AS ver")
    graft.streaming.ChangelogAgg.processBatch(dels, Seq("id"), "ver",
      Seq("grp"), agg, dir + "/state", dir + "/result")
    assert(spark.read.parquet(dir + "/result").count() === 50000L)
  }

  test("upsert stream end-to-end: changelog -> decode -> foreachBatch upsert") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("upsstream").toString
    val input = MemoryStream[String]
    val decoded = Debezium.decode(input.toDF().toDF("value"), orderRow)
      .withColumn("_deleted", col("_op") === "d")
    input.addData(
      env("c", 1, Seq(1, 2), 1000L, 1),
      env("c", 2, Seq(3), 1100L, 2),
      env("u", 1, Seq(9), 1200L, 3),
      env("d", 2, Seq(3), 1300L, 4))
    val q = UpsertSink.writeUpsertStream(decoded, Seq("id"), "_tx_id",
      dir + "/table", dir + "/ckpt", deleteCol = Some("_deleted"))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(dir + "/table")
      .select("id", "pizzas").collect().map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
    assert(got == Map(1 -> Seq(9)))
  }

  test("restart from checkpoint: a second run reads only files added since (exactly-once resume)") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val dir = Files.createTempDirectory("restart").toString
    val srcDir = dir + "/src"
    JFiles.createDirectories(JPaths.get(srcDir))
    JFiles.writeString(JPaths.get(srcDir, "f1.json"),
      env("c", 1, Seq(1), 1000L, 1) + "\n" + env("c", 2, Seq(2), 1100L, 2) + "\n")
    def runOnce(): Long = {
      // count via our own foreachBatch: numInputRows over-counts when the
      // merge runs several actions over the batch (source re-read each time)
      val seen = new java.util.concurrent.atomic.AtomicLong
      val raw = spark.readStream.text(srcDir)
      val decoded = Debezium.decode(raw, orderRow)
      val q = decoded.writeStream.outputMode("update")
        .option("checkpointLocation", dir + "/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val b = batch.localCheckpoint() // materialize once for both actions
          seen.addAndGet(b.count())
          UpsertSink.mergeBatch(b, Seq("id"), "_tx_id", dir + "/table")
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination() // AvailableNow: terminates once caught up
      seen.get()
    }
    assert(runOnce() == 2)
    def tableIds() = spark.read.parquet(dir + "/table")
      .select("id").collect().map(_.getInt(0)).toSet
    assert(tableIds() == Set(1, 2))
    // new file arrives between runs; the restarted query must consume
    // ONLY it — the checkpoint remembers f1 was committed
    JFiles.writeString(JPaths.get(srcDir, "f2.json"),
      env("c", 3, Seq(3), 1200L, 3) + "\n")
    assert(runOnce() == 1, "restart must not reprocess committed input")
    assert(tableIds() == Set(1, 2, 3))
  }

  test("watermark boundary contract: the µs tail is admitted and ordered; at-watermark rows are never finalized early") {
    // Measured Spark boundary (this test IS the measurement the
    // EventTimeOps doc cites): the stateful late filter drops rows with
    // ts <= watermark but ADMITS the µs tail (wm, wm+999] of the
    // watermark's own millisecond. Two guarantees pinned here, on one
    // as-of hop:
    //  (a) a probe at ts == wm is NOT emitted while the watermark sits
    //      on it (a <= gate would emit it one batch early);
    //  (b) a build version landing in the admitted µs tail AFTER later
    //      events already arrived, and before the probe in event time,
    //      is the version that probe matches.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val T = 1_700_000_000_000_000L // µs, on a whole millisecond
    val input = MemoryStream[(String, Long, Boolean, String)] // k, us, isProbe, payload
    val tagged = input.toDF().toDF("k", "us", "isProbe", "payload")
      .select(col("k"), timestamp_micros(col("us")).as("eventTime"),
        col("isProbe"), col("payload").cast("binary").as("payload"))
      .withWatermark("eventTime", "1 second")
      .as[AsOfJoin.AsOfEvent]
    val q = AsOfJoin.join(tagged).writeStream
      .format("memory").queryName("strict_gate").outputMode("append").start()
    try {
      // batch 1: key a's probe sits in wm's µs tail (T+800), key b's
      // exactly ON the watermark (T), each with an old version; the
      // sentinel parks wm at T
      input.addData(Seq(("a", T - 5_000_000L, false, "a_old"), ("a", T + 800L, true, "pa"),
        ("b", T - 5_000_000L, false, "b_old"), ("b", T, true, "pb"),
        ("z", T + 1_000_000L, false, "noop")))
      q.processAllAvailable()
      // batch 2: later versions invoke both keys while wm == T. The
      // strict gate must hold BOTH probes (b's is at ts == wm); nothing
      // may emit yet
      input.addData(Seq(("a", T + 600_000L, false, "a_later"),
        ("b", T + 600_000L, false, "b_later")))
      q.processAllAvailable()
      assert(spark.table("strict_gate").count() == 0,
        "no probe may emit while the watermark still sits on its millisecond")
      // batch 3: key a's version arrives LATE in wall-clock order but in
      // the admitted µs tail (T+300 > wm) and BEFORE the probe in event
      // time — the probe must match it, not a_old
      input.addData(Seq(("a", T + 300L, false, "a_tail")))
      q.processAllAvailable()
      // advance the watermark far past everything; timers flush the probes
      for (i <- 1 to 2) {
        input.addData(Seq(("z", T + i * 10_000_000_000L, false, "noop")))
        q.processAllAvailable()
      }
      val got = spark.table("strict_gate").collect()
        .map(r => (r.getAs[String]("k"), r.getAs[Long]("probeTs"),
          Option(r.getAs[Array[Byte]]("buildPayload")).map(new String(_)).orNull))
        .toSet
      assert(got == Set(("a", T + 800L, "a_tail"), ("b", T, "b_old")),
        s"the tail-admitted version must be the one its probe matches; got $got")
    } finally q.stop()
  }

  private def txnEvents(input: MemoryStream[(Long, Boolean, Int, String)]) = {
    import spark.implicits._
    input.toDF().toDF("txId", "isBoundary", "expected", "pay")
      .select(col("txId"), col("isBoundary"), col("expected"),
        col("pay").cast("binary").as("payload"))
      .as[TxnBuffer.TxnEvent]
  }

  test("txn buffer: a transaction emits only once ALL its events arrived (README.md:486)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Boolean, Int, String)]
    val q = TxnBuffer.buffer(txnEvents(input)).writeStream
      .format("memory").queryName("txn_out").outputMode("append").start()
    try {
      // txn 1: two of three events; txn 2: one event, no boundary
      input.addData((1L, false, 0, "a"), (1L, false, 0, "b"), (2L, false, 0, "x"))
      q.processAllAvailable()
      assert(spark.table("txn_out").isEmpty, "no boundary seen yet")
      // boundary announces 3 events — still one short
      input.addData((1L, true, 3, null))
      q.processAllAvailable()
      assert(spark.table("txn_out").isEmpty, "txn 1 incomplete: 2 of 3")
      // last event: txn 1 flushes atomically; txn 2 stays buffered
      input.addData((1L, false, 0, "c"))
      q.processAllAvailable()
      val got = spark.table("txn_out").as[TxnBuffer.TxnOut].collect()
      assert(got.length == 3 && got.forall(o => o.txId == 1L && o.complete))
      assert(got.map(o => new String(o.payload)).sorted.toSeq == Seq("a", "b", "c"))
    } finally q.stop()
  }

  test("txn-consistent upsert: only complete transactions reach the keyed table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("txnupsert").toString + "/table"
    val envs = MemoryStream[String]
    val bounds = MemoryStream[(Long, Int)]
    val decoded = Debezium.decode(envs.toDF().toDF("value"), orderRow)
    val wide = TxnBuffer.bufferWide(decoded, "_tx_id",
      bounds.toDF().toDF("txId", "n"), "txId", "n")
    val q = wide.where(col("_complete"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        UpsertSink.mergeBatch(batch.withColumn("_del", col("_op") === "d"),
          Seq("id"), "_tx_id", dir, deleteCol = Some("_del"))
        ()
      }.start()
    try {
      // txn 100 complete (both events + boundary); txn 101 half-read
      envs.addData(
        env("c", 1, Seq(1), 1000L, 100), env("c", 2, Seq(2), 1001L, 100),
        env("c", 3, Seq(3), 1002L, 101))
      bounds.addData((100L, 2), (101L, 2))
      q.processAllAvailable()
      val after1 = spark.read.parquet(dir).select("id").collect().map(_.getInt(0)).toSet
      assert(after1 == Set(1, 2), "half-read txn 101 must not surface")
      // txn 101's second event arrives -> the whole txn lands atomically
      envs.addData(env("c", 4, Seq(4), 1003L, 101))
      q.processAllAvailable()
      val after2 = spark.read.parquet(dir).select("id").collect().map(_.getInt(0)).toSet
      assert(after2 == Set(1, 2, 3, 4))
    } finally q.stop()
  }

  test("txn buffer: boundary-less transaction force-flushes as incomplete on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Boolean, Int, String)]
    // NOTE: with ProcessingTimeTimeout every batch "requires another" (the
    // engine must keep checking timers), so processAllAvailable() never
    // quiesces — poll the sink with a real trigger interval instead.
    val q = TxnBuffer.buffer(txnEvents(input), flushIncompleteAfterMs = 200L)
      .writeStream.format("memory").queryName("txn_to").outputMode("append")
      .trigger(Trigger.ProcessingTime(100L)).start()
    try {
      // txn 8 completes normally; txn 7 has no boundary and must be
      // force-flushed (complete=false) once its 200ms timer expires
      input.addData((7L, false, 0, "orphan"), (8L, false, 0, "ok"), (8L, true, 1, null))
      def rows() = spark.table("txn_to").as[TxnBuffer.TxnOut].collect()
      val deadline = System.currentTimeMillis() + 30000
      while (rows().length < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val got = rows().map(o => o.txId -> (new String(o.payload), o.complete)).toMap
      assert(got == Map(7L -> ("orphan", false), 8L -> ("ok", true)))
    } finally q.stop()
  }

  test("txn buffer: batch form ignores the flush timeout instead of throwing") {
    import spark.implicits._
    // batch Datasets run under NoTimeout; a flushIncompleteAfterMs > 0 must
    // not arm a processing-time timer there (it used to throw
    // UnsupportedOperationException the moment a txn stayed incomplete)
    val events = Seq(
      TxnBuffer.TxnEvent(1L, isBoundary = false, 0, "a".getBytes),
      TxnBuffer.TxnEvent(1L, isBoundary = true, 1, null),
      TxnBuffer.TxnEvent(2L, isBoundary = false, 0, "x".getBytes)).toDS()
    val out = TxnBuffer.buffer(events, flushIncompleteAfterMs = 200L).collect()
    assert(out.map(_.txId).toSeq == Seq(1L), "incomplete txn 2 stays buffered")
    assert(out.forall(_.complete))
  }

  test("streaming exact dedup: in-horizon duplicates dropped, state expires with the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)] // doc_id, tsMs, text
    val docs = input.toDF().toDF("doc_id", "tsMs", "text")
      .select(col("doc_id"), timestamp_millis(col("tsMs")).as("ts"), col("text"))
    val out = graft.streaming.StreamingDedup.dedupExact(docs, "ts", "10 seconds")
    val q = out.writeStream.format("memory").queryName("sdedup_out")
      .outputMode("append").start()
    try {
      def texts = spark.table("sdedup_out").collect()
        .map(_.getAs[String]("text")).sorted.toSeq
      // same-batch duplicate collapses to one emission
      input.addData((1L, 1000L, "alpha"), (2L, 1500L, "alpha"), (3L, 2000L, "beta"))
      q.processAllAvailable()
      assert(texts == Seq("alpha", "beta"))
      // cross-batch duplicate within the horizon (watermark still below
      // the original's expiry) is dropped
      input.addData((4L, 3000L, "alpha"))
      q.processAllAvailable()
      assert(texts == Seq("alpha", "beta"))
      // advance the watermark far past alpha's expiry (60s - 10s = 50s),
      // then the same content arrives again: state was GC'd, re-emitted —
      // the documented horizon trade-off (cross-horizon dedup is the
      // batch operator's job)
      input.addData((5L, 60000L, "gamma"))
      q.processAllAvailable()
      input.addData((6L, 61000L, "alpha"))
      q.processAllAvailable()
      assert(texts == Seq("alpha", "alpha", "beta", "gamma"))
    } finally q.stop()
  }

  test("streaming corpus ingest: quality gate -> in-horizon dedup -> keyed upsert, end to end") {
    // the streaming form of corpus_curate: the same quality predicate in
    // the stream's projection, content dedup with watermark-bounded
    // state, and the versioned keyed table as the continuously-updated
    // corpus — all three layers composed as ONE streaming query
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_ingest").toString
    val good1 = ("the quick brown fox and the lazy dog of the town went to " +
      "the market in the morning to buy a basket of fresh bread for the family")
    val good2 = ("a small boat sailed out of the harbor in the evening and " +
      "the crew watched the lights of the coast fade into the calm dark sea")
    val input = MemoryStream[(Long, Long, String)] // doc_id, tsMs, text
    // the REAL gate definition (shared with the batch operators), so this
    // spec keeps pinning streaming-vs-batch parity if the tiers change
    val gated = graft.ops.TextOps.withQuality(
        input.toDF().toDF("doc_id", "tsMs", "text")
          .select(col("doc_id"), timestamp_millis(col("tsMs")).as("ts"), col("text")))
      .where(col("quality") === "good")
      .select("doc_id", "ts", "text")
    val deduped = graft.streaming.StreamingDedup.dedupExact(gated, "ts", "10 seconds")
      .withColumn("version", col("ts").cast("long"))
    val q = deduped.writeStream
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft_ingest_ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        UpsertSink.mergeBatch(batch, Seq("content_hash"), "version", dir)
        ()
      }
      .start()
    try {
      def corpus = UpsertSink.readKeyedTable(spark, dir)
        .map(_.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSet)
        .getOrElse(Set.empty)
      // batch 1: a good doc, its exact duplicate, and a junk doc
      input.addData((1L, 1000L, good1), (2L, 1500L, good1), (3L, 2000L, "too short"))
      q.processAllAvailable()
      assert(corpus.map(_._2) == Set(good1), s"got $corpus")
      assert(corpus.size == 1)
      // batch 2: another in-horizon duplicate (dropped by dedup state)
      // plus a genuinely new good doc (merged into the keyed table)
      input.addData((4L, 3000L, good1), (5L, 4000L, good2))
      q.processAllAvailable()
      assert(corpus.map(_._2) == Set(good1, good2))
      assert(corpus.size == 2)
    } finally q.stop()
  }
}
