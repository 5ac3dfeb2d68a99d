package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{AsOfJoin, TxnBuffer}

/** Twin-equality replays: each stateful streaming operator re-processes
  * the SAME sf0.001 harness data its batch twin runs on — fed through a
  * MemoryStream in event-time-ordered chunks with the watermark advanced
  * in controlled steps — and the streamed output must equal the batch
  * (oracle-green) output exactly. This is the strongest claim the
  * streaming layer makes: the incremental, state-bounded form computes
  * the very same answer as the one-shot batch form, not an approximation
  * of it. Every replay is genuinely streaming: isStreaming = true,
  * watermark-gated emission, event-time timers for the tail flush.
  * The replays cover the paper's stateful path: the as-of join (in
  * memory, on RocksDB, and killed between chunks), the transaction
  * buffer, the hourly window counts and the keyed upsert sink.
  */
class TwinReplaySpec extends TwinReplay {

  test("twin replay: streaming as-of join over chunked MemoryStream == batch join_temporal_eventtime") {
    asOfTwinReplay("asof_twin")
  }

  test("twin replay: as-of join on the RocksDB state store == batch (the 100 TB state backend)") {
    // the HDFS-backed default store holds every key's state on-heap; a
    // production deployment with more state than memory runs RocksDB.
    // Same replay, same byte-equality bar, spill-capable backend — the
    // stateful operator must not depend on in-memory store semantics.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try asOfTwinReplay("asof_twin_rocksdb")
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def asOfTwinReplay(sinkName: String): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, D)
    // build side deduped to one version per (key, ts), latest event_id
    // wins — the same pre-dedup the registered batch query applies
    val builds = ev.where(col("event_type") === "signup")
      .groupBy("user_id", "ts").agg(max("event_id").as("pl"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"), lit(false).as("isProbe"), col("pl"))
    val probes = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), lit(true).as("isProbe"),
        col("event_id").as("pl"))
    val feed = builds.unionByName(probes)
      .collect().map(r => (r.getLong(0).toString, r.getLong(1), r.getBoolean(2), r.getLong(3)))
      .sortBy(_._2).toSeq
    val maxUs = feed.map(_._2).max
    val input = MemoryStream[(String, Long, Boolean, Long)]
    val tagged = input.toDF().toDF("k", "us", "isProbe", "pl")
      .select(col("k"), timestamp_micros(col("us")).as("eventTime"), col("isProbe"),
        col("pl").cast("string").cast("binary").as("payload"))
      .withWatermark("eventTime", "1 second")
      .as[AsOfJoin.AsOfEvent]
    val q = AsOfJoin.join(tagged).writeStream
      .format("memory").queryName(sinkName).outputMode("append").start()
    try {
      // sentinel: far-future BUILD for a key no probe ever uses — builds
      // alone emit nothing, but the watermark advances and timers fire
      feedChunked(input, q, feed,
        Seq(("__wm__", maxUs + 10_000_000L, false, -1L),
          ("__wm__", maxUs + 20_000_000L, false, -1L)))
      val streamed = spark.table(sinkName).collect()
        .map { r =>
          val probeId = new String(r.getAs[Array[Byte]]("probePayload")).toLong
          val buildId = Option(r.getAs[Array[Byte]]("buildPayload"))
            .map(new String(_).toLong)
          (probeId, r.getAs[String]("k").toLong, buildId)
        }.toSet
      val batch = SparkEntry.queries("join_temporal_eventtime")(spark, D).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
      assert(streamed == batch,
        s"streamed as-of (${streamed.size} rows) != batch (${batch.size} rows)")
    } finally q.stop()
  }

  test("restart replay: as-of join killed between every chunk == batch join_temporal_eventtime") {
    import spark.implicits._
    val ev = Tables.events(spark, D)
    val builds = ev.where(col("event_type") === "signup")
      .groupBy("user_id", "ts").agg(max("event_id").as("pl"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"), lit(false).as("isProbe"), col("pl"))
    val probes = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), lit(true).as("isProbe"),
        col("event_id").as("pl"))
    val feed = builds.unionByName(probes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
      .sortBy(_._2).toSeq
    val maxUs = feed.map(_._2).max
    val json = feed.map { case (k, us, p, pl) =>
      s"""{"k":"$k","us":$us,"isProbe":$p,"pl":$pl}""" }
    val sentinels = (1 to 3).map(i =>
      s"""{"k":"__wm__","us":${maxUs + i * 10_000_000L},"isProbe":false,"pl":-1}""")
    val rows = restartReplay("asof", json, sentinels,
      "k STRING, us LONG, isProbe BOOLEAN, pl LONG") { df =>
      AsOfJoin.join(df
        .select(col("k"), timestamp_micros(col("us")).as("eventTime"), col("isProbe"),
          col("pl").cast("string").cast("binary").as("payload"))
        .withWatermark("eventTime", "1 second")
        .as[AsOfJoin.AsOfEvent]).toDF()
    }
    val streamed = rows.map { r =>
      val probeId = new String(r.getAs[Array[Byte]]("probePayload")).toLong
      val buildId = Option(r.getAs[Array[Byte]]("buildPayload")).map(new String(_).toLong)
      (probeId, r.getAs[String]("k").toLong, buildId)
    }.toSet
    val batch = SparkEntry.queries("join_temporal_eventtime")(spark, D).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(streamed == batch,
      s"restarted as-of (${streamed.size} rows) != batch (${batch.size} rows)")
  }

  test("restart replay: txn buffer killed between every chunk == batch txn_buffered_emit") {
    import spark.implicits._
    val h = Tables.events(spark, D).agg(max("event_id")).head().getLong(0) - 9
    val data = Tables.events(spark, D).where(col("event_id") < h)
      .select(col("event_id"), col("event_type"), expr("event_id div 20").as("tx"))
      .collect().map(r => (r.getLong(2), r.getLong(0), r.getString(1)))
      .sortBy(_._2).toSeq
    // early-boundary order again, with the boundary batch ALSO separated
    // from every event batch by a restart
    val json = data.map(_._1).distinct.sorted
        .map(tx => s"""{"txId":$tx,"isBoundary":true,"expected":20,"pl":null}""") ++
      data.map { case (tx, id, tpe) =>
        s"""{"txId":$tx,"isBoundary":false,"expected":0,"pl":"$id:$tpe"}""" }
    val rows = restartReplay("txn", json, Nil,
      "txId LONG, isBoundary BOOLEAN, expected INT, pl STRING") { df =>
      TxnBuffer.buffer(df
        .select(col("txId"), col("isBoundary"), col("expected"),
          col("pl").cast("binary").as("payload"))
        .as[TxnBuffer.TxnEvent]).toDF()
    }
    val streamed = rows.map { r =>
      val Array(id, tpe) = new String(r.getAs[Array[Byte]]("payload")).split(':')
      (id.toLong, tpe, r.getAs[Long]("txId"), r.getAs[Boolean]("complete"))
    }.toSet
    val batch = SparkEntry.queries("txn_buffered_emit")(spark, D).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), true)).toSet
    assert(streamed == batch,
      s"restarted txn emit (${streamed.size} rows) != batch (${batch.size} rows)")
  }

  test("twin replay: streaming txn buffer over chunked MemoryStream == batch txn_buffered_emit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the batch query's feed: events below a horizon that truncates the
    // last transaction mid-flight, txId = event_id div 20, every txn's
    // boundary announcing 20 events
    val h = Tables.events(spark, D).agg(max("event_id")).head().getLong(0) - 9
    val data = Tables.events(spark, D).where(col("event_id") < h)
      .select(col("event_id"), col("event_type"), expr("event_id div 20").as("tx"))
      .collect().map(r => (r.getLong(2), false, 0, s"${r.getLong(0)}:${r.getString(1)}"))
      .sortBy(_._4.split(':')(0).toLong).toSeq
    val bounds = data.map(_._1).distinct.sorted
      .map(tx => (tx, true, 20, ""))
    val input = MemoryStream[(Long, Boolean, Int, String)]
    val events = input.toDF().toDF("txId", "isBoundary", "expected", "pl")
      .select(col("txId"), col("isBoundary"), col("expected"),
        when(col("isBoundary"), lit(null)).otherwise(col("pl"))
          .cast("binary").as("payload"))
      .as[TxnBuffer.TxnEvent]
    // NoTimeout streaming form (flushIncompleteAfterMs = 0): incomplete
    // transactions stay buffered forever, exactly like the batch form
    val q = TxnBuffer.buffer(events).writeStream
      .format("memory").queryName("txn_twin").outputMode("append").start()
    try {
      // boundaries first — the early-boundary order, harder than the
      // batch form where each group sees everything at once
      input.addData(bounds)
      q.processAllAvailable()
      feedChunked(input, q, data, Nil)
      val streamed = spark.table("txn_twin").collect()
        .map { r =>
          val Array(id, tpe) = new String(r.getAs[Array[Byte]]("payload")).split(':')
          (id.toLong, tpe, r.getAs[Long]("txId"), r.getAs[Boolean]("complete"))
        }.toSet
      val batch = SparkEntry.queries("txn_buffered_emit")(spark, D).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), true)).toSet
      assert(streamed == batch,
        s"streamed txn emit (${streamed.size} rows) != batch (${batch.size} rows)")
    } finally q.stop()
  }

  test("twin replay: streaming tumbling-hour counts over chunked MemoryStream == batch agg_hourly_count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, D)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._2).toSeq
    val maxUs = rows.map(_._2).max
    val input = MemoryStream[(String, Long)]
    // the streaming-native form is the tumbling event-time window; the
    // batch operator groups by hour OF DAY, so finalized windows are
    // re-grouped by their start's hour-of-day for the comparison
    val agg = input.toDF().toDF("event_type", "us")
      .select(col("event_type"), timestamp_micros(col("us")).as("ts"))
      .withWatermark("ts", "1 second")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("hourly_twin")
      .outputMode("append").start()
    try {
      feedChunked(input, q, rows,
        Seq(("__wm__", maxUs + 7_200_000_000L), ("__wm__", maxUs + 14_400_000_000L)))
      val streamed = spark.table("hourly_twin")
        .where(col("event_type") =!= "__wm__")
        .selectExpr("event_type", "window.start AS ws", "n")
        .collect()
        .map(r => ((r.getString(0),
          java.time.Instant.ofEpochMilli(r.getTimestamp(1).getTime)
            .atZone(java.time.ZoneOffset.UTC).getHour), r.getLong(2)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      val batch = SparkEntry.queries("agg_hourly_count")(spark, D).collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"streamed hourly (${streamed.size} groups) != batch (${batch.size} groups)")
    } finally q.stop()
  }

  test("twin replay: upsert sink over chunked shuffled MemoryStream == batch changelog_upsert") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the merge is version-gated (latest (ts, event_id) per user wins),
    // so ARRIVAL ORDER MUST NOT MATTER — replay in a deterministic
    // content-shuffled order, the harder case than event-time order
    val rows = Tables.events(spark, D)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ver_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => java.util.UUID.nameUUIDFromBytes(t._2.toString.getBytes).toString)
      .toSeq
    val dir = java.nio.file.Files.createTempDirectory("upsert_twin").toString + "/table"
    val ckpt = java.nio.file.Files.createTempDirectory("upsert_twin_ck").toString
    val input = MemoryStream[(Long, Long, String, Long)]
    val q = input.toDF().toDF("user_id", "event_id", "event_type", "ver_us")
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.UpsertSink.mergeBatch(batch, Seq("user_id"), "ver_us",
          dir, tiebreakCols = Seq("event_id"), nBuckets = 8)
        ()
      }
      .start()
    try {
      rows.grouped(math.max(rows.size / NChunks, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = graft.streaming.UpsertSink.readKeyedTable(spark, dir).get
        .select("user_id", "event_id", "event_type")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val batch = SparkEntry.queries("changelog_upsert")(spark, D).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(streamed == batch,
        s"upsert table (${streamed.size} keys) != batch changelog collapse (${batch.size})")
    } finally q.stop()
  }

  test("restart replay: upsert sink killed between every chunk == batch changelog_upsert") {
    // the sink's crash story: every chunk is merged by a FRESH query
    // resuming from the shared checkpoint, so the changelog spans many
    // process lifetimes; the version-gated merge must come out identical
    // to the batch collapse regardless (and a replayed batch after an
    // unclean stop must be idempotent). Same deterministic
    // content-shuffled order as the one-process twin — the harder case.
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val rows = Tables.events(spark, D)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ver_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => java.util.UUID.nameUUIDFromBytes(t._2.toString.getBytes).toString)
      .toSeq
    val json = rows.map { case (u, e, t, v) =>
      s"""{"user_id":$u,"event_id":$e,"event_type":"$t","ver_us":$v}""" }
    val root = JFiles.createTempDirectory("upsert_restart").toString
    val srcDir = s"$root/src"
    JFiles.createDirectories(JPaths.get(srcDir))
    val table = s"$root/table"
    var nFile = 0
    def feed(chunk: Seq[String]): Unit = {
      JFiles.writeString(JPaths.get(srcDir, f"f$nFile%03d.json"),
        chunk.mkString("", "\n", "\n"))
      nFile += 1
      val q = spark.readStream
        .schema("user_id LONG, event_id LONG, event_type STRING, ver_us LONG")
        .json(srcDir)
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.streaming.UpsertSink.mergeBatch(b, Seq("user_id"), "ver_us",
            table, tiebreakCols = Seq("event_id"), nBuckets = 8)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    json.grouped(math.max(json.size / NChunks, 1)).foreach(feed)
    val streamed = graft.streaming.UpsertSink.readKeyedTable(spark, table).get
      .select("user_id", "event_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batch = SparkEntry.queries("changelog_upsert")(spark, D).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(streamed == batch,
      s"restarted upsert table (${streamed.size} keys) != batch (${batch.size})")
  }
}
