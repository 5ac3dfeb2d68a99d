package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{AsOfJoin, StreamingAttribution, StreamingDedup, StreamingFunnel, StreamingRetention, TxnBuffer}

/** Twin-equality replays: each stateful streaming operator re-processes
  * the SAME sf0.001 harness data its batch twin runs on — fed through a
  * MemoryStream in event-time-ordered chunks with the watermark advanced
  * in controlled steps — and the streamed output must equal the batch
  * (oracle-green) output exactly. This is the strongest claim the
  * streaming layer makes: the incremental, state-bounded form computes
  * the very same answer as the one-shot batch form, not an approximation
  * of it. (The funnel's BATCH-mode twin equality lives in StreamingSpec;
  * here every replay is genuinely streaming: isStreaming = true,
  * watermark-gated emission, event-time timers for the tail flush.)
  */
@Nightly
class TwinReplaySpec extends SparkSpec {

  private val D = "/root/testdata/sf0.001"
  private val NChunks = 4

  /** Split an event-time-sorted seq into chunks, feed each as its own
    * micro-batch, then push `sentinels` (far-future rows that touch no
    * asserted state) twice: once to advance the watermark past every
    * real event, once more so event-time timers armed by that advance
    * actually fire. */
  private def feedChunked[A](input: MemoryStream[A],
      q: org.apache.spark.sql.streaming.StreamingQuery,
      rows: Seq[A], sentinels: Seq[A]): Unit = {
    rows.grouped(math.max(rows.size / NChunks, 1)).foreach { chunk =>
      input.addData(chunk)
      q.processAllAvailable()
    }
    sentinels.foreach { s =>
      input.addData(s)
      q.processAllAvailable()
    }
  }

  private def usOf(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Kill-and-resume replay: the same chunked feed as [[feedChunked]],
    * but every chunk is processed by a FRESH streaming query resuming
    * from the shared checkpoint (file source + Trigger.AvailableNow) —
    * the process "dies" between every micro-batch. Restart-mid-stream is
    * where stateful operators break: buffered state, the running
    * watermark, and armed event-time timers must all come back from the
    * checkpoint, and the final output must STILL equal the one-shot
    * batch form. `sentinels` are extra far-future rows, each fed in its
    * own run (a resumed batch only sees the watermark checkpointed at
    * the previous run's end, so flushing the tail takes one run per
    * watermark step plus one for the timers it arms). */
  private def restartReplay(tag: String, jsonRows: Seq[String],
      sentinels: Seq[String], schema: String)(
      mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val dir = JFiles.createTempDirectory(s"twin_restart_$tag").toString
    val srcDir = s"$dir/src"
    JFiles.createDirectories(JPaths.get(srcDir))
    val out = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]
    var nFile = 0
    def feed(rows: Seq[String]): Unit = {
      JFiles.writeString(JPaths.get(srcDir, f"f$nFile%03d.json"),
        rows.mkString("", "\n", "\n"))
      nFile += 1
      val events = spark.readStream.schema(schema).json(srcDir)
      val q = mk(events).writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(out.add)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    jsonRows.grouped(math.max(jsonRows.size / NChunks, 1)).foreach(c => feed(c))
    sentinels.foreach(s => feed(Seq(s)))
    scala.jdk.CollectionConverters.IteratorHasAsScala(out.iterator()).asScala.toSeq
  }

  test("twin replay: streaming funnel over chunked MemoryStream == batch events_funnel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evRows = Tables.events(spark, D)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._3).toSeq
    val maxUs = evRows.map(_._3).max
    val input = MemoryStream[(Long, String, Long)]
    val events = input.toDF().toDF("userId", "eventType", "us")
      .select(col("userId"), col("eventType"),
        timestamp_micros(col("us")).as("eventTime"))
      .withWatermark("eventTime", "1 second")
      .as[StreamingFunnel.FunnelEvent]
    val q = StreamingFunnel.funnel(events).writeStream
      .format("memory").queryName("funnel_twin").outputMode("append").start()
    try {
      // sentinel type "noop" has no funnel rank: advances the watermark,
      // never emits a stage
      feedChunked(input, q, evRows,
        Seq((-1L, "noop", maxUs + 10_000_000L), (-1L, "noop", maxUs + 20_000_000L)))
      val streamed = spark.table("funnel_twin").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1)
        .map { case (u, rs) => u -> rs.map(t => t._2 -> t._3).toMap }
      val batch = LegacyEntry.queries("events_funnel")(spark, D).collect()
        .map { r =>
          def us(i: Int): Option[Long] = Option(r.getTimestamp(i)).map(usOf)
          r.getLong(0) -> Seq(1 -> us(1), 2 -> us(2), 3 -> us(3))
            .collect { case (s, Some(t)) => s -> t }.toMap
        }.toMap
      assert(streamed == batch,
        s"streamed funnel (${streamed.size} users) != batch (${batch.size} users)")
    } finally q.stop()
  }

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
      val batch = LegacyEntry.queries("join_temporal_eventtime")(spark, D).collect()
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
    val batch = LegacyEntry.queries("join_temporal_eventtime")(spark, D).collect()
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
    val batch = LegacyEntry.queries("txn_buffered_emit")(spark, D).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), true)).toSet
    assert(streamed == batch,
      s"restarted txn emit (${streamed.size} rows) != batch (${batch.size} rows)")
  }

  test("restart replay: session windows killed between every chunk == batch events_sessionize") {
    val rows0 = Tables.events(spark, D)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._3).toSeq
    val maxUs = rows0.map(_._3).max
    val json = rows0.map { case (u, e, us) =>
      s"""{"user_id":$u,"event_id":$e,"us":$us}""" }
    val sentinels = (1 to 3).map(i =>
      s"""{"user_id":-1,"event_id":${-i},"us":${maxUs + i * 7_200_000_000L}}""")
    val rows = restartReplay("sess", json, sentinels,
      "user_id LONG, event_id LONG, us LONG") { df =>
      df.select(col("user_id"), col("event_id"), timestamp_micros(col("us")).as("ts"))
        .withWatermark("ts", "1 second")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), min("event_id").as("first_event"),
          max("event_id").as("last_event"))
        .selectExpr("user_id", "session_window.start AS st",
          "n_events", "first_event", "last_event")
    }
    val streamed = rows
      .filter(_.getLong(0) >= 0)
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1)
      .map { case (u, ss) =>
        u -> ss.sortBy(_._2).zipWithIndex
          .map { case ((_, _, n, f, l), i) => (i + 1L, n, f, l) }.toSeq }
    val batch = LegacyEntry.queries("events_sessionize")(spark, D).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1)
      .map { case (u, ss) =>
        u -> ss.sortBy(_._2).map { case (_, sid, n, f, l) => (sid, n, f, l) }.toSeq }
    assert(streamed == batch,
      s"restarted sessions (${streamed.size} users) != batch (${batch.size} users)")
  }

  test("restart replay: funnel killed between every chunk == batch events_funnel") {
    import spark.implicits._
    val evRows = Tables.events(spark, D)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._3).toSeq
    val maxUs = evRows.map(_._3).max
    val json = evRows.map { case (u, t, us) =>
      s"""{"userId":$u,"eventType":"$t","us":$us}""" }
    // "noop" has no funnel rank: each sentinel run advances the
    // restored watermark one step and fires the timers it re-arms
    val sentinels = (1 to 3).map(i =>
      s"""{"userId":-1,"eventType":"noop","us":${maxUs + i * 10_000_000L}}""")
    val rows = restartReplay("funnel", json, sentinels,
      "userId LONG, eventType STRING, us LONG") { df =>
      StreamingFunnel.funnel(df
        .select(col("userId"), col("eventType"),
          timestamp_micros(col("us")).as("eventTime"))
        .withWatermark("eventTime", "1 second")
        .as[StreamingFunnel.FunnelEvent]).toDF()
    }
    val streamed = rows.filter(_.getLong(0) >= 0)
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (u, rs) => u -> rs.map(t => t._2 -> t._3).toMap }
    val batch = LegacyEntry.queries("events_funnel")(spark, D).collect()
      .map { r =>
        def us(i: Int): Option[Long] = Option(r.getTimestamp(i)).map(usOf)
        r.getLong(0) -> Seq(1 -> us(1), 2 -> us(2), 3 -> us(3))
          .collect { case (s, Some(t)) => s -> t }.toMap
      }.toMap
    assert(streamed == batch,
      s"restarted funnel (${streamed.size} users) != batch (${batch.size} users)")
  }

  test("restart replay: retention killed between every chunk == batch events_retention") {
    import spark.implicits._
    val rows0 = Tables.events(spark, D)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._2).toSeq
    val maxUs = rows0.map(_._2).max
    val json = rows0.map { case (u, us) => s"""{"userId":$u,"us":$us}""" }
    val sentinels = (1 to 3).map(i =>
      s"""{"userId":-1,"us":${maxUs + i * 10_000_000_000L}}""")
    val rows = restartReplay("ret", json, sentinels, "userId LONG, us LONG") { df =>
      StreamingRetention.returns(df
        .select(col("userId"), timestamp_micros(col("us")).as("eventTime"))
        .withWatermark("eventTime", "1 second")
        .as[StreamingRetention.ActivityEvent]).toDF()
    }
    val streamed = rows.filter(_.getAs[Long]("userId") >= 0)
      .groupBy(r => (r.getAs[Long]("cohortDayUs"), r.getAs[Int]("dayOffset")))
      .map { case (k, rs) => k -> rs.size.toLong }
    val batch = LegacyEntry.queries("events_retention")(spark, D).collect()
      .map(r => (usOf(r.getTimestamp(0)), r.getInt(1)) -> r.getLong(2)).toMap
    assert(streamed == batch,
      s"restarted retention (${streamed.size} cells) != batch (${batch.size})")
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
      val batch = LegacyEntry.queries("txn_buffered_emit")(spark, D).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), true)).toSet
      assert(streamed == batch,
        s"streamed txn emit (${streamed.size} rows) != batch (${batch.size} rows)")
    } finally q.stop()
  }

  test("twin replay: streaming session windows over chunked MemoryStream == batch events_sessionize") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, D)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._3).toSeq
    val maxUs = rows.map(_._3).max
    val input = MemoryStream[(Long, Long, Long)]
    // boundary note: the batch operator starts a new session when the gap
    // EXCEEDS 30 minutes; session_window merges overlapping [ts, ts+30m)
    // intervals. The two agree except at a gap of exactly 30:00.000000,
    // which µs-grained real data does not produce.
    val agg = input.toDF().toDF("user_id", "event_id", "us")
      .select(col("user_id"), col("event_id"), timestamp_micros(col("us")).as("ts"))
      .withWatermark("ts", "1 second")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), min("event_id").as("first_event"),
        max("event_id").as("last_event"))
    val q = agg.writeStream.format("memory").queryName("sess_twin")
      .outputMode("append").start()
    try {
      // sentinels two hours past the end close every real session (its
      // own stays open and is filtered by user_id >= 0)
      feedChunked(input, q, rows,
        Seq((-1L, -1L, maxUs + 7_200_000_000L), (-1L, -2L, maxUs + 7_300_000_000L)))
      val streamed = spark.table("sess_twin")
        .where(col("user_id") >= 0)
        .selectExpr("user_id", "session_window.start AS st",
          "n_events", "first_event", "last_event")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getLong(2), r.getLong(3), r.getLong(4)))
        .groupBy(_._1)
        .map { case (u, ss) =>
          u -> ss.sortBy(_._2).zipWithIndex
            .map { case ((_, _, n, f, l), i) => (i + 1L, n, f, l) }.toSeq }
      val batch = LegacyEntry.queries("events_sessionize")(spark, D).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .groupBy(_._1)
        .map { case (u, ss) =>
          u -> ss.sortBy(_._2).map { case (_, sid, n, f, l) => (sid, n, f, l) }.toSeq }
      assert(streamed == batch,
        s"streamed sessions (${streamed.size} users) != batch (${batch.size} users)")
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
      val batch = LegacyEntry.queries("agg_hourly_count")(spark, D).collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"streamed hourly (${streamed.size} groups) != batch (${batch.size} groups)")
    } finally q.stop()
  }

  test("twin replay: streaming hourly partials + shared z-finalize == batch events_error_spike") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, D)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._2).toSeq
    val maxUs = rows.map(_._2).max
    val input = MemoryStream[(String, Long)]
    // the stateful piece is the per-(type, hour) count — the proven
    // tumbling-window shape; the corpus-wide z needs ALL hours, so the
    // moments live in the CONSUMER-side finalize (exactly the batch
    // arithmetic via RefOps.errorSpikeFinalize), not in a stacked
    // stateful aggregate
    val agg = input.toDF().toDF("event_type", "us")
      .select(col("event_type"), timestamp_micros(col("us")).as("ts"))
      .withWatermark("ts", "1 second")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("spike_twin")
      .outputMode("append").start()
    try {
      feedChunked(input, q, rows,
        Seq(("__wm__", maxUs + 7_200_000_000L), ("__wm__", maxUs + 14_400_000_000L)))
      val hourly = spark.table("spike_twin")
        .where(col("event_type") =!= "__wm__")
        .selectExpr("event_type", "window.start AS hour", "n")
        .groupBy("hour")
        .agg(sum("n").as("n_total"),
          sum(when(col("event_type") === "error", col("n")).otherwise(0L)).as("n_err"))
      val streamed = graft.ops.RefOps.errorSpikeFinalize(hourly).collect().toSeq
      val batch = LegacyEntry.queries("events_error_spike")(spark, D).collect().toSeq
      assert(streamed == batch,
        s"streamed spike frame (${streamed.size} hours) != batch (${batch.size})")
    } finally q.stop()
  }

  test("twin replay: streaming hop-window counts over chunked MemoryStream == batch agg_hop_count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, D)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._2).toSeq
    val maxUs = rows.map(_._2).max
    val input = MemoryStream[(String, Long)]
    // the sliding window is streaming-native: same (type, win_start, n)
    // shape as the batch operator, compared directly once finalized
    val agg = input.toDF().toDF("event_type", "us")
      .select(col("event_type"), timestamp_micros(col("us")).as("ts"))
      .withWatermark("ts", "1 second")
      .groupBy(col("event_type"), window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("hop_twin")
      .outputMode("append").start()
    try {
      feedChunked(input, q, rows,
        Seq(("__wm__", maxUs + 7_200_000_000L), ("__wm__", maxUs + 14_400_000_000L)))
      val streamed = spark.table("hop_twin")
        .where(col("event_type") =!= "__wm__")
        .selectExpr("event_type", "window.start AS ws", "n")
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getLong(2)).toMap
      val batch = LegacyEntry.queries("agg_hop_count")(spark, D).collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"streamed hop windows (${streamed.size} groups) != batch (${batch.size} groups)")
    } finally q.stop()
  }

  test("restart replay: hop windows killed between every chunk == batch agg_hop_count") {
    // sliding windows keep MULTIPLE open windows per key in the state
    // store — a distinct checkpoint format from the session-window and
    // flatMapGroups restarts already pinned; kill-and-resume must
    // restore every half-open window
    val rows0 = Tables.events(spark, D)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._2).toSeq
    val maxUs = rows0.map(_._2).max
    val json = rows0.map { case (t, us) => s"""{"event_type":"$t","us":$us}""" }
    val sentinels = (1 to 3).map(i =>
      s"""{"event_type":"__wm__","us":${maxUs + i * 7_200_000_000L}}""")
    val rows = restartReplay("hop", json, sentinels, "event_type STRING, us LONG") { df =>
      df.select(col("event_type"), timestamp_micros(col("us")).as("ts"))
        .withWatermark("ts", "1 second")
        .groupBy(col("event_type"), window(col("ts"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n"))
        .selectExpr("event_type", "window.start AS ws", "n")
    }
    val streamed = rows.filter(_.getString(0) != "__wm__")
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getLong(2)).toMap
    val batch = LegacyEntry.queries("agg_hop_count")(spark, D).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getLong(2)).toMap
    assert(streamed == batch,
      s"restarted hop windows (${streamed.size}) != batch (${batch.size})")
  }

  test("twin replay: streaming cumulate (6h steps) over chunked MemoryStream == batch agg_cumulate_count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // CUMULATE = a stateful tumbling STEP aggregate (the only streaming
    // state) + a deterministic expansion of each finalized step into the
    // day windows it feeds — two stacked stateful aggs are illegal in
    // append mode, and the batch operator makes the same split, so the
    // twin streams the step agg and expands finalized rows identically
    val rows = Tables.events(spark, D)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._2).toSeq
    val maxUs = rows.map(_._2).max
    val input = MemoryStream[(String, Long)]
    val agg = input.toDF().toDF("event_type", "us")
      .select(col("event_type"), timestamp_micros(col("us")).as("ts"))
      .withWatermark("ts", "1 second")
      .groupBy(col("event_type"), window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("cumulate_twin")
      .outputMode("append").start()
    try {
      feedChunked(input, q, rows,
        Seq(("__wm__", maxUs + 21_600_000_000L), ("__wm__", maxUs + 43_200_000_000L)))
      val StepUs = 21_600_000_000L
      val DayUs = 86_400_000_000L
      val streamed = spark.table("cumulate_twin")
        .where(col("event_type") =!= "__wm__")
        .selectExpr("event_type", "unix_micros(window.start) AS step_us", "n")
        .collect()
        .flatMap { r =>
          val (t, stepUs, n) = (r.getString(0), r.getLong(1), r.getLong(2))
          val dayUs = (stepUs / DayUs) * DayUs
          ((stepUs + StepUs) to (dayUs + DayUs) by StepUs)
            .map(endUs => (t, dayUs, endUs) -> n)
        }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      val batch = LegacyEntry.queries("agg_cumulate_count")(spark, D).collect()
        .map(r => (r.getString(0), usOf(r.getTimestamp(1)), usOf(r.getTimestamp(2))) ->
          r.getLong(3)).toMap
      assert(streamed == batch,
        s"streamed cumulate (${streamed.size} windows) != batch (${batch.size} windows)")
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
      val batch = LegacyEntry.queries("changelog_upsert")(spark, D).collect()
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
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    json.grouped(math.max(json.size / NChunks, 1)).foreach(feed)
    val streamed = graft.streaming.UpsertSink.readKeyedTable(spark, table).get
      .select("user_id", "event_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batch = LegacyEntry.queries("changelog_upsert")(spark, D).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(streamed == batch,
      s"restarted upsert table (${streamed.size} keys) != batch (${batch.size})")
  }

  test("twin replay: streaming attribution over chunked MemoryStream == batch events_attribution") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, D)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(_._4).toSeq
    val maxUs = rows.map(_._4).max
    val input = MemoryStream[(Long, Long, String, Long)]
    val events = input.toDF().toDF("userId", "eventId", "eventType", "us")
      .select(col("userId"), col("eventId"), col("eventType"),
        timestamp_micros(col("us")).as("eventTime"))
      .withWatermark("eventTime", "1 second")
      .as[StreamingAttribution.TouchEvent]
    val q = StreamingAttribution.attribute(events).writeStream
      .format("memory").queryName("attr_twin").outputMode("append").start()
    try {
      // sentinel type "noop" is a non-purchase for user -1: advances the
      // watermark without attributing anything asserted
      feedChunked(input, q, rows,
        Seq((-1L, -1L, "noop", maxUs + 10_000_000L),
          (-1L, -2L, "noop", maxUs + 20_000_000L)))
      // the batch operator reports the channel rollup — aggregate the
      // streamed per-purchase attributions the same way
      val streamed = spark.table("attr_twin")
        .where(col("userId") >= 0)
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"),
          countDistinct(col("userId")).as("n_users"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val batch = LegacyEntry.queries("events_attribution")(spark, D).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(streamed == batch,
        s"streamed attribution $streamed != batch $batch")
    } finally q.stop()
  }

  test("twin replay: streaming retention over chunked MemoryStream == batch events_retention") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, D)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._2).toSeq
    val maxUs = rows.map(_._2).max
    val input = MemoryStream[(Long, Long)]
    val events = input.toDF().toDF("userId", "us")
      .select(col("userId"), timestamp_micros(col("us")).as("eventTime"))
      .withWatermark("eventTime", "1 second")
      .as[StreamingRetention.ActivityEvent]
    val q = StreamingRetention.returns(events).writeStream
      .format("memory").queryName("ret_twin").outputMode("append").start()
    try {
      feedChunked(input, q, rows,
        Seq((-1L, maxUs + 10_000_000_000L), (-1L, maxUs + 20_000_000_000L)))
      // aggregate the streamed per-user returns the way the batch
      // operator's (cohort, offset) count does; the sentinel user's own
      // single return row is excluded
      val streamed = spark.table("ret_twin")
        .where(col("userId") >= 0)
        .groupBy("cohortDayUs", "dayOffset")
        .agg(count(lit(1)).as("n_users"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      val batch = LegacyEntry.queries("events_retention")(spark, D).collect()
        .map(r => (usOf(r.getTimestamp(0)), r.getInt(1)) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"streamed retention (${streamed.size} cells) != batch (${batch.size})")
    } finally q.stop()
  }

  test("twin replay: streaming exact dedup over chunked MemoryStream == batch keeper set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the harness documents table has no exact duplicates (500 distinct
    // texts), so replay it PLUS a duplicated tail: 100 docs re-arriving
    // later under higher doc_ids — the batch twin's groupBy(md5) keeper
    // is the original (min doc_id), and the streaming form must drop
    // every replayed copy
    val docs = Tables.documents(spark, D).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val dups = docs.take(100).map { case (id, t) => (id + 100000L, t) }
    val all = docs ++ dups
    val input = MemoryStream[(Long, String)]
    // event time advances with doc_id; the whole replay spans seconds
    // while the horizon is an hour, so no key's state expires mid-feed
    // (state expiry re-admitting cross-horizon dups is the documented
    // trade-off, not an error — StreamingSpec pins it separately)
    val stream = input.toDF().toDF("doc_id", "text")
      .withColumn("arrival", timestamp_millis(lit(1700000000000L) + col("doc_id")))
    val deduped = StreamingDedup.dedupExact(stream, "arrival", "1 hour")
    val q = deduped.writeStream
      .format("memory").queryName("dedup_twin").outputMode("append").start()
    try {
      // originals stream first (4 chunks), replayed copies after — every
      // copy arrives in a LATER micro-batch than its original, so the
      // keeper is deterministically the min doc_id, like the batch op
      feedChunked(input, q, all, Nil)
      val streamed = spark.table("dedup_twin").collect()
        .map(r => (r.getAs[String]("content_hash"), r.getAs[Long]("doc_id"))).toSet
      val batch = all.toDF("doc_id", "text")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("keeper"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(streamed == batch,
        s"streamed dedup kept ${streamed.size} docs, batch keeper set has ${batch.size}")
      assert(streamed.size == docs.size, "every replayed duplicate must be dropped")
    } finally q.stop()
  }

  test("restart replay: cumulate steps killed between every chunk == batch agg_cumulate_count") {
    // cumulate's streaming state is the tumbling 6h STEP aggregate (the
    // explode runs above it); hop pinned multiple open windows per key,
    // this pins the single-window step under kill-and-resume, expanded
    // identically to the batch operator's split
    val rows0 = Tables.events(spark, D)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._2).toSeq
    val maxUs = rows0.map(_._2).max
    val json = rows0.map { case (t, us) => s"""{"event_type":"$t","us":$us}""" }
    val sentinels = (1 to 3).map(i =>
      s"""{"event_type":"__wm__","us":${maxUs + i * 21_600_000_000L}}""")
    val rows = restartReplay("cumulate", json, sentinels, "event_type STRING, us LONG") { df =>
      df.select(col("event_type"), timestamp_micros(col("us")).as("ts"))
        .withWatermark("ts", "1 second")
        .groupBy(col("event_type"), window(col("ts"), "6 hours"))
        .agg(count(lit(1)).as("n"))
        .selectExpr("event_type", "unix_micros(window.start) AS step_us", "n")
    }
    val StepUs = 21_600_000_000L
    val DayUs = 86_400_000_000L
    val streamed = rows.filter(_.getString(0) != "__wm__")
      .flatMap { r =>
        val (t, stepUs, n) = (r.getString(0), r.getLong(1), r.getLong(2))
        val dayUs = (stepUs / DayUs) * DayUs
        ((stepUs + StepUs) to (dayUs + DayUs) by StepUs)
          .map(endUs => (t, dayUs, endUs) -> n)
      }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    val batch = LegacyEntry.queries("agg_cumulate_count")(spark, D).collect()
      .map(r => (r.getString(0), usOf(r.getTimestamp(1)), usOf(r.getTimestamp(2))) ->
        r.getLong(3)).toMap
    assert(streamed == batch,
      s"restarted cumulate (${streamed.size} windows) != batch (${batch.size} windows)")
  }

  private val KmvDayUs = 86_400_000_000L

  /** The per-day batch sketches the KMV twins must reproduce: the
    * oracle-green kmvSketch core applied to each day's tokens. */
  private def kmvBatchByDay(rows: Seq[(String, Long)]):
      Map[Long, (Long, Long, Double, Option[Double])] = {
    import spark.implicits._
    rows.groupBy { case (_, us) => (us / KmvDayUs) * KmvDayUs }
      .map { case (day, dayRows) =>
        val r = graft.ops.PipelineOps
          .kmvSketch(dayRows.map(_._1).toDF("tok")).collect().head
        day -> ((r.getLong(0), r.getLong(1), r.getDouble(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
      }
  }

  private def kmvEventRows(): Seq[(String, Long)] =
    Tables.events(spark, D).where(col("user_id").isNotNull)
      .select(col("user_id").cast("string").as("tok"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._2).toSeq

  private def kmvMergeStreamed(parts: Seq[graft.streaming.StreamingKmv.KmvPartial],
      realDays: Set[Long]): Map[Long, (Long, Long, Double, Option[Double])] =
    parts.filter(p => realDays.contains(p.dayUs)).groupBy(_.dayUs)
      .map { case (day, ps) =>
        val s = graft.streaming.StreamingKmv.finalizeDay(day, ps)
        day -> ((s.exactDistinct, s.kSeen, s.kmvEstimateR, s.relErrR))
      }

  test("twin replay: per-day KMV partials over chunked MemoryStream merge to the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = kmvEventRows()
    val maxUs = rows.map(_._2).max
    val input = MemoryStream[(String, Long)]
    val toks = input.toDF().toDF("tok", "us")
      .select(col("tok"), timestamp_micros(col("us")).as("eventTime"))
      .withWatermark("eventTime", "1 second")
    val q = graft.streaming.StreamingKmv.partials(toks).writeStream
      .format("memory").queryName("kmv_twin").outputMode("append").start()
    try {
      // sentinel tokens land in far-future days (excluded below); two
      // steps so the second's watermark closes every real day
      feedChunked(input, q, rows,
        Seq(("__wm1__", maxUs + KmvDayUs), ("__wm2__", maxUs + 2 * KmvDayUs)))
      val parts = spark.table("kmv_twin")
        .as[graft.streaming.StreamingKmv.KmvPartial].collect().toSeq
      val realDays = rows.map { case (_, us) => (us / KmvDayUs) * KmvDayUs }.toSet
      val streamed = kmvMergeStreamed(parts, realDays)
      val batch = kmvBatchByDay(rows)
      assert(streamed == batch,
        s"streamed KMV days ${streamed.keySet.toSeq.sorted} != batch ${batch.keySet.toSeq.sorted}: $streamed vs $batch")
    } finally q.stop()
  }

  test("restart replay: KMV partials killed between every chunk == batch per-day sketch") {
    val rows = kmvEventRows()
    val maxUs = rows.map(_._2).max
    val json = rows.map { case (tok, us) => s"""{"tok":"$tok","us":$us}""" }
    val sentinels = (1 to 3).map(i =>
      s"""{"tok":"__wm${i}__","us":${maxUs + i * KmvDayUs}}""")
    val out = restartReplay("kmv", json, sentinels, "tok STRING, us LONG") { df =>
      graft.streaming.StreamingKmv.partials(
        df.select(col("tok"), timestamp_micros(col("us")).as("eventTime"))
          .withWatermark("eventTime", "1 second")).toDF()
    }
    val parts = out.map(r => graft.streaming.StreamingKmv.KmvPartial(
      r.getLong(0), r.getInt(1), r.getLong(2), r.getSeq[Long](3)))
    val realDays = rows.map { case (_, us) => (us / KmvDayUs) * KmvDayUs }.toSet
    val streamed = kmvMergeStreamed(parts, realDays)
    val batch = kmvBatchByDay(rows)
    assert(streamed == batch,
      s"restarted KMV (${streamed.size} days) != batch (${batch.size} days)")
  }

  /** (doc_id, text) with a synthetic deterministic event time (base +
    * doc_id seconds) — near-dup twin feeds. The horizon in the twin
    * tests covers the whole synthetic span, so streamed pairs must
    * equal the batch pair set exactly. */
  private def simhashDocRows(): Seq[(Long, String, Long)] = {
    val baseUs = 1700000000000000L
    Tables.documents(spark, D).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), baseUs + r.getLong(0) * 1000000L))
      .sortBy(_._3).toSeq
  }

  private def simhashBatchPairs(): Set[(Long, Long, Long)] =
    LegacyEntry.queries("dedup_simhash_pairs")(spark, D).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("twin replay: streaming simhash near-dup over chunked MemoryStream == batch dedup_simhash_pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = simhashDocRows()
    val input = MemoryStream[(Long, String, Long)]
    val docs = input.toDF().toDF("doc_id", "text", "us")
      .select(col("doc_id"), col("text"), timestamp_micros(col("us")).as("eventTime"))
    // horizon >> data span: nothing expires, the full batch pair set
    // must stream out (output is not watermark-gated - no sentinels)
    val q = graft.streaming.StreamingSimhash.pairs(docs, "30 days").writeStream
      .format("memory").queryName("simhash_twin").outputMode("append").start()
    try {
      rows.grouped(math.max(rows.size / NChunks, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("simhash_twin").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = simhashBatchPairs()
      assert(streamed == batch,
        s"streamed near-dup pairs (${streamed.size}) != batch (${batch.size}); " +
          s"missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
    } finally q.stop()
  }

  test("restart replay: streaming simhash killed between every chunk == batch dedup_simhash_pairs") {
    val rows = simhashDocRows()
    // to_json handles any text content; hand-rolled JSON would corrupt
    // on embedded quotes
    import spark.implicits._
    val json = rows.map { case (id, text, us) =>
      Seq((id, text, us)).toDF("doc_id", "text", "us")
        .select(to_json(struct(col("doc_id"), col("text"), col("us")))).head().getString(0)
    }
    val out = restartReplay("simhash", json, Seq.empty,
      "doc_id LONG, text STRING, us LONG") { df =>
      graft.streaming.StreamingSimhash.pairs(
        df.select(col("doc_id"), col("text"),
          timestamp_micros(col("us")).as("eventTime")), "30 days").toDF()
    }
    val streamed = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = simhashBatchPairs()
    assert(streamed == batch,
      s"restarted near-dup pairs (${streamed.size}) != batch (${batch.size})")
  }

  test("streaming simhash horizon: a near-dup arriving past the watermark horizon is NOT reported") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two identical documents an hour apart, horizon 1 second: by the
    // time the twin arrives the original's bucket entries have expired
    // - the documented lambda-split trade, pinned
    val base = 1700000000000000L
    val input = MemoryStream[(Long, String, Long)]
    val docs = input.toDF().toDF("doc_id", "text", "us")
      .select(col("doc_id"), col("text"), timestamp_micros(col("us")).as("eventTime"))
    val q = graft.streaming.StreamingSimhash.pairs(docs, "1 second").writeStream
      .format("memory").queryName("simhash_horizon").outputMode("append").start()
    try {
      input.addData((1L, "alpha beta gamma delta", base))
      q.processAllAvailable()
      // advance the watermark past 1's expiry before the twin arrives
      input.addData((99L, "unrelated filler words here", base + 1800L * 1000000L))
      q.processAllAvailable()
      input.addData((2L, "alpha beta gamma delta", base + 3600L * 1000000L))
      q.processAllAvailable()
      val pairs12 = spark.table("simhash_horizon").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!pairs12.contains((1L, 2L)),
        s"the expired original must not pair with its late twin: $pairs12")
      // control: the same twin INSIDE the horizon does pair
      input.addData((3L, "alpha beta gamma delta", base + 3600L * 1000000L + 500000L))
      q.processAllAvailable()
      val pairs23 = spark.table("simhash_horizon").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs23.contains((2L, 3L)),
        s"an in-horizon twin must pair: $pairs23")
    } finally q.stop()
  }

  /** (doc_id, n_chars) sorted by the shard-layout order (h, doc_id):
    * arrival order IS layout order for an append-only writer, so the
    * streaming twin reproduces the batch layout exactly when fed in
    * this order — the same convention as the event-time-sorted feeds
    * above. */
  private def shardDocRows(pred: org.apache.spark.sql.Column): Seq[(Long, Long, Long)] =
    graft.ops.PipelineOps.shardHashed(spark, D).where(pred)
      .select(col("doc_id"), col("n_chars"), col("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (id, _, h) => (h, id) }.toSeq

  private def shardBatchLayout(name: String): Seq[(Long, Int, Int, Long)] =
    LegacyEntry.queries(name)(spark, D).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
      .sortBy(t => (t._2, t._3))

  test("twin replay: streaming shard layout over chunked MemoryStream == batch corpus_shard_assign") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = shardDocRows(lit(true))
    val input = MemoryStream[(Long, Long)]
    val docs = input.toDF().toDF("doc_id", "n_chars")
    val q = graft.streaming.ShardAssign.assign(docs).writeStream
      .format("memory").queryName("shard_twin").outputMode("append").start()
    try {
      // no watermark, no timers: positions are emitted as documents
      // arrive, so no sentinels are needed to flush a tail
      rows.map { case (id, n, _) => (id, n) }
        .grouped(math.max(rows.size / NChunks, 1)).foreach { chunk =>
          input.addData(chunk)
          q.processAllAvailable()
        }
      val streamed = spark.table("shard_twin").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
        .sortBy(t => (t._2, t._3))
      assert(streamed == shardBatchLayout("corpus_shard_assign"),
        s"streamed shard layout (${streamed.size} docs) != batch")
    } finally q.stop()
  }

  test("twin replay: standing-then-ingest feed == batch corpus_shard_assign_incremental") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // ingest 1 = the standing corpus (even doc_ids), ingest 2 = the new
    // batch (odd): appended docs must stack after the standing tails
    // with every standing (pos, byte_start) untouched — the exact
    // semantics the oracle-checked incremental batch op pins
    val standing = shardDocRows(col("doc_id") % 2 === 0)
    val ingest = shardDocRows(col("doc_id") % 2 === 1)
    val input = MemoryStream[(Long, Long)]
    val docs = input.toDF().toDF("doc_id", "n_chars")
    val q = graft.streaming.ShardAssign.assign(docs).writeStream
      .format("memory").queryName("shard_twin_inc").outputMode("append").start()
    try {
      Seq(standing, ingest).foreach { batch =>
        input.addData(batch.map { case (id, n, _) => (id, n) })
        q.processAllAvailable()
      }
      val streamed = spark.table("shard_twin_inc").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
        .sortBy(t => (t._2, t._3))
      val batch = LegacyEntry.queries("corpus_shard_assign_incremental")(spark, D)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
        .sortBy(t => (t._2, t._3))
      assert(streamed == batch,
        s"streamed incremental layout (${streamed.size} docs) != batch (${batch.size})")
    } finally q.stop()
  }

  test("restart replay: shard layout killed between every chunk == batch corpus_shard_assign") {
    val rows = shardDocRows(lit(true))
    val json = rows.map { case (id, n, _) => s"""{"doc_id":$id,"n_chars":$n}""" }
    // per-shard tail counters must come back from the checkpoint: a lost
    // tail would restart positions at 1 and corrupt every later offset
    val out = restartReplay("shard", json, Seq.empty,
      "doc_id LONG, n_chars LONG") { df =>
      graft.streaming.ShardAssign.assign(df).toDF()
    }
    val streamed = out
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
      .sortBy(t => (t._2, t._3))
    assert(streamed == shardBatchLayout("corpus_shard_assign"),
      s"restarted shard layout (${streamed.size} docs) != batch")
  }

  private def substringBatchPairs(): Set[(Long, Long, Long)] =
    LegacyEntry.queries("dedup_substring")(spark, D).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def substringFinalize(hits: Seq[org.apache.spark.sql.Row]): Set[(Long, Long, Long)] = {
    import spark.implicits._
    graft.streaming.StreamingSubstring.finalizePairs(
      hits.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toDF("doc_a", "doc_b", "fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("twin replay: streaming substring hits over chunked MemoryStream, finalized == batch dedup_substring") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = simhashDocRows() // same (doc_id, text, eventTime) feed
    val input = MemoryStream[(Long, String, Long)]
    val docs = input.toDF().toDF("doc_id", "text", "us")
      .select(col("doc_id"), col("text"), timestamp_micros(col("us")).as("eventTime"))
    val q = graft.streaming.StreamingSubstring.hits(docs, "30 days").writeStream
      .format("memory").queryName("substring_twin").outputMode("append").start()
    try {
      rows.grouped(math.max(rows.size / NChunks, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      // the per-(pair, fp) hit stream must be duplicate-free (the
      // exactly-once claim of the bucket-local emitter), THEN the
      // stateless fold must reproduce the batch pair set
      val hitRows = spark.table("substring_twin").collect()
      val hitKeys = hitRows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(hitKeys.length == hitKeys.distinct.length,
        s"duplicate (pair, fp) hits in the stream")
      val streamed = substringFinalize(hitRows.toSeq)
      val batch = substringBatchPairs()
      assert(streamed == batch,
        s"streamed substring pairs (${streamed.size}) != batch (${batch.size}); " +
          s"missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
    } finally q.stop()
  }

  test("restart replay: streaming substring killed between every chunk, finalized == batch dedup_substring") {
    val rows = simhashDocRows()
    import spark.implicits._
    val json = rows.map { case (id, text, us) =>
      Seq((id, text, us)).toDF("doc_id", "text", "us")
        .select(to_json(struct(col("doc_id"), col("text"), col("us")))).head().getString(0)
    }
    val out = restartReplay("substring", json, Seq.empty,
      "doc_id LONG, text STRING, us LONG") { df =>
      graft.streaming.StreamingSubstring.hits(
        df.select(col("doc_id"), col("text"),
          timestamp_micros(col("us")).as("eventTime")), "30 days").toDF()
    }
    val streamed = substringFinalize(out)
    val batch = substringBatchPairs()
    assert(streamed == batch,
      s"restarted substring pairs (${streamed.size}) != batch (${batch.size})")
  }

  test("streaming substring horizon: a duplicated span arriving past the horizon is NOT reported") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // identical 60-char sentences an hour apart, horizon 1 second: the
    // original's fingerprint buckets expired before the twin arrived —
    // the documented lambda-split trade, pinned. The in-horizon control
    // also pins that identical text yields >= 2 winnowed fingerprints
    // (the MinShared floor is reachable).
    val span = "the quick brown fox jumps over the lazy dog again and again"
    val base = 1700000000000000L
    val input = MemoryStream[(Long, String, Long)]
    val docs = input.toDF().toDF("doc_id", "text", "us")
      .select(col("doc_id"), col("text"), timestamp_micros(col("us")).as("eventTime"))
    val q = graft.streaming.StreamingSubstring.hits(docs, "1 second").writeStream
      .format("memory").queryName("substring_horizon").outputMode("append").start()
    try {
      input.addData((1L, span, base))
      q.processAllAvailable()
      input.addData((99L, "unrelated filler words here nothing shared at all", base + 1800L * 1000000L))
      q.processAllAvailable()
      input.addData((2L, span, base + 3600L * 1000000L))
      q.processAllAvailable()
      val afterLate = substringFinalize(spark.table("substring_horizon").collect().toSeq)
      assert(!afterLate.exists(p => p._1 == 1L && p._2 == 2L),
        s"the expired original must not pair with its late twin: $afterLate")
      // control: the same twin INSIDE the horizon does pair, with the
      // full shared-fingerprint count
      input.addData((3L, span, base + 3600L * 1000000L + 500000L))
      q.processAllAvailable()
      val withControl = substringFinalize(spark.table("substring_horizon").collect().toSeq)
      assert(withControl.exists(p => p._1 == 2L && p._2 == 3L && p._3 >= 2L),
        s"an in-horizon twin must pair with >= 2 shared fingerprints: $withControl")
    } finally q.stop()
  }

  /** Fold the source-cap changelog into the final kept set. Set
    * arithmetic suffices: a document keeps at most once and, once
    * evicted, can never re-enter (its hash is fixed and the standing
    * set only improves). */
  private def capFinalize(events: Seq[(String, Long, String)]): Set[(String, Long)] = {
    val keeps = events.collect { case (s, id, "keep") => (s, id) }.toSet
    val evicts = events.collect { case (s, id, "evict") => (s, id) }.toSet
    keeps -- evicts
  }

  private def capBatchSet: Set[(String, Long)] =
    LegacyEntry.queries("corpus_source_cap")(spark, D).collect()
      .map(r => (r.getString(1), r.getLong(0))).toSet

  test("twin replay: streaming source cap over chunked MemoryStream == batch corpus_source_cap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // worst-case arrival for an eviction-capable operator: documents in
    // doc_id order, which is NOT the salted-hash keep order — late
    // arrivals must displace standing keepers for the twin to hold
    val rows = Tables.documents(spark, D).select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "source")
    val q = graft.streaming.SourceCapIngest.assign(docs).writeStream
      .format("memory").queryName("source_cap_twin").outputMode("append").start()
    try {
      rows.grouped(math.max(rows.size / NChunks, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val events = spark.table("source_cap_twin").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
      assert(capFinalize(events) == capBatchSet,
        s"streamed kept set != batch kept set (${events.size} events)")
      // the eviction path genuinely fired (chunked arrival in id order
      // must displace keepers — otherwise this replay proves nothing)
      assert(events.exists(_._3 == "evict"), "no eviction fired; feed order too easy")
    } finally q.stop()
  }

  test("restart replay: source cap killed between every chunk == batch corpus_source_cap") {
    val rows = Tables.documents(spark, D).select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val json = rows.map { case (id, src) => s"""{"doc_id":$id,"source":"$src"}""" }
    // per-source kept lists must come back from the checkpoint: a lost
    // list would re-admit 20 fresh documents per source and the final
    // set would diverge from the batch op
    val out = restartReplay("sourcecap", json.toSeq, Seq.empty,
      "doc_id LONG, source STRING") { df =>
      graft.streaming.SourceCapIngest.assign(df).toDF()
    }
    val events = out.map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(capFinalize(events) == capBatchSet,
      s"restarted kept set != batch kept set (${events.size} events)")
  }

  // ---- twin #21: streaming media near-dup at ingest ----

  private def mediaBatchPairs(): Set[(Long, Long, Long)] =
    LegacyEntry.queries("mm_image_neardup_pairs")(spark, D).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("twin replay: streaming media near-dup over chunked MemoryStream == batch mm_image_neardup_pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = simhashDocRows() // same (doc_id, text, us) feed shape
    val input = MemoryStream[(Long, String, Long)]
    val docs = input.toDF().toDF("doc_id", "text", "us")
      .select(col("doc_id"), col("text"), timestamp_micros(col("us")).as("eventTime"))
    val q = graft.streaming.StreamingMediaDedup.pairs(docs, "30 days").writeStream
      .format("memory").queryName("media_twin").outputMode("append").start()
    try {
      rows.grouped(math.max(rows.size / NChunks, 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("media_twin").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = mediaBatchPairs()
      assert(streamed == batch,
        s"streamed media pairs (${streamed.size}) != batch (${batch.size}); " +
          s"missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
      // the twin set must include the planted brightness twins, or the
      // equality above proved an empty theorem
      assert(streamed.exists(p => p._2 == p._1 + 1 && p._1 % 2 == 0),
        "no planted twin pair in the streamed set")
    } finally q.stop()
  }

  test("restart replay: streaming media near-dup killed between every chunk == batch mm_image_neardup_pairs") {
    val rows = simhashDocRows()
    import spark.implicits._
    val json = rows.map { case (id, text, us) =>
      Seq((id, text, us)).toDF("doc_id", "text", "us")
        .select(to_json(struct(col("doc_id"), col("text"), col("us")))).head().getString(0)
    }
    val out = restartReplay("media", json, Seq.empty,
      "doc_id LONG, text STRING, us LONG") { df =>
      graft.streaming.StreamingMediaDedup.pairs(
        df.select(col("doc_id"), col("text"),
          timestamp_micros(col("us")).as("eventTime")), "30 days").toDF()
    }
    val streamed = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == mediaBatchPairs(),
      s"restarted media pairs (${streamed.size}) != batch")
  }

  test("twin replay: streaming audio and video near-dup over chunked MemoryStream == batch pair ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = simhashDocRows()
    for ((mk, batchKey) <- Seq[((org.apache.spark.sql.DataFrame, String) =>
        org.apache.spark.sql.Dataset[graft.streaming.StreamingSimhash.NearPair], String)](
      (graft.streaming.StreamingMediaDedup.audioPairs, "mm_audio_neardup_pairs"),
      (graft.streaming.StreamingMediaDedup.videoPairs, "mm_video_neardup_pairs"))) {
      val input = MemoryStream[(Long, String, Long)]
      val docs = input.toDF().toDF("doc_id", "text", "us")
        .select(col("doc_id"), col("text"), timestamp_micros(col("us")).as("eventTime"))
      val name = s"media_twin_$batchKey"
      val q = mk(docs, "30 days").writeStream
        .format("memory").queryName(name).outputMode("append").start()
      try {
        rows.grouped(math.max(rows.size / NChunks, 1)).foreach { chunk =>
          input.addData(chunk)
          q.processAllAvailable()
        }
        val streamed = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val batch = LegacyEntry.queries(batchKey)(spark, D).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(streamed == batch,
          s"$batchKey streamed (${streamed.size}) != batch (${batch.size}); " +
            s"missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
        assert(streamed.nonEmpty, s"$batchKey twin equality proved an empty theorem")
      } finally q.stop()
    }
  }
}
