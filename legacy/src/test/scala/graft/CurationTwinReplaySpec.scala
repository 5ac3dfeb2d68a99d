package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingDedup

/** Twin-equality replays of the curation surface's streaming twins
  * (exact dedup, KMV sketches, simhash, shard layout, substring, source
  * cap, media near-dup and the ingest twins): each re-processes the
  * sf0.001 harness data through chunked and kill-and-resume feeds
  * ([[TwinReplay]]), and its output must equal its batch twin's. The
  * paper's own replays are [[TwinReplaySpec]]. */
@Nightly
class CurationTwinReplaySpec extends TwinReplay {

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
