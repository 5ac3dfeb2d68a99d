package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The persisted sketch indexes carry the family contract (PqIndexSpec /
  * TextIndexSpec claims, re-proven for the monoid structures): parity
  * with the in-memory operators, incremental append, retry invisibility
  * — by OR-idempotence for the bloom (including a PARTIAL first write
  * retried in full), by (batch_id, r, c) read-time dedup for the
  * additive CMS — and the streaming twins (#22, #23) killed between
  * every chunk. */
class SketchIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_skidx").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rws = rows.map { case (id, text) =>
      Row(id, text, "en", "src0", text.length.toLong) }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rws).asJava),
      schema).write.parquet(s"$d/documents.parquet")
    d
  }
  private def tmp() = java.nio.file.Files.createTempDirectory("graft_skidx_i").toString

  /** 20 docs, odd ids < 10 duplicating the preceding even doc —
    * SketchSpec's dupCorpus, as (id, text). */
  private lazy val dupCorpus: Seq[(Long, String)] =
    (0L until 20L).map { i =>
      val text =
        if (i % 2 == 1 && i < 10) s"shared corpus text number ${i - 1} about data"
        else s"shared corpus text number $i about data"
      (i, text)
    }

  private def mergedWords(dir: String): Map[Long, Long] = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(dir + "/words")
      .groupBy("word_idx").agg(expr("bit_or(word)").as("word"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("persisted bloom: build over the standing half -> probe == dedup_bloom, hit for hit") {
    val full = writeDocs(dupCorpus)
    val standing = writeDocs(dupCorpus.filter(_._1 % 2 == 0))
    val dir = tmp()
    ops.SketchOps.buildBloomIndex(spark, standing, dir)
    val got = ops.SketchOps.bloomHitsFromIndex(spark, full, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = LegacyEntry.queries("dedup_bloom")(spark, full).collect()
      .map(r => r.getLong(0) -> r.getInt(r.fieldIndex("bloom_hit"))).toMap
    assert(got == want)
  }

  test("bloom append == dedup_bloom_incremental's merge; replays and partial retries absorbed") {
    import spark.implicits._
    val full = writeDocs(dupCorpus)
    val standing = writeDocs(dupCorpus.filter(_._1 % 4 == 0))
    val dir = tmp()
    ops.SketchOps.buildBloomIndex(spark, standing, dir)
    val batch = dupCorpus.filter(_._1 % 4 == 2).toDF("doc_id", "text")
    ops.SketchOps.appendToBloomIndex(spark, dir, batch)
    val want = LegacyEntry.queries("dedup_bloom_incremental")(spark, full)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("word")).toMap
    assert(mergedWords(dir) == want,
      "appended index must merge to the incremental operator's word table")
    // full replay of the same batch: OR-idempotent, nothing changes
    ops.SketchOps.appendToBloomIndex(spark, dir, batch)
    assert(mergedWords(dir) == want, "a replayed append changed the filter")
    // a PARTIAL first write retried in full — the interleaving a
    // batch_id scheme has to work around, absorbed here by the monoid
    ops.SketchOps.appendToBloomIndex(spark, dir, batch.limit(2))
    ops.SketchOps.appendToBloomIndex(spark, dir, batch)
    assert(mergedWords(dir) == want, "a partial retry perturbed the filter")
  }

  test("persisted CMS: build -> topk from index == text_ngram_cms_topk, byte for byte") {
    val dir = tmp()
    ops.SketchOps.buildCmsIndex(spark, sf, dir)
    val got = ops.SketchOps.cmsTopKFromIndex(spark, sf, dir).collect().toSeq
    val want = LegacyEntry.queries("text_ngram_cms_topk")(spark, sf).collect().toSeq
    assert(got == want)
  }

  test("CMS chunked appends with a replayed batch id sum to the whole-corpus sketch") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    ops.SketchOps.appendToCmsIndex(spark, dir, docs.where(col("doc_id") % 3 === 0), 0L)
    ops.SketchOps.appendToCmsIndex(spark, dir, docs.where(col("doc_id") % 3 === 1), 1L)
    // redelivery of batch 1 under its own id — identical rows, deduped
    ops.SketchOps.appendToCmsIndex(spark, dir, docs.where(col("doc_id") % 3 === 1), 1L)
    ops.SketchOps.appendToCmsIndex(spark, dir, docs.where(col("doc_id") % 3 === 2), 2L)
    val got = ops.SketchOps.cmsTopKFromIndex(spark, sf, dir).collect().toSeq
    val want = LegacyEntry.queries("text_ngram_cms_topk")(spark, sf).collect().toSeq
    assert(got == want,
      "chunked+replayed cell appends must sum to the whole-corpus sketch")
  }

  /** Feed the sf0.001 documents as 4 json chunks, restarting the query
    * from its checkpoint between every chunk (kill-between-chunk).
    * Returns the doc_id groups per chunk so a batch reference can
    * replay the IDENTICAL chunking (the bloom twin's cold-start
    * geometry freezes from the first chunk, so the split must match). */
  private def streamChunks(start: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.streaming.DataStreamWriter[Row],
      base: String): Seq[Seq[Long]] = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val rows = Tables.documents(spark, sf)
      .select("doc_id", "text").orderBy("doc_id").collect()
      .map { r =>
        val t = r.getString(1).replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", " ")
        (r.getLong(0), s"""{"doc_id":${r.getLong(0)},"text":"$t"}""")
      }.toSeq
    val srcDir = s"$base/src"
    JFiles.createDirectories(JPaths.get(srcDir))
    var nFile = 0
    val groups = rows.grouped(math.max(rows.size / 4, 1)).toSeq
    groups.foreach { chunk =>
      JFiles.writeString(JPaths.get(srcDir, f"f$nFile%03d.json"),
        chunk.map(_._2).mkString("", "\n", "\n"))
      nFile += 1
      val docs = spark.readStream.schema("doc_id LONG, text STRING").json(srcDir)
      val q = start(docs)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    groups.map(_.map(_._1))
  }

  test("streaming bloom ingest (twin #22): chunked, killed between chunks == batch appends at the cold-start geometry") {
    import java.nio.file.{Files => JFiles}
    val base = JFiles.createTempDirectory("graft_skidx_bstream").toString
    val dir = s"$base/index"
    val chunks = streamChunks(docs => streaming.BloomIngest.ingest(docs, dir), base)
    // reference: the IDENTICAL chunks appended as batch calls into a
    // fresh dir — the first append freezes the same cold-start geometry
    import org.apache.spark.sql.functions.col
    val refDir = tmp()
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    chunks.foreach { ids =>
      ops.SketchOps.appendToBloomIndex(spark, refDir,
        docs.where(col("doc_id").isin(ids: _*)))
    }
    assert(spark.read.parquet(dir + "/geom").collect().toSeq ==
      spark.read.parquet(refDir + "/geom").collect().toSeq,
      "cold-start geometry must freeze from the first chunk")
    assert(mergedWords(dir) == mergedWords(refDir))
    val got = ops.SketchOps.bloomHitsFromIndex(spark, sf, dir).collect().toSeq
    val want = ops.SketchOps.bloomHitsFromIndex(spark, sf, refDir).collect().toSeq
    assert(got == want)
    // every ingested doc is a member of its own filter — no false negatives
    assert(got.forall(_.getInt(1) == 1))
  }

  test("streaming CMS ingest (twin #23): chunked, killed between chunks == whole-corpus sketch") {
    import java.nio.file.{Files => JFiles}
    val base = JFiles.createTempDirectory("graft_skidx_cstream").toString
    val dir = s"$base/index"
    streamChunks(docs => streaming.CmsIngest.ingest(docs, dir), base)
    val got = ops.SketchOps.cmsTopKFromIndex(spark, sf, dir).collect().toSeq
    val want = LegacyEntry.queries("text_ngram_cms_topk")(spark, sf).collect().toSeq
    assert(got == want,
      "streamed chunked ingest must sum to the whole-corpus sketch")
  }

  // ---- persisted HLL (5th sketch structure; max monoid) ----

  import org.apache.spark.sql.functions.col

  private def userToks = Tables.events(spark, sf)
    .where(col("user_id").isNotNull)
    .select(col("user_id").cast("string").as("tok"))

  /** The batch op's estimate columns (drop the corpus-scan audit pair —
    * the index answers without the corpus, so exact/rel_err are not its
    * contract). */
  private def batchEstimate: Seq[org.apache.spark.sql.Row] =
    LegacyEntry.queries("events_unique_users_hll")(spark, sf)
      .select("n_present", "sum_int", "hll_estimate_r").collect().toSeq

  test("persisted HLL: build -> estimate from index == events_unique_users_hll, byte for byte") {
    val dir = tmp()
    ops.SketchOps.buildHllIndex(spark, dir, userToks)
    val got = ops.SketchOps.hllEstimateFromIndex(spark, dir).collect().toSeq
    assert(got == batchEstimate)
  }

  test("HLL chunked appends absorb replays, partial retries AND overlapping batches (max idempotence)") {
    val dir = tmp()
    val a = userToks.where(col("tok").cast("long") % 3 === 0)
    val b = userToks.where(col("tok").cast("long") % 3 === 1)
    val c = userToks.where(col("tok").cast("long") % 3 === 2)
    ops.SketchOps.appendToHllIndex(spark, dir, a)
    ops.SketchOps.appendToHllIndex(spark, dir, b)
    // full replay, a partial first write retried in full, and an append
    // OVERLAPPING already-enrolled tokens — the interleaving class even
    // the bloom twin never faces (its batches are disjoint by doc split)
    ops.SketchOps.appendToHllIndex(spark, dir, b)
    ops.SketchOps.appendToHllIndex(spark, dir, c.limit(3))
    ops.SketchOps.appendToHllIndex(spark, dir, c)
    ops.SketchOps.appendToHllIndex(spark, dir, a.unionAll(b))
    val got = ops.SketchOps.hllEstimateFromIndex(spark, dir).collect().toSeq
    assert(got == batchEstimate,
      "replayed/partial/overlapping appends perturbed the register file")
  }

  test("streaming HLL ingest (twin #27): chunked, killed between chunks == batch register file") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val base = JFiles.createTempDirectory("graft_skidx_hstream").toString
    val dir = s"$base/index"
    val rows = userToks.orderBy("tok").collect().map(_.getString(0))
    val srcDir = s"$base/src"
    JFiles.createDirectories(JPaths.get(srcDir))
    var nFile = 0
    rows.grouped(math.max(rows.length / 4, 1)).foreach { chunk =>
      JFiles.writeString(JPaths.get(srcDir, f"f$nFile%03d.json"),
        chunk.map(t => s"""{"tok":"$t"}""").mkString("", "\n", "\n"))
      nFile += 1
      // fresh query per chunk: kill-between-chunk restart from checkpoint
      val toks = spark.readStream.schema("tok STRING").json(srcDir)
      val q = streaming.HllIngest.ingest(toks, dir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val got = ops.SketchOps.hllEstimateFromIndex(spark, dir).collect().toSeq
    assert(got == batchEstimate,
      "streamed chunked ingest must merge to the batch register file")
  }

  // ---- persisted quantile sketch (additive monoid, the CMS class) ----

  /** The batch op's (q, len_est, n_docs) rows keyed back to micros for
    * comparison with the index read. */
  private def batchQuantiles: Map[Long, (Long, Long)] =
    LegacyEntry.queries("corpus_quantile_sketch")(spark, sf).collect()
      .map(r => math.round(r.getDouble(0) * 1000000) ->
        ((r.getLong(1), r.getLong(2)))).toMap

  private def indexQuantiles(dir: String): Map[Long, (Long, Long)] =
    ops.SketchOps.qsFromIndex(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("persisted quantile sketch: build -> quantiles from index == corpus_quantile_sketch") {
    val dir = tmp()
    ops.SketchOps.buildQsIndex(spark, sf, dir)
    assert(indexQuantiles(dir) == batchQuantiles)
  }

  test("quantile-sketch chunked appends with a replayed batch id sum to the whole corpus") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val docs = Tables.documents(spark, sf).select("doc_id", "n_chars")
    ops.SketchOps.appendToQsIndex(spark, dir, docs.where(col("doc_id") % 3 === 0), 0L)
    ops.SketchOps.appendToQsIndex(spark, dir, docs.where(col("doc_id") % 3 === 1), 1L)
    // redelivery under the same id: identical cell rows, deduped pre-sum
    ops.SketchOps.appendToQsIndex(spark, dir, docs.where(col("doc_id") % 3 === 1), 1L)
    ops.SketchOps.appendToQsIndex(spark, dir, docs.where(col("doc_id") % 3 === 2), 2L)
    assert(indexQuantiles(dir) == batchQuantiles,
      "chunked+replayed cell appends must sum to the whole-corpus sketch")
  }

  test("streaming quantile ingest (twin #28): chunked, killed between chunks == batch sketch") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val base = JFiles.createTempDirectory("graft_skidx_qstream").toString
    val dir = s"$base/index"
    val rows = Tables.documents(spark, sf).select("doc_id", "n_chars")
      .orderBy("doc_id").collect()
      .map(r => s"""{"doc_id":${r.getLong(0)},"n_chars":${r.getLong(1)}}""")
    val srcDir = s"$base/src"
    JFiles.createDirectories(JPaths.get(srcDir))
    var nFile = 0
    rows.grouped(math.max(rows.length / 4, 1)).foreach { chunk =>
      JFiles.writeString(JPaths.get(srcDir, f"f$nFile%03d.json"),
        chunk.mkString("", "\n", "\n"))
      nFile += 1
      val docs = spark.readStream.schema("doc_id LONG, n_chars LONG").json(srcDir)
      val q = streaming.QsIngest.ingest(docs, dir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(indexQuantiles(dir) == batchQuantiles,
      "streamed chunked ingest must sum to the batch sketch")
  }

  // ---- persisted vocab-growth index (two monoids in one index) ----

  /** The batch op's curve columns (drop the corpus-scan audit pair —
    * the index answers without the corpus). */
  private def batchCurve: Seq[Row] =
    LegacyEntry.queries("vocab_growth")(spark, sf)
      .select("chk", "n_docs", "n_present", "sum_int", "hll_estimate_r")
      .collect().toSeq

  test("persisted growth index: build -> curve from index == vocab_growth's curve columns") {
    val dir = tmp()
    ops.SketchOps.buildGrowthIndex(spark, dir, Tables.documents(spark, sf))
    val got = ops.SketchOps.growthFromIndex(spark, dir).collect().toSeq
    assert(got == batchCurve)
  }

  test("growth index: chunked appends absorb register replays AND count redeliveries") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val docs = Tables.documents(spark, sf)
    ops.SketchOps.appendToGrowthIndex(spark, dir, docs.where(col("doc_id") % 3 === 0), 0L)
    ops.SketchOps.appendToGrowthIndex(spark, dir, docs.where(col("doc_id") % 3 === 1), 1L)
    // redelivery under the same id: registers absorb by MAX, counts by
    // the (batch_id, seg) dedup — the two monoids' mechanisms exercised
    // in one replay
    ops.SketchOps.appendToGrowthIndex(spark, dir, docs.where(col("doc_id") % 3 === 1), 1L)
    ops.SketchOps.appendToGrowthIndex(spark, dir, docs.where(col("doc_id") % 3 === 2), 2L)
    val got = ops.SketchOps.growthFromIndex(spark, dir).collect().toSeq
    assert(got == batchCurve,
      "chunked+replayed growth appends must merge to the batch curve")
  }

  test("streaming growth ingest (twin #29): chunked, killed between chunks == batch curve") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val base = JFiles.createTempDirectory("graft_skidx_gstream").toString
    val dir = s"$base/index"
    val rows = Tables.documents(spark, sf).select("doc_id", "text")
      .orderBy("doc_id").collect()
      .map { r =>
        val t = r.getString(1).replace("\\", "\\\\").replace("\"", "\\\"")
        s"""{"doc_id":${r.getLong(0)},"text":"$t"}"""
      }
    val srcDir = s"$base/src"
    JFiles.createDirectories(JPaths.get(srcDir))
    var nFile = 0
    rows.grouped(math.max(rows.length / 4, 1)).foreach { chunk =>
      JFiles.writeString(JPaths.get(srcDir, f"f$nFile%03d.json"),
        chunk.mkString("", "\n", "\n"))
      nFile += 1
      // fresh query per chunk: kill-between-chunk restart from checkpoint
      val docs = spark.readStream.schema("doc_id LONG, text STRING").json(srcDir)
      val q = streaming.GrowthIngest.ingest(docs, dir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val got = ops.SketchOps.growthFromIndex(spark, dir).collect().toSeq
    assert(got == batchCurve,
      "streamed chunked growth ingest must merge to the batch curve")
  }
}
