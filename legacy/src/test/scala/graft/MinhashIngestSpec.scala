package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** MinHash-LSH admission ingest (twin #31): the persisted band index's
  * decisions must equal the batch `dedup_minhash_incremental` report
  * row for row — in one batch, chunked with a redelivery, and through
  * the kill-between-chunks file stream — and the arrival-prospective
  * hot-bucket cap must FIRE on a template flood (the LshCapSpec
  * posture, index-side). */
class MinhashIngestSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private lazy val batchReport: Seq[Row] =
    LegacyEntry.queries("dedup_minhash_incremental")(spark, sf)
      .collect().toSeq

  private def evens = Tables.documents(spark, sf)
    .where(col("doc_id") % 2 === 0).select("doc_id", "text")
  private def odds = Tables.documents(spark, sf)
    .where(col("doc_id") % 2 === 1).select("doc_id", "text")

  private def got(dir: String): Seq[Row] =
    streaming.MinhashDedupIngest.decisionsFromDir(spark, dir)
      .orderBy("doc_id").collect().toSeq

  test("minhash ingest: one-batch probe == batch dedup_minhash_incremental") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mh1").toString
    streaming.MinhashDedupIngest.buildBandIndex(spark, evens, dir)
    streaming.MinhashDedupIngest.processBatch(spark, dir, odds, 0L)
    assert(got(dir) == batchReport)
    // the report must be non-trivial on this corpus or the pin is vacuous
    assert(batchReport.exists(r => r.getAs[Long]("n_corpus_dups") > 0),
      "sf0.001 must contain at least one standing near-dup")
  }

  test("minhash ingest: chunked ascending batches + a redelivered batch stay row-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mh2").toString
    streaming.MinhashDedupIngest.buildBandIndex(spark, evens, dir)
    val ids = odds.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut1 = ids(ids.length / 3)
    val cut2 = ids(2 * ids.length / 3)
    def chunk(p: org.apache.spark.sql.Column) = odds.where(p)
    streaming.MinhashDedupIngest.processBatch(spark, dir, chunk(col("doc_id") < cut1), 0L)
    streaming.MinhashDedupIngest.processBatch(spark, dir,
      chunk(col("doc_id") >= cut1 && col("doc_id") < cut2), 1L)
    // redelivery of batch 1: its bands are already in the index (the
    // pool DISTINCT absorbs them) and its decisions fold by min batch id
    streaming.MinhashDedupIngest.processBatch(spark, dir,
      chunk(col("doc_id") >= cut1 && col("doc_id") < cut2), 1L)
    streaming.MinhashDedupIngest.processBatch(spark, dir, chunk(col("doc_id") >= cut2), 2L)
    assert(got(dir) == batchReport)
  }

  test("minhash ingest (twin #31): chunked file stream, killed between chunks == batch op") {
    import java.nio.file.{Files => JFiles}
    val base = JFiles.createTempDirectory("graft_mh3").toString
    val dir = s"$base/index"
    streaming.MinhashDedupIngest.buildBandIndex(spark, evens, dir)
    val ids = odds.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val srcDir = s"$base/src"
    ids.grouped(math.max(ids.length / 4, 1)).foreach { chunk =>
      odds.where(col("doc_id").isin(chunk: _*))
        .write.mode("append").parquet(srcDir)
      // fresh query per chunk: kill-between-chunk restart from checkpoint
      val docs = spark.readStream.schema("doc_id LONG, text STRING").parquet(srcDir)
      val q = streaming.MinhashDedupIngest.ingest(docs, dir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(got(dir) == batchReport,
      "streamed chunked minhash admission must equal the batch operator")
  }

  test("minhash ingest: the hot-bucket cap fires on a template flood") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mh4").toString
    val template = "identical boilerplate template text repeated across the standing corpus"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def frame(rows: Seq[Row]) = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    // 15 identical standing docs > BandBucketCap=10: every band bucket
    // of the template is hot, so a 16th copy pairs NOTHING and is kept
    streaming.MinhashDedupIngest.buildBandIndex(spark,
      frame((0L until 15L).map(i => Row(i * 2, template))), dir)
    streaming.MinhashDedupIngest.processBatch(spark, dir,
      frame(Seq(Row(101L, template))), 0L)
    val r = got(dir).head
    assert(r.getAs[Long]("n_corpus_dups") == 0L, r.toString)
    assert(r.getAs[Boolean]("kept"), r.toString)
    // control: with only 2 standing copies the cap does not fire and the
    // probe reports both partners
    val dir2 = java.nio.file.Files.createTempDirectory("graft_mh5").toString
    streaming.MinhashDedupIngest.buildBandIndex(spark,
      frame(Seq(Row(0L, template), Row(2L, template))), dir2)
    streaming.MinhashDedupIngest.processBatch(spark, dir2,
      frame(Seq(Row(101L, template))), 0L)
    val r2 = got(dir2).head
    assert(r2.getAs[Long]("n_corpus_dups") == 2L, r2.toString)
    assert(!r2.getAs[Boolean]("kept"), r2.toString)
  }
}
