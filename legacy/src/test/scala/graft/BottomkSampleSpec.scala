package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Maintained uniform holdout (twin #32): the candidate-log fold must
  * equal the batch `sample_bottomk` row for row — seeded + one batch,
  * chunked with a redelivered batch, and through the kill-between-
  * chunks file stream — and the churn report's eviction algebra must
  * hold exactly. */
class BottomkSampleSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private lazy val batchSample: Seq[Row] =
    LegacyEntry.queries("sample_bottomk")(spark, sf).collect().toSeq

  private def evens = Tables.documents(spark, sf)
    .where(col("doc_id") % 2 === 0).select("doc_id")
  private def odds = Tables.documents(spark, sf)
    .where(col("doc_id") % 2 === 1).select("doc_id")

  private def got(dir: String): Seq[Row] =
    streaming.BottomkSampleIngest.sampleFromDir(spark, dir)
      .collect().toSeq

  test("bottomk ingest: seed + one batch == batch sample_bottomk") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bk1").toString
    streaming.BottomkSampleIngest.buildSampleIndex(spark, evens, dir)
    streaming.BottomkSampleIngest.processBatch(spark, dir, odds, 0L)
    assert(got(dir) == batchSample)
    assert(batchSample.size == graft.ops.PipelineOps.BkK)
  }

  test("bottomk ingest: chunked batches + a redelivered batch stay row-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bk2").toString
    streaming.BottomkSampleIngest.buildSampleIndex(spark, evens, dir)
    streaming.BottomkSampleIngest.processBatch(spark, dir, odds.where(col("doc_id") % 3 === 0), 0L)
    streaming.BottomkSampleIngest.processBatch(spark, dir, odds.where(col("doc_id") % 3 === 1), 1L)
    // redelivery: byte-identical candidate rows, collapsed by DISTINCT
    streaming.BottomkSampleIngest.processBatch(spark, dir, odds.where(col("doc_id") % 3 === 1), 1L)
    streaming.BottomkSampleIngest.processBatch(spark, dir, odds.where(col("doc_id") % 3 === 2), 2L)
    assert(got(dir) == batchSample)
  }

  test("bottomk ingest (twin #32): chunked file stream, killed between chunks == batch op") {
    import java.nio.file.{Files => JFiles}
    val base = JFiles.createTempDirectory("graft_bk3").toString
    val dir = s"$base/index"
    streaming.BottomkSampleIngest.buildSampleIndex(spark, evens, dir)
    val ids = odds.orderBy("doc_id").collect().map(_.getLong(0))
    val srcDir = s"$base/src"
    ids.grouped(math.max(ids.length / 4, 1)).foreach { chunk =>
      odds.where(col("doc_id").isin(chunk: _*))
        .write.mode("append").parquet(srcDir)
      val docs = spark.readStream.schema("doc_id LONG").parquet(srcDir)
      val q = streaming.BottomkSampleIngest.ingest(docs, dir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(got(dir) == batchSample,
      "streamed chunked holdout maintenance must equal the batch operator")
  }

  test("bottomk churn report: eviction algebra is exact") {
    val rows = LegacyEntry.queries("sample_bottomk_incremental")(spark, sf).collect()
    val k = graft.ops.PipelineOps.BkK
    // merged membership is exactly k; every evicted row is standing-only;
    // merged members are never evicted
    assert(rows.count(_.getAs[Boolean]("in_merged")) == k)
    assert(rows.filter(_.getAs[Boolean]("evicted"))
      .forall(r => r.getAs[Boolean]("in_standing") && !r.getAs[Boolean]("in_merged")))
    // the batch displaced SOMETHING on this corpus (odd ids carry half
    // the hash mass), or the churn instrument is vacuous here
    assert(rows.exists(_.getAs[Boolean]("evicted")))
    // the merged sample here IS the batch op's sample set
    val merged = rows.filter(_.getAs[Boolean]("in_merged"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("sample_hash"))).toSet
    val bk = batchSample.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("sample_hash"))).toSet
    assert(merged == bk)
  }
}
