package graft

import org.apache.spark.sql.functions._

/** Mechanism pins for the weighted exact-k sampler and the IVF nprobe
  * curve — the properties the oracle compare can't see: the A-ES
  * integer realization's monotonicity in w, the size bias the weighting
  * exists to buy, and the probe curve's monotone shape. */
class WeightedSampleSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("weighted priority is monotone in w (A-ES max-of-salted-hashes realization)") {
    // max over j ∈ 1..64 can only be ≥ max over j ∈ 1..1 for the same
    // doc_id — the property that makes "more tokens → stochastically
    // larger key" true deterministically, not just in distribution
    val df = spark.range(0, 200).select(col("id").as("doc_id"))
      .withColumn("p1", expr(
        "array_max(transform(sequence(1, 1), " +
          "j -> md5(concat('wbk:', CAST(doc_id AS STRING), ':', CAST(j AS STRING)))))"))
      .withColumn("p64", expr(
        "array_max(transform(sequence(1, 64), " +
          "j -> md5(concat('wbk:', CAST(doc_id AS STRING), ':', CAST(j AS STRING)))))"))
    assert(df.where(col("p64") < col("p1")).count() === 0L)
    // and strictly larger for most rows (the fan actually moves the key)
    assert(df.where(col("p64") > col("p1")).count() > 150L)
  }

  test("weighted draw is exact-k, distinct, and size-biased vs the uniform draw") {
    val sample = LegacyEntry.queries("sample_weighted_bottomk")(spark, sf).collect()
    assert(sample.length === graft.ops.PipelineOps.WbkK)
    assert(sample.map(_.getLong(sample.head.fieldIndex("doc_id"))).distinct.length ===
      graft.ops.PipelineOps.WbkK)
    val ev = LegacyEntry.queries("sample_weighted_eval")(spark, sf).collect().head
    val lift = ev.getLong(ev.fieldIndex("lift_micro"))
    val wMean = ev.getLong(ev.fieldIndex("weighted_mean_micro"))
    val uMean = ev.getLong(ev.fieldIndex("uniform_mean_micro"))
    assert(lift > 1000000L,
      s"weighted mean must exceed the corpus mean (lift_micro=$lift)")
    assert(wMean > uMean,
      s"weighted mean ($wMean) must exceed the uniform-sample mean ($uMean)")
  }

  private lazy val batchSample =
    LegacyEntry.queries("sample_weighted_bottomk")(spark, sf).collect().toSeq

  private def docs2 = Tables.documents(spark, sf).select("doc_id", "text")
  private def evens = docs2.where(col("doc_id") % 2 === 0)
  private def odds = docs2.where(col("doc_id") % 2 === 1)

  private def got(dir: String) =
    streaming.WeightedSampleIngest.sampleFromDir(spark, dir).collect().toSeq

  test("weighted ingest: seed + one batch == batch sample_weighted_bottomk") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wbk1").toString
    streaming.WeightedSampleIngest.buildSampleIndex(spark, evens, dir)
    streaming.WeightedSampleIngest.processBatch(spark, dir, odds, 0L)
    assert(got(dir) == batchSample)
  }

  test("weighted ingest: chunked + redelivered batches stay row-identical (content-derived monoid)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wbk2").toString
    streaming.WeightedSampleIngest.buildSampleIndex(spark, evens, dir)
    streaming.WeightedSampleIngest.processBatch(spark, dir, odds.where(col("doc_id") % 3 === 0), 0L)
    streaming.WeightedSampleIngest.processBatch(spark, dir, odds.where(col("doc_id") % 3 === 1), 1L)
    streaming.WeightedSampleIngest.processBatch(spark, dir, odds.where(col("doc_id") % 3 === 1), 1L)
    streaming.WeightedSampleIngest.processBatch(spark, dir, odds.where(col("doc_id") % 3 === 2), 2L)
    assert(got(dir) == batchSample)
  }

  test("weighted ingest (twin #36): chunked file stream, killed between chunks == batch op") {
    import java.nio.file.{Files => JFiles}
    val base = JFiles.createTempDirectory("graft_wbk3").toString
    val dir = s"$base/index"
    streaming.WeightedSampleIngest.buildSampleIndex(spark, evens, dir)
    val ids = odds.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val srcDir = s"$base/src"
    ids.grouped(math.max(ids.length / 4, 1)).foreach { chunk =>
      odds.where(col("doc_id").isin(chunk: _*))
        .write.mode("append").parquet(srcDir)
      val stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(srcDir)
      val q = streaming.WeightedSampleIngest.ingest(stream, dir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(got(dir) == batchSample,
      "streamed chunked weighted-holdout maintenance must equal the batch operator")
  }

  private lazy val bySourceSample =
    LegacyEntry.queries("sample_weighted_by_source")(spark, sf).collect().toSeq

  private def docs3 = Tables.documents(spark, sf).select("doc_id", "source", "text")
  private def evens3 = docs3.where(col("doc_id") % 2 === 0)
  private def odds3 = docs3.where(col("doc_id") % 2 === 1)

  private def gotSrc(dir: String) =
    streaming.WeightedBySourceIngest.sampleFromDir(spark, dir).collect().toSeq

  test("per-source ingest: seed + one batch == batch sample_weighted_by_source") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wsrc1").toString
    streaming.WeightedBySourceIngest.buildSampleIndex(spark, evens3, dir)
    streaming.WeightedBySourceIngest.processBatch(spark, dir, odds3, 0L)
    assert(gotSrc(dir) == bySourceSample)
  }

  test("per-source ingest: chunked + redelivered batches stay row-identical (per-group monoid)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wsrc2").toString
    streaming.WeightedBySourceIngest.buildSampleIndex(spark, evens3, dir)
    streaming.WeightedBySourceIngest.processBatch(spark, dir, odds3.where(col("doc_id") % 3 === 0), 0L)
    streaming.WeightedBySourceIngest.processBatch(spark, dir, odds3.where(col("doc_id") % 3 === 1), 1L)
    streaming.WeightedBySourceIngest.processBatch(spark, dir, odds3.where(col("doc_id") % 3 === 1), 1L)
    streaming.WeightedBySourceIngest.processBatch(spark, dir, odds3.where(col("doc_id") % 3 === 2), 2L)
    assert(gotSrc(dir) == bySourceSample)
  }

  test("per-source ingest (twin #39): chunked file stream, killed between chunks == batch op") {
    import java.nio.file.{Files => JFiles}
    val base = JFiles.createTempDirectory("graft_wsrc3").toString
    val dir = s"$base/index"
    streaming.WeightedBySourceIngest.buildSampleIndex(spark, evens3, dir)
    val ids = odds3.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val srcDir = s"$base/src"
    ids.grouped(math.max(ids.length / 4, 1)).foreach { chunk =>
      odds3.where(col("doc_id").isin(chunk: _*))
        .write.mode("append").parquet(srcDir)
      val stream = spark.readStream
        .schema("doc_id LONG, source STRING, text STRING").parquet(srcDir)
      val q = streaming.WeightedBySourceIngest.ingest(stream, dir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(gotSrc(dir) == bySourceSample,
      "streamed per-source weighted-holdout maintenance must equal the batch operator")
  }

  test("weighted churn report: eviction algebra is exact") {
    val rows = LegacyEntry.queries("sample_weighted_incremental")(spark, sf).collect()
    val k = graft.ops.PipelineOps.WbkK
    assert(rows.count(_.getAs[Boolean]("in_merged")) == k)
    assert(rows.filter(_.getAs[Boolean]("evicted"))
      .forall(r => r.getAs[Boolean]("in_standing") && !r.getAs[Boolean]("in_merged")))
    assert(rows.exists(_.getAs[Boolean]("evicted")))
    val merged = rows.filter(_.getAs[Boolean]("in_merged"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("priority"))).toSet
    val bk = batchSample
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("priority"))).toSet
    assert(merged == bk)
  }

  test("per-source churn report: eviction algebra exact per source, non-vacuous at verify SF") {
    val rows = LegacyEntry.queries("sample_weighted_by_source_incremental")(spark, sf).collect()
    val k = graft.ops.PipelineOps.WbkSrcChurnK
    // per source: merged membership is an exact-k (or source-sized) draw
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val m = rs.count(_.getAs[Boolean]("in_merged"))
      assert(m <= k, s"source $src merged draw overflows k: $m")
    }
    assert(rows.filter(_.getAs[Boolean]("evicted"))
      .forall(r => r.getAs[Boolean]("in_standing") && !r.getAs[Boolean]("in_merged")))
    // the instrument's k < docs-per-source guarantees real evictions
    // even on the 25-doc-per-source verify corpora (the WbkSrcChurnK
    // scaladoc's non-vacuity argument, checked not assumed)
    assert(rows.exists(_.getAs[Boolean]("evicted")),
      "per-source churn must be non-vacuous at the verify SF")
  }

  test("nprobe curve: recall and candidate volume are monotone, hits bounded by possible") {
    val rows = LegacyEntry.queries("sim_ivf_probe_curve")(spark, sf)
      .orderBy("nprobe").collect()
    assert(rows.length === 4)
    val recalls = rows.map(r => r.getLong(r.fieldIndex("recall_micro")))
    val cands = rows.map(r => r.getLong(r.fieldIndex("n_candidates")))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"recall must be monotone in nprobe: ${recalls.mkString(",")}")
    assert(cands.zip(cands.tail).forall { case (a, b) => b >= a },
      s"candidate volume must be monotone in nprobe: ${cands.mkString(",")}")
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_hits")) <=
        r.getLong(r.fieldIndex("n_possible")))
    }
  }
}
