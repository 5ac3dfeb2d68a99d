package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Twin #42 parity pins: the incremental packer must (a) expose a
  * partial layout mid-stream with open tail bins the batch op can
  * never show, (b) reproduce batch `pack_sequences` byte-for-byte
  * when delivery is in doc_id order — under chunking, redelivery
  * (same batch AND later batch), kill-between-chunks restarts, and
  * ledger compaction — and (c) stay a VALID packing under
  * out-of-order delivery (every doc exactly once, arrival-order fill
  * discipline), pinned against an independent recompute. */
class PackIngestSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private lazy val batchResult =
    LegacyEntry.queries("pack_sequences")(spark, sf).collect().toSeq

  private def docs = Tables.documents(spark, sf).select("doc_id", "text")
  private lazy val maxId =
    docs.agg(max("doc_id")).head.getLong(0)

  /** Chunk m of `n`: the m-th contiguous doc_id range — in-order
    * delivery, so arrival order ≡ doc_id order per shard. */
  private def chunk(m: Int, n: Int): DataFrame = {
    val q = maxId / n + 1
    docs.where(col("doc_id") >= m * q && col("doc_id") < (m + 1) * q)
  }

  private def got(dir: String) =
    streaming.PackIngest.ledgerFromDir(spark, dir).collect().toSeq

  test("in-order chunks: open bins mid-stream, final ledger == batch pack_sequences") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pack1").toString
    streaming.PackIngest.init(spark, dir)
    streaming.PackIngest.processBatch(spark, dir, chunk(0, 4), 0L)
    val mid = got(dir)
    // the state the batch op can't see: a partial layout, exactly the
    // delivered docs, and it is a PREFIX of the final batch layout
    // (assignments are never revised)
    assert(mid.nonEmpty && mid.size < batchResult.size)
    val byId = batchResult.map(r => r.getLong(0) -> r).toMap
    assert(mid.forall(r => byId(r.getLong(0)) == r),
      "mid-stream assignments must already be final")
    streaming.PackIngest.processBatch(spark, dir, chunk(1, 4), 1L)
    streaming.PackIngest.processBatch(spark, dir, chunk(2, 4), 2L)
    streaming.PackIngest.processBatch(spark, dir, chunk(3, 4), 3L)
    assert(got(dir) == batchResult,
      "in-order stream close must equal the batch packer byte-for-byte")
  }

  test("redelivery: same-batch replay collapses; later-batch redelivery packs nothing twice") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pack2").toString
    streaming.PackIngest.init(spark, dir)
    streaming.PackIngest.processBatch(spark, dir, chunk(0, 3), 0L)
    streaming.PackIngest.processBatch(spark, dir, chunk(0, 3), 0L) // replay
    // chunk 1 arrives WITH chunk 0 redelivered inside a later batch
    streaming.PackIngest.processBatch(spark, dir,
      chunk(0, 3).unionByName(chunk(1, 3)), 1L)
    streaming.PackIngest.processBatch(spark, dir, chunk(2, 3), 2L)
    assert(got(dir) == batchResult)
    // the ledger holds at most one distinct row per doc (replay rows
    // are byte-identical)
    val led = spark.read.parquet(dir + "/ledger")
    assert(led.select("doc_id", "shard", "n_tok", "bin").distinct().count() ==
      batchResult.size)
  }

  test("pack ingest (twin #42): chunked file stream, killed between chunks == batch op") {
    import java.nio.file.{Files => JFiles}
    val base = JFiles.createTempDirectory("graft_pack3").toString
    val dir = s"$base/store"
    streaming.PackIngest.init(spark, dir)
    val srcDir = s"$base/src"
    (0 to 3).foreach { m =>
      chunk(m, 4).write.mode("append").parquet(srcDir)
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .parquet(srcDir)
      val q = streaming.PackIngest.ingest(stream, dir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(got(dir) == batchResult,
      "streamed packing must equal the batch packer at stream close")
  }

  test("ledger compaction: first-delivery fold fixed point, parity vs never-compacted twin") {
    val dirA = java.nio.file.Files.createTempDirectory("graft_pack4a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_pack4b").toString
    for (dir <- Seq(dirA, dirB)) {
      streaming.PackIngest.init(spark, dir)
      streaming.PackIngest.processBatch(spark, dir, chunk(0, 2), 0L)
    }
    streaming.PackIngest.compact(spark, dirA)
    assert(spark.read.parquet(dirA + "/ledger").count() ==
      spark.read.parquet(dirA + "/ledger").select("doc_id").distinct().count())
    // post-compaction appends + a replayed batch must fold identically
    for (dir <- Seq(dirA, dirB)) {
      streaming.PackIngest.processBatch(spark, dir, chunk(1, 2), 1L)
      streaming.PackIngest.processBatch(spark, dir, chunk(0, 2), 0L) // replay
    }
    assert(got(dirA) == got(dirB), "compacted and never-compacted stores must agree")
    assert(got(dirA) == batchResult)
  }

  test("out-of-order delivery: different layout, same discipline — every doc once, arrival-order fill") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pack5").toString
    streaming.PackIngest.init(spark, dir)
    // reversed chunk order: late small-id docs — the layout CANNOT
    // equal the batch op (assignments are never revised), but must be
    // the exact packing of the arrival order
    streaming.PackIngest.processBatch(spark, dir, chunk(1, 2), 0L)
    streaming.PackIngest.processBatch(spark, dir, chunk(0, 2), 1L)
    val rows = got(dir)
    assert(rows.size == batchResult.size, "every doc packed exactly once")
    assert(rows != batchResult, "a reversed delivery is a different layout")
    // independent recompute: per shard, docs in (batch, doc_id) arrival
    // order with a running token sum; bin = tokens-before div budget
    val ctx = graft.ops.PipelineOps.CtxTokens
    val expected = spark.read.parquet(dir + "/docs")
      .groupBy("doc_id")
      .agg(min(struct(col("batch_id"), col("shard"), col("n_tok"))).as("r"))
      .select(col("doc_id"), col("r.batch_id").as("batch_id"),
        col("r.shard").as("shard"), col("r.n_tok").as("n_tok"))
      .withColumn("cum", sum("n_tok").over(
        org.apache.spark.sql.expressions.Window.partitionBy("shard")
          .orderBy("batch_id", "doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("bin", expr(s"CAST((cum - n_tok) DIV $ctx AS BIGINT)"))
      .select("doc_id", "shard", "n_tok", "bin")
      .orderBy("doc_id").collect().toSeq
    assert(rows == expected,
      "the ledger must be the exact arrival-order packing")
  }
}
