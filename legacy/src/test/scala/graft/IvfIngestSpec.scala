package graft

import org.apache.spark.sql.functions._

/** Twin #43: streaming IVF index ingest. The family contract
  * (BinaryIndexSpec/PqIndexSpec posture): an index built entirely from
  * streamed vector batches — with the query KILLED between every
  * chunk — answers byte-identically to the fully-offline build, and a
  * redelivered batch is invisible through the read-time dedup. */
@Nightly
class IvfIngestSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("streamed ingest (killed between chunks) == offline-built index; redelivery invisible") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val rows = LegacyTables.embeddings(spark, sf)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map { r =>
        val e = r.getSeq[Float](1).mkString("[", ",", "]")
        s"""{"vec_id":${r.getLong(0)},"embedding":$e}"""
      }.toSeq
    val base = JFiles.createTempDirectory("graft_ivf_stream").toString
    val srcDir = s"$base/src"
    JFiles.createDirectories(JPaths.get(srcDir))
    val dir = s"$base/index"

    // offline training step: codebook fixed before the first arrival
    streaming.IvfIndexIngest.init(spark, sf, dir)

    // 4 chunks, one bounded streaming query per chunk — each run drains
    // what arrived and terminates (the kill-between-chunks discipline:
    // offsets in the checkpoint are the ONLY memory across runs)
    var nFile = 0
    val chunks = rows.grouped(math.max(rows.size / 4, 1)).toSeq
    chunks.foreach { chunk =>
      JFiles.writeString(JPaths.get(srcDir, f"f$nFile%03d.json"),
        chunk.mkString("", "\n", "\n"))
      nFile += 1
      val vecs = spark.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>").json(srcDir)
      val q = streaming.IvfIndexIngest.ingest(vecs, dir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    val streamed = ops.SimOps.ivfTopKFromIndex(spark, sf, dir).collect().toSeq
    val batchDir = JFiles.createTempDirectory("graft_ivf_batch").toString
    ops.SimOps.buildIvfIndex(spark, sf, batchDir)
    val offline = ops.SimOps.ivfTopKFromIndex(spark, sf, batchDir).collect().toSeq
    assert(streamed == offline,
      "streamed-ingest index answers != offline-built index answers")

    // the streamed store holds every corpus vector exactly the closure
    // rule's way: same (vec_id, list_id) membership as the offline build
    def membership(d: String) = spark.read.parquet(d + "/lists")
      .select(col("vec_id"), col("list_id").cast("long")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(membership(dir) == membership(batchDir),
      "streamed lists membership != offline membership")

    // redelivery: re-append the first chunk's vectors directly (an
    // at-least-once duplicate, bypassing the exactly-once file source) —
    // answers must not move
    val dup = LegacyTables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .where(col("vec_id") < chunks.head.size.toLong)
    ops.SimOps.appendToIvfIndex(spark, dir, dup)
    val replayed = ops.SimOps.ivfTopKFromIndex(spark, sf, dir).collect().toSeq
    assert(replayed == streamed, "a redelivered batch changed answers")
  }
}
