package graft

import org.apache.spark.sql.functions._

/** The persisted binary index carries the family contract (PqIndexSpec
  * claims): parity with the in-memory operator, incremental append
  * with new vectors surfacing, retry invisibility through read-time
  * vec_id dedup, and the streaming ingest twin (#26) killed between
  * every chunk. */
class BinaryIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def tmp() = java.nio.file.Files.createTempDirectory("graft_bidx").toString

  test("persisted binary index: build -> query == in-memory sim_binary_topk, byte for byte") {
    val dir = tmp()
    ops.SimOps.buildBinaryIndex(spark, sf, dir)
    val got = ops.SimOps.binaryTopKFromIndex(spark, sf, dir).collect().toSeq
    val want = LegacyEntry.queries("sim_binary_topk")(spark, sf).collect().toSeq
    assert(got == want)
  }

  test("append: an exact twin of query 0 surfaces at rank 1; a replayed append is invisible") {
    val dir = tmp()
    ops.SimOps.buildBinaryIndex(spark, sf, dir)
    val q0 = LegacyTables.embeddings(spark, sf).where(col("vec_id") === 0L)
      .select(col("embedding")).collect().head.getSeq[Float](0)
    import spark.implicits._
    val batch = Seq((100000L, q0)).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    ops.SimOps.appendToBinaryIndex(spark, dir, batch)
    val after = ops.SimOps.binaryTopKFromIndex(spark, sf, dir).collect()
      .filter(_.getLong(0) == 0L)
    // hamming 0 against query 0's own bits -> always shortlisted;
    // cosine exactly 1.0 -> rank 1
    assert(after.head.getInt(1) == 1 && after.head.getLong(2) == 100000L,
      s"the appended twin must take rank 1: ${after.mkString(",")}")
    val once = ops.SimOps.binaryTopKFromIndex(spark, sf, dir).collect().toSeq
    ops.SimOps.appendToBinaryIndex(spark, dir, batch)
    val replayed = ops.SimOps.binaryTopKFromIndex(spark, sf, dir).collect().toSeq
    assert(replayed == once, "a replayed append changed answers")
  }

  test("streaming ingest twin (#26): chunked feed, killed between chunks == batch-built index") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val rows = LegacyTables.embeddings(spark, sf)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map { r =>
        val e = r.getSeq[Float](1).mkString("[", ",", "]")
        s"""{"vec_id":${r.getLong(0)},"embedding":$e}"""
      }.toSeq
    val base = JFiles.createTempDirectory("graft_bidx_stream").toString
    val srcDir = s"$base/src"
    JFiles.createDirectories(JPaths.get(srcDir))
    val dir = s"$base/index"
    var nFile = 0
    rows.grouped(math.max(rows.size / 4, 1)).foreach { chunk =>
      JFiles.writeString(JPaths.get(srcDir, f"f$nFile%03d.json"),
        chunk.mkString("", "\n", "\n"))
      nFile += 1
      val vecs = spark.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>").json(srcDir)
      val q = streaming.BinaryIndexIngest.ingest(vecs, dir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val streamed = ops.SimOps.binaryTopKFromIndex(spark, sf, dir).collect().toSeq
    val batchDir = tmp()
    ops.SimOps.buildBinaryIndex(spark, sf, batchDir)
    val batch = ops.SimOps.binaryTopKFromIndex(spark, sf, batchDir).collect().toSeq
    assert(streamed == batch,
      "streamed-ingest index answers != batch-built index answers")
  }
}
