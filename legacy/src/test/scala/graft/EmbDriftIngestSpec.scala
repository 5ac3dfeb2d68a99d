package graft

import org.apache.spark.sql.functions._

/** Twin #37: streaming maintenance of the embedding-geometry drift
  * gauge == the batch `emb_drift` over the same corpus split (evens
  * seeded standing, odds streamed), under kill-between-every-chunk
  * restarts and a replayed append. */
class EmbDriftIngestSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("drift ingest twin: chunked odd-half feed, killed between chunks, report == batch op") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val odds = graft.LegacyTables.embeddings(spark, sf)
      .where(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding", "label").collect()
      .map { r =>
        val emb = r.getSeq[Float](1).mkString("[", ",", "]")
        val lbl = if (r.isNullAt(2)) "null" else r.getInt(2).toString
        s"""{"vec_id":${r.getLong(0)},"embedding":$emb,"label":$lbl}"""
      }.toSeq
    val base = JFiles.createTempDirectory("graft_embdrift_stream").toString
    val srcDir = s"$base/src"
    JFiles.createDirectories(JPaths.get(srcDir))
    val dir = s"$base/drift"
    graft.streaming.EmbDriftIngest.buildStandingIndex(spark,
      graft.LegacyTables.embeddings(spark, sf).where(col("vec_id") % 2 === 0), dir)
    var nFile = 0
    odds.grouped(math.max(odds.size / 4, 1)).foreach { chunk =>
      JFiles.writeString(JPaths.get(srcDir, f"f$nFile%03d.json"),
        chunk.mkString("", "\n", "\n"))
      nFile += 1
      val in = spark.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
        .json(srcDir)
      val q = graft.streaming.EmbDriftIngest.ingest(in, dir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val streamed = graft.streaming.EmbDriftIngest
      .driftFromDir(spark, dir).collect().toSeq
    val batch = ops.SimOps.queries("emb_drift")(spark, sf).collect().toSeq
    assert(streamed == batch,
      s"maintained drift report != batch operator:\n$streamed\nvs\n$batch")
    // replayed append under the same batch id — the (batch_id, label,
    // pos) dedup absorbs it
    val chunk0 = odds.take(math.max(odds.size / 4, 1))
    JFiles.writeString(JPaths.get(base, "replay.json"),
      chunk0.mkString("", "\n", "\n"))
    val replayDf = spark.read
      .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
      .json(s"$base/replay.json")
    graft.streaming.EmbDriftIngest.appendPartials(spark, dir, replayDf, 0L)
    assert(graft.streaming.EmbDriftIngest.driftFromDir(spark, dir)
      .collect().toSeq == batch, "a replayed batch append changed the report")
  }
}
