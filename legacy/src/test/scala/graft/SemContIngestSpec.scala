package graft

import org.apache.spark.sql.functions._

/** Twin #38: the semantic decontamination gate at ingest == the batch
  * `text_contamination_semantic` over the same corpus — chunked
  * kill-between-chunks feed, plus a replayed append absorbed by the
  * content-derived verdict rows. */
class SemContIngestSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("sem-cont ingest twin: chunked feed, killed between chunks, verdicts == batch op") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val corpus = graft.LegacyTables.embeddings(spark, sf)
      .where(col("vec_id") >= 10)
      .select("vec_id", "embedding").collect()
      .map { r =>
        val emb = r.getSeq[Float](1).mkString("[", ",", "]")
        s"""{"vec_id":${r.getLong(0)},"embedding":$emb}"""
      }.toSeq
    val base = JFiles.createTempDirectory("graft_semcont_stream").toString
    val srcDir = s"$base/src"
    JFiles.createDirectories(JPaths.get(srcDir))
    val dir = s"$base/semcont"
    graft.streaming.SemContIngest.buildEvalIndex(spark,
      graft.LegacyTables.embeddings(spark, sf).where(col("vec_id") < 10), dir)
    var nFile = 0
    corpus.grouped(math.max(corpus.size / 4, 1)).foreach { chunk =>
      JFiles.writeString(JPaths.get(srcDir, f"f$nFile%03d.json"),
        chunk.mkString("", "\n", "\n"))
      nFile += 1
      val in = spark.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>").json(srcDir)
      val q = graft.streaming.SemContIngest.ingest(in, dir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val streamed = graft.streaming.SemContIngest
      .verdictsFromDir(spark, dir).collect().toSeq
    val batch = ops.SimOps.queries("text_contamination_semantic")(spark, sf)
      .collect().toSeq
    assert(streamed == batch,
      s"maintained verdicts != batch operator (${streamed.size} vs ${batch.size})")
    // replay: re-deliver the first chunk — byte-identical verdict rows
    // collapse under DISTINCT
    val chunk0 = corpus.take(math.max(corpus.size / 4, 1))
    JFiles.writeString(JPaths.get(base, "replay.json"),
      chunk0.mkString("", "\n", "\n"))
    val replayDf = spark.read
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").json(s"$base/replay.json")
    graft.streaming.SemContIngest.processBatch(spark, dir, replayDf)
    assert(graft.streaming.SemContIngest.verdictsFromDir(spark, dir)
      .collect().toSeq == batch, "a replayed batch changed the verdict table")
  }
}
