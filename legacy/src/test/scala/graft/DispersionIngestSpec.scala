package graft

/** Twin #34: streaming dispersion-gauge maintenance == the batch
  * operator, byte for byte, under kill-between-every-chunk restarts
  * and replayed appends. The maintained object is a pure monoid over
  * the vector set ((grp,pos) cells of Σv, Σv², n), so — like the
  * bottom-k twin — there is no decision log to reconcile: replay
  * invisibility is row dedup on byte-identical partials. */
class DispersionIngestSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("streaming ingest twin: chunked feed, killed between every chunk, gauge == batch op") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val vecs = graft.LegacyTables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label").collect()
      .map { r =>
        val emb = r.getSeq[Float](1).mkString("[", ",", "]")
        val lbl = if (r.isNullAt(2)) "null" else r.getInt(2).toString
        s"""{"vec_id":${r.getLong(0)},"embedding":$emb,"label":$lbl}"""
      }.toSeq
    val base = JFiles.createTempDirectory("graft_disp_stream").toString
    val srcDir = s"$base/src"
    JFiles.createDirectories(JPaths.get(srcDir))
    val dir = s"$base/disp"
    var nFile = 0
    vecs.grouped(math.max(vecs.size / 4, 1)).foreach { chunk =>
      JFiles.writeString(JPaths.get(srcDir, f"f$nFile%03d.json"),
        chunk.mkString("", "\n", "\n"))
      nFile += 1
      // a FRESH query per chunk, resumed from the shared checkpoint —
      // file-source offsets are the only checkpointed state, the
      // partials directory carries everything else
      val in = spark.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
        .json(srcDir)
      val q = graft.streaming.DispersionIngest.ingest(in, dir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val streamed = graft.streaming.DispersionIngest
      .dispersionFromPartials(spark, dir).collect().toSeq
    val batch = ops.SimOps.queries("emb_dispersion")(spark, sf).collect().toSeq
    assert(streamed == batch,
      s"streamed dispersion gauge != batch operator:\n$streamed\nvs\n$batch")
    // replayed append: re-deliver the FIRST chunk's exact content under
    // its own batch id — the (batch_id, grp, pos) dedup absorbs it
    val chunk0 = vecs.take(math.max(vecs.size / 4, 1))
    JFiles.writeString(JPaths.get(base, "replay.json"),
      chunk0.mkString("", "\n", "\n"))
    val replayDf = spark.read
      .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
      .json(s"$base/replay.json")
    graft.streaming.DispersionIngest.appendPartials(spark, dir, replayDf, 0L)
    val replayed = graft.streaming.DispersionIngest
      .dispersionFromPartials(spark, dir).collect().toSeq
    assert(replayed == batch, "a replayed batch append changed the gauge")
  }
}
