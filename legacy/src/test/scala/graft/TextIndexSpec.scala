package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The persisted inverted index carries the same contract as the IVF/PQ
  * persisted indexes (PqIndexSpec's claims, re-proven for the lexical
  * family): parity with the in-memory operator, incremental append with
  * new documents surfacing, retry invisibility through read-time dedup,
  * and harmless degenerate enrollment. */
class TextIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def writeDocs(rows: Seq[Row]): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_tidx_docs").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      docSchema).write.parquet(s"$d/documents.parquet")
    d
  }
  private def doc(id: Long, text: String) = Row(id, text, "en", "s0", text.length.toLong)
  private def tmp() = java.nio.file.Files.createTempDirectory("graft_tidx").toString

  test("persisted text index: build -> load -> query == in-memory text_bm25_topk, byte for byte") {
    val dir = tmp()
    ops.RetrievalOps.buildTextIndex(spark, sf, dir)
    val got = ops.RetrievalOps.bm25TopKFromIndex(spark, sf, dir).collect().toSeq
    val want = ops.RetrievalOps.bm25TopK(spark, sf).collect().toSeq
    assert(got == want, s"index answers diverged from the in-memory operator:\n$got\nvs\n$want")
  }

  test("persisted chunk index: registry key == in-memory chunk_bm25_topk, byte for byte") {
    // the registry key serves from the per-JVM persisted chunk index
    // (r14); the retired in-memory body is kept private exactly for
    // this pin — served and rebuilt answers must never drift
    val got = LegacyEntry.queries("chunk_bm25_topk")(spark, sf).collect().toSeq
    val want = ops.RetrievalOps.chunkBm25InMemory(spark, sf).collect().toSeq
    assert(got == want,
      s"chunk index answers diverged from the in-memory operator:\n$got\nvs\n$want")
  }

  test("incremental append: a twin of query 0 surfaces at rank 1; a replayed append is invisible") {
    val corpus = writeDocs(Seq(
      doc(0L, "alpha beta gamma delta epsilon zeta eta theta"),
      doc(10L, "alpha beta gamma other words entirely here now"),
      doc(11L, "unrelated filler text with different phrasing throughout"),
      doc(12L, "more filler content sharing nothing with queries")))
    val dir = tmp()
    ops.RetrievalOps.buildTextIndex(spark, corpus, dir)
    val before = ops.RetrievalOps.bm25TopKFromIndex(spark, corpus, dir).collect()
      .filter(_.getLong(0) == 0L)
    assert(before.nonEmpty && before.head.getLong(2) == 10L)
    // ingest a verbatim twin of query doc 0 — every trigram matches with
    // the full tf, so it must take rank 1 away from the partial match
    import spark.implicits._
    val batch = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    ops.RetrievalOps.appendToTextIndex(spark, dir, batch)
    val after = ops.RetrievalOps.bm25TopKFromIndex(spark, corpus, dir).collect()
      .filter(_.getLong(0) == 0L)
    assert(after.head.getInt(1) == 1 && after.head.getLong(2) == 100L,
      s"twin must surface at rank 1: ${after.mkString(",")}")
    // a sink-side retry replays the same batch: read-time dedup makes it
    // invisible — answers AND the derived corpus stats are unchanged
    ops.RetrievalOps.appendToTextIndex(spark, dir, batch)
    val replayed = ops.RetrievalOps.bm25TopKFromIndex(spark, corpus, dir).collect().toSeq
    val once = after.toSeq
    assert(replayed.filter(_.getLong(0) == 0L) == once,
      "a replayed append changed answers")
    // the "new docs only" contract is ENFORCED, not just documented:
    // re-ingesting doc 100 with CONFLICTING text must be a no-op — the
    // anti-join skips it, so neither the old answer changes nor do two
    // doclens rows appear for dropDuplicates to pick arbitrarily from
    val conflicting = Seq((100L, "totally different replacement body now"))
      .toDF("doc_id", "text")
    ops.RetrievalOps.appendToTextIndex(spark, dir, conflicting)
    val afterConflict = ops.RetrievalOps.bm25TopKFromIndex(spark, corpus, dir)
      .collect().toSeq
    assert(afterConflict == replayed,
      "a conflicting re-ingest of an existing doc_id must append nothing")
    val dlRows = spark.read.parquet(s"$dir/doclens")
      .filter(org.apache.spark.sql.functions.col("doc_id") === 100L).count()
    assert(dlRows == 1L, s"doc 100 must have exactly one doclens row, got $dlRows")
  }

  test("fully-indexed hybrid serving path == fusion of the in-memory leg operators") {
    import org.apache.spark.sql.functions._
    val (textDir, ivfDir, pqDir) = (tmp(), tmp(), tmp())
    ops.RetrievalOps.buildTextIndex(spark, sf, textDir)
    ops.SimOps.buildIvfIndex(spark, sf, ivfDir)
    ops.SimOps.buildPqIndex(spark, sf, pqDir)
    val got = ops.RetrievalOps
      .hybridRrfFromIndex(spark, sf, textDir, ivfDir, pqDir).collect().toSeq
    // both legs are independently spec-pinned equal to their in-memory
    // forms; this pins the WIRING — fusing the in-memory legs through an
    // independent recomputation must give the same fused ranking
    val b = ops.RetrievalOps.bm25TopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    val c = ops.SimOps.queries("sim_ivf_pq_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    val want = (b.keySet ++ c.keySet).toSeq
      .map { case (q, doc) =>
        val rrf = b.get((q, doc)).map(rb => 1.0 / (60 + rb)).getOrElse(0.0) +
          c.get((q, doc)).map(rc => 1.0 / (60 + rc)).getOrElse(0.0)
        (q, doc, BigDecimal(rrf).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy { case (_, doc, r) => (-r, doc) }.take(5).zipWithIndex
          .map { case ((q, doc, r), i) => (q, i + 1, doc, r) }
      }.sortBy(t => (t._1, t._2))
    val gotT = got.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(gotT == want, s"indexed hybrid diverged:\n$gotT\nvs\n$want")
  }

  test("streaming ingest twin: chunked feed, killed between every chunk, answers == batch-built index") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    // the corpus: harness sf0.001 documents, fed as 4 json chunks, with
    // the query RESTARTED from its checkpoint between every chunk — the
    // file-source offsets are the only checkpointed state, the index
    // directory carries everything else
    val rows = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map { r =>
        val t = r.getString(1).replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", " ")
        s"""{"doc_id":${r.getLong(0)},"text":"$t"}"""
      }.toSeq
    val base = JFiles.createTempDirectory("graft_tidx_stream").toString
    val srcDir = s"$base/src"
    JFiles.createDirectories(JPaths.get(srcDir))
    val dir = s"$base/index"
    var nFile = 0
    rows.grouped(math.max(rows.size / 4, 1)).foreach { chunk =>
      JFiles.writeString(JPaths.get(srcDir, f"f$nFile%03d.json"),
        chunk.mkString("", "\n", "\n"))
      nFile += 1
      val docs = spark.readStream.schema("doc_id LONG, text STRING").json(srcDir)
      val q = graft.streaming.TextIndexIngest.ingest(docs, dir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val streamed = ops.RetrievalOps.bm25TopKFromIndex(spark, sf, dir).collect().toSeq
    val batchDir = tmp()
    ops.RetrievalOps.buildTextIndex(spark, sf, batchDir)
    val batch = ops.RetrievalOps.bm25TopKFromIndex(spark, sf, batchDir).collect().toSeq
    assert(streamed == batch,
      s"streamed-ingest index answers != batch-built index answers")
  }

  test("bm25Search: free-text queries hit the right documents; unknown terms return nothing") {
    val corpus = writeDocs(Seq(
      doc(0L, "alpha beta gamma delta epsilon zeta eta theta"),
      doc(1L, "completely different content about other topics entirely"),
      doc(2L, "alpha beta gamma appears here too with more words")))
    val dir = tmp()
    ops.RetrievalOps.buildTextIndex(spark, corpus, dir)
    val got = ops.RetrievalOps.bm25Search(spark, dir,
      Seq("tell me about alpha beta gamma",   // matches docs 0 and 2
        "zzz qqq vvv www unseen phrase"))     // no shared trigram at all
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val q0 = got.filter(_._1 == 0).map(_._3).toSet
    assert(q0 == Set(0L, 2L), s"query 0 should hit the alpha-beta-gamma docs: ${got.toSeq}")
    assert(!got.exists(_._1 == 1), s"query 1 shares no trigram and must return nothing: ${got.toSeq}")
  }

  test("degenerate enrollment: empty batch and empty-text documents change nothing") {
    val corpus = writeDocs(Seq(
      doc(0L, "alpha beta gamma delta epsilon zeta eta theta"),
      doc(10L, "alpha beta gamma other words entirely here now")))
    val dir = tmp()
    ops.RetrievalOps.buildTextIndex(spark, corpus, dir)
    val before = ops.RetrievalOps.bm25TopKFromIndex(spark, corpus, dir).collect().toSeq
    import spark.implicits._
    ops.RetrievalOps.appendToTextIndex(spark, dir,
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    ops.RetrievalOps.appendToTextIndex(spark, dir,
      Seq((200L, ""), (201L, "  !!  ")).toDF("doc_id", "text"))
    val after = ops.RetrievalOps.bm25TopKFromIndex(spark, corpus, dir).collect().toSeq
    assert(after == before,
      "tokenless documents must not perturb answers or corpus stats")
  }
}
