package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** DSIR pins against an independent plain-Scala reference (hashing,
  * smoothed log ratios, chunk normalization, Gumbel keys — arrays and
  * loops, no shared code with the operator), plus the separation
  * property the method exists for: on a corpus whose target and
  * non-target slices use DISJOINT vocabularies the weight gap dwarfs
  * the Gumbel noise, so every target doc must outrank every non-target
  * doc in the selected output.
  */
class SelectSpec extends SparkSpec {

  private val B = 1024
  private val L0 = 64

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_dsir").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rws = rows.map { case (id, text, lang) =>
      Row(id, text, lang, "src0", text.length.toLong) }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rws).asJava),
      schema).write.parquet(s"$d/documents.parquet")
    d
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def roundHalfUp(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact

  // ---- independent reference ----

  private def refWeights(docs: Seq[(Long, String, String)]): Map[Long, (Long, Long)] = {
    def toks(text: String): Seq[String] =
      text.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
        .replaceAll(" +", " ").trim.split(" ").filter(_.nonEmpty).toSeq
    def bucket(tok: String): Long =
      java.lang.Long.parseLong(md5hex("dsir:" + tok).take(8), 16) % B
    val perDoc = docs.map { case (id, text, lang) =>
      (id, lang, toks(text).groupBy(bucket).map { case (b, ts) => b -> ts.size.toLong }) }
      .filter(_._3.nonEmpty)
    val cr = perDoc.flatMap(_._3).groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
    val ct = perDoc.filter(_._2 == "en").flatMap(_._3)
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
    val nr = cr.values.sum
    val nt = ct.values.sum
    def lrMilli(b: Long): Long = roundHalfUp(math.log(
      ((ct.getOrElse(b, 0L) + 1) * (nr + B)).toDouble /
        ((cr(b) + 1) * (nt + B)).toDouble) * 1000)
    perDoc.map { case (id, _, counts) =>
      val nTok = counts.values.sum
      val s = counts.map { case (b, c) => c * lrMilli(b) }.sum
      id -> (nTok, roundHalfUp(s.toDouble * L0 / nTok))
    }.toMap
  }

  private def gumbelMilli(id: Long): Long = {
    val u16 = java.lang.Long.parseLong(md5hex("dsir#" + id).take(4), 16)
    roundHalfUp(-math.log(-math.log((u16 + 0.5) / 65536.0)) * 1000)
  }

  /** 6 target docs over an English-y vocabulary, 6 non-target over a
    * DISJOINT one; ~16 tokens each so the chunk-normalized weights sit
    * far outside the Gumbel noise band (±12k millis). */
  private lazy val disjointCorpus: Seq[(Long, String, String)] = {
    val en = Seq("apple", "banana", "cherry", "date", "elder", "fig", "grape", "hazel")
    val fr = Seq("chien", "chat", "loup", "ours", "aigle", "biche", "renard", "lynx")
    (0L until 12L).map { i =>
      val (vocab, lang) = if (i < 6) (en, "en") else (fr, "fr")
      val words = (0 until 16).map(j => vocab((i.toInt + j) % vocab.size))
      (i, words.mkString(" "), lang)
    }
  }

  test("corpus_dsir_weights matches the plain-Scala reference weight for weight") {
    val d = writeDocs(disjointCorpus)
    val out = LegacyEntry.queries("corpus_dsir_weights")(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_tok"), r.getAs[Long]("w_milli"))).toMap
    assert(out == refWeights(disjointCorpus))
  }

  test("disjoint vocabularies: every target doc outranks every non-target doc") {
    val d = writeDocs(disjointCorpus)
    val sel = LegacyEntry.queries("corpus_dsir_select")(spark, d).collect()
      .map(r => (r.getAs[Int]("rank"), r.getLong(r.fieldIndex("doc_id"))))
      .sortBy(_._1)
    assert(sel.length == 12)
    assert(sel.take(6).map(_._2).toSet == (0L until 6L).toSet,
      "the six target docs must occupy ranks 1-6")
    // and the keys really are weight + the reference Gumbel noise
    val ref = refWeights(disjointCorpus)
    val keys = LegacyEntry.queries("corpus_dsir_select")(spark, d).collect()
      .map(r => r.getLong(r.fieldIndex("doc_id")) -> r.getAs[Long]("key_milli")).toMap
    keys.foreach { case (id, k) =>
      assert(k == ref(id)._2 + gumbelMilli(id), s"key mismatch for doc $id") }
  }

  test("dsir eval on the harness corpus: argmax selection enriches the target slice") {
    val row = LegacyEntry.queries("corpus_dsir_eval")(spark, "/root/testdata/sf0.001")
      .collect().head
    assert(row.getAs[Long]("lift_argmax_milli") > 1000L,
      "argmax top-K must beat the base rate")
    assert(row.getAs[Long]("k_selected") == 100L)
  }

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_dsir_m").toString
  private val sf = "/root/testdata/sf0.001"

  test("persisted model: from-model scoring == corpus_dsir_weights row for row; OOV buckets take the smoothed constant") {
    import org.apache.spark.sql.functions.col
    val modelDir = tmp()
    ops.SelectOps.buildDsirModel(spark, sf, modelDir)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val got = ops.SelectOps.dsirWeightsFromModel(spark, modelDir, docs)
      .orderBy("doc_id").collect().toSeq
    val want = LegacyEntry.queries("corpus_dsir_weights")(spark, sf).collect().toSeq
    assert(got == want)
    // a document over vocabulary the standing corpus has never seen:
    // every token is OOV, so w == oov_milli * DsirRefLen... rescaled by
    // the chunk normalization to exactly the per-token constant
    import spark.implicits._
    val alien = Seq((99999L, "zzqx wvvk pplm zzqx wvvk qqrs ttnb mmjd"))
      .toDF("doc_id", "text")
    val row = ops.SelectOps.dsirWeightsFromModel(spark, modelDir, alien)
      .collect().head
    val oov = spark.read.parquet(modelDir + "/consts").collect().head.getLong(0)
    assert(row.getAs[Long]("n_tok") == 8L,
      "OOV tokens must still count toward n_tok (left join, not inner)")
    assert(row.getAs[Long]("w_milli") == oov * 64,
      s"an all-OOV doc's chunk weight must be the OOV constant x DsirRefLen")
  }

  test("streaming dsir scoring (twin #24): chunked, killed between chunks, redelivered == batch scorer") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val modelDir = tmp()
    ops.SelectOps.buildDsirModel(spark, sf, modelDir)
    val rows = Tables.documents(spark, sf)
      .select("doc_id", "text").orderBy("doc_id").collect()
      .map { r =>
        val t = r.getString(1).replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", " ")
        s"""{"doc_id":${r.getLong(0)},"text":"$t"}"""
      }.toSeq
    val base = JFiles.createTempDirectory("graft_dsir_stream").toString
    val srcDir = s"$base/src"
    JFiles.createDirectories(JPaths.get(srcDir))
    val dir = s"$base/scores"
    var nFile = 0
    rows.grouped(math.max(rows.size / 4, 1)).foreach { chunk =>
      JFiles.writeString(JPaths.get(srcDir, f"f$nFile%03d.json"),
        chunk.mkString("", "\n", "\n"))
      nFile += 1
      val docs = spark.readStream.schema("doc_id LONG, text STRING").json(srcDir)
      val q = streaming.DsirScoreIngest.ingest(docs, dir, modelDir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // an at-least-once redelivery: batch 0's docs re-append under id 0
    import org.apache.spark.sql.functions.col
    val docsAll = Tables.documents(spark, sf).select("doc_id", "text")
    val chunk0 = rows.take(math.max(rows.size / 4, 1))
      .map(s => s.split(",")(0).split(":")(1).toLong)
    streaming.DsirScoreIngest.appendWeights(spark, dir, modelDir,
      docsAll.where(col("doc_id").isin(chunk0: _*)), 0L)
    val got = streaming.DsirScoreIngest.weightsFromDir(spark, dir)
      .orderBy("doc_id").collect().toSeq
    val want = ops.SelectOps.dsirWeightsFromModel(spark, modelDir, docsAll)
      .orderBy("doc_id").collect().toSeq
    assert(got == want,
      "streamed+redelivered scores must equal the batch scorer row for row")
  }
}
