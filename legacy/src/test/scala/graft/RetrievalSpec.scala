package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Behavioral pins for the retrieval family (RetrievalOps): BM25 ranking
  * semantics on crafted corpora, the tf monotonicity BM25 must honor, the
  * hot-phrase prune and its MEASURED cost (text_bm25_eval is the
  * instrument — one test makes it read 1.0, one makes it read 0.0, so the
  * gauge provably moves), TF-IDF keyword extraction, and RRF fusion
  * arithmetic against a from-scratch recomputation. */
class RetrievalSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def writeDocs(rows: Seq[Row]): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_retr").toString
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

  test("text_bm25_topk: shared trigram retrieves; no shared trigram = no candidate; tf breaks the tie") {
    val dir = writeDocs(Seq(
      doc(0L, "the quick brown fox jumps over dogs"),
      doc(10L, "quick brown fox one two three four five"),
      doc(11L, "completely different words entirely unrelated text here now"),
      doc(12L, "quick brown fox quick brown fox xx yy"),
      doc(13L, "lorem ipsum dolor sit amet consectetur adipiscing")))
    val rows = ops.RetrievalOps.bm25TopK(spark, dir).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => r.getLong(2) -> r.getDouble(3)).toMap
    // docs 10 and 12 share "quick brown fox" with query doc 0; 11/13 share nothing
    assert(rows.keySet == Set(10L, 12L), s"candidates for q0: $rows")
    // same doc length, tf 2 vs 1 on the only shared term: BM25 is
    // monotone in tf, so 12 must outscore 10
    assert(rows(12L) > rows(10L), s"tf monotonicity violated: $rows")
  }

  test("text_bm25_eval gauge moves: boilerplate-only overlap reads recall 0; clean corpus reads 1") {
    // 25 docs all sharing one boilerplate trigram (df 25 > cap 20): the
    // query's ONLY shared term is pruned, so the capped detector finds
    // nothing while the uncapped truth ranks via the boilerplate — the
    // instrument must price that as recall 0, not hide it
    val boiler = (10L to 33L).map(i => doc(i, s"aaa bbb ccc u$i v$i w$i"))
    val dir = writeDocs(doc(0L, "aaa bbb ccc xx yy zz") +: boiler)
    val ev = ops.RetrievalOps.bm25Eval(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(ev.length == 1 && ev.head._1 == 0L, ev.mkString(","))
    assert(ev.head._2 == 5L && ev.head._3 == 0L && ev.head._4 == 0.0,
      s"boilerplate-only overlap must read recall 0: ${ev.head}")
    // and on the harness sf0.001 corpus no trigram reaches the cap, so
    // capped == uncapped and every query reads exactly 1.0
    val clean = ops.RetrievalOps.bm25Eval(spark, sf).collect()
    assert(clean.length == 8 && clean.forall(_.getDouble(3) == 1.0),
      clean.mkString(","))
  }

  test("text_tfidf_topterms: hot boilerplate phrase never surfaces as a keyword; rare phrases do") {
    val dirDocs = (10L to 34L).map(i => doc(i, s"aaa bbb ccc u$i v$i w$i"))
    val dir = writeDocs(dirDocs)
    val byDoc = ops.RetrievalOps.tfidfTopTerms(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(2)).toSet).toMap
    assert(byDoc.size == 25)
    byDoc.foreach { case (id, toks) =>
      assert(!toks.contains("aaa bbb ccc"), s"doc $id surfaced the pruned boilerplate: $toks")
      // the doc-unique tail trigram survives as a keyword
      assert(toks.contains(s"u$id v$id w$id"), s"doc $id keywords: $toks")
    }
  }

  test("sim_hybrid_rrf: fused set is the union of the legs; scores equal a from-scratch recompute") {
    val fused = ops.RetrievalOps.hybridRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(fused.nonEmpty)
    // recompute the dense leg at the fusion depth independently
    val cRanks = ops.SimOps.bruteTop(spark, sf, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    // a doc in the dense leg's top-10 contributes exactly 1/(60+rank_c)
    // — the fused score can never sit below that floor
    fused.foreach { case (q, _, n, rrf) =>
      val cTerm = cRanks.get((q, n)).map(rc => 1.0 / (60 + rc)).getOrElse(0.0)
      assert(rrf >= math.floor(cTerm * 1e6) / 1e6 - 1e-9,
        s"fused score below its dense-leg floor: q=$q n=$n rrf=$rrf cTerm=$cTerm")
    }
    // determinism: a second run is row-identical
    val again = ops.RetrievalOps.hybridRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(fused.sameElements(again))
  }

  test("text_shingles_all (tf-carrying expression) == declarative shingles(), element for element") {
    graft.expressions.TextShingles.register(spark)
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf)
    val mismatches = docs.select(
      graft.functions.LegacyFunctions.shingles(col("text"), 3).as("decl"),
      expr("text_shingles_all(text, 3)").as("fast"))
      .where(not(col("decl") <=> col("fast")))
      .count()
    assert(mismatches == 0)
  }

  test("sim_hybrid_mmr diversifies: a redundant near-duplicate is demoted below a fresh result") {
    // q (vec 0) = e1. vec 10 has cos .9 to q; vec 11 is IDENTICAL to 10
    // (cos 1 between them); vec 12 has cos .8 to q and cos .72 to 10.
    // Pure relevance ranks 10, 11, 12. MMR (λ=.7) after picking 10:
    //   score(11) = .7·.9 − .3·1.0  = .330
    //   score(12) = .7·.8 − .3·.72  = .344  → 12 outranks the duplicate
    val dim = 64
    def vec(vals: (Int, Float)*): Array[Float] = {
      val a = Array.fill(dim)(0f); vals.foreach { case (i, v) => a(i) = v }; a
    }
    val rows = Seq(
      0L -> vec(0 -> 1f),
      10L -> vec(0 -> 0.9f, 1 -> 0.436f),
      11L -> vec(0 -> 0.9f, 1 -> 0.436f),
      12L -> vec(0 -> 0.8f, 2 -> 0.6f)) ++
      // filler queries 1-7 and low-sim corpus tail so pools are non-empty
      (1L to 7L).map(i => i -> vec((i.toInt + 3) -> 1f)) ++
      (20L to 30L).map(i => i -> vec((i.toInt % 50 + 10) -> 1f))
    val d = java.nio.file.Files.createTempDirectory("graft_mmr").toString
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(
        rows.map { case (id, v) => Row(id, v.toSeq, 0) }).asJava),
      embSchema).write.parquet(s"$d/embeddings.parquet")
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(
        rows.map { case (id, _) => Row(id, s"filler text for doc $id entirely", "en", "s0", 10L) }).asJava),
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))).write.parquet(s"$d/documents.parquet")
    val got = ops.RetrievalOps.queries("sim_hybrid_mmr")(spark, d).collect()
      .filter(_.getLong(0) == 0L).sortBy(_.getInt(1))
      .map(r => r.getInt(1) -> r.getLong(2))
    assert(got.take(3).toSeq == Seq(1 -> 10L, 2 -> 12L, 3 -> 11L),
      s"MMR must demote the duplicate: ${got.toSeq}")
    // control: plain hybrid (no diversity term) keeps the duplicate at 2
    val rrf = ops.RetrievalOps.queries("sim_hybrid_rrf")(spark, d).collect()
      .filter(_.getLong(0) == 0L).sortBy(_.getInt(1)).map(_.getLong(2))
    assert(rrf.take(3).toSeq == Seq(10L, 11L, 12L),
      s"control: relevance-only order should keep the duplicate adjacent: ${rrf.toSeq}")
  }

  test("corpus_drift gauge moves: disjoint-vocabulary halves read high divergence, uniform halves read ~0") {
    // even docs speak one vocabulary, odd docs another: overlap 0,
    // KL far from zero, TV near its max
    val dir = writeDocs((0L to 19L).map(i =>
      doc(i, if (i % 2 == 0) "alpha beta gamma delta words here"
             else "omega sigma lambda kappa tokens there")))
    val r = ops.PipelineOps.queries("corpus_drift")(spark, dir).collect().head
    val (kl, tv, shared, vocab) =
      (r.getDouble(0), r.getDouble(1), r.getLong(2), r.getLong(3))
    // 12 < DriftVocabCap: the cap doesn't bind, no OOV row, support = full vocab
    assert(shared == 0L && vocab == 12L && r.getLong(4) == 12L, s"disjoint halves: $r")
    assert(kl > 1.0 && tv > 0.4, s"disjoint halves must read large divergence: $r")
    // and on the harness corpus the halves are draws from one
    // distribution — the gauge must sit near zero
    val c = ops.PipelineOps.queries("corpus_drift")(spark, sf).collect().head
    assert(c.getDouble(0) < 0.05 && c.getDouble(1) < 0.1, s"uniform corpus drifted: $c")
    // the cap BINDS on the harness corpus (vocab ≈ 31 > 24): support is
    // exactly head + one OOV bucket, and the full vocabulary is reported
    assert(c.getLong(3) == ops.PipelineOps.DriftVocabCap + 1L,
      s"cap must bind on the harness corpus: $c")
    assert(c.getLong(4) > c.getLong(3), s"vocab_full must exceed capped support: $c")
  }

  test("retrieval ops tolerate empty and sub-trigram documents") {
    val dir = writeDocs(Seq(
      doc(0L, "quick brown fox appears here today"),
      doc(1L, ""),
      doc(2L, "ab"),
      doc(10L, "quick brown fox appears again tomorrow")))
    val bm = ops.RetrievalOps.bm25TopK(spark, dir).collect()
    assert(bm.forall(r => r.getLong(0) != 1L), "empty doc must emit no query rows")
    // the 2-word doc collapses to a single whole-text term (the shingles
    // convention) shared with nobody — present in tfidf, absent from bm25
    val tf = ops.RetrievalOps.tfidfTopTerms(spark, dir).collect()
      .filter(_.getLong(0) == 2L).map(_.getString(2))
    assert(tf.sameElements(Array("ab")), tf.mkString(","))
    assert(bm.exists(r => r.getLong(0) == 0L && r.getLong(2) == 10L))
  }
}
