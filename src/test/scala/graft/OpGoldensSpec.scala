package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Analytic goldens for operators whose output has a closed form the
  * DuckDB oracle can't distinguish from a wrong-but-matching
  * implementation (both engines would agree on a shared mistake):
  * entropy extremes pin the formula itself, and the temperature-sampling
  * cap pins the rate derivation, against hand-computed values. */
class OpGoldensSpec extends SparkSpec {

  private def writeDocs(rows: Seq[Row]): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_goldens").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      docSchema).write.parquet(s"$d/documents.parquet")
    d
  }

  test("text_entropy analytic extremes: constant 0, pair 1, uniform alphabet log2(26)") {
    val dir = writeDocs(Seq(
      Row(1L, "aaaa", "en", "s0", 4L),                        // one letter: H = 0
      Row(2L, "abab", "en", "s0", 4L),                        // two equiprobable: H = 1
      Row(3L, "abcdefghijklmnopqrstuvwxyz", "en", "s0", 26L), // uniform: H = log2(26)
      Row(4L, "0123 !?", "en", "s0", 7L)))                    // no letters: H = 0, count 0
    val got = ops.TextOps.entropy(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((4L, 1, 0.0)))
    assert(got(2L)._1 == 4L && got(2L)._2 == 2 && math.abs(got(2L)._3 - 1.0) < 1e-9)
    val log2_26 = math.log(26.0) / math.log(2.0)
    assert(got(3L)._1 == 26L && got(3L)._2 == 26 &&
      math.abs(got(3L)._3 - log2_26) < 1e-5, s"uniform alphabet: ${got(3L)}")
    assert(got(4L) == ((0L, 0, 0.0)))
  }

  test("dedup_substring: the winnowing guarantee — a 35+-char shared span pairs, across formatting") {
    // span of 60 normalized chars >> K+2W-1 = 35, so >= 2 winnowed
    // fingerprints are guaranteed shared; doc 2 carries it with different
    // case + punctuation (the normalize path), doc 3 is unrelated, doc 4
    // shares only a sub-K fragment (undetectable by construction).
    val span = "the quick brown fox jumps over the lazy dog again and again"
    val dir = writeDocs(Seq(
      Row(1L, s"alpha beta gamma delta $span epsilon zeta", "en", "s0", 100L),
      Row(2L, s"omega psi chi THE, Quick!! brown fox jumps over the lazy dog again and again phi", "en", "s0", 100L),
      Row(3L, "one two three four five six seven eight nine ten eleven twelve", "en", "s0", 62L),
      Row(4L, "quick brown cat sleeps here unrelated words follow for padding", "en", "s0", 62L)))
    val pairs = ops.DedupOps.substringWinnow(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)), s"guaranteed span pair missing: $pairs")
    assert(pairs((1L, 2L)) >= 2, s"min-shared floor: $pairs")
    assert(pairs.keySet == Set((1L, 2L)), s"unrelated docs paired: $pairs")
  }

  test("dedup_substring_spans: two duplicated regions map to two islands with faithful bounds") {
    // doc 1 carries two distinct 60-char spans separated by unique
    // text; doc 2 shares both (in different contexts). The span map
    // must report exactly two islands for doc 1, each inside its
    // planted region and covering its interior (edges approximate
    // within ~K+W = 28 chars — the documented winnowing trade), and
    // must NOT bridge across the unique middle.
    val s1 = "the quick brown fox jumps over the lazy dog again and again"
    val s2 = "pack my box with five dozen liquor jugs every single day now"
    val uA = "aq bq cq dq eq fq gq hq iq jq kq lq mq n"
    val uB = "oq pq qq rq sq tq uq vq wq xq yq zq a1 b"
    val uC = "c1 d1 e1 f1 g1 h1 i1 j1 k1 l1 m1 n1 o1 p"
    val doc1 = s"$uA $s1 $uB $s2 $uC"
    val doc2 = s"zz yy xx $s1 ww vv $s2 uu tt"
    val dir = writeDocs(Seq(
      Row(1L, doc1, "en", "s0", doc1.length.toLong),
      Row(2L, doc2, "en", "s0", doc2.length.toLong)))
    val spans = ops.DedupOps.substringSpans(spark, dir).collect()
      .filter(_.getLong(0) == 1L)
      .map(r => (r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(spans.length == 2, s"expected two islands for doc 1: ${spans.toSeq}")
    // planted 1-based normalized positions in doc 1 (pre-normalized text)
    val s1a = uA.length + 2
    val s1b = s1a + s1.length - 1
    val s2a = s1b + uB.length + 3
    val s2b = s2a + s2.length - 1
    val Seq((a1, b1, n1), (a2, b2, n2)) = spans.sortBy(_._1).toSeq
    assert(a1 >= s1a && b1 <= s1b && a1 <= s1a + 28 && b1 >= s1b - 28 && n1 >= 2,
      s"island 1 ($a1,$b1,$n1) vs planted ($s1a,$s1b)")
    assert(a2 >= s2a && b2 <= s2b && a2 <= s2a + 28 && b2 >= s2b - 28 && n2 >= 2,
      s"island 2 ($a2,$b2,$n2) vs planted ($s2a,$s2b)")
  }

  test("dedup_substring_excise: first occurrence keeps its text; the later copy loses both regions") {
    // same two-region fixture as the spans golden: doc 1 is the owner
    // (min doc_id on every shared fingerprint) and must pass through
    // UNCHANGED; doc 2 must lose both duplicated regions but keep its
    // own unique context around them
    val s1 = "the quick brown fox jumps over the lazy dog again and again"
    val s2 = "pack my box with five dozen liquor jugs every single day now"
    val uA = "aq bq cq dq eq fq gq hq iq jq kq lq mq n"
    val uB = "oq pq qq rq sq tq uq vq wq xq yq zq a1 b"
    val uC = "c1 d1 e1 f1 g1 h1 i1 j1 k1 l1 m1 n1 o1 p"
    val doc1 = s"$uA $s1 $uB $s2 $uC"
    val doc2 = s"zz yy xx $s1 ww vv $s2 uu tt"
    val dir = writeDocs(Seq(
      Row(1L, doc1, "en", "s0", doc1.length.toLong),
      Row(2L, doc2, "en", "s0", doc2.length.toLong)))
    val got = ops.DedupOps.substringExcise(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((0L, 0L, doc1)), s"the owner must keep its text: ${got(1L)}")
    val (n2, rm2, clean2) = got(2L)
    assert(n2 == 2L, s"doc 2 must lose two islands: ${got(2L)}")
    assert(!clean2.contains("the lazy dog") && !clean2.contains("dozen liquor"),
      s"duplicated interiors must be excised: $clean2")
    assert(clean2.contains("zz yy xx") && clean2.contains("ww vv") && clean2.contains("uu tt"),
      s"doc 2's own context must survive: $clean2")
    assert(rm2 >= 40 && rm2 == (doc2.length - clean2.length).toLong, s"removed_chars: $rm2")
  }

  test("dedup_semdedup invariants: one keeper per group, and it is the farthest from the centroid") {
    val d = "/root/testdata/sf0.001"
    val rows = ops.SimOps.semDedup(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    val groups = rows.groupBy(_._2)
    assert(groups.exists(_._2.length > 1), "corpus must have at least one dup group")
    for ((g, ms) <- groups) {
      val kept = ms.filter(_._4)
      assert(kept.length == 1, s"group $g must keep exactly one member: $ms")
      // the keeper is the member FARTHEST from its centroid (the
      // paper's low-centroid-similarity policy); compare on the rounded
      // column the operator emits — the election itself used unrounded
      // distances, so only the max can be asserted, not the tie order
      val maxR = ms.map(_._3).max
      assert(kept.head._3 == maxR, s"group $g kept ${kept.head}, max dist $maxR")
    }
  }

  test("winnow_fps expression == declarative transform chain on the harness corpus") {
    // the one-pass rolling-hash expression must reproduce the
    // declarative (and oracle-mirrored) formulation EXACTLY — every
    // (doc_id, fp) row, both directions
    val d = "/root/testdata/sf0.001"
    graft.expressions.WinnowedFingerprints.register(spark)
    val fast = graft.ops.DedupOps.queries("dedup_exact") // force object init
    val expr = graft.Tables.documents(spark, d)
      .selectExpr("doc_id", "explode(winnow_fps(text, 20, 8)) AS fp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val decl = graft.ops.DedupOps.winnowFpsDeclarative(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expr == decl, s"diff: ${(expr diff decl).take(5)} / ${(decl diff expr).take(5)}")
    assert(expr.nonEmpty)
  }

  test("sample_temperature: capped small sources keep everything, the big source thins") {
    // sources 90/9/1: w = (9.487k, 3k, 1k scaled), target = 50 →
    // rate_A = 50·(√90/Σ√n)/90 ≈ 0.39, rate_B ≈ 1.24 → capped 1,
    // rate_C ≈ 3.7 → capped 1. The caps are exact assertions; the big
    // source's thinning is hash-dependent, so only bounded.
    val rows =
      (1L to 90L).map(i => Row(i, s"doc $i", "en", "srcA", 6L)) ++
      (91L to 99L).map(i => Row(i, s"doc $i", "en", "srcB", 6L)) :+
      Row(100L, "doc 100", "en", "srcC", 7L)
    val dir = writeDocs(rows)
    val kept = ops.PipelineOps.sampleTemperature(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val bySrc = kept.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(bySrc.getOrElse("srcB", Set.empty) == (91L to 99L).toSet,
      s"capped srcB must keep all 9: ${bySrc.get("srcB")}")
    assert(bySrc.getOrElse("srcC", Set.empty) == Set(100L),
      s"capped srcC must keep its 1: ${bySrc.get("srcC")}")
    val nA = bySrc.getOrElse("srcA", Set.empty).size
    assert(nA > 0 && nA < 90, s"srcA must thin, not vanish or pass through: $nA")
  }

  test("text_unigram_nll analytic extremes: all-same-token 0, all-unique ln(N)") {
    // a corpus of one repeated token has p=1 per token → NLL 0 exactly;
    // a corpus of N distinct tokens has p=1/N per token → NLL ln(N) —
    // both closed forms a shared cross-engine mistake could not fake
    val dir = writeDocs(Seq(
      Row(1L, "same same same same", "en", "s0", 19L),
      Row(2L, "alpha beta gamma delta", "en", "s0", 22L)))
    val got = ops.TextOps.unigramNll(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // doc 1: its 4 tokens are 'same' (cnt 4), N = 8 → nll = ln(8) - ln(4) = ln(2)
    val ln2 = math.log(2.0)
    assert(got(1L)._1 == 4L && math.abs(got(1L)._2 - ln2) < 1e-6, s"doc1: ${got(1L)}")
    // doc 2: 4 unique tokens (cnt 1 each), N = 8 → nll = ln(8)
    assert(got(2L)._1 == 4L && math.abs(got(2L)._2 - math.log(8.0)) < 1e-6, s"doc2: ${got(2L)}")
    // single-corpus extreme: only one doc, one repeated token → exactly 0
    val dir2 = writeDocs(Seq(Row(1L, "x x x", "en", "s0", 5L)))
    val z = ops.TextOps.unigramNll(spark, dir2).collect().head
    assert(z.getLong(1) == 3L && z.getDouble(2) == 0.0)
  }

  test("emb_project_rp: plain-Scala reference projection, element for element") {
    // re-derive the sign matrix and the left-to-right chain with arrays
    // and loops; the operator's micro string for every vec_id < 5 must
    // match exactly (pins matrix, order, scale AND rounding)
    val md = java.security.MessageDigest.getInstance("MD5")
    val signs = Array.tabulate(16, 64) { (j, i) =>
      md.reset()
      if ((md.digest(s"rp:$j:$i".getBytes("UTF-8"))(0) & 1) == 0) 1 else -1
    }
    val sf = "/root/testdata/sf0.001"
    val vecs = LegacyTables.embeddings(spark, sf)
      .where(org.apache.spark.sql.functions.col("vec_id") < 5)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](r.fieldIndex("embedding")).toArray).toMap
    val got = ops.SimOps.queries("emb_project_rp")(spark, sf)
      .where(org.apache.spark.sql.functions.col("vec_id") < 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, x) <- vecs) {
      val want = (0 until 16).map { j =>
        var acc = 0.0
        for (i <- 0 until 64) acc += signs(j)(i) * x(i).toDouble
        val y = acc / 4.0
        java.math.BigDecimal.valueOf(y * 1000000)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      }.mkString(",")
      assert(got(id) == want, s"vec $id: ${got(id)} != $want")
    }
  }

  test("text_bigram_nll: analytic zero and the scrambled-twin separation unigram cannot see") {
    // single doc of one repeated token: every transition has p = 1
    // (bigram share 1, unigram share 1) → NLL exactly 0
    val dir0 = writeDocs(Seq(Row(1L, "x x x", "en", "s0", 5L)))
    val z = ops.TextOps.bigramNll(spark, dir0).collect().head
    assert(z.getLong(1) == 2L && z.getDouble(2) == 0.0, s"analytic zero: $z")

    // the class-separating property: doc 101 is a PERMUTATION of doc
    // 100 (identical token multiset), so the unigram filter scores them
    // identically — but its transitions break the corpus's bigram
    // structure and the bigram NLL must rank it strictly worse
    val sent = "the quick brown fox jumps over the lazy dog"
    val rows = (1L to 10L).map(i => Row(i, sent, "en", "s0", sent.length.toLong)) ++ Seq(
      Row(100L, sent, "en", "s0", sent.length.toLong),
      Row(101L, "quick the fox brown over jumps lazy the dog", "en", "s0", sent.length.toLong))
    val dir = writeDocs(rows)
    val bg = ops.TextOps.bigramNll(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val ug = ops.TextOps.unigramNll(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(ug(100L) == ug(101L),
      s"unigram must be blind to word order: ${ug(100L)} vs ${ug(101L)}")
    assert(bg(101L) > bg(100L) + 0.5,
      s"bigram must rank the scramble strictly worse: ${bg(100L)} vs ${bg(101L)}")
  }

  test("vocab_bpe_train: merge chain on a compositional corpus, hand-computed") {
    // wf: "ab" ×2, "abc" ×1. Round 1: (a,b) n=3 beats (b,c) n=1 →
    // " ab ", " ab c ". Round 2: (ab,c) n=1 → "abc". Round 3: no pairs
    // left → converged, exactly 2 merge rows.
    val dir = writeDocs(Seq(
      Row(1L, "ab ab", "en", "s0", 5L),
      Row(2L, "abc", "en", "s0", 3L)))
    val got = ops.PipelineOps.vocabBpeTrain(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1, "a", "b", "ab", 3L),
      (2, "ab", "c", "abc", 1L)), s"merge chain: ${got.toSeq}")
  }

  test("vocab_bpe_tokenize: the learned merges tokenize the corpus they came from") {
    // same corpus as the train golden: merges (a,b)->ab then (ab,c)->abc
    // fully re-fuse both words, so the tokenizer must emit whole words
    val dir = writeDocs(Seq(
      Row(1L, "ab ab", "en", "s0", 5L),
      Row(2L, "abc", "en", "s0", 3L)))
    val got = ops.PipelineOps.vocabBpeTokenize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 2L, "ab ab"), (2L, 1L, "abc")), s"tokens: ${got.toSeq}")
  }

  test("vocab_bpe_train: delimiter-consuming run collapse, one pair per round") {
    // " a a a a " + (a,a) → " aa a a " (replace() consumes the shared
    // space, so the run collapses one pair per round — the documented
    // divergence from the zero-width-boundary regex spelling). Round 2
    // re-merges (a,a) (ties with (aa,a) at n=2; 'a' < 'aa' binary), and
    // round 3 closes the word: (aa,aa) → "aaaa".
    val dir = writeDocs(Seq(
      Row(1L, "aaaa aaaa", "en", "s0", 9L)))
    val got = ops.PipelineOps.vocabBpeTrain(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1, "a", "a", "aa", 6L),
      (2, "a", "a", "aa", 2L),
      (3, "aa", "aa", "aaaa", 2L)), s"run collapse: ${got.toSeq}")
  }

  test("corpus_source_gini analytic extremes: balanced 0, one-dominant near (n-1)/n") {
    // balanced: 4 sources x 4 tokens each -> G = 0 exactly
    val bal = writeDocs((0L until 4L).map(i =>
      Row(i, "w w w w", "en", s"s$i", 7L)))
    val g0 = ops.PipelineOps.queries("corpus_source_gini")(spark, bal).collect().head
    assert(g0.getAs[Long]("gini_micro") == 0L, g0.toString)
    assert(g0.getAs[Long]("top_share_micro") == 250000L, g0.toString)
    // extreme concentration: sources (1,1,1,97) tokens ->
    // G = (2*(1*1+2*1+3*1+4*97) - 5*100) / (4*100) = (788-500)/400 = 0.72
    val skew = writeDocs(Seq(
      Row(0L, "w", "en", "sA", 1L),
      Row(1L, "w", "en", "sB", 1L),
      Row(2L, "w", "en", "sC", 1L),
      Row(3L, ("w " * 96).trim + " w", "en", "sD", 193L)))
    val g1 = ops.PipelineOps.queries("corpus_source_gini")(spark, skew).collect().head
    assert(g1.getAs[Long]("gini_micro") == 720000L, g1.toString)
    assert(g1.getAs[Long]("top_share_micro") == 970000L, g1.toString)
  }

  test("text_ngram_novelty analytic: disjoint docs read 1.0, a clone pair reads 0.0") {
    val dir = writeDocs(Seq(
      Row(1L, "alpha beta gamma delta epsilon", "en", "s0", 30L), // unique 3-grams
      Row(2L, "one two three four five six", "en", "s0", 27L),    // unique 3-grams
      Row(3L, "shared text block here now ok", "en", "s0", 29L),  // clone of 4
      Row(4L, "shared text block here now ok", "en", "s0", 29L))) // clone of 3
    val got = ops.DedupOps.queries("text_ngram_novelty")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("novelty_micro")).toMap
    assert(got(1L) == 1000000L && got(2L) == 1000000L, got.toString)
    assert(got(3L) == 0L && got(4L) == 0L, got.toString)
  }

  test("pack_sequences_eval analytic: exact-fit shard cuts nothing and wastes nothing") {
    // one shard (doc_ids all ≡ 0 mod 8): four docs of 128 tokens =
    // exactly one 512-token bin -> 0 cuts, 0 waste, fill 1.0
    val doc128 = ("w " * 128).trim
    val dir = writeDocs(Seq(0L, 8L, 16L, 24L).map(i =>
      Row(i, doc128, "en", "s0", doc128.length.toLong)))
    val r = ops.PipelineOps.queries("pack_sequences_eval")(spark, dir).collect().head
    assert(r.getAs[Long]("n_bins") == 1L, r.toString)
    assert(r.getAs[Long]("n_cut_docs") == 0L, r.toString)
    assert(r.getAs[Long]("tail_waste") == 0L, r.toString)
    assert(r.getAs[Long]("fill_micro") == 1000000L, r.toString)
    // one 513-token doc: spans the bin boundary -> cut, second bin
    // wastes 511
    val doc513 = ("w " * 513).trim
    val dir2 = writeDocs(Seq(Row(0L, doc513, "en", "s0", doc513.length.toLong)))
    val r2 = ops.PipelineOps.queries("pack_sequences_eval")(spark, dir2).collect().head
    assert(r2.getAs[Long]("n_cut_docs") == 1L, r2.toString)
    assert(r2.getAs[Long]("tail_waste") == 511L, r2.toString)
  }

  test("dedup_graph_stats analytic: a triangle plus a chain") {
    // docs 1,2,3 mutually near-dup (one clone text) -> triangle;
    // docs 4,5 pair -> one extra edge. Edges: 3 + 1 = 4.
    // Degrees: 2,2,2,1,1 -> wedges = 3*1 + 0 + 0 = 3; triangles = 1;
    // coefficient = 3*1/3 = 1.0
    val tri = "common shared sentence used by the triangle docs exactly"
    val pair = "another different shared sentence for the chain pair docs"
    val dir = writeDocs(Seq(
      Row(1L, tri, "en", "s0", 10L), Row(2L, tri, "en", "s0", 10L),
      Row(3L, tri, "en", "s0", 10L), Row(4L, pair, "en", "s0", 10L),
      Row(5L, pair, "en", "s0", 10L)))
    val r = ops.DedupOps.queries("dedup_graph_stats")(spark, dir).collect().head
    assert(r.getAs[Long]("n_nodes") == 5L, r.toString)
    assert(r.getAs[Long]("n_edges") == 4L, r.toString)
    assert(r.getAs[Long]("n_wedges") == 3L, r.toString)
    assert(r.getAs[Long]("n_triangles") == 1L, r.toString)
    assert(r.getAs[Long]("clustering_micro") == 1000000L, r.toString)
  }

  test("pack_shuffle_eval analytic: block-source corpus — shuffle decorrelates") {
    // 64 docs of exactly 512 tokens (one full bin each), sources in two
    // 32-id blocks: every shard's bin order reads A,A,A,A,B,B,B,B, so
    // shard-major adjacency is 6 same of 7 pairs per shard -> before
    // = 6/7 = 857142 micro. The interleaved hash shuffle must read
    // strictly lower (deterministic given the fixed salt, so this pin
    // is stable, not flaky).
    val doc512 = ("w " * 512).trim
    val dir = writeDocs((0L until 64L).map(i =>
      Row(i, doc512, "en", if (i < 32) "srcA" else "srcB", doc512.length.toLong)))
    val r = ops.PipelineOps.queries("pack_shuffle_eval")(spark, dir).collect().head
    assert(r.getAs[Long]("n_seqs") == 64L, r.toString)
    assert(r.getAs[Long]("n_adj_before") == 56L, r.toString)
    assert(r.getAs[Long]("before_micro") == 857142L, r.toString)
    assert(r.getAs[Long]("after_micro") < r.getAs[Long]("before_micro"), r.toString)
    // the layout is a permutation: epoch positions are distinct and
    // every (shard, bin) appears exactly once
    val lay = ops.PipelineOps.queries("pack_shuffle_layout")(spark, dir).collect()
    assert(lay.length == 64 && lay.map(_.getAs[Long]("epoch_pos")).distinct.length == 64)
  }

  test("dedup_cross_source analytic: mirrors cross, templates stay home") {
    // docs 1,2 share text across sources a/b (a mirror -> one cross
    // pair in cell (a,b)); docs 3,4 share text within source a (a
    // template -> one intra pair in cell (a,a)); doc 5 is unique noise.
    val mirror = "the very same mirrored page text fetched from two providers"
    val templ = "provider a uses this exact boilerplate template on two pages"
    val dir = writeDocs(Seq(
      Row(1L, mirror, "en", "a", 10L), Row(2L, mirror, "en", "b", 10L),
      Row(3L, templ, "en", "a", 10L), Row(4L, templ, "en", "a", 10L),
      Row(5L, "completely unrelated filler words here nine ten", "en", "b", 10L)))
    val rows = ops.DedupOps.queries("dedup_cross_source")(spark, dir).collect()
      .map(r => (r.getAs[String]("src_lo"), r.getAs[String]("src_hi"),
        r.getAs[Long]("n_pairs"), r.getAs[Int]("is_cross"))).toSeq
    assert(rows == Seq(("a", "a", 1L, 0), ("a", "b", 1L, 1)), rows.toString)
  }

  test("text_hard_negatives: the BM25-top near-dup is flagged and neg_rank skips it") {
    // The harness corpus reads is_near_dup = 0 honestly (query docs 0-7
    // have no near-dup partners), so the exclusion path — the whole
    // point of the operator — is pinned here: a clone of the query
    // tops BM25 and MUST come out flagged with neg_rank 0, while a
    // merely-confusable doc (one shared trigram, jaccard 1/11 < 0.3)
    // becomes the FIRST usable negative.
    val q = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 7).map(i =>
      Row(i.toLong, s"filler$i word$i token$i extra$i", "en", "s0", 30L))
    val dir = writeDocs(Seq(Row(0L, q, "en", "s0", q.length.toLong)) ++ filler ++ Seq(
      Row(8L, q, "en", "s0", q.length.toLong),
      Row(9L, "alpha beta gamma nine ten eleven twelve thirteen", "en", "s0", 48L)))
    val rows = ops.RetrievalOps.queries("text_hard_negatives")(spark, dir)
      .collect().filter(_.getLong(0) == 0L)
      .map(r => (r.getInt(1), r.getLong(2), r.getInt(4), r.getInt(5))).toSeq
    assert(rows.length == 2, rows.toString)
    assert(rows.head == ((1, 8L, 1, 0)), s"clone must rank 1, flagged, excluded: $rows")
    assert(rows(1) == ((2, 9L, 0, 1)), s"confusable must be the first usable negative: $rows")
  }
}
