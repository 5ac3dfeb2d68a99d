package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Sketch-family pins against independent plain-Scala references (the
  * mortonRef discipline — arrays and loops, no shared code with the
  * operators): the bloom filter's word table, per-doc membership
  * answers and both guarantee directions on a corpus WITH real
  * cross-half duplicates (the harness corpus has none, so the crafted
  * one exercises the true_dup path the eval row reports), and the CMS
  * cell/estimate arithmetic with a planted heavy hitter.
  */
class SketchSpec extends SparkSpec {

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_sketch").toString
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

  private def hex32(h: String): Long = java.lang.Long.parseLong(h.take(8), 16)

  // ---- independent bloom reference ----

  private val Salts = 4
  private val BitsPerItem = 8

  private def refGeom(nDistinct: Long): Long = {
    val n = math.max(nDistinct, 1L)
    (8 to 26).map(p => 1L << p).find(_ >= BitsPerItem * n).getOrElse(1L << 26)
  }

  private def refPositions(ch: String, m: Long): Seq[Long] =
    (0 until Salts).map(i => hex32(md5hex(s"bloom$i:$ch")) % m)

  private def refWords(hashes: Set[String], m: Long): Map[Long, Long] =
    hashes.toSeq.flatMap(refPositions(_, m))
      .groupBy(_ / 32)
      .map { case (w, ps) => w -> ps.map(p => 1L << (p % 32).toInt).reduce(_ | _) }

  private def refHit(ch: String, m: Long, words: Map[Long, Long]): Int =
    if (refPositions(ch, m).forall(p =>
      (words.getOrElse(p / 32, 0L) >> (p % 32).toInt & 1L) == 1L)) 1 else 0

  /** 20 docs; odd ids < 10 duplicate the preceding even doc's text, so
    * the incoming half contains 5 TRUE duplicates of the standing half
    * plus 5 genuinely new docs. */
  private lazy val dupCorpus: Seq[(Long, String, String)] =
    (0L until 20L).map { i =>
      val text =
        if (i % 2 == 1 && i < 10) s"shared corpus text number ${i - 1} about data"
        else s"shared corpus text number $i about data"
      (i, text, "en")
    }

  test("dedup_bloom matches the plain-Scala reference filter exactly") {
    val d = writeDocs(dupCorpus)
    val out = LegacyEntry.queries("dedup_bloom")(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    val standing = dupCorpus.filter(_._1 % 2 == 0).map(t => md5hex(t._2)).toSet
    val m = refGeom(standing.size.toLong)
    val words = refWords(standing, m)
    val expected = dupCorpus.map { case (id, text, _) =>
      (id, if (id % 2 == 0) 1 else 0, refHit(md5hex(text), m, words))
    }.sortBy(_._1)
    assert(out.toSeq == expected)
  }

  test("bloom guarantee on a corpus with real cross-half duplicates") {
    val d = writeDocs(dupCorpus)
    val row = LegacyEntry.queries("dedup_bloom_eval")(spark, d).collect().head
    assert(row.getAs[Long]("true_dups") == 5L)
    assert(row.getAs[Long]("false_neg") == 0L) // bloom never misses
    assert(row.getAs[Long]("bloom_hits_incoming") >= 5L)
    assert(row.getAs[Long]("n_standing") == 10L)
  }

  test("dedup_bloom_incremental merges to the reference union filter at the standing geometry") {
    val d = writeDocs(dupCorpus)
    val out = LegacyEntry.queries("dedup_bloom_incremental")(spark, d).collect()
    val standing = dupCorpus.filter(_._1 % 4 == 0).map(t => md5hex(t._2)).toSet
    val batch = dupCorpus.filter(_._1 % 4 == 2).map(t => md5hex(t._2)).toSet
    val m = refGeom(standing.size.toLong)
    val merged = refWords(standing ++ batch, m)
    val got = out.map(r => r.getLong(0) -> r.getAs[Long]("word")).toMap
    assert(got == merged)
    // superset pin: appending can only ever ADD bits
    out.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("word_standing"))) {
        val ws = r.getAs[Long]("word_standing")
        assert((r.getAs[Long]("word") & ws) == ws)
      }
    }
  }

  test("dedup_bloom_sharded matches a per-shard plain-Scala reference; guarantee holds per shard") {
    val d = writeDocs(dupCorpus)
    val out = LegacyEntry.queries("dedup_bloom_sharded")(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    val standing = dupCorpus.filter(_._1 % 2 == 0).map(t => md5hex(t._2)).toSet
    val byShard = standing.groupBy(_.take(1))
    val geoms = byShard.map { case (sh, chs) => sh -> refGeom(chs.size.toLong) }
    val words = byShard.map { case (sh, chs) => sh -> refWords(chs, geoms(sh)) }
    val expected = dupCorpus.map { case (id, text, _) =>
      val ch = md5hex(text)
      val sh = ch.take(1)
      val hit = geoms.get(sh).map(m => refHit(ch, m, words(sh))).getOrElse(0)
      (id, if (id % 2 == 0) 1 else 0, hit)
    }.sortBy(_._1)
    assert(out.toSeq == expected)
    // per-shard no-false-negative: every standing row self-hits
    out.filter(_._2 == 1).foreach(t => assert(t._3 == 1, s"standing doc ${t._1} missed"))
  }

  test("bloom eval on the harness corpus: guarantee holds, FP rate in the geometry's band") {
    val row = LegacyEntry.queries("dedup_bloom_eval")(spark, "/root/testdata/sf0.001")
      .collect().head
    assert(row.getAs[Long]("false_neg") == 0L)
    // 8 bits/item, k=4: theoretical FP ≤ ~2.4 % across the next_pow2
    // window; 10 % leaves room for small-sample variance at 250 probes
    assert(row.getAs[Long]("fp_micro") <= 100000L)
  }

  // ---- independent CMS reference ----

  private val CmsD = 4
  private val CmsW = 16384

  /** Reference estimate per distinct shingle, from per-doc DISTINCT
    * 3-gram shingles (short docs collapse to the whole normalized
    * text — TextShingles semantics). */
  private def refCms(docs: Seq[(Long, String, String)]): Map[String, Long] = {
    def shingles(text: String): Set[String] = {
      val words = text.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
        .replaceAll(" +", " ").trim.split(" ").filter(_.nonEmpty)
      if (words.length >= 3) words.sliding(3).map(_.mkString(" ")).toSet
      else Set(words.mkString(" ")).filter(_.nonEmpty)
    }
    val stream = docs.flatMap(d => shingles(d._2))
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    for (sh <- stream; r <- 0 until CmsD) {
      val c = hex32(md5hex(s"cms$r:$sh")) % CmsW
      cells((r, c)) = cells.getOrElse((r, c), 0L) + 1
    }
    stream.distinct.map { sh =>
      sh -> (0 until CmsD).map(r => cells((r, hex32(md5hex(s"cms$r:$sh")) % CmsW))).min
    }.toMap
  }

  /** 40 docs: 30 share one planted heavy 3-gram, 10 are singleton noise. */
  private lazy val heavyCorpus: Seq[(Long, String, String)] =
    (0L until 40L).map { i =>
      val text =
        if (i < 30) s"filler$i words around the planted heavy hitter phrase $i"
        else s"unique doc $i with its own words entirely"
      (i, text, "en")
    }

  test("text_ngram_cms_topk finds the planted heavy hitter with reference-exact estimates") {
    val d = writeDocs(heavyCorpus)
    val out = LegacyEntry.queries("text_ngram_cms_topk")(spark, d).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("df_est"))
    val ref = refCms(heavyCorpus)
    // every reported estimate matches the reference sketch exactly
    out.foreach { case (sh, est) => assert(ref(sh) == est, s"estimate mismatch for '$sh'") }
    // the planted run's shingles (df=30 each) top the ranking — the
    // shared middle of the 30 docs yields five df-30 3-grams, and every
    // other shingle is a singleton
    assert(out.head._2 >= 30L)
    assert(out.head._1.matches(".*(planted|heavy|hitter|around|words).*"))
  }

  // ---- independent HLL reference ----

  private def refHllRegs(toks: Iterable[String]): Map[Long, Int] =
    toks.map { t =>
      val h = hex32(md5hex(t))
      val w = h / 4096
      val rho =
        if (w == 0) 21
        else 21 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      (h % 4096) -> rho
    }.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).max }

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** (n_present, sum_int, estimate) — the textbook HLL with the exact
    * integer harmonic sum and micro-grid ln the operators pin. */
  private def refHllEstimate(regs: Map[Long, Int]): (Long, Long, Double) = {
    val nPresent = regs.size.toLong
    val sumInt = regs.values.map(r => 1L << (21 - r)).sum +
      (4096L - nPresent) * (1L << 21)
    val v = 4096L - nPresent
    val eRaw = (721110.0 * 4096 * 4096 * 2097152.0) / (1000000.0 * sumInt)
    val est =
      if (eRaw <= 10240.0 && v > 0) {
        val lnMicro = math.round(math.log(4096.0 / v) * 1000000.0)
        round6(4096L * lnMicro / 1000000.0)
      } else round6(eRaw)
    (nPresent, sumInt, est)
  }

  test("vocab_hll matches the plain-Scala reference register file exactly (LC branch)") {
    val words = (0 until 500).map(i => s"tok$i")
    val docs = (0L until 10L).map { d =>
      (d, words.slice(d.toInt * 50, d.toInt * 50 + 50).mkString(" "), "en")
    }
    val dir = writeDocs(docs)
    val row = LegacyEntry.queries("vocab_hll")(spark, dir).collect().head
    val (nP, sI, est) = refHllEstimate(refHllRegs(words))
    assert(row.getAs[Long]("exact_distinct") == 500L)
    assert(row.getAs[Long]("n_present") == nP)
    assert(row.getAs[Long]("sum_int") == sI)
    assert(row.getAs[Double]("hll_estimate_r") == est)
    // the LC branch's accuracy: well inside the 1.04/sqrt(m) band
    assert(row.getAs[Double]("rel_err_r") < 0.05,
      s"LC estimate off by ${row.getAs[Double]("rel_err_r")}")
  }

  test("HLL raw branch engages past 2.5m distinct and stays within 3 sigma") {
    // 30k distinct tokens saturate ~99.9% of the 4096 registers, so the
    // raw harmonic-mean branch (untouchable at harness corpus scale) is
    // exercised here: reference-exact arithmetic AND honest accuracy
    val words = (0 until 30000).map(i => s"rawtok$i")
    val dir = writeDocs(Seq((0L, words.mkString(" "), "en")))
    val row = LegacyEntry.queries("vocab_hll")(spark, dir).collect().head
    val (nP, sI, est) = refHllEstimate(refHllRegs(words))
    assert(row.getAs[Long]("n_present") == nP)
    assert(row.getAs[Long]("sum_int") == sI)
    assert(row.getAs[Double]("hll_estimate_r") == est)
    val eRaw = (721110.0 * 4096 * 4096 * 2097152.0) / (1000000.0 * sI)
    assert(eRaw > 10240.0, "corpus must be large enough for the raw branch")
    // 3 sigma = 3 * 1.04/sqrt(4096) ~ 4.9%
    assert(row.getAs[Double]("rel_err_r") < 0.05,
      s"raw estimate off by ${row.getAs[Double]("rel_err_r")}")
  }

  test("events_hll_incremental: merged registers == reference union build; registers only grow") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val users = Tables.events(spark, sf).where(col("user_id").isNotNull)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSeq
    val union = users.filter(u => u % 4 == 0 || u % 4 == 2).map(_.toString)
    val want = refHllRegs(union)
    val got = LegacyEntry.queries("events_hll_incremental")(spark, sf).collect()
    assert(got.map(r => r.getAs[Long]("bucket") -> r.getAs[Int]("rho")).toMap == want,
      "max-merged registers must equal a direct build over the union")
    // monotonicity: the merge can only raise a standing register
    got.filter(!_.isNullAt(1)).foreach { r =>
      assert(r.getAs[Int]("rho") >= r.getAs[Int]("rho_standing"))
    }
  }

  // ---- independent quantile-sketch reference ----

  private def refQsBucket(v: Long): Long =
    if (v < 32) v
    else {
      val msb = 64 - java.lang.Long.numberOfLeadingZeros(v)
      msb.toLong * 16 + ((v >> (msb - 5)) & 15)
    }

  private def refQsLoWidth(id: Long): (Long, Long) =
    if (id < 32) (id, 1L)
    else {
      val w = 1L << (id / 16 - 5).toInt
      ((16 + id % 16) << (id / 16 - 5).toInt, w)
    }

  /** Type-1 sketch quantile with in-bucket interpolation — the
    * operators' arithmetic re-derived with arrays and loops. */
  private def refQsQuantile(values: Seq[Long], qMicro: Long): Long = {
    val cells = values.groupBy(refQsBucket).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    val n = values.size.toLong
    val target = (qMicro * n + 999999) / 1000000
    var cum = 0L
    for ((id, cnt) <- cells) {
      cum += cnt
      if (cum >= target) {
        val (lo, w) = refQsLoWidth(id)
        return lo + ((target - (cum - cnt) - 1) * w) / cnt
      }
    }
    throw new IllegalStateException("target past CDF")
  }

  private def writeLens(lens: Seq[Long]): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_qs").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rws = lens.zipWithIndex.map { case (len, i) =>
      Row(i.toLong, "t", "en", "src0", len) }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rws).asJava),
      schema).write.parquet(s"$d/documents.parquet")
    d
  }

  test("quantile sketch matches the plain-Scala reference on a 6-decade log-uniform corpus") {
    // the domain the EXACT histogram can't afford: values spread over
    // 10^0..10^9 — a window over distinct values would carry ~1000
    // distinct lengths here but billions in production; the sketch holds
    // < 1000 buckets by construction at ANY spread
    val rnd = new scala.util.Random(11)
    val lens = (1 to 1000).map(_ => math.pow(10.0, rnd.nextDouble() * 9).toLong)
    val d = writeLens(lens)
    val got = LegacyEntry.queries("corpus_quantile_sketch")(spark, d)
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toMap
    val sorted = lens.sorted
    for ((qm, q) <- Seq(500000L -> 0.5, 900000L -> 0.9, 990000L -> 0.99)) {
      assert(got(q) == refQsQuantile(lens, qm), s"mismatch at q=$q")
      // true type-1 quantile and the geometry's error bound
      val exact = sorted(((qm * 1000 + 999999) / 1000000 - 1).toInt)
      val err = math.abs(got(q) - exact).toDouble / exact
      assert(err <= 0.0625 + 1e-9, s"q=$q err $err exceeds the 1/16 bucket bound")
    }
    val nBuckets = lens.map(refQsBucket).distinct.size
    assert(nBuckets < 1000, s"bucket bound broken: $nBuckets")
  }

  test("quantile sketch bucket inverse round-trips the boundary values") {
    for (v <- Seq(0L, 1L, 31L, 32L, 33L, 63L, 64L, 1L << 20, (1L << 40) + 7)) {
      val id = refQsBucket(v)
      val (lo, w) = refQsLoWidth(id)
      assert(v >= lo && v < lo + w, s"v=$v outside bucket [$lo, ${lo + w})")
      assert(w <= math.max(lo / 16, 1), s"v=$v width $w over 1/16 of floor $lo")
    }
  }

  test("cms one-sided error on the harness corpus") {
    val row = LegacyEntry.queries("text_ngram_cms_eval")(spark, "/root/testdata/sf0.001")
      .collect().head
    assert(row.getAs[Long]("n_under") == 0L) // CMS never underestimates
    assert(row.getAs[Long]("n_grams") > 0L)
    // the theorem's per-gram bound P[over > (e/w)N] <= e^-d, measured:
    // zero misses at every SF (sf0.1 max_over 37 vs bound 43; sf1 274
    // vs 432) -- the rate is also a Bench gate at 5 %
    assert(row.getAs[Long]("n_bound_miss") == 0L)
    assert(row.getAs[Long]("top20_overlap") >= 0L)
  }
}
