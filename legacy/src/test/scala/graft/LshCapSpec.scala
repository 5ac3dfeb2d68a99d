package graft

import org.apache.spark.sql.functions._

/** The hot-band cap must actually FIRE: at harness scale no real bucket
  * exceeds it (the DuckDB oracle checks capped ≡ uncapped there), so
  * this spec builds the corpus the cap exists for — a boilerplate
  * template repeated often enough to flood every band bucket — and
  * proves the capped operator drops exactly the universal buckets while
  * genuinely near-duplicate pairs keep their discriminative ones. */
class LshCapSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("lsh_cap").toString
    import spark.implicits._
    val template = "the quick brown fox jumps over the lazy dog again and " +
      "again in the same boilerplate disclaimer text block every page carries"
    // 15 byte-identical template docs (> BandBucketCap = 10): every band
    // bucket they form holds 15 docs -> all capped away. Two near-dup
    // docs (one token changed) share discriminative buckets of size 2.
    val nearA = "completely different content about distributed query engines " +
      "and the partitioning of very large analytical corpora at scale"
    val nearB = "completely different content about distributed query engines " +
      "and the partitioning of very large analytical corpora at speed"
    val docs = (0 until 15).map(i => (i.toLong, template)) ++
      Seq((100L, nearA), (101L, nearB))
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("uncapped LSH drowns in the template bucket; capped keeps only the near-dup pair") {
    val uncapped = LegacyEntry.queries("dedup_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = LegacyEntry.queries("dedup_minhash_lsh_capped")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: C(15,2) = 105 template pairs + the near-dup pair
    assert(uncapped.size == 106, s"expected 106 uncapped pairs, got ${uncapped.size}")
    // capped: the 15-doc buckets exceed the cap and drop; the near-dup
    // pair's discriminative buckets (size 2) survive
    assert(capped == Set((100L, 101L)),
      s"cap must drop exactly the flooded buckets, got $capped")
  }
}
