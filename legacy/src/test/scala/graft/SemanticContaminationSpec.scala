package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Planted-corpus pin for `text_contamination_semantic`: the harness
  * embeddings are near-random so the key's flags there are honestly
  * tail noise — the MECHANISM (a paraphrase-shaped near-copy flags at
  * cosine ≈ 1 regardless of scale, an unrelated doc does not) needs a
  * corpus that exercises it, the OpGoldens posture. */
class SemanticContaminationSpec extends SparkSpec {

  private def writeEmb(rows: Seq[Row]): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_semcont").toString
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema).write.parquet(s"$d/embeddings.parquet")
    d
  }

  private def unit(axis: Int): Seq[Float] =
    Seq.tabulate(64)(i => if (i == axis) 1.0f else 0.0f)
  private def scaled(axis: Int, s: Float): Seq[Float] =
    Seq.tabulate(64)(i => if (i == axis) s else 0.0f)

  test("planted near-copy flags at cosine 1.0; orthogonal doc stays clean") {
    // eval items 0..9 on axes 0..9; corpus: doc 100 is a SCALED copy of
    // eval 3 (a paraphrase in embedding space — cosine 1 despite the
    // norm difference), doc 101 lives on axis 40 (orthogonal to every
    // eval item), doc 102 is a half-blend of eval 5 and axis 50
    // (cos = 1/sqrt(2) ≈ 0.707 — above threshold, the soft-paraphrase)
    val evalRows = (0 until 10).map(i => Row(i.toLong, unit(i), i))
    val blend = Seq.tabulate(64)(i =>
      if (i == 5 || i == 50) 1.0f else 0.0f)
    val dir = writeEmb(evalRows ++ Seq(
      Row(100L, scaled(3, 7.5f), 0),
      Row(101L, unit(40), 0),
      Row(102L, blend, 0)))
    val got = LegacyEntry.queries("text_contamination_semantic")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got(100L)._1 == 3L && got(100L)._2 == 1.0 && got(100L)._3,
      s"scaled near-copy must flag against eval 3 at cos 1.0: ${got(100L)}")
    assert(!got(101L)._3 && got(101L)._2 == 0.0,
      s"orthogonal doc must stay clean: ${got(101L)}")
    assert(got(102L)._1 == 5L && got(102L)._3 &&
      math.abs(got(102L)._2 - 0.707107) < 1e-6,
      s"half-blend must flag against eval 5 at ~0.707: ${got(102L)}")
  }

  test("harness flags are the honest tail: nonzero but rare at sf0.01") {
    val rows = LegacyEntry.queries("text_contamination_semantic")(
      spark, "/root/testdata/sf0.01").collect()
    val flagged = rows.count(_.getBoolean(3))
    assert(flagged > 0, "threshold at ~p99 must flag a nonzero tail")
    assert(flagged * 20 < rows.length,
      s"flags must stay a tail, not a flood: $flagged of ${rows.length}")
  }
}
