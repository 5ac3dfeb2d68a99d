package graft

/** Smoke: every registered query runs at sf0.001 and returns a sane row
  * count, and every oracle key has a query (and vice versa where
  * declared). Full value-level correctness is the driver's DuckDB gate
  * (tools/run_verify.sh). */
@Nightly
class OpsSmokeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("every oracle key has a matching query") {
    val missing = LegacyEntry.oracleSql.keySet -- LegacyEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for ((name, fn) <- LegacyEntry.queries.toSeq.sortBy(_._1)) {
    test(s"query $name runs at sf0.001") {
      val df = fn(spark, sf)
      val n = df.count()
      // filter_time_window legitimately selects 0 rows at sf0.001
      // (one specific hour out of a month of sparse events)
      if (name != "filter_time_window") assert(n > 0, s"$name returned no rows")
      assert(df.columns.nonEmpty)
    }
  }

  test("corpus_quantiles: histogram CDF == directly computed type-1 quantiles (random corpora)") {
    import org.apache.spark.sql.functions._
    // the CDF trick must reproduce the definition (min x with
    // cum(x) ≥ ceil(q·n)) on ANY distribution, including heavy ties and
    // a single distinct value — seeded-random corpora of varied shapes
    val rnd = new scala.util.Random(42)
    for ((sizeSpec, tag) <- Seq((1, "single"), (7, "tiny"), (500, "tied"), (1000, "spread"))) {
      val lens: Seq[Long] = tag match {
        case "single" => Seq(17L)
        case "tied"   => Seq.fill(sizeSpec)(rnd.nextInt(5).toLong + 10) // 5 distinct values
        case _        => Seq.fill(sizeSpec)(rnd.nextInt(10000).toLong)
      }
      val dir = java.nio.file.Files.createTempDirectory(s"quant_$tag").toString
      import spark.implicits._
      lens.zipWithIndex.map { case (l, i) => (i.toLong, l) }
        .toDF("doc_id", "n_chars").write.parquet(s"$dir/documents.parquet")
      val got = graft.ops.PipelineOps.corpusQuantiles(spark, dir).collect()
        .map(r => r.getDouble(0) -> r.getLong(1)).toMap
      val sorted = lens.sorted
      val expected = Seq(0.5, 0.9, 0.99).map { q =>
        q -> sorted(math.ceil(q * lens.size).toInt - 1)
      }.toMap
      assert(got == expected, s"[$tag] histogram CDF $got != direct $expected")
    }
  }
}
