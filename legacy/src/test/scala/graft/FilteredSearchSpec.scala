package graft

import org.apache.spark.sql.functions._

/** Filtered vector search pins: every returned neighbor satisfies the
  * predicate, and the pre-filtering design demonstrably beats the naive
  * post-filter (which silently under-fills k). */
class FilteredSearchSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def labels: Map[Long, Int] =
    LegacyTables.embeddings(spark, d).select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("every filtered neighbor satisfies the predicate, brute and IVF") {
    val lab = labels
    for (name <- Seq("sim_filtered_topk", "sim_filtered_ivf_topk")) {
      val rows = LegacyEntry.queries(name)(spark, d).collect()
      assert(rows.nonEmpty, name)
      rows.foreach { r =>
        val n = r.getAs[Long]("neighbor_id")
        assert(lab(n) % 3 == 0, s"$name returned non-matching neighbor $n (label ${lab(n)})")
      }
    }
  }

  test("pre-filtering fills k where post-filtering an unfiltered shortlist starves") {
    val lab = labels
    // the naive stack: unfiltered brute top-5, then drop non-matching —
    // whenever the unfiltered shortlist holds non-matching members, the
    // survivor list is SHORTER than the filtered op's (which re-ranks
    // over the filtered set and fills back to k)
    val post = LegacyEntry.queries("sim_brute_topk")(spark, d).collect()
      .filter(r => lab(r.getAs[Long]("neighbor_id")) % 3 == 0)
      .groupBy(_.getAs[Long]("q_id")).view.mapValues(_.length).toMap
    val pre = LegacyEntry.queries("sim_filtered_topk")(spark, d).collect()
      .groupBy(_.getAs[Long]("q_id")).view.mapValues(_.length).toMap
    assert(pre.keySet == post.keySet.union(pre.keySet))
    pre.foreach { case (q, n) =>
      assert(n >= post.getOrElse(q, 0), s"pre-filter returned fewer than post-filter for q=$q")
    }
    assert(pre.exists { case (q, n) => n > post.getOrElse(q, 0) },
      s"no query shows the post-filter starvation the op exists to fix: pre=$pre post=$post")
  }
}
