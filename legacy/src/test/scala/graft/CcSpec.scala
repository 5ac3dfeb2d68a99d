package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Large-star/small-star connected components (DedupOps.connectedComponents):
  * correctness against a driver-side union-find, O(log n) round complexity
  * on a long path (where min-label propagation needs O(n) passes), and the
  * giant-component skew properties VERDICT r2 asked to pin.
  */
class CcSpec extends SparkSpec {

  import spark.implicits._

  private def pairsDf(ps: Seq[(Long, Long)]): DataFrame =
    ps.toDF("doc_a", "doc_b")

  private def labelsOf(ps: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    val (df, rounds) = graft.ops.DedupOps.connectedComponents(pairsDf(ps))
    (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  /** Reference union-find on the driver. */
  private def unionFind(ps: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    ps.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("cc matches union-find on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val ps = Seq.fill(300)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val (got, _) = labelsOf(ps)
    assert(got == unionFind(ps))
  }

  test("cc on a 128-node path converges in O(log n) rounds, not O(n)") {
    val ps = (0L until 127L).map(i => (i, i + 1))
    val (got, rounds) = labelsOf(ps)
    assert(got.size == 128 && got.values.forall(_ == 0L), got.toSeq.sorted.take(5))
    // min-label propagation would need ~127 passes to reach the far end;
    // star rounds square the pointer depth each alternation
    assert(rounds <= 12, s"expected O(log n) rounds, got $rounds")
  }

  test("giant star component: fast convergence, no hub key in small-star, partial min in the plan") {
    val n = 10000L
    val ps = (1L until n).map(i => (0L, i)) // one 10^4-node star rooted at 0
    val (labels, rounds) = graft.ops.DedupOps.connectedComponents(pairsDf(ps))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 0L))
    assert(rounds <= 3, s"a star is already converged; got $rounds rounds")

    // skew pin 1: the canonical edge list keys small-star by the LARGER
    // endpoint, so the hub (root 0) is never a grouping key — every
    // small-star group on this component has exactly one row.
    val canonical = pairsDf(ps).select(col("doc_b").as("u"), col("doc_a").as("v"))
    val maxGroup = canonical.groupBy("u").count().agg(max("count")).head().getLong(0)
    assert(maxGroup == 1L, s"hub leaked into the small-star key space: $maxGroup")

    // skew pin 2: large-star's per-node min is a PARTIAL aggregate — the
    // hub's 10^4 symmetric edges combine map-side, so the u-keyed
    // exchange carries at most one row per key per input partition, never
    // the hub's full adjacency as one group.
    val sym = canonical.unionByName(canonical.select(col("v").as("u"), col("u").as("v")))
    val minAgg = sym.groupBy("u").agg(min("v").as("mv"))
    minAgg.collect()
    val plan = minAgg.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min"), plan)
  }

  // ---- PageRank (DedupOps.pagerankFrom) ----

  /** Independent reference in the SAME integer-mass arithmetic (arrays
    * and loops, no shared code): 8 damped rounds over the undirected
    * edge list. */
  private def refPagerank(ps: Seq[(Long, Long)]): Map[Long, Long] = {
    val edges = ps.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    val n = deg.size.toLong
    val init = 1000000000000L / n
    val tele = (150000L * init) / 1000000L
    var pr: Map[Long, Long] = deg.map { case (v, _) => v -> init }
    for (_ <- 1 to 8) {
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (src, _) => (850000L * (pr(src) / deg(src))) / 1000000L }.sum
      }
      pr = pr.map { case (v, _) => v -> (tele + in.getOrElse(v, 0L)) }
    }
    pr
  }

  private def gotPagerank(ps: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
    graft.ops.DedupOps.pagerankFrom(pairsDf(ps)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("pagerank matches the integer-mass reference on a seeded random graph") {
    val rnd = new scala.util.Random(7)
    val ps = (1 to 120).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2).map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct
    val want = refPagerank(ps)
    val got = gotPagerank(ps)
    assert(got.view.mapValues(_._2).toMap == want)
  }

  test("pagerank centrality separates hub from leaves and conserves mass") {
    // star K1,20 plus a 5-node path hanging off one leaf
    val star = (1L to 20L).map(i => (0L, i))
    val path = (0 until 4).map(i => (100L + i, 101L + i)) :+ ((20L, 100L))
    val got = gotPagerank(star ++ path)
    val hub = got(0L)._2
    assert((1L to 19L).forall(i => got(i)._2 < hub),
      "the star hub must outrank every leaf")
    // integer divisions may leak mass but never create it; the leak over
    // 8 rounds on ~26 nodes stays far under 1% of the total
    val total = got.values.map(_._2).sum
    assert(total <= 1000000000000L && total > 990000000000L,
      s"mass not conserved: $total")
  }

  test("keep_central elects the hub its cluster's CC min-label would miss") {
    import org.apache.spark.sql.types._
    // doc 5 is the hub: two 9-word blocks. Docs 1 and 2 are each ONE of
    // those blocks verbatim (jaccard vs hub 7/16 ≈ 0.44, vs each other
    // 0) — the partial-scrapes-of-one-original shape. CC's keeper is
    // the blind min id (1); centrality elects the hub (5).
    val block1 = "alpha beta gamma delta epsilon zeta eta theta iota"
    val block2 = "kappa lambda mu nu xi omicron pi rho sigma"
    val rows = Seq((1L, block1), (2L, block2), (5L, s"$block1 $block2"))
    val d = java.nio.file.Files.createTempDirectory("graft_pr").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rws = rows.map { case (id, t) =>
      org.apache.spark.sql.Row(id, t, "en", "src0", t.length.toLong) }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rws).asJava),
      schema).write.parquet(s"$d/documents.parquet")
    val pairs = graft.ops.DedupOps.ngramJaccard(spark, d)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 5L), (2L, 5L)),
      s"crafted corpus must pair each leaf with the hub only: ${pairs.toSeq}")
    val central = LegacyEntry.queries("dedup_keep_central")(spark, d).collect()
    assert(central.length == 1 && central.head.getLong(1) == 5L,
      s"expected the hub as central doc, got ${central.toSeq}")
    val cc = LegacyEntry.queries("dedup_cluster")(spark, d).collect()
    assert(cc.forall(_.getLong(1) == 1L), "CC keeper is the blind min id")
  }
}
