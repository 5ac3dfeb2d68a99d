package graft

import org.apache.spark.sql.functions._
import graft.ops.SimOps

/** The persisted-index deployment shape: build the IVF index offline,
  * load it in a separate "application", and get byte-identical answers
  * to the in-memory operator — with the on-disk layout that makes
  * queries touch only their probed partitions at 100 TB. */
class IvfIndexSpec extends SparkSpec {

  private val D = "/root/testdata/sf0.001"

  test("persisted IVF index: build -> load -> query == in-memory sim_ivf_topk") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_index").toString
    SimOps.buildIvfIndex(spark, D, dir)

    // layout: lists are physically partitioned by list_id, so a probe of
    // nprobe lists materializes exactly those directories
    val listDirs = new java.io.File(dir + "/lists").listFiles()
      .filter(_.getName.startsWith("list_id=")).map(_.getName).sorted
    assert(listDirs.nonEmpty, "index must be partitioned by list_id")

    val fromIndex = SimOps.ivfTopKFromIndex(spark, D, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val inMemory = LegacyEntry.queries("sim_ivf_topk")(spark, D)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(fromIndex == inMemory,
      s"persisted-index answers diverged: index=$fromIndex inMemory=$inMemory")

    // the index is self-contained: vectors ride in the lists with their
    // precomputed norms, so the query never needs the corpus table
    val listCols = spark.read.parquet(dir + "/lists").columns.toSet
    assert(Set("vec_id", "embedding", "c_nrm", "list_id").subsetOf(listCols))
  }

  test("incremental append: twins of the corpus join the standing index and surface at rank 1") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
    SimOps.buildIvfIndex(spark, D, dir)
    val before = spark.read.parquet(dir + "/lists")
      .select("vec_id", "list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet

    // append EXACT TWINS of every corpus vector under new ids: same
    // distances -> the closure rule must assign each twin to exactly its
    // original's lists, and each query's nearest neighbor becomes its
    // own twin at cosine 1.0 — proof the appended data is genuinely
    // queryable, not just present on disk
    val offset = 100000L
    val twins = LegacyTables.embeddings(spark, D)
      .select((col("vec_id") + offset).as("vec_id"), col("embedding"))
    SimOps.appendToIvfIndex(spark, dir, twins)

    val after = spark.read.parquet(dir + "/lists")
      .select("vec_id", "list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(after.filter(_._1 < offset) == before,
      "append must not touch standing index rows")
    assert(after.filter(_._1 >= offset).map { case (v, l) => (v - offset, l) } == before,
      "each twin must closure-assign to exactly its original's lists")

    val top1 = SimOps.ivfTopKFromIndex(spark, D, dir)
      .where(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top1.nonEmpty)
    top1.foreach { case (q, n) =>
      assert(n == q + offset,
        s"query $q's rank-1 neighbor should be its appended twin, got $n")
    }

    // retry safety: a sink-side retry double-appends the same batch; the
    // query path dedups candidates (distinct) AND vectors (dropDuplicates
    // by vec_id), so replayed rows must not change any answer
    val before2 = SimOps.ivfTopKFromIndex(spark, D, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    SimOps.appendToIvfIndex(spark, dir, twins)
    val after2 = SimOps.ivfTopKFromIndex(spark, D, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(after2 == before2,
      "a replayed append must be invisible to queries (read-time dedup)")
  }

  test("registry sim_knn_graph serves from the persisted index, result-identical to the fused form") {
    // r13: label_purity was re-paying the full closure-assignment cost
    // because each key rebuilt the lists — the registry key now reads
    // ensureIvfIndex's parquet; floats round-trip parquet exactly, so
    // the two forms must agree to the last bit
    val fromIndex = LegacyEntry.queries("sim_knn_graph")(spark, D)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val fused = SimOps.knnGraphInMemory(spark, D)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(fromIndex == fused,
      s"index-served graph diverged from the fused form")
    assert(fromIndex.nonEmpty)
    // and the index it served from is on disk, list-partitioned
    val dir = SimOps.ensureIvfIndex(spark, D)
    assert(new java.io.File(dir + "/lists").listFiles()
      .exists(_.getName.startsWith("list_id=")))
  }

  test("two-level index: fine codebook is a DataFrame-resident grid, lists partitioned by (g_id, f_id)") {
    // the two-level layout's contract: no driver collect anywhere in the
    // fine path (the coarse codebook is the family's ONE collect), the
    // fine grid bounded by k1*k2, and the on-disk lists partitioned so a
    // probe touches only its (g_id, f_id) directories
    val dir = SimOps.ensureIvf2Index(spark, D)
    val fine = spark.read.parquet(dir + "/fine")
    val n = LegacyTables.embeddings(spark, D).count()
    val lT = SimOps.nLists2(n)
    val k1 = SimOps.nCoarse2(lT)
    val k2 = SimOps.nFine2(lT, k1)
    val cells = fine.select("g_id").distinct().count()
    assert(cells <= k1, s"fine grid has $cells cells > k1=$k1")
    assert(fine.count() <= k1.toLong * k2, "fine grid exceeds k1*k2")
    val perCell = fine.groupBy("g_id").count().collect().map(_.getLong(1))
    assert(perCell.forall(_ <= k2), s"a cell exceeds k2=$k2 fine centroids")
    val gDirs = new java.io.File(dir + "/lists").listFiles()
      .filter(_.getName.startsWith("g_id="))
    assert(gDirs.nonEmpty, "lists must be partitioned by g_id first")
    assert(gDirs.exists(_.listFiles().exists(_.getName.startsWith("f_id="))),
      "each coarse directory must nest f_id partitions")
    // every emitted list belongs to the fine grid (no orphan ids)
    val fineKeys = fine.select("g_id", "f_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val listKeys = spark.read.parquet(dir + "/lists")
      .select(col("g_id").cast("long"), col("f_id").cast("long")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(listKeys.subsetOf(fineKeys), s"orphan lists: ${listKeys -- fineKeys}")
  }

  test("two-level graph: every clean vector gets neighbors, closure dedup exact") {
    val g = LegacyEntry.queries("sim_ivf2_knn_graph")(spark, D)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val n = LegacyTables.embeddings(spark, D).count()
    // every vector is a query (corpus >> nprobe lists at sf0.001, so
    // everyone has >= 3 candidates), ranks dense 1..3, no self-loops
    assert(g.map(_._1).distinct.length == n, "every vector must appear as a query")
    assert(g.groupBy(_._1).values.forall(_.map(_._2).sorted.sameElements(Seq(1, 2, 3))))
    assert(g.forall(t => t._1 != t._3), "self-loops must be excluded")
    // a (q, neighbor) pair appears ONCE even when the pair shares
    // several probed lists (the map-side max dedup)
    assert(g.map(t => (t._1, t._3)).distinct.length == g.length)
  }
}
