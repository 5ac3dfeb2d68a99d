package graft

import org.apache.spark.sql.functions._

/** Invariants of the leakage-safe split family beyond the oracle
  * compare: the cluster split's zero-leakage guarantee at the JOIN
  * level, and its agreement with the naive split off the pair graph. */
class SplitSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("sample_split_cluster never separates a near-dup pair (the guarantee, join-level)") {
    val splits = LegacyEntry.queries("sample_split_cluster")(spark, sf)
      .select(col("doc_id"), col("split")).localCheckpoint()
    val pairs = ops.DedupOps.ngramJaccard(spark, sf).select("doc_a", "doc_b")
    val crossing = pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .where(col("sa") =!= col("sb"))
    assert(pairs.count() > 0, "harness corpus must produce near-dup pairs")
    assert(crossing.count() == 0L,
      "a near-dup pair crossed a split boundary under the cluster policy")
  }

  test("singletons (docs in no near-dup pair) keep the naive per-doc split") {
    val pairs = ops.DedupOps.ngramJaccard(spark, sf).select("doc_a", "doc_b")
    val paired = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val naive = LegacyEntry.queries("sample_split_hash")(spark, sf)
      .select(col("doc_id"), col("split").as("naive_split"))
    val clustered = LegacyEntry.queries("sample_split_cluster")(spark, sf)
      .select(col("doc_id"), col("split").as("cluster_split"))
    val disagree = naive.join(clustered, "doc_id")
      .join(paired, Seq("doc_id"), "left_anti") // singletons only
      .where(col("naive_split") =!= col("cluster_split"))
    assert(disagree.count() == 0L,
      "a singleton document changed split under the cluster policy")
  }

  test("sample_split_leakage's cluster_cross reads zero and naive_cross reads the real channel") {
    // sf0.01: sf0.001's 28 pairs happen to all land same-side under the
    // naive hash (measured 0 — small-sample luck, not a guarantee), so
    // the non-vacuousness check needs the bigger pair set (25 pairs, 3
    // crossing; sf1: 2560 pairs, 496 crossing, 259 of them train<->test)
    val row = LegacyEntry.queries("sample_split_leakage")(spark, "/root/testdata/sf0.01").head()
    assert(row.getAs[Long]("cluster_cross") == 0L)
    assert(row.getAs[Long]("n_pairs") > 0L)
    // the naive channel existing on the harness corpus is what makes
    // the instrument non-vacuous; if this ever reads 0 the corpus got
    // too small to exercise the boundary and the test should say so
    assert(row.getAs[Long]("naive_cross") > 0L,
      "naive split produced no crossing pairs - instrument is vacuous here")
  }

  // ---- streaming split assignment under a standing label index ----

  private def batchAssignments: Seq[org.apache.spark.sql.Row] =
    LegacyEntry.queries("sample_split_cluster")(spark, sf).collect().toSeq

  test("split-assign ingest: full-index assignment == batch sample_split_cluster, row for row") {
    val base = java.nio.file.Files.createTempDirectory("graft_split_idx").toString
    streaming.SplitAssignIngest.buildLabelIndex(spark, sf, base)
    streaming.SplitAssignIngest.appendAssignments(spark, base,
      Tables.documents(spark, sf).select("doc_id"), 0L)
    val got = streaming.SplitAssignIngest.assignmentsFromDir(spark, base)
      .orderBy("doc_id").collect().toSeq
    assert(got == batchAssignments)
  }

  test("split-assign ingest: chunked appends + a redelivered batch id stay row-identical") {
    val base = java.nio.file.Files.createTempDirectory("graft_split_idx2").toString
    streaming.SplitAssignIngest.buildLabelIndex(spark, sf, base)
    val docs = Tables.documents(spark, sf).select("doc_id")
    streaming.SplitAssignIngest.appendAssignments(spark, base, docs.where(col("doc_id") % 3 === 0), 0L)
    streaming.SplitAssignIngest.appendAssignments(spark, base, docs.where(col("doc_id") % 3 === 1), 1L)
    // redelivery: byte-identical rows, collapsed by the doc_id dedup
    streaming.SplitAssignIngest.appendAssignments(spark, base, docs.where(col("doc_id") % 3 === 1), 1L)
    streaming.SplitAssignIngest.appendAssignments(spark, base, docs.where(col("doc_id") % 3 === 2), 2L)
    val got = streaming.SplitAssignIngest.assignmentsFromDir(spark, base)
      .orderBy("doc_id").collect().toSeq
    assert(got == batchAssignments)
  }

  test("split-assign ingest (twin #30): chunked file stream, killed between chunks == batch op") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val base = JFiles.createTempDirectory("graft_split_stream").toString
    val dir = s"$base/index"
    streaming.SplitAssignIngest.buildLabelIndex(spark, sf, dir)
    val ids = Tables.documents(spark, sf).select("doc_id")
      .orderBy("doc_id").collect().map(_.getLong(0))
    val srcDir = s"$base/src"
    JFiles.createDirectories(JPaths.get(srcDir))
    var nFile = 0
    ids.grouped(math.max(ids.length / 4, 1)).foreach { chunk =>
      JFiles.writeString(JPaths.get(srcDir, f"f$nFile%03d.json"),
        chunk.map(i => s"""{"doc_id":$i}""").mkString("", "\n", "\n"))
      nFile += 1
      // fresh query per chunk: kill-between-chunk restart from checkpoint
      val docs = spark.readStream.schema("doc_id LONG").json(srcDir)
      val q = streaming.SplitAssignIngest.ingest(docs, dir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val got = streaming.SplitAssignIngest.assignmentsFromDir(spark, dir)
      .orderBy("doc_id").collect().toSeq
    assert(got == batchAssignments,
      "streamed chunked split assignment must equal the batch operator")
  }

  test("split-assign ingest: a novel doc (absent from the index) takes its own-hash split") {
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_split_idx3").toString
    streaming.SplitAssignIngest.buildLabelIndex(spark, sf, base)
    val novel = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.List.of(org.apache.spark.sql.Row(987654321L))),
      StructType(Seq(StructField("doc_id", LongType))))
    streaming.SplitAssignIngest.appendAssignments(spark, base, novel, 0L)
    val got = streaming.SplitAssignIngest.assignmentsFromDir(spark, base).collect().head
    assert(got.getAs[Long]("split_key") == 987654321L,
      "a novel doc must fall back to its own id as the split key")
    val naive = LegacyEntry.queries("sample_split_hash")(spark, sf) // thresholds check
    assert(naive.columns.contains("split")) // same splitLabel fragment by construction
  }
}
