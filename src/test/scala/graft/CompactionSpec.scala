package graft

import org.apache.spark.sql.functions._

/** Compaction invariance pins: for each compactable store, append a
  * multi-batch log, snapshot the folded answer + file count, compact,
  * and require (a) the answer byte-equal, (b) strictly fewer files,
  * (c) a post-compaction append still folds correctly — the three
  * properties that make "run compaction on your own cadence" a safe
  * operational instruction at 100 TB. */
class CompactionSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def docs2 = Tables.documents(spark, sf).select("doc_id", "text")
  private def files(p: String) =
    streaming.IndexCompaction.parquetFileCount(spark, p)

  test("bottomk candidate log: compaction is fold-invariant and shrinks the log") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp_bk").toString
    val ids = docs2.select("doc_id")
    streaming.BottomkSampleIngest.buildSampleIndex(
      spark, ids.where(col("doc_id") % 4 === 0), dir)
    (1 to 3).foreach(i => streaming.BottomkSampleIngest.processBatch(
      spark, dir, ids.where(col("doc_id") % 4 === i), i.toLong))
    val before = streaming.BottomkSampleIngest.sampleFromDir(spark, dir).collect().toSeq
    val filesBefore = files(s"$dir/cands")
    streaming.BottomkSampleIngest.compact(spark, dir)
    assert(streaming.BottomkSampleIngest.sampleFromDir(spark, dir).collect().toSeq == before)
    assert(files(s"$dir/cands") < filesBefore,
      s"compaction must shrink the log: $filesBefore -> ${files(s"$dir/cands")}")
    // the compacted log is a working store: a fresh append still folds
    streaming.BottomkSampleIngest.processBatch(spark, dir, ids, 9L)
    assert(streaming.BottomkSampleIngest.sampleFromDir(spark, dir).collect().toSeq == before,
      "re-appending already-seen candidates must not move the fold")
  }

  test("weighted candidate log: compaction is fold-invariant and shrinks the log") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp_wbk").toString
    streaming.WeightedSampleIngest.buildSampleIndex(
      spark, docs2.where(col("doc_id") % 4 === 0), dir)
    (1 to 3).foreach(i => streaming.WeightedSampleIngest.processBatch(
      spark, dir, docs2.where(col("doc_id") % 4 === i), i.toLong))
    val before = streaming.WeightedSampleIngest.sampleFromDir(spark, dir).collect().toSeq
    val filesBefore = files(s"$dir/cands")
    streaming.WeightedSampleIngest.compact(spark, dir)
    assert(streaming.WeightedSampleIngest.sampleFromDir(spark, dir).collect().toSeq == before)
    assert(files(s"$dir/cands") < filesBefore)
    streaming.WeightedSampleIngest.processBatch(spark, dir, docs2, 9L)
    assert(streaming.WeightedSampleIngest.sampleFromDir(spark, dir).collect().toSeq == before)
  }

  test("per-source candidate log: compaction is fold-invariant per group and shrinks the log") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp_wsrc").toString
    val docs3 = Tables.documents(spark, sf).select("doc_id", "source", "text")
    streaming.WeightedBySourceIngest.buildSampleIndex(
      spark, docs3.where(col("doc_id") % 4 === 0), dir)
    (1 to 3).foreach(i => streaming.WeightedBySourceIngest.processBatch(
      spark, dir, docs3.where(col("doc_id") % 4 === i), i.toLong))
    val before = streaming.WeightedBySourceIngest.sampleFromDir(spark, dir).collect().toSeq
    val filesBefore = files(s"$dir/cands")
    streaming.WeightedBySourceIngest.compact(spark, dir)
    assert(streaming.WeightedBySourceIngest.sampleFromDir(spark, dir).collect().toSeq == before)
    assert(files(s"$dir/cands") < filesBefore)
    streaming.WeightedBySourceIngest.processBatch(spark, dir, docs3, 9L)
    assert(streaming.WeightedBySourceIngest.sampleFromDir(spark, dir).collect().toSeq == before,
      "re-appending already-seen candidates must not move any source's fold")
  }

  test("hll register log: compaction is estimate-invariant and shrinks the log") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp_hll").toString
    graft.expressions.TextShingles.register(spark)
    def toks(m: Int) = docs2.where(col("doc_id") % 3 === m)
      .select(explode(expr("text_shingles(text, 1)")).as("tok"))
    graft.ops.SketchOps.buildHllIndex(spark, dir, toks(0))
    (1 to 2).foreach(i => graft.ops.SketchOps.appendToHllIndex(spark, dir, toks(i)))
    val before = graft.ops.SketchOps.hllEstimateFromIndex(spark, dir).collect().toSeq
    val filesBefore = files(s"$dir/regs")
    streaming.HllIngest.compact(spark, dir)
    assert(graft.ops.SketchOps.hllEstimateFromIndex(spark, dir).collect().toSeq == before)
    assert(files(s"$dir/regs") < filesBefore)
    // re-appending an already-merged batch is absorbed by the MAX fold
    graft.ops.SketchOps.appendToHllIndex(spark, dir, toks(1))
    assert(graft.ops.SketchOps.hllEstimateFromIndex(spark, dir).collect().toSeq == before)
  }

  test("crash between the swap renames self-heals at the next compaction entry") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp_crash").toString
    val refreshed = graft.ops.RefOps.refreshedDocs(spark, sf)
    streaming.SetDiffIngest.buildFpIndex(spark, docs2, dir)
    (0 to 1).foreach(i => streaming.SetDiffIngest.processBatch(
      spark, dir, refreshed.where(pmod(col("doc_id"), lit(2)) === i), i.toLong))
    val before = streaming.SetDiffIngest.diffFromDir(spark, dir).collect().toSeq
    // simulate the crash window: the live log parked at .old, nothing
    // at the store path (died after rename 1, before rename 2)
    val decisions = java.nio.file.Paths.get(dir, "decisions")
    java.nio.file.Files.move(decisions, java.nio.file.Paths.get(dir, "decisions.old"))
    assert(!java.nio.file.Files.exists(decisions))
    // the next compaction heals the window, then folds normally
    streaming.SetDiffIngest.compact(spark, dir)
    assert(streaming.SetDiffIngest.diffFromDir(spark, dir).collect().toSeq == before,
      "recovery + compaction must reproduce the pre-crash fold")
    // healthy store: recovery is a no-op and reports it
    assert(!streaming.IndexCompaction.recoverIfInterrupted(spark, decisions.toString))
    // manual reader-side recovery works too (window re-simulated)
    java.nio.file.Files.move(decisions, java.nio.file.Paths.get(dir, "decisions.old"))
    assert(streaming.IndexCompaction.recoverIfInterrupted(spark, decisions.toString))
    assert(streaming.SetDiffIngest.diffFromDir(spark, dir).collect().toSeq == before)
  }

  test("minhash band index: compaction is probe- and decision-invariant and shrinks the log") {
    // two stores, identical ingest history; A compacts midway, B never
    // does — the NEXT batch must decide identically against both
    val base = java.nio.file.Files.createTempDirectory("graft_cmp_mh").toString
    val dirA = s"$base/a"; val dirB = s"$base/b"
    val odds = docs2.where(col("doc_id") % 2 === 1)
    def decisions(d: String) = streaming.MinhashDedupIngest
      .decisionsFromDir(spark, d).orderBy("doc_id").collect().toSeq
    for (d <- Seq(dirA, dirB)) {
      streaming.MinhashDedupIngest.buildBandIndex(
        spark, docs2.where(col("doc_id") % 2 === 0), d)
      streaming.MinhashDedupIngest.processBatch(
        spark, d, odds.where(col("doc_id") % 5 === 1), 0L)
      streaming.MinhashDedupIngest.processBatch(
        spark, d, odds.where(col("doc_id") % 5 === 3), 1L)
    }
    val beforeA = decisions(dirA)
    assert(beforeA.nonEmpty)
    val bandFilesBefore = files(s"$dirA/bands")
    val decFilesBefore = files(s"$dirA/decisions")
    streaming.MinhashDedupIngest.compact(spark, dirA)
    assert(decisions(dirA) == beforeA,
      "compaction must not move any recorded decision")
    assert(files(s"$dirA/bands") < bandFilesBefore,
      s"band log must shrink: $bandFilesBefore -> ${files(s"$dirA/bands")}")
    assert(files(s"$dirA/decisions") < decFilesBefore)
    // post-compaction probe parity: the next batch sees the identical
    // distinct band set on both roads
    for (d <- Seq(dirA, dirB)) streaming.MinhashDedupIngest.processBatch(
      spark, d, odds.where(col("doc_id") % 5 === 0), 2L)
    assert(decisions(dirA) == decisions(dirB),
      "a batch probed against the compacted index must decide as against the raw log")
    // a replay of the last batch after compaction is still invisible
    streaming.MinhashDedupIngest.processBatch(
      spark, dirA, odds.where(col("doc_id") % 5 === 0), 2L)
    assert(decisions(dirA) == decisions(dirB))
  }

  test("set-diff decision log: compaction is ledger-invariant and shrinks the log") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp_sd").toString
    val refreshed = graft.ops.RefOps.refreshedDocs(spark, sf)
    streaming.SetDiffIngest.buildFpIndex(spark, docs2, dir)
    (0 to 2).foreach(i => streaming.SetDiffIngest.processBatch(
      spark, dir, refreshed.where(pmod(col("doc_id"), lit(3)) === i), i.toLong))
    val before = streaming.SetDiffIngest.diffFromDir(spark, dir).collect().toSeq
    val filesBefore = files(s"$dir/decisions")
    streaming.SetDiffIngest.compact(spark, dir)
    assert(streaming.SetDiffIngest.diffFromDir(spark, dir).collect().toSeq == before)
    assert(files(s"$dir/decisions") < filesBefore)
    // a post-compaction redelivery of the last batch is still invisible
    streaming.SetDiffIngest.processBatch(
      spark, dir, refreshed.where(pmod(col("doc_id"), lit(3)) === 2), 2L)
    assert(streaming.SetDiffIngest.diffFromDir(spark, dir).collect().toSeq == before)
  }

  test("join-bloom word log: compaction is probe-invariant and shrinks the log") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp_jb").toString
    val orders = Tables.orders(spark, sf)
    // seed geometry + enroll in three chunks (the twin's own build path)
    graft.ops.SketchOps.buildJoinBloomGeom(spark, sf, dir)
    (0 to 2).foreach(i => streaming.JoinBloomIngest.appendBatch(
      spark, dir, orders.where(col("o_orderkey") % 3 === i)))
    val before = streaming.JoinBloomIngest
      .prefilterFromIndex(spark, sf, dir).orderBy("l_orderkey", "l_linenumber")
      .collect().toSeq
    val filesBefore = files(s"$dir/words")
    streaming.JoinBloomIngest.compact(spark, dir)
    assert(streaming.JoinBloomIngest
      .prefilterFromIndex(spark, sf, dir).orderBy("l_orderkey", "l_linenumber")
      .collect().toSeq == before)
    assert(files(s"$dir/words") < filesBefore)
    // a fresh enroll over the compacted log still ORs in correctly
    streaming.JoinBloomIngest.appendBatch(spark, dir, orders)
    assert(streaming.JoinBloomIngest
      .prefilterFromIndex(spark, sf, dir).orderBy("l_orderkey", "l_linenumber")
      .collect().toSeq == before,
      "re-enrolling already-enrolled keys must not change the probe")
  }
}
