package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The unpartitioned-window discipline as a tripwire (r13 verdict ask
  * #3): `WindowExec: No Partition Defined` moves ALL window input to a
  * single partition, which is a scale killer when the input is
  * corpus-sized — and the correct plan when the input is bounded by
  * construction. Every unpartitioned window in the two source roots
  * (src/main and legacy/src/main) was audited
  * (r14): each runs over a frame whose row count is fixed by a named
  * model constant or a value domain, never by document count —
  * post-`limit(k)` rank stamps (BkK=200, WbkK=200, UncK, DsirK,
  * WpVocabSize, the unigram vocab cap), histograms over bounded
  * domains (hamming ≤ MaxHamming=3, 16 quantile-sketch buckets, 10
  * jaccard deciles, |distinct n_chars|, the p_micro score grid ≤ 1e6+1),
  * and per-source tables (|sources|). Single-partition execution moves
  * at most a few hundred rows at any corpus size; re-plumbing those
  * plans to silence a WARN line would add exchanges for cosmetics.
  * (Partitioning by a constant does NOT silence it either — Spark's
  * EliminateWindowPartitions folds foldable partition specs away, so
  * the warning fires regardless; measured on 4.1.2.)
  *
  * What must never happen silently is a SEVENTEENTH site: a
  * corpus-sized unpartitioned window added later would hide in the
  * boilerplate. This suite pins the audited per-file site counts — a
  * new `Window.orderBy(...)` (the unpartitioned constructor) anywhere
  * in either source root fails here until it is either partitioned or audited
  * and added to the allowlist with its bound. */
class WindowAuditSpec extends AnyFunSuite {

  /** file basename -> number of audited unpartitioned-window sites. */
  private val audited = Map(
    // qsQuantilesOf CDF (16 geometry buckets); eval's exact CDF
    // (|distinct n_chars| — the documented corpus_quantiles discipline)
    "SketchOps.scala" -> 2,
    // dsirSelect rank stamp after limit(DsirK)
    "SelectOps.scala" -> 1,
    // corpusSourceShares + corpusSourceGini (|sources|); sampleBottomK
    // (BkK post-limit); sampleWeightedBottomK (WbkK post-limit);
    // corpusQuantiles CDF (|distinct n_chars|); wordpiece vocab rank
    // (WpVocabSize post-limit); vocabUnigramTrain rank (vocab cap)
    "PipelineOps.scala" -> 7,
    // simhashHistogram (MaxHamming+1 = 4 rows); thresholdHistogram
    // deciles (10 rows)
    "DedupOps.scala" -> 2,
    // sampleUncertainty rank stamp after limit(UncK); budgetThreshold
    // cumulative over the p_micro score domain (≤ 1e6+1 rows)
    "ClassifierOps.scala" -> 2,
    // streaming twins of the two bounded samplers (post-limit)
    "BottomkSampleIngest.scala" -> 1,
    "WeightedSampleIngest.scala" -> 1)

  /** Every .scala file under the engine's source root and the legacy
    * curation/harness root (compiled into the same project). */
  private def sources(): Seq[java.nio.file.Path] = {
    val roots = Seq(Paths.get("src", "main", "scala"),
      Paths.get("legacy", "src", "main", "scala"))
    roots.foreach(r => assert(Files.isDirectory(r),
      s"expected to run from the repo root, no $r"))
    roots.flatMap { r =>
      val stream = Files.walk(r)
      try stream.iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList
      finally stream.close()
    }
  }

  test("every unpartitioned window in src/main is an audited bounded-frame site") {
    val counts: Map[String, Int] = sources()
      .map { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        p.getFileName.toString -> "Window\\s*\\.orderBy\\(".r
          .findAllMatchIn(text).size
      }
      .filter(_._2 > 0)
      .toMap
    assert(counts == audited,
      s"unpartitioned-window sites changed: found $counts, audited $audited - " +
        "a NEW Window.orderBy(...) must be partitioned (corpus-sized input) " +
        "or audited here with its row-count bound")
  }

  test("no window is built over a fully empty spec") {
    val offenders = sources()
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(".over()"))
      .map(_.toString).toList
    assert(offenders.isEmpty,
      s"empty .over() (unpartitioned AND unordered - the whole frame in one " +
        s"window state) found in: $offenders")
  }
}
