package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** The operator registry of the legacy curation surface: the RefOps keys
  * that [[SparkEntry]] exposes plus the training-data operators (dedup,
  * similarity, text, multimodal, pipeline, retrieval, classifier, sketch,
  * select). The legacy TPC-H harness and the curation test suites read
  * it; the engine's driver contract ([[SparkEntry]]) does not. */
object LegacyEntry {
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries ++ ops.TextOps.queries ++ ops.DedupOps.queries ++
      ops.SimOps.queries ++ ops.MultimodalOps.queries ++
      ops.PipelineOps.queries ++ ops.RetrievalOps.queries ++
      ops.ClassifierOps.queries ++ ops.SketchOps.queries ++
      ops.SelectOps.queries

  /** DuckDB-runnable SQL per key of [[queries]], where one exists. */
  def oracleSql: Map[String, String] =
    SparkEntry.oracleSql ++ ops.TextOps.oracles ++ ops.DedupOps.oracles ++
      ops.SimOps.oracles ++ ops.MultimodalOps.oracles ++
      ops.PipelineOps.oracles ++ ops.RetrievalOps.oracles ++
      ops.ClassifierOps.oracles ++ ops.SketchOps.oracles ++
      ops.SelectOps.oracles
}
