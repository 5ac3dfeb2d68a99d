package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Tables only the legacy curation operators read. */
object LegacyTables {
  def embeddings(s: SparkSession, d: String): DataFrame =
    Tables.table(s, d, "embeddings")
}
