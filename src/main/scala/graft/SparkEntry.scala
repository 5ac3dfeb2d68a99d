package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see SURVEY.md §7. Operator keys follow SURVEY.md
  * §2's inventory; the implementations live in graft.ops.RefOps (batch,
  * oracle-checked), built on the graft.streaming operators the streaming
  * pipelines use (ScalaTest-checked).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.RefOps.joinInnerEqui(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.RefOps.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = ops.RefOps.oracles
}
