package graft.app

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Expression

/** SQL-callable functions covering the Flink builtins the reference uses
  * that Spark spells differently (SURVEY.md §2.5). Implemented as parse-
  * time macros: each name expands to a Spark expression tree built from
  * a template, so the result is ordinary Catalyst (codegen, pushdown —
  * no UDF overhead anywhere).
  */
object SqlMacros {

  /** Register `name` as a function expanding to `template`, with `_a0`,
    * `_a1`, ... as argument placeholders. */
  private def registerMacro(spark: SparkSession, name: String, template: String): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name,
      exprs => {
        val parsed = spark.sessionState.sqlParser.parseExpression(template)
        parsed.transformUp {
          case a: UnresolvedAttribute if a.name.startsWith("_a") &&
              a.name.drop(2).forall(_.isDigit) =>
            exprs(a.name.drop(2).toInt)
        }.asInstanceOf[Expression]
      },
      "built-in")
  }

  /** Register every dialect function (idempotent; call before spark.sql
    * on a shimmed statement). */
  def register(spark: SparkSession): Unit = {
    // CEIL(ts TO HOUR) — 01-basic-jdbc.json:30 (shim rewrites the TO HOUR
    // syntax to this call). Exact hours are a fixpoint.
    registerMacro(spark, "ceil_to_hour",
      "case when date_trunc('HOUR', _a0) = _a0 then _a0 " +
        "else date_trunc('HOUR', _a0) + interval 1 hour end")
    // JSON_ARRAYAGG(JSON_OBJECT(...)) — elements sorted for distributed
    // determinism (reference order is nondeterministic, FIXTURES.md §2).
    registerMacro(spark, "json_arrayagg",
      "to_json(array_sort(collect_list(_a0)))")
    // JSON_VALUE(s, path) without RETURNING (the RETURNING form is a
    // textual rewrite to a cast in FlinkSqlShim).
    registerMacro(spark, "json_value", "get_json_object(_a0, _a1)")
    // JSON_QUERY(s, path) — returns the JSON fragment.
    registerMacro(spark, "json_query", "get_json_object(_a0, _a1)")
    // FROM_BASE64 returning STRING.
    registerMacro(spark, "from_base64", "cast(unbase64(_a0) as string)")
    // TO_TIMESTAMP_LTZ(millis, 3) — Flink's integer division already
    // happened in the argument; cast truncates the Spark double division
    // the same way for non-negative epochs.
    registerMacro(spark, "to_timestamp_ltz",
      "timestamp_millis(cast(_a0 as bigint))")
    // PROCTIME() — processing-time column (03-flink-cdc-jdbc.json:4);
    // evaluates per micro-batch under streaming.
    registerMacro(spark, "proctime", "current_timestamp()")
  }
}
