package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar/aggregate column functions matching the reference's SQL surface
  * (SURVEY.md §2.5). All are pure `Column` compositions over Spark
  * builtins, so they stay inside whole-stage codegen — no UDFs.
  */
object Functions {

  /** `CEIL(ts TO HOUR)` — round UP to the hour, exact hours are a fixpoint.
    * Reference: flink-applications/01-basic-jdbc.json:30, README.md:132.
    */
  def ceilToHour(ts: Column): Column = {
    val truncated = date_trunc("hour", ts)
    when(truncated === ts, ts).otherwise(truncated + expr("INTERVAL 1 HOUR"))
  }

  /** The "previous full hour" window predicate of the hourly batch job:
    * `ts > CEIL(now TO HOUR) - 1h AND ts <= CEIL(now TO HOUR)`.
    * `now` is injected for determinism (SURVEY.md §7.4 risk 4).
    * Reference: 01-basic-jdbc.json:30 (two-sided window is canonical).
    */
  def hourWindowFilter(ts: Column, evalTime: Column): Column = {
    val windowEnd = ceilToHour(evalTime)
    ts > windowEnd - expr("INTERVAL 1 HOUR") && ts <= windowEnd
  }

  /** `JSON_ARRAYAGG(JSON_OBJECT(…))` — aggregate rows into one JSON array
    * string. Element order in the reference is nondeterministic
    * (FIXTURES.md §2); this variant sorts elements (binary struct order)
    * so results are stable under any partitioning / shuffle layout —
    * required for distributed determinism at scale.
    * Reference: 01-basic-jdbc.json:30 (JSON_ARRAYAGG).
    */
  def jsonArrayAggSorted(element: Column): Column =
    to_json(array_sort(collect_list(element)))

  /** `JSON_VALUE(s, path RETURNING T)` — scalar JSON extraction.
    * Reference: 05-kafka-logical-msg-flink.json:14.
    */
  def jsonValue(s: Column, path: String, returning: String = "string"): Column =
    get_json_object(s, path).cast(returning)

  /** `JSON_QUERY(s, path)` — extract a JSON fragment (object/array) as a
    * compact JSON string. Reference: 05-kafka-logical-msg-flink.json:14.
    */
  def jsonQuery(s: Column, path: String): Column = get_json_object(s, path)

  /** `FROM_BASE64(s)` returning STRING.
    * Reference: 05-kafka-logical-msg-flink.json:14, README.md:400. */
  def fromBase64(s: Column): Column = unbase64(s).cast("string")

  /** `TO_TIMESTAMP_LTZ(millis, 3)` — epoch millis to timestamp.
    * Reference: 03-kafka-cdc-flink-jdbc.json:8. */
  def toTimestampLtz(millis: Column): Column = timestamp_millis(millis)
}
