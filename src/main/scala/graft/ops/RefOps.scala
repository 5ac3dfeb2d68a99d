package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.functions.Functions._

/** The reference's exercised operator surface (SURVEY.md §2), re-expressed
  * Spark-first over the driver's TPC-H-ish parquet tables so every operator
  * has a DuckDB oracle. Key names follow SURVEY.md §2's `key` column.
  * The registry holds that inventory and two companions of it: the
  * decode's dead-letter path (`fmt_debezium_dlq`) and the §2.6
  * transaction-buffered emit (`txn_buffered_emit`). Nothing beyond it:
  * the reference has no outer/semi/anti joins, set operations, grouping
  * sets or HOP/SESSION windows (SURVEY.md §2.3, §2.4, §2.6).
  *
  * Scale notes are inline per operator — each query is written so the plan
  * Catalyst produces survives a 100 TB input: filters/projections sit
  * directly on the scan (pushdown), small dims are broadcast, aggregates
  * are partial-aggregated map-side, and no driver-side collection happens.
  */
object RefOps {

  /** Injected evaluation clock for the hourly-window queries — the
    * reference's `LOCALTIMESTAMP` pinned for determinism
    * (SURVEY.md §7.4 risk 4). */
  val EvalClock = "2024-01-15 12:34:56"

  type Q = (SparkSession, String) => DataFrame

  // -- §2.1 scans / sources ------------------------------------------------

  /** Bounded scan with projection+filter pushdown (vs the reference's
    * unpushed full JDBC scan, README.md:158 — Catalyst pushes both to the
    * parquet reader; the 100 TB scan only reads 3 columns + row groups
    * passing `l_quantity > 45`). Ref: 01-basic-jdbc.json:4-22. */
  val srcScan: Q = (s, d) =>
    lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .where(col("l_quantity") > 45)
      // the harness data has duplicate (l_orderkey, l_linenumber) pairs,
      // so the sort includes every output column — a total order on the
      // SELECTED row, or engines may disagree on tie order at scale
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")

  /** Scan of a registered view (the reference pushes its join into a PG
    * view, how-to-aiven/02-view-based-jdbc.md:11-33; here the view is an
    * engine-side named query and Catalyst still pushes the outer filter
    * through the join down to both scans). */
  val srcViewScan: Q = (s, d) => {
    orders(s, d).createOrReplaceTempView("orders_v")
    customer(s, d).createOrReplaceTempView("customer_v")
    s.sql("""CREATE OR REPLACE TEMP VIEW order_enriched AS
             SELECT o_orderkey, c_name, o_totalprice, o_orderdate
             FROM orders_v JOIN customer_v ON o_custkey = c_custkey""")
    s.table("order_enriched")
      .where(col("o_totalprice") > 450000)
      .select("o_orderkey", "c_name")
      .orderBy("o_orderkey")
  }

  /** Deterministic synthetic generator (the vestigial datagen demo,
    * scripts/datagen.py:47-69) — distributed `spark.range`, no driver loop. */
  val srcDatagen: Q = (s, _) =>
    s.range(1000)
      .select(
        col("id"),
        concat(lit("user_"), col("id").cast("string")).as("username"),
        (col("id") % 24).as("hr"))
      .orderBy("id")

  // -- §2.2 projection / filter -------------------------------------------

  /** Projection with aliases (01-basic-jdbc.json:30). */
  val projectRename: Q = (s, d) =>
    orders(s, d)
      .select(
        col("o_orderkey").as("order_id"),
        col("o_custkey").as("client_id"),
        col("o_orderstatus").as("status"))
      .orderBy("order_id")

  /** `SELECT *` passthrough (04-flink-cdc-outbox.json:14). */
  val projectStar: Q = (s, d) =>
    region(s, d).select("*").orderBy("r_regionkey")

  /** The hourly batch window: previous full hour relative to an injected
    * clock (01-basic-jdbc.json:30). Constant-folds to a two-sided range
    * predicate pushed to the scan. */
  val filterTimeWindow: Q = (s, d) =>
    events(s, d)
      .where(hourWindowFilter(col("ts"), lit(EvalClock).cast("timestamp")))
      .select("event_id", "user_id", "event_type")
      .orderBy("event_id")

  /** Point filter on key (README.md:367). */
  val filterEquality: Q = (s, d) =>
    orders(s, d)
      .where(col("o_orderkey") === 32)
      .select("o_orderkey", "o_custkey", "o_orderstatus")

  // -- §2.3 joins ----------------------------------------------------------

  /** Multi-way inner equi-join over the star (01-basic-jdbc.json:30).
    * region/nation are broadcast (tiny at any SF); customer/orders join
    * shuffles on the key and AQE handles skew. Money math in DECIMAL so
    * the distributed sum is exact and partition-order-independent. */
  val joinInnerEqui: Q = (s, d) => {
    val li = lineitem(s, d).select(
      col("l_orderkey"),
      (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
        .as("disc_price"))
    val o = orders(s, d).select("o_orderkey", "o_custkey")
    val c = customer(s, d).select("c_custkey", "c_nationkey")
    val n = nation(s, d).select("n_nationkey", "n_regionkey", "n_name")
    val r = region(s, d).select("r_regionkey", "r_name")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      // Sum exactly in DECIMAL (partition-order-independent), then one final
      // deterministic rounding to DOUBLE. DuckDB hands any decimal wider than
      // 18 digits to pandas as float64, so emitting decimal128 here fails the
      // driver's dtype-sensitive hash even when every value matches; a single
      // exact-decimal -> double cast on BOTH sides is bit-identical.
      .agg(
        sum("disc_price").cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** Per-order part-id array, built once and shared by the two array-join
    * variants. Sorted for deterministic content under any shuffle. */
  private def orderPartArrays(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_partkey"))).as("parts"))

  /** CROSS JOIN UNNEST — duplicates in the array preserved, one output row
    * per array element (01-basic-jdbc.json:30; FIXTURES.md §2a). explode is
    * a codegen'd Generator; the following join shuffles on p_partkey. */
  val joinUnnestLateral: Q = (s, d) =>
    orderPartArrays(s, d)
      .select(col("l_orderkey"), explode(col("parts")).as("pk"))
      .join(part(s, d).select("p_partkey", "p_brand", "p_size"),
        col("pk") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum("p_size").as("total_size"))
      .orderBy("p_brand")

  /** PG `= ANY(array)` — set semantics: each matching part at most once per
    * order, duplicates collapse (README.md:86; FIXTURES.md §2b — the pinned
    * divergence from UNNEST). Implemented as explode+distinct THEN join:
    * `array_contains` would force a nested-loop O(orders×parts) join, while
    * explode(array_distinct) keeps it a hash equi-join — the 100 TB-safe
    * plan with identical semantics. */
  val joinAnyArray: Q = (s, d) =>
    orderPartArrays(s, d)
      .select(col("l_orderkey"),
        explode(array_distinct(col("parts"))).as("pk"))
      .join(part(s, d).select("p_partkey", "p_brand", "p_size"),
        col("pk") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum("p_size").as("total_size"))
      .orderBy("p_brand")

  /** Processing-time lookup join (03-flink-cdc-jdbc.json:18): enrich each
    * event against the current state of a dimension. Batch analog of the
    * stream-static join (streaming form in graft.streaming re-reads the
    * static side per micro-batch, preserving the reference's documented
    * "as of now" race, README.md:256-301). */
  val joinLookup: Q = (s, d) =>
    events(s, d).select("event_id", "user_id", "event_type")
      .join(customer(s, d).select("c_custkey", "c_name"),
        col("user_id") === col("c_custkey"))
      .select("event_id", "c_name", "event_type")
      .orderBy("event_id")

  /** Event-time temporal (as-of) join (06-flink-cdc-temporal-join.json:30):
    * each purchase joins the latest signup of the same user at-or-before
    * its event time. Implemented with the single-shuffle union+window
    * pattern: tag both sides, sort within user by (ts, side), carry the
    * last build row forward — O(n log n) per key group, no pairwise
    * explosion, scales to 100 TB (one shuffle on user_id). */
  val joinTemporalAsOf: Q = (s, d) => {
    val ev = events(s, d)
    // build side deduped to one version per (key, ts) — latest event_id wins
    val build = ev.where(col("event_type") === "signup")
      .groupBy("user_id", "ts").agg(max("event_id").as("b_id"))
      .select(col("user_id"), col("ts"), col("b_id"),
        lit(0).as("is_probe"), lit(null).cast("long").as("p_id"))
    val probe = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(null).cast("long").as("b_id"),
        lit(1).as("is_probe"), col("event_id").as("p_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts"), col("is_probe"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    build.unionByName(probe)
      .withColumn("signup_event_id", last("b_id", ignoreNulls = true).over(w))
      .where(col("is_probe") === 1)
      .select(col("p_id").as("event_id"), col("user_id"), col("signup_event_id"))
      .orderBy("event_id")
  }

  /** Interval join (README.md:539): purchases within 1 hour after a click
    * by the same user. Equi-key on user_id + time-band residual — shuffles
    * once on the key; the streaming form is Spark's native stream-stream
    * join with watermark-bounded state. */
  val joinInterval: Q = (s, d) => {
    val ev = events(s, d)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("click_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("purch_ts"))
    clicks.join(purchases,
        col("cu") === col("pu") &&
        col("purch_ts") >= col("click_ts") &&
        col("purch_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("cu").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  // -- §2.4 aggregations ---------------------------------------------------

  /** GROUP BY + JSON_ARRAYAGG(JSON_OBJECT(…)) (01-basic-jdbc.json:30): one
    * JSON array of item objects per order. Elements sorted for distributed
    * determinism (reference order is explicitly nondeterministic,
    * FIXTURES.md §2). collect_list is partial-aggregated map-side. */
  val aggGroupJsonArrayAgg: Q = (s, d) =>
    lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity").cast("int").as("qty"))
      .join(part(s, d).select("p_partkey", "p_name"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("l_orderkey")
      .agg(jsonArrayAggSorted(
        struct(col("p_name").as("part"), col("qty"))).as("items_json"))
      .orderBy("l_orderkey")

  /** PG `JSON_AGG` over the set-semantics (`= ANY`) input
    * (how-to-aiven/02-view-based-jdbc.md:17-22): distinct parts per order. */
  val aggPgJsonAgg: Q = (s, d) =>
    lineitem(s, d).select("l_orderkey", "l_partkey").distinct()
      .join(part(s, d).select("p_partkey", "p_name", "p_size"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("l_orderkey")
      .agg(jsonArrayAggSorted(
        struct(col("p_name").as("part"), col("p_size").as("size")))
        .as("parts_json"))
      .orderBy("l_orderkey")

  /** Hourly count (vestigial demo, scripts/pipeline_evolution.md:4-6). */
  val aggHourlyCount: Q = (s, d) =>
    events(s, d)
      .groupBy(col("event_type"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type").asc_nulls_first, col("hr"))

  // -- §2.5 scalar functions ----------------------------------------------

  /** JSON_VALUE with RETURNING INT (05-kafka-logical-msg-flink.json:14). */
  val fnJsonValue: Q = (s, d) =>
    events(s, d)
      .select(col("event_id"),
        jsonValue(col("props"), "$.k", "int").as("k"))
      .orderBy("event_id")

  /** JSON_QUERY — extract a JSON fragment (05-kafka-logical-msg-flink.json:14). */
  val fnJsonQuery: Q = (s, d) =>
    events(s, d)
      .select(col("event_id"),
        jsonQuery(concat(lit("{\"w\":"), col("props"), lit("}")), "$.w")
          .as("frag"))
      .orderBy("event_id")

  /** FROM_BASE64 round-trip (README.md:400): encode text, decode it back. */
  val fnFromBase64: Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"), fromBase64(base64(col("text"))).as("roundtrip"))
      .orderBy("doc_id")

  /** CEIL(ts TO HOUR) (01-basic-jdbc.json:30): bucket events by hour-ceil. */
  val fnCeilToHour: Q = (s, d) =>
    events(s, d)
      .groupBy(ceilToHour(col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** TO_TIMESTAMP_LTZ(millis/1000, 3) incl. the integer division
    * (03-kafka-cdc-flink-jdbc.json:8). */
  val fnToTimestampLtz: Q = (s, d) =>
    events(s, d)
      .select(col("event_id"),
        expr("timestamp_seconds(unix_millis(ts) div 1000)").as("ts_sec"))
      .orderBy("event_id")

  /** date_trunc (README.md:89). */
  val fnDateTrunc: Q = (s, d) =>
    events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy("day")

  /** CAST(… AS TEXT) (how-to-aiven/02-view-based-jdbc.md:17-22). */
  val fnCastText: Q = (s, d) =>
    orders(s, d)
      .select(col("o_orderkey"),
        col("o_custkey").cast("string").as("cust_text"),
        col("o_orderdate").cast("string").as("date_text"))
      .orderBy("o_orderkey")

  // -- §2.7 formats / envelopes -------------------------------------------

  private val afterSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType)))

  /** Debezium envelope decode (`'value.format'='debezium-json'`,
    * 03-kafka-cdc-flink-jdbc.json:8): build the envelope JSON, then decode
    * through graft.streaming.Debezium — the SAME decode the streaming
    * path uses, exercised end-to-end in batch against the oracle. */
  val fmtDebeziumDecode: Q = (s, d) => {
    val env = orders(s, d).select(to_json(struct(
      lit(null).cast(afterSchema).as("before"),
      struct(col("o_orderkey"), col("o_custkey"), col("o_orderstatus")).as("after"),
      struct(lit("orders").as("table"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("ts_ms")).as("source"),
      lit("c").as("op"))).as("value"))
    graft.streaming.Debezium.decode(env, afterSchema)
      .select("o_orderkey", "o_custkey", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** Poison-message quarantine — the dead-letter path of the envelope
    * decode: every o_orderkey % 97 == 0 envelope is deterministically
    * corrupted (leading '{' becomes '<'), and [[graft.streaming.Debezium
    * .decodeFlagged]] must quarantine EXACTLY those (null row fields,
    * `_quarantined` = true, raw bytes preserved) while decoding the rest
    * untouched — the oracle's closed form knows which keys were mangled. */
  val fmtDebeziumDlq: Q = (s, d) => {
    val env = orders(s, d).select(col("o_orderkey").as("k"), to_json(struct(
        lit(null).cast(afterSchema).as("before"),
        struct(col("o_orderkey"), col("o_custkey"), col("o_orderstatus")).as("after"),
        struct(lit("orders").as("table"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("ts_ms")).as("source"),
        lit("c").as("op"))).as("value"))
      .select(when(col("k") % 97 === 0,
        concat(lit("<"), expr("substring(value, 2)"))).otherwise(col("value")).as("value"))
    graft.streaming.Debezium.decodeFlagged(env, afterSchema)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("_quarantined"))
      .orderBy(col("_quarantined"), col("o_orderkey").asc_nulls_first)
  }

  /** JSON key/value for the upsert sink (`'key.format'='json'`,
    * 01-basic-jdbc.json:26). */
  val fmtJsonKv: Q = (s, d) =>
    orders(s, d)
      .select(
        to_json(struct(col("o_orderkey"))).as("kafka_key"),
        to_json(struct(col("o_orderkey"), col("o_orderstatus"))).as("kafka_value"))
      .orderBy("kafka_key")

  private val eventRowSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("event_type", StringType)))

  /** Synthesize a Debezium envelope stream from events (txId derived from
    * the event id so transactions group ~20 rows). */
  private def eventEnvelopes(s: SparkSession, d: String): DataFrame =
    envelopesOf(events(s, d))

  private def envelopesOf(ev: DataFrame): DataFrame =
    ev.select(to_json(struct(
      lit(null).cast(eventRowSchema).as("before"),
      struct(col("event_id"), col("event_type")).as("after"),
      struct(lit("events").as("table"), unix_millis(col("ts")).as("ts_ms"),
        expr("event_id div 20").as("txId")).as("source"),
      lit("c").as("op"))).as("value"))

  /** Metadata column (`METADATA FROM 'value.source.timestamp'`,
    * 06-flink-cdc-temporal-join.json:4): surface the envelope's source
    * timestamp as an event-time column — Debezium.decode's `_source_ts`. */
  val srcMetaCol: Q = (s, d) =>
    graft.streaming.Debezium.decode(eventEnvelopes(s, d), eventRowSchema)
      .select(col("event_id"), col("_source_ts").as("event_time"))
      .orderBy("event_id")

  // -- §2.6 changelog / upsert (batch forms; streaming in graft.streaming) --

  /** Latest-image-per-key dedup — the changelog collapse every CDC consumer
    * needs (README.md:260-301). One shuffle on the key; ties broken by
    * event_id for full determinism. */
  val changelogUpsert: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    events(s, d)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("user_id", "event_id", "event_type")
      .orderBy("user_id")
  }

  /** Upsert-sink materialization (01-basic-jdbc.json:26): latest image per
    * key as (json key, json value), deletes as tombstones (null value). */
  val snkUpsertKeyed: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    events(s, d)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(
        to_json(struct(col("user_id"))).as("kafka_key"),
        when(col("event_type") === "error", lit(null).cast("string"))
          .otherwise(to_json(struct(col("user_id"), col("event_id"), col("event_type"))))
          .as("kafka_value"))
      .orderBy("kafka_key")
  }

  /** JSON_OBJECT as a standalone scalar (01-basic-jdbc.json:30). */
  val fnJsonObject: Q = (s, d) =>
    orders(s, d)
      .select(col("o_orderkey"),
        to_json(struct(col("o_orderstatus").as("status"),
          col("o_custkey").as("cust"))).as("obj"))
      .orderBy("o_orderkey")

  /** Flink integer division `x/1000` (03-kafka-cdc-flink-jdbc.json:8). */
  val fnDiv: Q = (s, d) =>
    lineitem(s, d)
      .groupBy(expr("l_orderkey div 100").as("okey_bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("okey_bucket")

  /** Debezium transaction metadata (README.md:486): group changelog rows
    * by source.txId for transaction-consistent consumption — the same
    * `_tx_id` Debezium.decode carries for the streaming path. */
  val txnMetadata: Q = (s, d) =>
    graft.streaming.Debezium.decode(eventEnvelopes(s, d), eventRowSchema)
      .groupBy(col("_tx_id").as("tx_id"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_millis(col("_source_ts"))).as("first_ms"),
        max(unix_millis(col("_source_ts"))).as("last_ms"))
      .orderBy("tx_id")

  /** Transaction-buffered emit (README.md:486-489): a row reaches
    * downstream only once ALL events of its transaction have been read,
    * using the per-transaction event count of Debezium's transaction
    * metadata — the reference's alternative to temporal joins for
    * transaction consistency. Runs the REAL streaming operator
    * ([[graft.streaming.TxnBuffer]]) in batch form over the decoded
    * envelope feed; the read horizon stops 10 events short of the end,
    * cutting the last transaction mid-flight, so the oracle checks both
    * behaviors: complete transactions emit, the truncated one stays
    * buffered (absent from the output). */
  val txnBufferedEmit: Q = (s, d) => {
    val horizon = events(s, d).agg((max("event_id") - 9).as("_h"))
    // Horizon-filter the RAW scan, then synthesize + decode the envelope
    // feed. Filtering after decode instead plants a null-intolerant
    // predicate over the parsed struct, and constraint inference then
    // evaluates the whole from_json a second time inside the pushed
    // Filter — a 2× JSON parse of the feed.
    val readRaw = events(s, d).crossJoin(broadcast(horizon))
      .where(col("event_id") < col("_h"))
    val read = graft.streaming.Debezium.decode(envelopesOf(readRaw), eventRowSchema)
      .select("event_id", "event_type", "_tx_id")
    // stand-in for the transaction topic's END feed: every txn in this
    // synthetic changelog carries exactly 20 events. Derived from the raw
    // events scan, NOT from `read` — the latter would recompute the whole
    // envelope encode/decode pipeline a second time just to list txn ids.
    val boundaries = events(s, d).crossJoin(broadcast(horizon))
      .where(col("event_id") < col("_h"))
      .select(expr("event_id div 20").as("_tx_id")).distinct()
      .withColumn("n", lit(20))
    graft.streaming.TxnBuffer.bufferWide(read, "_tx_id", boundaries, "_tx_id", "n")
      .where(col("_complete"))
      .select(col("event_id"), col("event_type"), col("_tx_id").as("tx_id"))
      .orderBy("event_id")
  }

  // ------------------------------------------------------------------
  // registry
  // ------------------------------------------------------------------

  val queries: Map[String, Q] = Map(
    "src_jdbc_scan" -> srcScan,
    "src_jdbc_view_scan" -> srcViewScan,
    "src_datagen" -> srcDatagen,
    "project_rename" -> projectRename,
    "project_star" -> projectStar,
    "filter_time_window" -> filterTimeWindow,
    "filter_equality" -> filterEquality,
    "join_inner_equi" -> joinInnerEqui,
    "join_unnest_lateral" -> joinUnnestLateral,
    "join_any_array" -> joinAnyArray,
    "join_lookup_proctime" -> joinLookup,
    "join_temporal_eventtime" -> joinTemporalAsOf,
    "join_interval" -> joinInterval,
    "agg_group_json_arrayagg" -> aggGroupJsonArrayAgg,
    "agg_pg_json_agg" -> aggPgJsonAgg,
    "agg_hourly_count" -> aggHourlyCount,
    "fn_json_value" -> fnJsonValue,
    "fn_json_query" -> fnJsonQuery,
    "fn_from_base64" -> fnFromBase64,
    "fn_ceil_to_hour" -> fnCeilToHour,
    "fn_to_timestamp_ltz" -> fnToTimestampLtz,
    "fn_date_trunc" -> fnDateTrunc,
    "fn_cast_text" -> fnCastText,
    "fmt_debezium_decode" -> fmtDebeziumDecode,
    "fmt_debezium_dlq" -> fmtDebeziumDlq,
    "fmt_json_kv" -> fmtJsonKv,
    "src_meta_col" -> srcMetaCol,
    "changelog_upsert" -> changelogUpsert,
    "snk_upsert_kafka" -> snkUpsertKeyed,
    "fn_json_object" -> fnJsonObject,
    "fn_div" -> fnDiv,
    "txn_metadata" -> txnMetadata,
    "txn_buffered_emit" -> txnBufferedEmit,
  )

  val oracles: Map[String, String] = Map(
    "src_jdbc_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity > 45
         ORDER BY l_orderkey, l_linenumber, l_quantity""",
    "src_jdbc_view_scan" ->
      """SELECT o_orderkey, c_name FROM
         (SELECT o_orderkey, c_name, o_totalprice FROM orders
          JOIN customer ON o_custkey = c_custkey) v
         WHERE o_totalprice > 450000 ORDER BY o_orderkey""",
    "src_datagen" ->
      """SELECT i AS id, 'user_' || i AS username, i % 24 AS hr
         FROM range(1000) t(i) ORDER BY id""",
    "project_rename" ->
      """SELECT o_orderkey AS order_id, o_custkey AS client_id,
         o_orderstatus AS status FROM orders ORDER BY order_id""",
    "project_star" ->
      "SELECT * FROM region ORDER BY r_regionkey",
    "filter_time_window" ->
      s"""SELECT event_id, user_id, event_type FROM events
         WHERE ts > (CASE WHEN date_trunc('hour', TIMESTAMP '$EvalClock') = TIMESTAMP '$EvalClock'
                          THEN TIMESTAMP '$EvalClock'
                          ELSE date_trunc('hour', TIMESTAMP '$EvalClock') + INTERVAL 1 HOUR END)
                    - INTERVAL 1 HOUR
           AND ts <= (CASE WHEN date_trunc('hour', TIMESTAMP '$EvalClock') = TIMESTAMP '$EvalClock'
                           THEN TIMESTAMP '$EvalClock'
                           ELSE date_trunc('hour', TIMESTAMP '$EvalClock') + INTERVAL 1 HOUR END)
         ORDER BY event_id""",
    "filter_equality" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
         WHERE o_orderkey = 32""",
    "join_inner_equi" ->
      """SELECT r_name, n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
              AS DOUBLE) AS revenue,
         COUNT(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "join_unnest_lateral" ->
      """WITH arrs AS (SELECT l_orderkey, list_sort(list(l_partkey)) AS parts
                       FROM lineitem GROUP BY l_orderkey),
         ex AS (SELECT l_orderkey, unnest(parts) AS pk FROM arrs)
         SELECT p_brand, COUNT(*) AS n, CAST(SUM(p_size) AS BIGINT) AS total_size
         FROM ex JOIN part ON p_partkey = pk
         GROUP BY p_brand ORDER BY p_brand""",
    "join_any_array" ->
      """WITH arrs AS (SELECT l_orderkey, list_sort(list(l_partkey)) AS parts
                       FROM lineitem GROUP BY l_orderkey)
         SELECT p_brand, COUNT(*) AS n, CAST(SUM(p_size) AS BIGINT) AS total_size
         FROM arrs JOIN part ON list_contains(parts, p_partkey)
         GROUP BY p_brand ORDER BY p_brand""",
    "join_lookup_proctime" ->
      """SELECT event_id, c_name, event_type FROM events
         JOIN customer ON user_id = c_custkey ORDER BY event_id""",
    "join_temporal_eventtime" ->
      """WITH build AS (SELECT user_id, ts, MAX(event_id) AS b_id
                        FROM events WHERE event_type = 'signup' GROUP BY user_id, ts),
         probe AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, b.b_id AS signup_event_id
         FROM probe p ASOF LEFT JOIN build b
           ON p.user_id = b.user_id AND p.ts >= b.ts
         ORDER BY p.event_id""",
    "join_interval" ->
      """SELECT c.user_id, COUNT(*) AS n_pairs
         FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
         JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
         GROUP BY c.user_id ORDER BY c.user_id""",
    "agg_group_json_arrayagg" ->
      """SELECT l_orderkey,
         to_json(list(json_object('part', p_name, 'qty', CAST(l_quantity AS INT))
                      ORDER BY p_name, CAST(l_quantity AS INT)))::VARCHAR AS items_json
         FROM lineitem JOIN part ON p_partkey = l_partkey
         GROUP BY l_orderkey ORDER BY l_orderkey""",
    "agg_pg_json_agg" ->
      """SELECT l_orderkey,
         to_json(list(json_object('part', p_name, 'size', p_size)
                      ORDER BY p_name, p_size))::VARCHAR AS parts_json
         FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) li
         JOIN part ON p_partkey = l_partkey
         GROUP BY l_orderkey ORDER BY l_orderkey""",
    "agg_hourly_count" ->
      """SELECT event_type, CAST(extract(hour FROM ts) AS INT) AS hr,
         COUNT(*) AS n FROM events GROUP BY event_type, hr
         ORDER BY event_type NULLS FIRST, hr""",
    "fn_json_value" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
         FROM events ORDER BY event_id""",
    "fn_json_query" ->
      """SELECT event_id, json_extract('{"w":' || props || '}', '$.w')::VARCHAR AS frag
         FROM events ORDER BY event_id""",
    "fn_from_base64" ->
      "SELECT doc_id, text AS roundtrip FROM documents ORDER BY doc_id",
    "fn_ceil_to_hour" ->
      """SELECT (CASE WHEN date_trunc('hour', ts) = ts THEN ts
                      ELSE date_trunc('hour', ts) + INTERVAL 1 HOUR END) AS bucket,
         COUNT(*) AS n FROM events GROUP BY bucket ORDER BY bucket""",
    "fn_to_timestamp_ltz" ->
      """SELECT event_id, make_timestamp((epoch_ms(ts) // 1000) * 1000000) AS ts_sec
         FROM events ORDER BY event_id""",
    "fn_date_trunc" ->
      """SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
         FROM events GROUP BY day ORDER BY day""",
    "fn_cast_text" ->
      """SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS cust_text,
         CAST(o_orderdate AS VARCHAR) AS date_text
         FROM orders ORDER BY o_orderkey""",
    "fmt_debezium_decode" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
         ORDER BY o_orderkey""",
    "fmt_debezium_dlq" ->
      """SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_orderkey END AS o_orderkey,
           CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
           CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_orderstatus END AS o_orderstatus,
           (o_orderkey % 97 = 0) AS _quarantined
         FROM orders ORDER BY _quarantined, o_orderkey NULLS FIRST""",
    "fmt_json_kv" ->
      """SELECT json_object('o_orderkey', o_orderkey)::VARCHAR AS kafka_key,
         json_object('o_orderkey', o_orderkey, 'o_orderstatus', o_orderstatus)::VARCHAR AS kafka_value
         FROM orders ORDER BY kafka_key""",
    "src_meta_col" ->
      """SELECT event_id, make_timestamp(epoch_ms(ts) * 1000) AS event_time
         FROM events ORDER BY event_id""",
    "changelog_upsert" ->
      """SELECT user_id, event_id, event_type FROM
         (SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
         WHERE rn = 1 ORDER BY user_id""",
    "snk_upsert_kafka" ->
      """SELECT json_object('user_id', user_id)::VARCHAR AS kafka_key,
         CASE WHEN event_type = 'error' THEN NULL
              ELSE json_object('user_id', user_id, 'event_id', event_id,
                               'event_type', event_type)::VARCHAR END AS kafka_value
         FROM (SELECT user_id, event_id, event_type,
                      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events) t
         WHERE rn = 1 ORDER BY kafka_key""",
    "fn_json_object" ->
      """SELECT o_orderkey,
         json_object('status', o_orderstatus, 'cust', o_custkey)::VARCHAR AS obj
         FROM orders ORDER BY o_orderkey""",
    "fn_div" ->
      """SELECT l_orderkey // 100 AS okey_bucket, COUNT(*) AS n
         FROM lineitem GROUP BY okey_bucket ORDER BY okey_bucket""",
    "txn_metadata" ->
      """SELECT event_id // 20 AS tx_id, COUNT(*) AS n_events,
         MIN(epoch_ms(ts)) AS first_ms, MAX(epoch_ms(ts)) AS last_ms
         FROM events GROUP BY tx_id ORDER BY tx_id""",
    "txn_buffered_emit" ->
      """WITH mx AS (SELECT MAX(event_id) - 9 AS h FROM events),
         rd AS (SELECT event_id, event_type, event_id // 20 AS tx_id
                FROM events, mx WHERE event_id < h),
         cnt AS (SELECT tx_id, COUNT(*) AS n FROM rd GROUP BY tx_id)
         SELECT event_id, event_type, tx_id
         FROM rd JOIN cnt USING (tx_id) WHERE cnt.n >= 20
         ORDER BY event_id""",
  )
}
