package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Functions._
import graft.model.Pizzeria.PizzeriaTables

/** The reference's six scenario transforms as DataFrame programs over the
  * pizzeria tables (batch forms; the streaming variants compose these with
  * graft.streaming). Each mirrors one `statement` from the reference's
  * flink-applications JSON files — WHAT it computes, not how Flink ran it.
  */
object Scenarios {

  /** The enrichment shared by scenarios 1/2/6: explode the pizzas array
    * (per `arrayElems` — this is where UNNEST vs `= ANY` semantics
    * diverge), join the three dims, aggregate one sorted JSON array per
    * order. */
  private def enrichedOrders(t: PizzeriaTables, arrayElems: Column): DataFrame =
    t.orders.select(
        col("id").as("order_id"),
        col("table_assignment_id"),
        col("order_time"),
        explode(arrayElems).as("pizza_id"))
      .join(t.assignments.select(col("id").as("ta_id"), col("client_id"), col("table_id")),
        col("table_assignment_id") === col("ta_id"))
      .join(t.clients.select(col("id").as("c_id"), col("name").as("client_name")),
        col("client_id") === col("c_id"))
      .join(t.tables.select(col("id").as("t_id"), col("name").as("table_name")),
        col("table_id") === col("t_id"))
      .join(t.pizzas.select(col("id").as("p_id"), col("name").as("pizza"), col("price")),
        col("pizza_id") === col("p_id"))
      .groupBy("order_id", "client_name", "table_name", "order_time")
      .agg(jsonArrayAggSorted(struct(col("pizza"), col("price"))).as("pizzas"))

  /** UNNEST semantics — duplicates in `pizzas` preserved
    * (01-basic-jdbc.json:30; FIXTURES.md §2a). */
  def enrichedOrdersUnnest(t: PizzeriaTables): DataFrame =
    enrichedOrders(t, col("pizzas"))

  /** PG view variant: `= ANY(array)` set semantics — duplicate array
    * elements collapse (README.md:86, how-to-aiven/02-view-based-jdbc.md:25;
    * FIXTURES.md §2b). explode(array_distinct) keeps it an equi-join
    * (array_contains would force a nested loop at scale). */
  def enrichedOrdersAny(t: PizzeriaTables): DataFrame =
    enrichedOrders(t, array_distinct(col("pizzas")))

  /** Scenario 1 — hourly batch job (01-basic-jdbc.json:30): the UNNEST
    * join+agg, filtered to the previous full hour of an injected clock. */
  def q01BasicJoin(t: PizzeriaTables, evalTime: Column): DataFrame =
    enrichedOrdersUnnest(t)
      .where(hourWindowFilter(col("order_time"), evalTime))

  /** Scenario 2 — view-based (02-view-based-jdbc copy.json:14): the join
    * lives in a "view" (here: the ANY-semantics query), the hourly filter
    * applies on top. */
  def q02ViewFilter(t: PizzeriaTables, evalTime: Column): DataFrame =
    enrichedOrdersAny(t)
      .where(hourWindowFilter(col("order_time"), evalTime))

  /** Scenario 4 — outbox passthrough (04-flink-cdc-outbox.json:14):
    * `SELECT *` from the outbox stream. */
  def q04OutboxPassthrough(outbox: DataFrame): DataFrame = outbox.select("*")

  /** Scenario 5 — logical-decoding messages
    * (05-kafka-logical-msg-flink.json:14): FROM_BASE64 the message content,
    * then JSON_VALUE/JSON_QUERY the payload fields. */
  def q05LogicalDecode(messages: DataFrame): DataFrame = {
    val payload = fromBase64(col("message.content"))
    messages.select(
      jsonValue(payload, "$.order_id", "int").as("order_id"),
      jsonValue(payload, "$.client_name").as("client_name"),
      jsonValue(payload, "$.table_name").as("table_name"),
      jsonQuery(payload, "$.pizzas").as("pizzas"))
  }

  /** Scenario 6 — the full event-time temporal pipeline
    * (06-flink-cdc-temporal-join.json:30) over five changelog streams:
    * unnest orders.pizzas, look up the four dimensions as of the ORDER's
    * event time, then the JSON aggregation. Works on batch DataFrames too
    * (the whole input is one step, so every order emits).
    *
    * Inputs carry their own `event_time` column (the Debezium source
    * timestamp metadata column).
    *
    * STREAMING CALLERS: [[q06Enriched]] streams as one stateful operator
    * (graft.streaming.EnrichAsOf) in append mode, with no stateful
    * operator after it, so Spark's correctness check stays on. The final
    * groupBy/collect_list does NOT stream: the enriched rows have no
    * watermark attribute, so append-mode aggregation is rejected and
    * update mode would emit growing partial arrays. Run [[q06Enriched]]
    * and do the aggregation in foreachBatch keyed by order_id
    * (graft.streaming.ChangelogAgg is the ready-made pattern);
    * q06TemporalJoin as-is is the batch form.
    */
  def q06TemporalJoin(orders: DataFrame, pizzas: DataFrame,
      assignments: DataFrame, clients: DataFrame, tables: DataFrame,
      delay: String = "0 seconds"): DataFrame =
    q06Aggregate(q06Enriched(orders, pizzas, assignments, clients, tables, delay))

  /** The streaming-safe part of scenario 6: the four as-of lookups in one
    * stateful operator (graft.streaming.EnrichAsOf), one output row per
    * (order, pizza occurrence): `order_id, ta_id, pizza_id, event_time`,
    * then the dimensions' columns prefixed `pz_`, `ta_`, `cl_` and `tb_`
    * (the assignment's `client_id` and `table_id` unprefixed). `delay` is
    * each dimension's watermark delay. Streaming
    * callers run this, then apply [[q06Aggregate]] per micro-batch in
    * foreachBatch (all rows of an order emit together, so each batch
    * holds complete order groups) and upsert keyed by order_id — see the
    * StreamingSpec end-to-end test. An order delivered twice with the
    * same event time before it emits emits once. */
  def q06Enriched(orders: DataFrame, pizzas: DataFrame,
      assignments: DataFrame, clients: DataFrame, tables: DataFrame,
      delay: String = "0 seconds"): DataFrame =
    graft.streaming.EnrichAsOf.enrich(
        orders.select(col("id").as("order_id"), col("table_assignment_id").as("ta_id"),
          col("pizzas"), col("event_time")),
        pizzas.select(col("id").as("pizza_id"), col("name"), col("price"), col("event_time")),
        assignments.select(col("id").as("ta_id"), col("client_id"), col("table_id"),
          col("event_time")),
        clients.select(col("id").as("client_id"), col("name"), col("event_time")),
        tables.select(col("id").as("table_id"), col("name"), col("event_time")),
        delay)
      .withColumnRenamed("ta_client_id", "client_id")
      .withColumnRenamed("ta_table_id", "table_id")

  /** Scenario 6's GROUP BY + JSON_ARRAYAGG over the enriched rows. */
  def q06Aggregate(enriched: DataFrame): DataFrame =
    enriched
      .groupBy(col("order_id"), col("cl_name").as("client_name"),
        col("tb_name").as("table_name"))
      .agg(jsonArrayAggSorted(
        struct(col("pz_name").as("pizza"), col("pz_price").as("price"))).as("pizzas"))
}
