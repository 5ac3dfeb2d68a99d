package graft.streaming

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import graft.expressions.RowCodec

/** Scenario 6's four event-time as-of joins
  * (06-flink-cdc-temporal-join.json:30) as ONE stateful operator: every
  * lookup is `AS OF` the order's own event time, so one watermark gate
  * serves all four.
  *
  * Design (Flink's broadcast-state pattern):
  * - Orders and the four dimensions are tagged and unioned, then grouped
  *   into P groups, P being the session's `spark.sql.shuffle.partitions`
  *   when the query is planned (keep it fixed across restarts of one
  *   checkpoint, as Spark does for the state partitions). An order goes
  *   to one group by the hash of its id, un-exploded; every dimension row
  *   is copied to all P groups. One shuffle, one stateful operator, P
  *   state-store commits per micro-batch.
  * - State per group: its pending orders, held by (order id, event time)
  *   so an order delivered twice before it emits emits once, and each
  *   dimension's versions. Payloads are RowCodec bytes (UnsafeRow), as in
  *   [[AsOfJoin]], since the HDFS-backed store rewrites a group's whole
  *   value on every update.
  * - An order emits once the watermark strictly passes it
  *   ([[EventTimeOps.ripe]]): pizza, then assignment, then that
  *   assignment version's client and table, each as of the order's event
  *   time ([[EventTimeOps.asOf]]), one row per pizza occurrence (UNNEST
  *   semantics, duplicates kept). A lookup that finds no version gives
  *   null columns (left-join semantics).
  * - Each dimension is watermarked on its own `event_time` and the
  *   orders are not, so the gate is the minimum over the four (Spark's
  *   default multiple-watermark policy; the reference's min-watermark
  *   gating, README.md:526-534): an order ripens once every dimension has
  *   been seen past its event time, which is all an as-of lookup needs.
  *   A watermark on the whole union would follow the fastest input, the
  *   orders, and drop a dimension change that arrives after a later
  *   order as late. Rows are emitted only by this operator, so no late
  *   filter downstream can lose a watermark tie, and Spark's
  *   global-watermark correctness check needs no change.
  * - Versions superseded at or before the watermark are dropped on every
  *   call ([[EventTimeOps.firstKept]]); every group is called whenever
  *   any dimension row arrives, since every group gets a copy.
  * - Works in batch too (no watermark: everything flushes), which is how
  *   `Scenarios.q06TemporalJoin` runs.
  */
object EnrichAsOf {

  /** Dimension slots in lookup order; `Order` tags an order row. */
  private val Pizza = 0
  private val Assignment = 1
  private val Client = 2
  private val Table = 3
  private val Order = 4

  /** One tagged input row. `k` is the order id or the dimension key;
    * `refs` are the keys the row points at: an order's assignment then
    * its pizzas in array order, an assignment's client then table, none
    * for the other dimensions. `eventTime` carries the watermark. */
  case class EnrichEvent(g: Int, dim: Int, k: String, eventTime: java.sql.Timestamp,
      refs: Seq[String], payload: Array[Byte]) {
    def ts: Long = EventTimeOps.tsMicros(eventTime)
    def held: Held = Held(k, ts, refs, payload)
  }

  /** A pending order or a dimension version; `ts` in µs. */
  case class Held(k: String, ts: Long, refs: Seq[String], payload: Array[Byte])

  /** A group's state: its pending orders and each dimension's versions. */
  case class EnrichState(pending: Seq[Held], dims: Seq[Seq[Held]])

  /** One output row per pizza occurrence: the order, the position of the
    * pizza in its array, and the version payload each lookup found. */
  case class Enriched(order: Array[Byte], pos: Int, pizza: Option[Array[Byte]],
      assignment: Option[Array[Byte]], client: Option[Array[Byte]],
      table: Option[Array[Byte]])

  /** One group key per shuffle partition: for each partition p, the
    * smallest int that Spark's hash partitioning (Murmur3 with seed 42,
    * then pmod) sends to p, so the groups occupy distinct state
    * partitions. Murmur3 is a bijection on ints, so every p is reached. */
  private def groupKeys(partitions: Int): Array[Int] = {
    val keys = Array.fill(partitions)(-1)
    var found = 0
    var k = 0
    while (found < partitions) {
      val p = java.lang.Math.floorMod(Murmur3_x86_32.hashInt(k, 42), partitions)
      if (keys(p) < 0) { keys(p) = k; found += 1 }
      k += 1
    }
    keys
  }

  private def update(streaming: Boolean)(g: Int, rows: Iterator[EnrichEvent],
      state: GroupState[EnrichState]): Iterator[Enriched] = {
    val (wm, wmMs) = EventTimeOps.watermarkMicros(streaming, state)
    val prev = state.getOption.getOrElse(EnrichState(Nil, Seq.fill(Order)(Nil)))
    // held by (order id, event time): a redelivery before the emit is dropped
    val pending = mutable.LinkedHashMap.empty[(String, Long), Held]
    prev.pending.foreach(o => pending((o.k, o.ts)) = o)
    val added = Seq.fill(Order)(mutable.ArrayBuffer.empty[Held])
    rows.foreach { e =>
      if (e.dim == Order) pending.getOrElseUpdate((e.k, e.ts), e.held)
      else if (e.k != null) added(e.dim) += e.held
    }
    // each dimension's versions by key, sorted by time; a version goes
    // after those already held at the same time (stable sort)
    val dims = prev.dims.zip(added).map { case (held, add) =>
      (held ++ add).groupBy(_.k).map { case (k, vs) => k -> vs.sortBy(_.ts).toIndexedSeq }
    }

    val (ripe, waiting) = pending.values.toSeq.partition(o => EventTimeOps.ripe(o.ts, wm))
    val out = ripe.flatMap { o =>
      def at(dim: Int, k: String): Option[Held] = dims(dim).get(k).flatMap { vs =>
        vs.lift(EventTimeOps.asOf(vs.size, o.ts)(vs(_).ts))
      }
      val refs = Option(o.refs).getOrElse(Nil)
      val ta = refs.headOption.flatMap(at(Assignment, _))
      val cl = ta.flatMap(a => at(Client, a.refs.head)).map(_.payload)
      val tb = ta.flatMap(a => at(Table, a.refs(1))).map(_.payload)
      refs.drop(1).zipWithIndex.map { case (p, pos) =>
        Enriched(o.payload, pos, at(Pizza, p).map(_.payload), ta.map(_.payload), cl, tb)
      }
    }
    val kept = dims.map(_.values.flatMap { vs =>
      vs.drop(EventTimeOps.firstKept(vs.size, wm)(vs(_).ts))
    }.toSeq)
    if (waiting.isEmpty && kept.forall(_.isEmpty)) state.remove()
    else {
      state.update(EnrichState(waiting, kept))
      if (waiting.nonEmpty && wm != Long.MaxValue)
        EventTimeOps.armWake(state, waiting.map(_.ts).min, wmMs)
    }
    out.iterator
  }

  /** Enrich each order with the four dimensions as of its event time.
    * Inputs (all streaming or all batch), each with an `event_time`
    * timestamp column:
    *  - `orders`: `order_id`, `ta_id`, `pizzas` (array of pizza ids);
    *  - `pizzas`: `pizza_id`; `assignments`: `ta_id`, `client_id`,
    *    `table_id`; `clients`: `client_id`; `tables`: `table_id`.
    * Output: `order_id, ta_id, pizza_id, event_time`, then each
    * dimension's columns but `event_time`, prefixed `pz_`, `ta_`, `cl_`
    * and `tb_`. `delay` is each dimension's watermark delay (streaming
    * only). */
  def enrich(orders: DataFrame, pizzas: DataFrame, assignments: DataFrame,
      clients: DataFrame, tables: DataFrame, delay: String = "0 seconds"): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    RowCodec.register(spark)
    val streaming = orders.isStreaming
    val keys = typedLit(groupKeys(spark.conf.get("spark.sql.shuffle.partitions").toInt).toSeq)
    def str(c: Column): Column = c.cast("string")
    // a version's time is held beside its payload; an order's stays in it
    def held(df: DataFrame): DataFrame =
      if (df eq orders) df else df.drop("event_time")
    def tag(df: DataFrame, dim: Int, key: String, refs: Column, group: Column): DataFrame = {
      val w = if (streaming && dim != Order) df.withWatermark("event_time", delay) else df
      w.select(group.as("g"), lit(dim).as("dim"), str(col(key)).as("k"),
        col("event_time").as("eventTime"), refs.as("refs"),
        call_function("struct_to_binary", struct(held(df).columns.map(col): _*)).as("payload"))
    }
    val everyGroup = explode(keys)
    val noRefs = typedLit(Seq.empty[String])
    // dimensions first: a union's columns are its first input's, so its
    // event time carries the watermark the operator needs for its timers
    val tagged = Seq(
      tag(pizzas, Pizza, "pizza_id", noRefs, everyGroup),
      tag(assignments, Assignment, "ta_id",
        array(str(col("client_id")), str(col("table_id"))), everyGroup),
      tag(clients, Client, "client_id", noRefs, everyGroup),
      tag(tables, Table, "table_id", noRefs, everyGroup),
      tag(orders, Order, "order_id",
        concat(array(str(col("ta_id"))), transform(col("pizzas"), str(_))),
        element_at(keys, pmod(hash(col("order_id")), size(keys)) + 1))
    ).reduce(_ unionByName _)
    // a source's micro-batch is one partition per block it received; its
    // map stage would run that many tasks (see AsOfJoin's fan-out note)
    val input =
      if (streaming) tagged.coalesce(spark.sparkContext.defaultParallelism) else tagged
    val timeout =
      if (streaming) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    val joined = input.groupBy(col("g")).as[Int, EnrichEvent]
      .flatMapGroupsWithState(OutputMode.Append, timeout)(update(streaming))
    def decode(c: String, df: DataFrame): Column =
      call_function("binary_to_struct", col(c), lit(held(df).schema.toDDL))
    def dimCols(df: DataFrame, s: String, prefix: String): Seq[Column] =
      held(df).columns.toSeq.map(c => col(s"$s.$c").as(prefix + c))
    joined
      .select(decode("order", orders).as("_o"), col("pos"),
        decode("pizza", pizzas).as("_pz"), decode("assignment", assignments).as("_ta"),
        decode("client", clients).as("_cl"), decode("table", tables).as("_tb"))
      .select(Seq(col("_o.order_id"), col("_o.ta_id"),
          col("_o.pizzas").getItem(col("pos")).as("pizza_id"), col("_o.event_time")) ++
        dimCols(pizzas, "_pz", "pz_") ++ dimCols(assignments, "_ta", "ta_") ++
        dimCols(clients, "_cl", "cl_") ++ dimCols(tables, "_tb", "tb_"): _*)
  }
}
