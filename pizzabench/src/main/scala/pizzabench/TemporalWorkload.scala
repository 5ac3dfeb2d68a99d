package pizzabench

import java.time.Instant
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, timestamp_millis}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.queries.Scenarios
import org.apache.spark.sql.types._
import graft.streaming.{Debezium, UpsertSink}

/** Scenario 6: five changelog streams (orders plus four dimensions)
  * through the four chained event-time as-of joins of
  * `Scenarios.q06Enriched`, aggregated per micro-batch with
  * `q06Aggregate` and upserted by order id in foreachBatch. Orders arrive
  * open-loop in event time while pizza prices change and assignments
  * move; every dimension emits a heartbeat row (id -1) so the strict
  * (0 s) watermark advances, as the reference's Debezium heartbeats do.
  * The run ends by draining a fixed backlog of orders. The traced run
  * then runs [[CdcPhase]] for the decode and upsert layers. */
object TemporalWorkload {
  val OrderSchema: StructType = StructType(Seq(
    StructField("id", IntegerType), StructField("table_assignment_id", IntegerType),
    StructField("order_time", LongType), StructField("pizzas", ArrayType(IntegerType))))
}

final class TemporalWorkload(ctx: Ctx) extends Workload {
  import ctx._
  import Gen._
  import TemporalWorkload._

  val shape = Shape(pizzas = 40, tables = 200, clients = 5000, assignments = 20000)
  val TickMs = 100
  val HeartbeatMs = 250
  /** A heartbeat is released this long after its timestamp, so every
    * change at or before it has already been released: a change never
    * reaches a stream behind the watermark it would then be late for. */
  val HeartbeatLagMs = 100
  val ChangeEveryMs = 50
  val WarmOrders = 200
  val DrainOrders = 1000
  val WaitStepMs = 20L

  private val pz = new Pizzeria(seed, shape)

  private var orders: MemoryStream[String] = _
  private var pizzas: MemoryStream[(Int, String, Int, Long)] = _
  private var assigns: MemoryStream[(Int, Int, Int, Long)] = _
  private var clients: MemoryStream[(Int, String, Long)] = _
  private var tabs: MemoryStream[(Int, String, Long)] = _
  private var query: StreamingQuery = _
  private var rep = 0
  private var path = ""

  /** order id -> nanoTime its merge ended; result rows seen per batch. */
  private val readable = new ConcurrentHashMap[Int, java.lang.Long]()
  private val emitted = new ConcurrentHashMap[Int, Integer]()
  /** Orders stamped exactly at a heartbeat's timestamp, i.e. at a value
    * the watermark takes. */
  private val ties = ConcurrentHashMap.newKeySet[Int]()

  /** The oracle's view: every order released so far with its event time,
    * and every dimension version. Times are event-time ms. */
  private val orderLog = mutable.ArrayBuffer.empty[(Int, Int, Array[Int], Long)]
  private val pizzaVersions = mutable.Map.empty[Int, Vector[(Long, Int)]]
  private val assignVersions = mutable.Map.empty[Int, Vector[(Long, (Int, Int))]]
  private var nextOrder = 0

  /** The Debezium envelope of the next order's insert, committed at
    * `tsMs` (its event time, as the reference's source-timestamp
    * metadata column). */
  private def newOrder(tsMs: Long): String = {
    val r = rng(seed, 21, nextOrder)
    val (id, ta, ps) = (nextOrder, pz.sampleAssignment(r), pz.samplePizzas(r))
    orderLog += ((id, ta, ps, tsMs))
    nextOrder += 1
    val row = s"""{"id":$id,"table_assignment_id":$ta,"order_time":$tsMs,""" +
      s""""pizzas":[${ps.mkString(",")}]}"""
    s"""{"before":null,"after":$row,"source":{"version":"2.5.0","connector":"postgresql",""" +
      s""""name":"pizzeria","ts_ms":$tsMs,"snapshot":"false","db":"defaultdb",""" +
      s""""schema":"public","table":"orders","txId":$id,"lsn":${id * 8L}},""" +
      s""""op":"c","ts_ms":$tsMs}"""
  }

  private def heartbeat(tsMs: Long): Unit = {
    pizzas.addData((-1, "heartbeat", 0, tsMs))
    assigns.addData((-1, -1, -1, tsMs))
    clients.addData((-1, "heartbeat", tsMs))
    tabs.addData((-1, "heartbeat", tsMs))
  }

  /** Dimension change `k` at `tsMs`: a new price for a Zipf-chosen pizza
    * (one in five) or a Zipf-chosen assignment moved to another client
    * and table. */
  private def change(k: Int, tsMs: Long): Unit = {
    val r = rng(seed, 22, k)
    if (r.nextInt(5) == 0) {
      val id = math.min(shape.pizzas - 1, (r.nextDouble() * r.nextDouble() * shape.pizzas).toInt)
      val price = 5 + r.nextInt(11)
      pizzaVersions(id) = pizzaVersions(id) :+ ((tsMs, price))
      pizzas.addData((id, pz.pizzaName(id), price, tsMs))
    } else {
      val id = pz.sampleAssignment(r)
      val v = (r.nextInt(shape.clients), r.nextInt(shape.tables))
      assignVersions(id) = assignVersions(id) :+ ((tsMs, v))
      assigns.addData((id, v._1, v._2, tsMs))
    }
  }

  private def startStreams(): Unit = {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    orders = MemoryStream[String]
    pizzas = MemoryStream[(Int, String, Int, Long)]
    assigns = MemoryStream[(Int, Int, Int, Long)]
    clients = MemoryStream[(Int, String, Long)]
    tabs = MemoryStream[(Int, String, Long)]
  }

  private def startQuery(): Unit = {
    def et(df: DataFrame) = df.withColumn("event_time", timestamp_millis(col("tsMs"))).drop("tsMs")
    val enriched = Scenarios.q06Enriched(
      Debezium.decode(orders.toDF().toDF("value"), OrderSchema)
        .select(col("id"), col("table_assignment_id"), col("pizzas"),
          col("_source_ts").as("event_time")),
      et(pizzas.toDF().toDF("id", "name", "price", "tsMs")),
      et(assigns.toDF().toDF("id", "client_id", "table_id", "tsMs")),
      et(clients.toDF().toDF("id", "name", "tsMs")),
      et(tabs.toDF().toDF("id", "name", "tsMs")))
    // the chained as-of joins emit at the watermark boundary; see AsOfJoin
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    val sinkPath = path
    query = enriched.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$path.ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        tracer.span("sink.foreach_batch", id) {
          val agg = tracer.span("scenarios.q06_aggregate", id)(
            Scenarios.q06Aggregate(batch).localCheckpoint())
          val ids = agg.select("order_id").collect().map(_.getInt(0))
          // every order is emitted once, so one constant version suffices
          if (ids.nonEmpty) tracer.span("sink.merge", id) {
            UpsertSink.mergeBatch(agg.withColumn("_v", lit(0L)), Seq("order_id"), "_v", sinkPath)
          }
          val end = System.nanoTime()
          ids.foreach { o =>
            readable.put(o, end)
            emitted.merge(o, 1, (a: Integer, b: Integer) => a + b)
          }
        }
        ()
      }
      .start()
  }

  /** Wait until every order in `ids` but the watermark ties is readable;
    * false past `limitNs`. */
  private def awaitReadable(ids: Range, limitNs: Long, beat: () => Unit): Boolean = {
    def done = ids.forall(o => ties.contains(o) || readable.containsKey(o))
    while (!done && System.nanoTime() < limitNs && !pastBudget) {
      if (query.exception.isDefined) throw query.exception.get
      beat()
      Thread.sleep(WaitStepMs)
    }
    done
  }

  def setup(): Unit = {
    if (query != null) query.stop()
    rep += 1
    path = s"$workDir/q06-sink-$rep"
    readable.clear(); emitted.clear(); ties.clear(); orderLog.clear(); nextOrder = 0
    startStreams()
    val t = System.currentTimeMillis()
    val dimTs = t - HourMs
    pizzaVersions.clear(); assignVersions.clear()
    (0 until shape.pizzas).foreach(i => pizzaVersions(i) = Vector((dimTs, pz.pizzaPrice(i))))
    (0 until shape.assignments).foreach(i => assignVersions(i) = Vector((dimTs, pz.assignment(i))))
    pizzas.addData((0 until shape.pizzas).map(i => (i, pz.pizzaName(i), pz.pizzaPrice(i), dimTs)))
    tabs.addData((0 until shape.tables).map(i => (i, pz.tableName(i), dimTs)))
    clients.addData((0 until shape.clients).map(i => (i, pz.clientName(i), dimTs)))
    assigns.addData((0 until shape.assignments).map { i =>
      val (c, tb) = pz.assignment(i); (i, c, tb, dimTs)
    })
    orders.addData((0 until WarmOrders).map(i => newOrder(t + i)))
    // the first micro-batch takes the whole initial load at once
    startQuery()
    var hb = t + WarmOrders
    var lastBeat = 0L
    val ok = awaitReadable(0 until WarmOrders, System.nanoTime() + 90000000000L, { () =>
      if (System.nanoTime() - lastBeat > HeartbeatMs * 1000000L) {
        hb += 1; heartbeat(hb); lastBeat = System.nanoTime()
      }
    })
    if (!ok) throw new IllegalStateException("warm-up orders never became readable")
  }

  /** Wait (bounded) until no micro-batch is running or due, so the open
    * phase starts on an idle query whatever the set-up left in flight. */
  private def awaitIdle(): Unit = {
    val limit = System.nanoTime() + 60000000000L
    var quiet = 0
    while (quiet < 5 && System.nanoTime() < limit && !pastBudget) {
      val st = query.status
      quiet = if (st.isTriggerActive || st.isDataAvailable) 0 else quiet + 1
      Thread.sleep(WaitStepMs)
    }
  }

  def measure(r: Report): Unit = {
    val firstOpen = nextOrder
    awaitIdle()
    val before = counters.settle()
    val gc0 = Probes.gcMs()
    val progress0 = progress.all.size
    val e0 = System.currentTimeMillis() + 50
    val t0 = System.nanoTime() + 50000000L
    val periodMs = 1000.0 / rate
    val openMs = seconds * 1000L
    val ticks = (openMs / TickMs).toInt
    val dueOf = mutable.HashMap.empty[Int, Long]
    var nextArrival = 0
    var nextChange = 0
    var nextBeat = 0
    // tick k releases everything due in [k, k+1) ticks, in a fixed order
    val gen = new OpenLoop(k => t0 + (k + 1) * TickMs * 1000000L, ticks, { k =>
      val until = (k + 1) * TickMs
      val batch = mutable.ArrayBuffer.empty[String]
      while (nextArrival * periodMs < until) {
        val off = (nextArrival * periodMs).toLong
        dueOf(nextOrder) = t0 + (nextArrival * periodMs * 1e6).toLong
        if (off % HeartbeatMs == 0) ties.add(nextOrder)
        batch += newOrder(e0 + off)
        nextArrival += 1
      }
      if (batch.nonEmpty) orders.addData(batch.toSeq)
      while (nextChange * ChangeEveryMs + ChangeEveryMs / 2 < until) {
        change(nextChange, e0 + nextChange * ChangeEveryMs + ChangeEveryMs / 2)
        nextChange += 1
      }
      while (nextBeat * HeartbeatMs + HeartbeatLagMs < until) {
        heartbeat(e0 + nextBeat * HeartbeatMs)
        nextBeat += 1
      }
    })
    gen.start()
    while (gen.isAlive && !pastBudget) Thread.sleep(WaitStepMs)
    gen.halt()
    val c = counters.settle() - before
    val gcMs = Probes.gcMs() - gc0
    val openWallS = (System.nanoTime() - t0) / 1e9
    val openOrders = firstOpen until nextOrder
    val backlogEnd = openOrders.count(o => !ties.contains(o) && !readable.containsKey(o))
    val progs = progress.all.drop(progress0)

    // drain: a fixed backlog of orders at once, heartbeats continue. The
    // drain is timed from the start of the micro-batch that ingests it,
    // so the phase of the batch running when it arrives does not count.
    val wallOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    val progressBefore = progress.all.size
    val tsNow = e0 + openMs
    val drainIds = nextOrder until nextOrder + DrainOrders
    orders.addData((0 until DrainOrders).map(i => newOrder(tsNow + i / 10)))
    var hb = tsNow + DrainOrders
    var lastBeat = 0L
    val allIds = firstOpen until nextOrder
    r.op("drain")(awaitReadable(allIds, Long.MaxValue, { () =>
      if (System.nanoTime() - lastBeat > HeartbeatMs * 1000000L) {
        hb += HeartbeatMs; heartbeat(hb); lastBeat = System.nanoTime()
      }
    })).foreach(ok => r.check("drain", ok, "backlog not drained within the budget"))
    progress.all.drop(progress0).foreach { p =>
      val wm = Option(p.eventTime.get("watermark")).fold("-")(w => s"${Instant.parse(w).toEpochMilli - e0}")
      System.err.println(s"pizzabench: micro-batch ${p.batchId} at ${Instant.parse(p.timestamp).toEpochMilli - e0} ms " +
        s"took ${p.batchDuration} ms, ${p.numInputRows} rows, watermark $wm ms")
    }
    val ingestMs = progress.all.drop(progressBefore)
      .find(_.numInputRows >= DrainOrders).map(p => Instant.parse(p.timestamp).toEpochMilli.toDouble)
    val doneMs = drainIds.flatMap(o => Option(readable.get(o)).map(_.longValue / 1e6 + wallOffsetMs))
      .maxOption
    r.throughput = (for (a <- ingestMs; b <- doneMs if b > a) yield DrainOrders / ((b - a) / 1000.0))
      .getOrElse(0.0)
    query.stop()
    val tiesLost = r.op("final table")(finalCheck(r)).getOrElse(0)
    // per call over the open phase and the drain: the open phase alone
    // may end before any micro-batch has emitted
    val foreachMs = Stats.mean(tracer.durationsMs("sink.foreach_batch"))
    val mergeMs = Stats.mean(tracer.durationsMs("sink.merge"))
    if (tracer.enabled) new CdcPhase(ctx).run(r, s"$workDir/changelog-sink")

    r.latencyMs = openOrders.flatMap(o =>
      Option(readable.get(o)).map(e => (e.longValue - dueOf(o)) / 1e6)).toArray
    val durations = progs.map(_.batchDuration.toDouble)
    r.ops = progs.size
    val n = math.max(1, progs.size).toDouble
    // lag once the watermark has reached the open phase, drain included
    val lags = progress.all.drop(progress0).flatMap { p =>
      Option(p.eventTime.get("watermark")).map(w => Instant.parse(w).toEpochMilli)
        .filter(_ >= e0).map(w => (Instant.parse(p.timestamp).toEpochMilli - w).toDouble)
    }
    val lastState = progs.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    r.layer ++= Seq(
      "asof.batch_ms" -> Stats.mean(durations),
      "asof.state_rows" -> lastState.map(_.numRowsTotal).sum.toDouble,
      "asof.state_bytes" -> lastState.map(_.memoryUsedBytes).sum.toDouble,
      "asof.watermark_lag_ms" -> Stats.mean(lags),
      "asof.watermark_tie_lost" -> tiesLost.toDouble,
      "sink.foreach_batch_ms" -> foreachMs,
      "sink.merge_ms" -> mergeMs,
      "scenarios.explode_rows" -> c.explodeRows / n,
      "spark.shuffle_write_bytes" -> c.shuffleWriteBytes / n,
      "spark.tasks" -> c.tasks / n,
      "spark.gc_ms" -> gcMs / n,
      "spark.spill_bytes" -> c.spillBytes / n,
      "spark.cpu_busy_frac" -> c.cpuNs / 1e9 / (openWallS * cores),
      "gen.late_ms_max" -> gen.lateMaxNs / 1e6,
      "gen.backlog_end" -> backlogEnd.toDouble)
  }

  private def asOf[V](versions: Vector[(Long, V)], ts: Long): Option[V] =
    versions.filter(_._1 <= ts).sortBy(_._1).lastOption.map(_._2)

  /** Every order's row in the result table against the oracle's as-of
    * enrichment; each order must have been emitted exactly once. The
    * engine loses an order whose event time equals a watermark value (the
    * first as-of join holds it, strictly, until the watermark passes it;
    * the second then drops it as late, at or below the previous
    * watermark): a watermark tie that never appeared is counted, not
    * failed. Returns that count. */
  private def finalCheck(r: Report): Int = {
    val got = UpsertSink.readKeyedTable(spark, path).map(_.select(
      col("order_id"), col("client_name"), col("table_name"), col("pizzas")).collect()
      .map(x => x.getInt(0) -> (x.getString(1), x.getString(2), x.getString(3))).toMap)
      .getOrElse(Map.empty)
    var bad = 0
    var lost = 0
    var example = ""
    orderLog.foreach { case (id, ta, ps, ts) =>
      val dims = new Oracle.Lookup {
        def pizza(i: Int) = pizzaVersions.get(i).flatMap(asOf(_, ts)).map(p => (pz.pizzaName(i), p))
        def assignment(i: Int) = assignVersions.get(i).flatMap(asOf(_, ts))
        def client(i: Int) = if (i < shape.clients) Some(pz.clientName(i)) else None
        def table(i: Int) = if (i < shape.tables) Some(pz.tableName(i)) else None
      }
      val want = Oracle.enrich(ta, ps.toSeq, anySemantics = false, dims)
      val n = Option(emitted.get(id)).fold(0)(_.intValue)
      if (n == 0 && !got.contains(id) && ties.contains(id) && want.isDefined) lost += 1
      else if (got.get(id) != want || n != 1) {
        bad += 1
        if (example.isEmpty) example = s"order $id: table ${got.get(id)} oracle $want emitted $n"
      }
    }
    r.check("final table", bad == 0, s"$bad of ${orderLog.size} orders differ; $example")
    lost
  }
}
