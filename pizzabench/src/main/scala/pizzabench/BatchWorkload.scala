package pizzabench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import graft.Tables
import graft.model.Pizzeria.PizzeriaTables
import graft.queries.Scenarios

/** Scenarios 1 and 2 as hourly batch jobs over a generated day of
  * orders: read-only scan, explode, 4-way join and JSON aggregation.
  * One client in a closed loop runs the next hourly job when the
  * previous one has returned; every job's collected result is checked
  * against the oracle. */
final class BatchWorkload(ctx: Ctx) extends Workload {
  import ctx._
  import Gen._

  val Orders = 1000000
  val Hours = 24
  val pz = new Pizzeria(seed, Shape(pizzas = 40, tables = 200, clients = 50000,
    assignments = 200000))

  private var dir = ""
  private var rep = 0
  private var ta: Array[Int] = Array.empty
  private var time: Array[Long] = Array.empty
  private var pizzas: Array[Array[Int]] = Array.empty
  private var byHour: Array[Array[Int]] = Array.empty
  private val expected = mutable.Map.empty[(Int, Int), Oracle.Fingerprint]

  private object dims extends Oracle.Lookup {
    def pizza(id: Int) = if (id < pz.shape.pizzas) Some((pz.pizzaName(id), pz.pizzaPrice(id))) else None
    def assignment(id: Int) = if (id < pz.shape.assignments) Some(pz.assignment(id)) else None
    def client(id: Int) = if (id < pz.shape.clients) Some(pz.clientName(id)) else None
    def table(id: Int) = if (id < pz.shape.tables) Some(pz.tableName(id)) else None
  }

  def setup(): Unit = {
    import spark.implicits._
    rep += 1
    dir = s"$workDir/pizzeria-$rep"
    val p = pz
    val s = p.shape
    spark.range(s.pizzas).map(i => (i.toInt, p.pizzaName(i.toInt), p.pizzaPrice(i.toInt)))
      .toDF("id", "name", "price").write.parquet(s"$dir/pizzas.parquet")
    spark.range(s.tables).map(i => (i.toInt, p.tableName(i.toInt), 2 + (i.toInt % 7)))
      .toDF("id", "name", "seats").write.parquet(s"$dir/tables.parquet")
    spark.range(s.clients).map(i => (i.toInt, p.clientName(i.toInt)))
      .toDF("id", "name").write.parquet(s"$dir/clients.parquet")
    spark.range(s.assignments).map { i =>
      val (c, t) = p.assignment(i.toInt); (i.toInt, c, t)
    }.toDF("id", "client_id", "table_id").write.parquet(s"$dir/assignments.parquet")
    val hours = Hours
    spark.range(Orders).map { i =>
      val o = p.order(i.toInt, hours)
      (o.id, o.ta, new Timestamp(o.timeMs), o.pizzas.toSeq)
    }.toDF("id", "table_assignment_id", "order_time", "pizzas")
      .write.parquet(s"$dir/orders.parquet")

    ta = new Array[Int](Orders)
    time = new Array[Long](Orders)
    pizzas = new Array[Array[Int]](Orders)
    val hourOf = new Array[Int](Orders)
    for (i <- 0 until Orders) {
      val o = pz.order(i, Hours)
      ta(i) = o.ta; time(i) = o.timeMs; pizzas(i) = o.pizzas
      hourOf(i) = ((o.timeMs - BaseMs - 1) / HourMs).toInt
    }
    byHour = (0 until Orders).toArray.groupBy(hourOf(_)).toSeq.sortBy(_._1).map(_._2).toArray
    expected.clear()
    // warm-up: one job per scenario, checked
    for (sc <- 1 to 2) {
      val rows = job(sc, 0, -1L)
      val (ok, detail) = verify(sc, 0, rows)
      if (!ok) throw new IllegalStateException(s"warm-up job s$sc h0 mismatch: $detail")
    }
  }

  private def expectedFor(sc: Int, hour: Int): Oracle.Fingerprint =
    expected.getOrElseUpdate((sc, hour), {
      var fp = Oracle.Fingerprint.empty
      byHour(hour).foreach { i =>
        Oracle.enrich(ta(i), pizzas(i).toSeq, anySemantics = sc == 2, dims).foreach {
          case (c, t, js) => fp = fp.add(Oracle.rowKey(i, c, t, time(i), js))
        }
      }
      fp
    })

  private def verify(sc: Int, hour: Int, rows: Array[Row]): (Boolean, String) = {
    val got = Oracle.Fingerprint.of(rows.map(r =>
      Oracle.rowKey(r.getInt(0), r.getString(1), r.getString(2), r.getTimestamp(3).getTime,
        r.getString(4))))
    val want = expectedFor(sc, hour)
    (got == want, s"rows ${got.count} vs oracle ${want.count}")
  }

  /** One hourly job: open the tables, plan, execute and collect. */
  private def job(sc: Int, hour: Int, op: Long): Array[Row] = tracer.span("job", op) {
    val tables = tracer.span("tables.table", op) {
      PizzeriaTables(
        tables = Tables.table(spark, dir, "tables"),
        pizzas = Tables.table(spark, dir, "pizzas"),
        clients = Tables.table(spark, dir, "clients"),
        assignments = Tables.table(spark, dir, "assignments"),
        orders = Tables.table(spark, dir, "orders"))
    }
    val df: DataFrame = tracer.span("scenarios.plan", op) {
      val eval = lit(new Timestamp(BaseMs + (hour + 1) * HourMs))
      val q = if (sc == 1) Scenarios.q01BasicJoin(tables, eval)
        else Scenarios.q02ViewFilter(tables, eval)
      val out = q.select(col("order_id"), col("client_name"), col("table_name"),
        col("order_time"), col("pizzas"))
      out.queryExecution.executedPlan
      out
    }
    tracer.span("scenarios.exec", op)(df.collect())
  }

  def measure(r: Report): Unit = {
    val before = counters.settle()
    val gc0 = Probes.gcMs()
    val jobs = mutable.ArrayBuffer.empty[Double]
    var covered = 0L
    var rowsOut = 0L
    val end = System.nanoTime() + seconds * 1000000000L
    var j = 0
    while (System.nanoTime() < end && !pastBudget) {
      val sc = 1 + j % 2
      val hour = (j / 2) % Hours
      val t0 = System.nanoTime()
      r.op(s"job s$sc h$hour")(job(sc, hour, j.toLong)).foreach { rows =>
        jobs += (System.nanoTime() - t0) / 1e6
        covered += byHour(hour).length
        rowsOut += rows.length
        val (ok, detail) = verify(sc, hour, rows)
        r.check(s"oracle s$sc h$hour", ok, detail)
      }
      j += 1
    }
    System.err.println(s"pizzabench: job ms ${jobs.map(x => f"$x%.0f").mkString(" ")}")
    val c = counters.settle() - before
    val busyS = jobs.sum / 1000.0
    val n = math.max(1, jobs.size).toDouble
    r.ops = jobs.size
    r.latencyMs = jobs.toArray
    r.throughput = if (busyS > 0) covered / busyS else 0.0
    r.layer ++= Seq(
      "tables.open_ms" -> tracer.durationsMs("tables.table").sum / n,
      "tables.scan_ms" -> c.scanRunMs / n,
      "tables.rows_read_per_row_out" -> c.recordsRead.toDouble / math.max(1L, rowsOut),
      "tables.bytes_read" -> c.bytesRead / n,
      "scenarios.plan_ms" -> tracer.durationsMs("scenarios.plan").sum / n,
      "scenarios.exec_ms" -> tracer.durationsMs("scenarios.exec").sum / n,
      "scenarios.explode_rows" -> c.explodeRows / n,
      "spark.shuffle_write_bytes" -> c.shuffleWriteBytes / n,
      "spark.tasks" -> c.tasks / n,
      "spark.gc_ms" -> (Probes.gcMs() - gc0) / n,
      "spark.spill_bytes" -> c.spillBytes / n,
      "spark.cpu_busy_frac" -> (if (busyS > 0) c.cpuNs / 1e9 / (busyS * cores) else 0.0))
  }
}
