package pizzabench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._
import graft.streaming.{Debezium, UpsertSink}

/** Scenario 3's write path, run closed-loop in the traced run of
  * `temporal_join_stream`: a Debezium changelog of `orders` (inserts,
  * Zipf-skewed updates and deletes, and redelivered old versions the
  * sink's version gate must ignore) decoded with `Debezium.decode` and
  * merged with `UpsertSink.mergeBatch`, batch by batch, with a checked
  * `UpsertSink.readKeyedTable` read between merges. Every decode, merge
  * and read is a span; the `debezium.*` and `upsert.*` metrics are derived
  * from them. */
final class CdcPhase(ctx: Ctx) {
  import ctx._
  import CdcPhase._

  val Keys = 20000
  val Batches = 4
  val BatchEvents = 5000
  val ReadEvery = 2

  private def decode(evs: Seq[Ev]): DataFrame = {
    val raw = spark.createDataset(evs.map(envelope))(Encoders.STRING).toDF("value")
    Debezium.decode(raw, RowSchema).withColumn(DeleteCol, col("_op") === "d")
  }

  /** Count and checksum of the table, read through the sink's reader. */
  private def read(path: String): (Long, Long) =
    UpsertSink.readKeyedTable(spark, path).map { df =>
      val row = df.agg(expr("count(1)"), expr(s"coalesce(sum($RowSum), 0)")).head()
      (row.getLong(0), row.getLong(1))
    }.getOrElse((0L, 0L))

  /** Load the snapshot, run the batches, check every read and the final
    * table against [[SinkOracle]], and add the layer metrics to `r`. */
  def run(r: Report, path: String): Unit = {
    val log = generate(seed, Keys, Batches * BatchEvents)
    val oracle = new SinkOracle
    val snap = log.take(Keys).toSeq
    UpsertSink.mergeBatch(decode(snap), KeyCols, VersionCol, path, Some(DeleteCol))
    snap.foreach(oracle.apply)
    var rewritten = 0L
    var written = 0L
    var distinctKeys = 0L
    for (b <- 0 until Batches) {
      val evs = log.slice(Keys + b * BatchEvents, Keys + (b + 1) * BatchEvents).toSeq
      val op = 1000000L + b
      r.op(s"changelog batch $b") {
        val decoded = tracer.span("debezium.decode", op)(decode(evs).localCheckpoint())
        val before = Probes.listTable(path)
        tracer.span("upsert.merge", op) {
          UpsertSink.mergeBatch(decoded, KeyCols, VersionCol, path, Some(DeleteCol))
        }
        val (buckets, bytes) = Probes.diff(before, Probes.listTable(path))
        rewritten += buckets; written += bytes
        distinctKeys += evs.map(_.key).distinct.size
        evs.foreach(oracle.apply)
      }
      if ((b + 1) % ReadEvery == 0) r.op(s"changelog read $b") {
        val got = tracer.span("upsert.read", op)(read(path))
        r.check(s"changelog read $b", got == ((oracle.count, oracle.sum)),
          s"table (rows, checksum) $got vs oracle ${(oracle.count, oracle.sum)}")
      }
    }
    r.op("changelog table")(fullCheck(path, oracle)).foreach { case (ok, detail) =>
      r.check("changelog table", ok, detail)
    }
    val events = Batches * BatchEvents
    val decodeMs = tracer.durationsMs("debezium.decode").sum
    val mergeMs = tracer.durationsMs("upsert.merge")
    r.layer ++= Seq(
      "debezium.decode_ms" -> decodeMs / Batches,
      "debezium.decode_eps" -> (if (decodeMs > 0) events / (decodeMs / 1000) else 0.0),
      "upsert.merge_ms" -> Stats.mean(mergeMs),
      "upsert.merge_max_ms" -> (if (mergeMs.isEmpty) 0.0 else mergeMs.max),
      "upsert.buckets_rewritten" -> rewritten.toDouble / Batches,
      "upsert.bytes_written_per_event" -> written.toDouble / events,
      "upsert.table_bytes_per_live_row" ->
        Probes.listTable(path).values.sum.toDouble / math.max(1L, oracle.count),
      "upsert.collapse_ratio" -> events.toDouble / math.max(1L, distinctKeys),
      "upsert.read_ms" -> Stats.mean(tracer.durationsMs("upsert.read")))
  }

  /** Every row of the table against the oracle's live images. */
  private def fullCheck(path: String, oracle: SinkOracle): (Boolean, String) = {
    val rows = UpsertSink.readKeyedTable(spark, path).map(_.select(
      col("id"), col("table_assignment_id"), col("order_time"), col("pizzas"), col(VersionCol))
      .collect()).getOrElse(Array.empty)
    val bad = rows.count { row =>
      oracle.image(row.getInt(0)).forall(e => e.tx != row.getLong(4) || e.ta != row.getInt(1) ||
        e.time != row.getLong(2) || e.pizzas.toSeq != row.getSeq[Int](3))
    }
    (bad == 0 && rows.length == oracle.count,
      s"${rows.length} rows, oracle ${oracle.count}, $bad differ")
  }
}

object CdcPhase {
  val KeyCols = Seq("id")
  val VersionCol = "_tx_id"
  val DeleteCol = "_del"

  val RowSchema: StructType = StructType(Seq(
    StructField("id", IntegerType), StructField("table_assignment_id", IntegerType),
    StructField("order_time", LongType), StructField("pizzas", ArrayType(IntegerType))))

  /** One change event; for `d` the image is the before image. */
  final case class Ev(op: Char, key: Int, tx: Long, ta: Int, time: Long, pizzas: Array[Int])

  /** The snapshot (op r) of `keys` keys, then `n` change events: ~69% c
    * of fresh ids, 25% u and 5% d of live Zipf-chosen ids, and 1% a live
    * id's previous image redelivered with its old version. */
  def generate(seed: Long, keys: Int, n: Int): Array[Ev] = {
    val pz = new Pizzeria(seed, Gen.Shape(pizzas = 40, tables = 200, clients = 50000,
      assignments = 200000))
    val keyZipf = new Gen.Zipf(keys, 0.9)
    def image(stream: Long, i: Long): (Int, Long, Array[Int]) = {
      val r = Gen.rng(seed, stream, i)
      (pz.sampleAssignment(r), Gen.BaseMs + r.nextLong(24 * Gen.HourMs), pz.samplePizzas(r))
    }
    val out = new Array[Ev](keys + n)
    val live = new java.util.BitSet(keys)
    val cur = Array.fill(keys)(-1)
    val prev = Array.fill(keys)(-1)
    for (k <- 0 until keys) {
      val (ta, t, ps) = image(11, k)
      out(k) = Ev('r', k, 1L, ta, t, ps)
      live.set(k); cur(k) = k
    }
    var created = 0
    val r = Gen.rng(seed, 12, 0)
    def liveKey(): Int = {
      var tries = 0
      var k = -1
      while (k < 0 && tries < 4) {
        val c = ((keyZipf.sample(r).toLong * 7919L) % keys).toInt
        if (live.get(c)) k = c
        tries += 1
      }
      k
    }
    for (j <- 0 until n) {
      val i = keys + j
      val tx = 1000000L + j
      val u = r.nextDouble()
      val k = if (u < 0.69) -1 else liveKey()
      out(i) =
        if (k < 0) {
          val (ta, t, ps) = image(13, j)
          created += 1
          Ev('c', keys + created, tx, ta, t, ps)
        } else if (u < 0.94) {
          val (ta, t, ps) = image(13, j)
          prev(k) = cur(k); cur(k) = i
          Ev('u', k, tx, ta, t, ps)
        } else if (u < 0.99) {
          val before = out(cur(k))
          live.clear(k)
          Ev('d', k, tx, before.ta, before.time, before.pizzas)
        } else {
          out(if (prev(k) >= 0) prev(k) else cur(k))
        }
    }
    out
  }

  def envelope(e: Ev): String = {
    val row = s"""{"id":${e.key},"table_assignment_id":${e.ta},"order_time":${e.time},""" +
      s""""pizzas":[${e.pizzas.mkString(",")}]}"""
    val (before, after) = if (e.op == 'd') (row, "null") else ("null", row)
    val ts = Gen.BaseMs + e.tx
    s"""{"before":$before,"after":$after,"source":{"version":"2.5.0","connector":"postgresql",""" +
      s""""name":"pizzeria","ts_ms":$ts,"snapshot":"${e.op == 'r'}","db":"defaultdb",""" +
      s""""schema":"public","table":"orders","txId":${e.tx},"lsn":${e.tx * 8}},""" +
      s""""op":"${e.op}","ts_ms":$ts}"""
  }

  /** Per-row checksum term, identical in SQL and in [[rowSum]]. */
  val RowSum: String =
    "pmod(cast(id as bigint) * 31 + cast(table_assignment_id as bigint) * 17 + " +
      "pmod(order_time, 1000003) + aggregate(pizzas, 0L, (a, x) -> a * 7 + x) + " +
      "pmod(_tx_id, 1000003), 1000000007)"

  def rowSum(e: Ev): Long =
    Math.floorMod(e.key.toLong * 31 + e.ta.toLong * 17 + Math.floorMod(e.time, 1000003L) +
      e.pizzas.foldLeft(0L)((a, x) => a * 7 + x) + Math.floorMod(e.tx, 1000003L), 1000000007L)

  /** The sink's contract in plain Scala: per key the highest version
    * wins (ties to the later event), and a winning delete removes it. */
  final class SinkOracle {
    private val state = mutable.HashMap.empty[Int, Ev]
    var sum = 0L
    def count: Long = state.size.toLong
    def image(key: Int): Option[Ev] = state.get(key)
    def apply(e: Ev): Unit = {
      val cur = state.get(e.key)
      if (cur.forall(_.tx <= e.tx)) {
        cur.foreach(c => sum -= rowSum(c))
        if (e.op == 'd') state.remove(e.key)
        else { state(e.key) = e; sum += rowSum(e) }
      }
    }
  }
}
