package pizzabench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val rate: Int, val tracer: Tracer, val counters: SparkCounters,
    val progress: ProgressLog, val workDir: String, deadlineNs: Long) {
  val cores: Int = spark.sparkContext.defaultParallelism
  /** Hard wall budget: loops stop and the run reports when it is past. */
  def pastBudget: Boolean = System.nanoTime() > deadlineNs
}

/** Outcome of one run: ops attempted/failed, the end-to-end samples and
  * the per-layer metrics. An op that throws or disagrees with the oracle
  * is a failed op; the run still reports every metric. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var setupS = 0.0
  /** End-to-end latency samples, ms. Batch: one per hourly job.
    * Stream: one per open-loop order, its due time to readable. */
  var latencyMs: Array[Double] = Array.empty
  /** Orders per second of saturated work. */
  var throughput = 0.0
  /** Timed jobs or micro-batches. */
  var ops = 0
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def fail(msg: String): Unit = synchronized {
    failed += 1
    if (failures.size < 20) failures += msg
  }

  /** Run one op: counted as attempted; an exception is a failed op. */
  def op[T](what: String)(body: => T): Option[T] = {
    synchronized(attempted += 1)
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        None
    }
  }

  /** Record an oracle comparison as one op. */
  def check(what: String, ok: Boolean, detail: => String): Unit = {
    synchronized(attempted += 1)
    if (!ok) fail(s"$what: $detail")
  }
}

trait Workload {
  /** Generate inputs, load them and warm up. Called several times; each
    * call replaces the previous call's state and the last one is used. */
  def setup(): Unit
  /** The timed phase, then the output checks. */
  def measure(r: Report): Unit
}

object Main {

  val Workloads = Seq("hourly_batch_etl", "temporal_join_stream")
  val SetupReps = 2

  /** name -> unit of every end-to-end metric, in report order. */
  val EndToEnd = Seq("setup_s" -> "s", "latency_mean_ms" -> "ms")

  /** name -> unit of every per-layer metric; a layer a workload does not
    * exercise reports 0. "/op" is per timed job or micro-batch. */
  val PerLayer = Seq(
    "tables.open_ms" -> "ms/op", "tables.scan_ms" -> "ms/op",
    "tables.rows_read_per_row_out" -> "ratio", "tables.bytes_read" -> "bytes/op",
    "scenarios.plan_ms" -> "ms/op", "scenarios.exec_ms" -> "ms/op",
    "scenarios.explode_rows" -> "rows/op", "spark.shuffle_write_bytes" -> "bytes/op",
    "debezium.decode_ms" -> "ms/batch", "debezium.decode_eps" -> "1/s",
    "upsert.merge_ms" -> "ms/batch", "upsert.merge_max_ms" -> "ms",
    "upsert.buckets_rewritten" -> "count/batch", "upsert.bytes_written_per_event" -> "bytes",
    "upsert.table_bytes_per_live_row" -> "bytes", "upsert.collapse_ratio" -> "ratio",
    "upsert.read_ms" -> "ms/read",
    "asof.batch_ms" -> "ms/op", "asof.state_rows" -> "count", "asof.state_bytes" -> "bytes",
    "asof.watermark_lag_ms" -> "ms", "asof.watermark_tie_lost" -> "count",
    "sink.foreach_batch_ms" -> "ms/op", "sink.merge_ms" -> "ms/op",
    "spark.tasks" -> "count/op", "spark.gc_ms" -> "ms/op", "spark.spill_bytes" -> "bytes/op",
    "spark.cpu_busy_frac" -> "ratio",
    "gen.late_ms_max" -> "ms", "gen.backlog_end" -> "count",
    "job.count" -> "count", "orders_per_s" -> "1/s", "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms",
    "latency_p99_ms" -> "ms",
    "jvm.peak_rss_mb" -> "MB",
    "trace.overhead_ms" -> "ms/op", "trace.spans" -> "count/op")

  private def usage(msg: String): Nothing = {
    System.err.println(s"pizzabench: $msg")
    System.err.println("usage: pizzabench.Main --workload NAME --seed N --seconds N " +
      "--trace 0|1 --rate N --work-dir DIR --out-dir DIR --budget-s N")
    sys.exit(2)
  }

  def session(workDir: String): SparkSession = {
    val k = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$k]").appName("pizzabench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    def num(k: String) = opt(k).toLongOption.getOrElse(usage(s"--$k must be a number"))
    val workload = opt("workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload $workload")
    val seed = num("seed")
    val seconds = num("seconds").toInt
    val trace = num("trace") == 1
    val rate = num("rate").toInt
    val workDir = opt("work-dir")
    val outDir = opt("out-dir")
    val budgetNs = num("budget-s") * 1000000000L
    if (seconds < 1 || rate < 1) usage("--seconds and --rate must be positive")

    val startNs = System.nanoTime()
    val jvmUpMs = ManagementFactory.getRuntimeMXBean.getUptime
    Files.createDirectories(Paths.get(workDir))
    val spark = session(workDir)
    val (counters, progress) = Probes.attach(spark)
    val tracer = new Tracer(trace)
    val ctx = new Ctx(spark, seed, seconds, rate, tracer, counters, progress, workDir,
      startNs + budgetNs)
    val sessionS = jvmUpMs / 1000.0 + (System.nanoTime() - startNs) / 1e9

    val report = new Report
    val wl: Workload = workload match {
      case "hourly_batch_etl" => new BatchWorkload(ctx)
      case "temporal_join_stream" => new TemporalWorkload(ctx)
    }
    val setups = (1 to SetupReps).flatMap { rep =>
      val t0 = System.nanoTime()
      report.op(s"setup $rep")(wl.setup()).map(_ => (System.nanoTime() - t0) / 1e9)
    }
    report.setupS = sessionS + Stats.median(setups)
    tracer.reset()
    if (setups.size == SetupReps) report.op("measure")(wl.measure(report))

    val measuredS = (System.nanoTime() - startNs) / 1e9
    System.err.println(f"pizzabench: setup reps ${setups.map(x => f"$x%.2f").mkString(" ")} s, " +
      f"session $sessionS%.2f s, set-up + measure + checks $measuredS%.2f s")
    report.layer("jvm.peak_rss_mb") = Probes.peakRssMb()
    val ops = math.max(1, report.ops)
    report.layer("job.count") = report.ops.toDouble
    report.layer("orders_per_s") = report.throughput
    report.layer("trace.overhead_ms") = tracer.overheadNs / 1e6 / ops
    report.layer("trace.spans") = tracer.spans.size.toDouble / ops

    // percentiles are reported only where enough samples lie beyond them
    val lat = report.latencyMs
    if (lat.isEmpty) report.fail("no latency measured")
    if (report.throughput <= 0) report.fail("no throughput measured")
    val pcts = Seq(0.5 -> "latency_p50_ms", 0.9 -> "latency_p90_ms", 0.99 -> "latency_p99_ms")
      .map { case (p, n) => n -> Stats.percentile(lat, p) }
    pcts.foreach { case (n, v) => v.foreach(report.layer(n) = _) }
    val e2e = Map("setup_s" -> report.setupS, "latency_mean_ms" -> Stats.mean(lat))

    // human-readable report, then the one-line JSON result
    println(s"workload $workload seed $seed seconds $seconds trace ${if (trace) 1 else 0} " +
      s"cores ${ctx.cores} rate $rate")
    EndToEnd.foreach { case (n, u) => println(f"e2e $n%-28s ${e2e(n)}%14.4f $u") }
    println(f"e2e ${"latency_samples"}%-28s ${lat.length}%14d count")
    pcts.foreach { case (n, v) =>
      println(f"e2e $n%-28s ${v.fold("n/a (too few samples)")(x => f"$x%.4f")}%14s ms")
    }
    println(f"e2e ${"failed_frac"}%-28s ${report.failed.toDouble / math.max(1, report.attempted)}%14.4f ratio")
    PerLayer.foreach { case (n, u) => println(f"layer $n%-30s ${report.layer.getOrElse(n, 0.0)}%16.4f $u") }
    if (trace) {
      val spans = tracer.spans
      Spans.totals(spans).foreach(t => println(f"span ${t.name}%-28s n=${t.count}%6d " +
        f"total_ms=${t.totalNs / 1e6}%12.3f self_ms=${t.selfNs / 1e6}%12.3f"))
      val f = Paths.get(outDir, s"spans-$workload-$seed.jsonl")
      Files.createDirectories(f.getParent)
      Files.write(f, spans.map(s => s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      println(s"spans written to $f")
    }
    report.failures.foreach(m => System.err.println(s"pizzabench: failed op: $m"))

    val metrics =
      if (trace) PerLayer.map { case (n, u) => (n, report.layer.getOrElse(n, 0.0), u) }
      else EndToEnd.map { case (n, u) => (n, e2e(n), u) }
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${report.failed == 0}, "attempted": ${math.max(1, report.attempted)}, """ +
      s""""failed": ${report.failed}, "metrics": {$body}}""")
    System.out.flush()
    scala.util.Try(spark.stop())
    sys.exit(0)
  }
}
