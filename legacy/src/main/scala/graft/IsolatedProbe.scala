package graft

import org.apache.spark.sql.SparkSession

/** Isolated single-query scale probe: times one registry query alone in
  * fresh SparkSessions across parallelism levels and sf directories —
  * the adjudication tool behind every "reprobed on a quiet box" number
  * in the scaladocs. Two timed runs per (cpus, dir) cell: run1 carries
  * JIT/classload warmup, run2 is the number to quote.
  *
  * Usage: runMain graft.IsolatedProbe <query> <cpus,cpus,...> <dir> [dir...]
  *
  * Separating thread-count from data-scale is what caught the
  * javax.sound provider-lock collapse (mm_audio_fingerprint sf1:
  * 18.0 s at local[32] vs 5.5 s at local[1] — negative scaling, i.e.
  * contention, not plan growth; flat after the [[ops.MultimodalOps]]
  * codec hoist).
  */
object IsolatedProbe {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"PROBE $label ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  def session(cpus: String): SparkSession = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("isolated-probe")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val q = args(0)
    val cpusList = args(1)
    val dirs = args.drop(2)
    for (cpus <- cpusList.split(",")) {
      val s = session(cpus)
      for (d <- dirs) {
        time(s"$q cpus=$cpus dir=$d run1") {
          LegacyEntry.queries(q)(s, d).write.format("noop").mode("overwrite").save()
        }
        time(s"$q cpus=$cpus dir=$d run2") {
          LegacyEntry.queries(q)(s, d).write.format("noop").mode("overwrite").save()
        }
      }
      s.stop()
    }
  }
}
