package graft

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for registry queries to files — the
  * optimization round's before/after plan evidence (plans/r13/). One
  * session, one file per key.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <key1,key2,...|ALL> [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val keys: Seq[String] =
      if (args(2) == "ALL") LegacyEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("plan-dump")
      .config("spark.sql.shuffle.partitions", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (k <- keys) {
      try {
        val df = LegacyEntry.queries(k)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${k}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"PLAN $k ok (${txt.length} chars)")
      } catch { case e: Throwable =>
        println(s"PLAN $k FAILED: $e")
      }
    }
    spark.stop()
  }
}
