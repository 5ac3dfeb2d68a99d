package graft

import org.apache.spark.sql.functions._

/** Skew-handling pins for the two mechanisms the 100 TB design relies
  * on: AQE's runtime skew-join split (the default path — verify it
  * actually fires in this engine's config), and explicit two-phase
  * salting (the fallback when a single key is hot inside an
  * aggregation, where AQE cannot split by key). */
class SkewSpec extends SparkSpec {

  test("AQE splits a skewed join partition at runtime") {
    val restore = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // production defaults need multi-GB partitions to trigger; scale the
      // thresholds down so the same MECHANISM fires on test-sized data
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // one mega-key (5/6 of the fact table) + a uniform tail
      val fact = spark.range(60000)
        .selectExpr("CASE WHEN id < 50000 THEN 0 ELSE id % 10000 END AS k", "id AS v")
      val dim = spark.range(10000).selectExpr("id AS k", "id * 2 AS w")
      val j = fact.join(dim, "k")
      assert(j.collect().length == 60000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew split did not fire:\n$plan")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted two-phase aggregation == direct aggregation on a hot key") {
    // AQE cannot split a hot KEY inside an aggregation (all rows of a key
    // must meet). The salting pattern bounds per-task state instead:
    // phase 1 aggregates (k, salt) — the hot key's rows spread over
    // nSalts tasks — phase 2 merges the nSalts partials per key. For
    // algebraic aggregates the two forms are exactly equal.
    val nSalts = 16
    val df = spark.range(100000)
      .selectExpr("CASE WHEN id % 10 < 9 THEN 0 ELSE 1 + id % 97 END AS k", "id AS v")
    val direct = df.groupBy("k")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val salted = df
      .withColumn("salt", pmod(col("v"), lit(nSalts)))
      .groupBy("k", "salt")
      .agg(sum("v").as("ps"), count(lit(1)).as("pn"))
      .groupBy("k")
      .agg(sum("ps").as("s"), sum("pn").as("n"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(salted == direct)
    assert(direct(0L)._2 == 90000L) // the hot key really was hot
  }
}
