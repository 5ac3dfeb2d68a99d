package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Physical-plan pins for the scale-critical shapes PLANS.md documents —
  * so a regression that silently reintroduces a full-table shuffle or
  * un-pushes a filter fails CI, not a 100 TB run. Plans are inspected
  * AFTER execution (AQE final plan). */
class PlanSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("scans prune: filter and projection reach the parquet reader") {
    val plan = finalPlan(graft.ops.RefOps.queries("src_jdbc_scan")(spark, d))
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"), plan)
    // 3-column projection, not the full lineitem schema
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"), plan)
  }

  test("hourly jobs q01/q02: hour bounds reach the orders scan below the explode; dims broadcast") {
    import java.sql.Timestamp
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import graft.model.Pizzeria.PizzeriaTables
    import graft.queries.Scenarios
    object walk extends AdaptiveSparkPlanHelper
    val dir = java.nio.file.Files.createTempDirectory("hourly_plan").toString
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    Seq((0, "margherita", 8.0), (1, "diavola", 9.5)).toDF("id", "name", "price")
      .write.parquet(s"$dir/pizzas.parquet")
    Seq((0, "t0", 4), (1, "t1", 2)).toDF("id", "name", "seats").write.parquet(s"$dir/tables.parquet")
    Seq((0, "ann"), (1, "bob")).toDF("id", "name").write.parquet(s"$dir/clients.parquet")
    Seq((0, 0, 0), (1, 1, 1)).toDF("id", "client_id", "table_id")
      .write.parquet(s"$dir/assignments.parquet")
    (0 until 48).map(i => (i, i % 2, new Timestamp(base + i * 30 * 60 * 1000L), Seq(i % 2, 0, 0)))
      .toDF("id", "table_assignment_id", "order_time", "pizzas")
      .write.parquet(s"$dir/orders.parquet")
    val t = PizzeriaTables(
      tables = Tables.table(spark, dir, "tables"), pizzas = Tables.table(spark, dir, "pizzas"),
      clients = Tables.table(spark, dir, "clients"),
      assignments = Tables.table(spark, dir, "assignments"),
      orders = Tables.table(spark, dir, "orders"))
    val eval = lit(new Timestamp(base + 5 * 3600 * 1000L + 1))
    for ((name, q) <- Seq("q01" -> Scenarios.q01BasicJoin(t, eval),
        "q02" -> Scenarios.q02ViewFilter(t, eval))) {
      val n = q.collect().length
      assert(n == 2, s"$name: the hour (05:00, 06:00] holds two orders, got $n")
      val plan = q.queryExecution.executedPlan
      val ordersScan = walk.collect(plan) {
        case s: FileSourceScanExec if s.relation.location.rootPaths.exists(
          _.getName == "orders.parquet") => s
      }
      assert(ordersScan.size == 1, s"$name: one orders scan\n$plan")
      val pushed = ordersScan.head.metadata("PushedFilters")
      assert(pushed.contains("GreaterThan(order_time,") &&
        pushed.contains("LessThanOrEqual(order_time,"), s"$name: $pushed")
      val generates = walk.collect(plan) { case g: GenerateExec => g }
      assert(generates.size == 1, s"$name: one explode\n$plan")
      val hourFilter = walk.collect(generates.head) {
        case f: FilterExec if f.condition.references.exists(_.name == "order_time") => f
      }
      assert(hourFilter.nonEmpty, s"$name: the hour filter must sit below the explode\n$plan")
      assert(walk.collect(plan) { case j: BroadcastHashJoinExec => j }.size == 4, s"$name\n$plan")
      assert(walk.collect(plan) { case j: SortMergeJoinExec => j }.isEmpty, s"$name\n$plan")
    }
  }

  test("join_inner_equi: dims broadcast; one partial-agg exchange on the group keys") {
    val plan = finalPlan(graft.ops.RefOps.queries("join_inner_equi")(spark, d))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 4, plan)
    assert(plan.contains("partial_sum"), plan) // map-side combine before the shuffle
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("two-phase top-k: partition-local selection feeds the rank window") {
    val df = graft.ops.SimOps.queries("sim_brute_topk")(spark, d)
    val plan = finalPlan(df)
    // the q_id exchange must consume the bounded MapPartitions survivors,
    // not the full scored set
    assert(plan.contains("MapPartitions"), plan)
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning(q_id")
    val mapIdx = plan.indexOf("MapPartitions")
    assert(exchangeIdx >= 0 && mapIdx > exchangeIdx,
      s"partition-local top-k should sit below the q_id exchange:\n$plan")
  }

  test("two-phase top-k output == the naive full-window form (lossless)") {
    graft.expressions.VectorExpressions.register(spark)
    val emb = graft.LegacyTables.embeddings(spark, d)
    val q = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        sqrt(expr("float_dot(embedding, embedding)")).as("q_nrm"))
    val naive = emb
      .select(col("vec_id"), col("embedding"),
        sqrt(expr("float_dot(embedding, embedding)")).as("c_nrm"))
      .join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        expr("float_dot(q_emb, embedding)") / (col("q_nrm") * col("c_nrm")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))))
      .where(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("q_id", "rank")
      .collect().toSeq
    val twoPhase = graft.ops.SimOps.queries("sim_brute_topk")(spark, d)
      .collect().toSeq
    assert(twoPhase == naive)
  }

  test("ivf closure assignment collapses map-side (partial min before the exchange)") {
    val plan = finalPlan(graft.ops.SimOps.queries("sim_ivf_topk")(spark, d))
    // per-vector nearest-centroid distance is a partial aggregate (the
    // ×NCentroids candidate blowup never crosses the wire)...
    assert(plan.contains("partial_min("), plan)
    // ...and the closure candidate set dedups pairs before rejoining the
    // embeddings (no scored duplicates from multi-assigned vectors)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("bucketed tables co-locate the fact join: no exchange, no broadcast") {
    // The 100 TB pattern for repeated fact-fact joins (orders ⋈ lineitem
    // every batch): persist both sides bucketed+sorted on the join key
    // and the join runs zip-partition-wise — no shuffle of either side.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // repartition on the bucket key first → exactly one file per bucket,
      // the layout Spark requires before it trusts the sortBy metadata
      // (multi-file buckets force a merge re-sort at read time)
      graft.Tables.lineitem(spark, d).repartition(8, col("l_orderkey"))
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_bucketed")
      graft.Tables.orders(spark, d).repartition(8, col("o_orderkey"))
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_bucketed")
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_quantity", "o_orderstatus")
      val plan = finalPlan(joined)
      assert(plan.contains("SortMergeJoin"), plan)
      // THE scale property: both scans feed the SMJ directly — zero
      // Exchange nodes, so neither fact table crosses the network. (A
      // partition-local Sort remains: Spark 4 only trusts sortBy
      // metadata under narrow conditions — that sort is per-bucket and
      // spill-bounded, not a shuffle.)
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("SelectedBucketsCount: 8 out of 8"), plan)
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("scan-local text/sampling ops: no shuffle except the output sort") {
    // text_repetition and sample_stratified claim pure scan+map shape —
    // the only Exchange allowed is the rangepartitioning for the final
    // deterministic ORDER BY (which exists solely for the oracle gate).
    for (name <- Seq("text_repetition", "sample_stratified", "text_entropy")) {
      val plan = finalPlan(LegacyEntry.queries(name)(spark, d))
      val exchanges = "Exchange \\w+".r.findAllIn(plan).toSeq
      assert(exchanges.forall(_.contains("rangepartitioning")),
        s"$name must not shuffle before the output sort:\n$plan")
    }
  }

  test("sample_temperature: rates broadcast back; only the tiny source agg shuffles") {
    val plan = finalPlan(graft.ops.PipelineOps.queries("sample_temperature")(spark, d))
    // the membership join must be broadcast (documents never shuffle for
    // it), and the only hash exchanges allowed are the per-source count
    // agg — partial-aggregated map-side, so |sources| rows move, never docs
    assert(plan.contains("BroadcastHashJoin"), plan)
    val exchanges = "Exchange \\w+partitioning\\(\\w*".r.findAllIn(plan).toSeq
    assert(exchanges.forall(e =>
      e.contains("rangepartitioning") || e.contains("hashpartitioning(source")),
      s"documents must not hash-shuffle for the membership join:\n$plan")
    assert(plan.contains("partial_count"), plan)
  }

  test("agg_hop_count: dual window assignment is map-side (one partial-agg exchange)") {
    val plan = finalPlan(graft.ops.RefOps.queries("agg_hop_count")(spark, d))
    // both window assignments must land in the partial aggregate below
    // the one hash exchange — the shuffle carries (type, window)
    // partials, never 2× the event rows. Count in the final section
    // only: the AQE toString repeats the plan under "== Initial Plan =="
    val fin = plan.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(fin).length
    assert(exchanges == 1, s"hop must shuffle once, on window partials:\n$plan")
    assert(fin.indexOf("partial_count") > fin.indexOf("Exchange hashpartitioning"), plan)
    assert(fin.contains("Expand"), plan) // the dual assignment operator itself
  }

  test("agg_cumulate_count: the explode sits above the step aggregate, never on events") {
    val plan = finalPlan(graft.ops.RefOps.queries("agg_cumulate_count")(spark, d))
    // the cumulate expansion (Generate) must consume the tiny finalized
    // (type, step) frame — i.e. appear ABOVE the step aggregate's
    // partial/final pair — or the explode multiplies the event stream
    val gen = plan.indexOf("Generate explode")
    val partial = plan.indexOf("partial_count")
    assert(gen >= 0 && partial > gen,
      s"explode must run on the aggregated step frame, not the events:\n$plan")
  }

  test("events_retention: activity collapses to distinct (user, day) BEFORE the cohort join") {
    val plan = finalPlan(graft.ops.RefOps.queries("events_retention")(spark, d))
    // the distinct must partial-aggregate below its exchange so the join
    // input is |users|·|days|, never |events| — the no-power-user-skew claim
    val firstJoin = plan.indexOf("Join")
    val distinctAgg = plan.indexOf("HashAggregate(keys=[user_id")
    assert(firstJoin >= 0 && distinctAgg > firstJoin,
      s"distinct (user, day) must sit below the cohort join:\n$plan")
    assert(plan.contains("partial_count"), plan) // final (cohort, offset) combine
    // both scans pruned to the two referenced columns (ts's physical type
    // varies by harness vintage — nanos-long, timestamp_ntz, or UTC-flagged
    // timestamp; the pin is about PRUNING, not the type)
    assert("ReadSchema: struct<ts:(bigint|timestamp_ntz|timestamp),user_id:bigint>".r
      .findAllIn(plan).size >= 2, plan)
  }

  test("sim_pq_topk: ADC scoring is broadcast-joined, never a corpus-side shuffle") {
    val plan = finalPlan(graft.ops.SimOps.queries("sim_pq_topk")(spark, d))
    // the codes x LUT pairing has no equi-key (vec_id <> q_id), so the
    // correct shape is a broadcast NESTED-LOOP join with the 8-row
    // LUT on the broadcast side — a shuffle here would move the whole
    // code table per query batch
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    // the exact-rescore fetch broadcasts the R·|Q| shortlist against the
    // float table (point-lookup join), never the reverse
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    // both ranking stages ride the two-phase top-k (partition-local
    // selection below the q_id exchange)
    assert("MapPartitions".r.findAllIn(plan).size >= 2, plan)
  }

  test("sim_ivf_pq_topk: the ADC pairing is a q_id equi-join, never the corpus-wide nested loop") {
    val plan = finalPlan(graft.ops.SimOps.queries("sim_ivf_pq_topk")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    // the k-means ASSIGNMENT nested loops (corpus x tiny centroid
    // frame) are the standard index-build shape and stay; what must
    // NOT appear is sim_pq_topk's codes x LUT pairing BNLJ — in the
    // composed path the LUT attaches to the IVF pair set by a q_id
    // EQUI-join. That pairing BNLJ is recognizable by its vec_id<>q_id
    // condition: no nested loop here may mention q_id at all.
    assert("BroadcastNestedLoopJoin[^\\n]*q_id".r.findFirstIn(finalOnly).isEmpty,
      s"the ADC pairing must be an equi-join in the composed path:\n$plan")
    // broadcast sides: the probe-list frame, the LUT, the rescore
    // shortlist, and the qset fetch — never a corpus-sized side
    assert("BroadcastHashJoin".r.findAllIn(finalOnly).size >= 3, plan)
    // the final ranking rides the shared two-phase top-k
    assert(finalOnly.contains("MapPartitions"), plan)
  }

  test("sim_pq_topk vs composed: the pure-ADC scan IS the q_id nested loop (the pin's control)") {
    // the composed pin above keys on "no BNLJ mentioning q_id" — this
    // control proves the pure-ADC plan DOES carry that exact shape, so
    // the composed assertion can't pass vacuously after a plan change
    val plan = finalPlan(graft.ops.SimOps.queries("sim_pq_topk")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert("BroadcastNestedLoopJoin[^\\n]*q_id".r.findFirstIn(finalOnly).isDefined,
      s"pure ADC pairs codes x LUT with a vec_id<>q_id nested loop:\n$plan")
  }

  test("corpus_shard_assign_incremental: per-shard tails broadcast; no corpus-sized join") {
    val plan = finalPlan(
      graft.ops.PipelineOps.queries("corpus_shard_assign_incremental")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    // the standing layout's tail frame is |shards| rows and must reach
    // the append branch as a broadcast — a shuffled join here would
    // co-partition the whole ingest batch against 16 rows
    assert(finalOnly.contains("BroadcastHashJoin"), plan)
    assert(!finalOnly.contains("SortMergeJoin"),
      s"the 16-row tail join must broadcast, not sort-merge:\n$plan")
    // both layout windows partition by shard — the exchange a shard
    // writer needs anyway; nothing windows over an unpartitioned frame
    assert("Window \\[".r.findAllIn(finalOnly).nonEmpty, plan)
    assert(!finalOnly.contains("Window [,"),
      s"no unpartitioned window in the shard layout:\n$plan")
  }

  test("dedup_ngram_containment: both directions read the materialized pair frame, no recompute") {
    val plan = finalPlan(graft.ops.DedupOps.queries("dedup_ngram_containment")(spark, d))
    // the expensive shingle self-join must appear ONCE (checkpointed);
    // the two directed projections scan the materialized rows
    assert(!plan.contains("text_shingles"),
      s"directions must consume the checkpointed pairs, not recompute the index:\n$plan")
    assert("Scan ExistingRDD".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("Union"), plan)
  }

  test("simhash fingerprints are scan-local: no exchange before the output sort") {
    val plan = finalPlan(graft.ops.DedupOps.queries("dedup_simhash")(spark, d))
    val exchanges = "Exchange \\w+".r.findAllIn(plan).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"the one-pass fingerprint expression must not shuffle:\n$plan")
    assert(plan.contains("simhash_fp") || plan.contains("SimHashFingerprint"), plan)
  }

  test("dedup_substring: fingerprinting is in-row; hot-fp prune broadcasts; one fp-keyed pair join") {
    val plan = finalPlan(graft.ops.DedupOps.substringWinnow(spark, d))
    // the winnow selection must never explode raw positions into an
    // exchange: every hashpartitioning key is the content-derived fp (or
    // the pair group) — a plan shuffling on doc_id or position would be
    // the all-positions formulation this operator exists to avoid
    val hashParts = "hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(hashParts.nonEmpty && hashParts.forall(k => k.contains("fp") || k.contains("doc_id")),
      s"unexpected shuffle keys $hashParts in:\n$plan")
    // the df-cap prune is a broadcast left_anti, not a shuffled join
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
  }

  test("dedup_substring_spans: islands window partitions on doc_id; shared-fp filter is a semi join") {
    val plan = finalPlan(graft.ops.DedupOps.substringSpans(spark, d))
    // the gaps-and-islands pass must run per-document (uniform window
    // key), never as an unpartitioned global window
    assert(plan.contains("Window") && !plan.matches("(?s).*Window \\[[^\\]]*\\], \\[\\].*"),
      s"islands window must partition:\n$plan")
    assert("hashpartitioning\\(doc_id".r.findFirstIn(plan).isDefined, plan)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("dedup_semdedup: the codebook broadcasts; no cartesian pair stage") {
    val plan = finalPlan(graft.ops.SimOps.semDedup(spark, d))
    // the argmin assignment is a broadcast of the tiny codebook, and
    // the within-cluster pair join must key on c_id (or broadcast at
    // this SF) — a CartesianProduct would be the unbounded n² SemDeDup
    // exists to avoid
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sim_q8_topk scores integer dots under the bounded top-k shape") {
    val plan = finalPlan(graft.ops.SimOps.queries("sim_q8_topk")(spark, d))
    // broadcast queries (corpus never shuffles for the join) and the
    // partition-local selection below the q_id exchange, same as brute
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning(q_id")
    val mapIdx = plan.indexOf("MapPartitions")
    assert(exchangeIdx >= 0 && mapIdx > exchangeIdx,
      s"partition-local top-k should sit below the q_id exchange:\n$plan")
  }

  test("corpus_quantiles: the CDF window sees the histogram, never document rows") {
    val plan = finalPlan(graft.ops.PipelineOps.queries("corpus_quantiles")(spark, d))
    // the single-partition exchange the running CDF needs must sit ABOVE
    // the histogram aggregate (domain-bounded rows), with the corpus
    // collapsed map-side first — and the scan reads only n_chars
    val single = plan.indexOf("Exchange SinglePartition")
    val partial = plan.indexOf("partial_count")
    assert(single >= 0 && partial > single,
      s"histogram partial agg must sit below the single-partition CDF exchange:\n$plan")
    assert(plan.contains("ReadSchema: struct<n_chars:bigint>"), plan)
  }

  test("vocab_bpe_pairs: two-phase top-k over the pair aggregate; text-only scan") {
    val plan = finalPlan(graft.ops.PipelineOps.queries("vocab_bpe_pairs")(spark, d))
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-k must be per-partition heaps + driver merge, not a global sort:\n$plan")
    assert(plan.contains("ReadSchema: struct<text:string>"), plan)
  }

  test("dedup_embedding_incremental: the batch-parity filter cuts candidates before the join-back") {
    val plan = finalPlan(graft.ops.DedupOps.queries("dedup_embedding_incremental")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    // Catalyst folds the odd-parity candidate cut INTO the bucket join
    // condition — corpus-corpus pairs are rejected inside the join,
    // before the distinct or the embeddings join-back ever see a row.
    // That folded predicate is the "per-batch cost ∝ batch" claim.
    assert("""Join \[t#\d+, bucket#\d+\][^\n]*% 2\) = 1\) OR \(\(vec_id#\d+L % 2\) = 1""".r
      .findFirstIn(finalOnly).isDefined,
      s"the parity cut must ride inside the bucket join condition:\n$plan")
  }

  test("runtime bloom-filter join pruning fires on a selective fact join (the 100 TB SMJ lever)") {
    // When neither side broadcasts, Catalyst can inject a bloom filter
    // built from the selective side's join keys into the big side's scan
    // — shuffled bytes drop by the filter's selectivity. At real scale
    // the default thresholds (10 GB application-side scan) pass
    // naturally; here they are lowered to prove the injection and its
    // shape on this engine version, so the deployment knobs in PLANS.md
    // are measured, not assumed.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet(s"$d/lineitem.parquet")
      val ord = spark.read.parquet(s"$d/orders.parquet").filter("o_totalprice > 400000")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderstatus").count()
      val plan = finalPlan(j)
      assert(plan.contains("bloom_filter_agg"),
        s"the selective side must build a bloom filter:\n$plan")
      assert(plan.contains("might_contain"),
        s"the big side's scan must apply the bloom filter:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("join_bloom_prefilter: dim filter pushed, bloom words broadcast, fact pruned map-side") {
    val plan = finalPlan(graft.ops.SketchOps.queries("join_bloom_prefilter")(spark, d))
    // the dim predicate reaches the orders scan (both the filter build
    // and the final join read only the selective slice)
    assert(plan.contains("EqualTo(o_orderpriority,1-URGENT)"), plan)
    // word-table probe + pass-key prune are broadcast joins — the fact
    // side never shuffles to discover what the filter already knows
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("events attribution/paths: one user_id window pass feeding a tiny-key aggregate") {
    for (name <- Seq("events_attribution", "events_path_topk")) {
      val plan = finalPlan(graft.ops.RefOps.queries(name)(spark, d))
      // exactly one user_id exchange for the window; the channel/path
      // rollup partial-aggregates map-side above it. Count only the AQE
      // final section — toString repeats the shapes under "Initial Plan".
      val finalOnly = plan.split("== Initial Plan ==").head
      assert("Exchange hashpartitioning\\(user_id".r.findAllIn(finalOnly).size == 1,
        s"$name must shuffle event data once (the window pass):\n$plan")
      assert(finalOnly.contains("partial_count"), plan)
    }
  }

  test("text_unigram_nll: aggregated probe frame, broadcast model, no cartesian beyond totals") {
    // the scan/pre-aggregate shape lives on the BUILD plan of the
    // materialized fact frame (the registered query localCheckpoints
    // it — r11): hot tokens collapse per-document map-side before the
    // (doc_id, tok) exchange, reading only (doc_id, text)
    val build = finalPlan(graft.ops.TextOps.ugDocTok(spark, d))
    assert(build.contains("partial_count"), build)
    assert("hashpartitioning\\(doc_id#\\d+L?, tok#\\d+".r.findFirstIn(build).isDefined,
      s"probe side must be the (doc_id, tok) aggregate, not raw occurrences:\n$build")
    assert(build.contains("ReadSchema: struct<doc_id:bigint,text:string>"), build)
    // the scoring plan: vocab model BROADCASTS into the fact frame
    // (the ship-the-LM posture — a shuffle join on tok would put every
    // document's "the" row on one reducer), only the 1-row totals
    // frame nested-loops, and the fact never sort-merges
    val plan = finalPlan(graft.ops.TextOps.queries("text_unigram_nll")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("BroadcastHashJoin"),
      s"the vocab model must broadcast:\n$plan")
    assert(!finalOnly.contains("SortMergeJoin"),
      s"the fact frame must not sort-merge against the model:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(finalOnly).size <= 1, plan)
  }

  test("text_bigram_nll: shingle-fed transition pre-aggregate; model broadcasts; fact never sort-merges") {
    // build plan of the materialized transition frame (the registered
    // query localCheckpoints it — r11): the (doc_id, bigram)
    // pre-aggregate collapses hot transitions ("of the") per document
    // map-side before any exchange — the unigram Zipf lesson applied
    // to pairs, with the pair key the NATIVE text_shingles_all 2-gram
    // string (the interpreted transform/lambda form is banned here),
    // split to (wp, wc) only after the aggregate
    val build = finalPlan(graft.ops.TextOps.bgDocTrans(spark, d))
    assert(build.contains("partial_count"), build)
    assert("hashpartitioning\\(doc_id#\\d+L?, bg#\\d+".r.findFirstIn(build).isDefined,
      s"probe side must be the (doc_id, bigram) aggregate, not raw transitions:\n$build")
    assert(build.contains("text_shingles"),
      s"transitions must come from the native shingle expression:\n$build")
    assert(build.contains("ReadSchema: struct<doc_id:bigint,text:string>"), build)
    // scoring plan: the df-capped model and the vocab floor both
    // BROADCAST into the fact frame (the CCNet ship-the-pruned-LM
    // posture) — the fact side must never pay a sort-merge exchange
    val plan = finalPlan(graft.ops.TextOps.queries("text_bigram_nll")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("BroadcastHashJoin") && finalOnly.contains("LeftOuter"),
      s"the pruned model must broadcast into a LeftOuter join:\n$plan")
    assert(!finalOnly.contains("SortMergeJoin"),
      s"the fact frame must not sort-merge against the model:\n$plan")
    // the 1-row totals frame is the only nested-loop shape — once
    // under the model mixture, once under the vocab floor
    assert("BroadcastNestedLoopJoin".r.findAllIn(finalOnly).size <= 2, plan)
  }

  test("vocab_bpe_train: the word-frequency cap is a two-phase top-k, text-only scan") {
    // the train loop's ONLY corpus-touching job; everything after runs
    // on the checkpointed vocabulary frame
    val wf = graft.Tables.documents(spark, d)
      .select(explode(split(graft.functions.LegacyFunctions.normalizeText(col("text")), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(1 << 18)
    val plan = finalPlan(wf)
    assert(plan.contains("TakeOrderedAndProject"),
      s"the vocab cap must be per-partition heaps + driver merge, not a global sort:\n$plan")
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("ReadSchema: struct<text:string>"), plan)
  }

  test("corpus_source_cap: the cap is enforced map-side (partial WindowGroupLimit below the source exchange)") {
    val plan = finalPlan(graft.ops.PipelineOps.queries("corpus_source_cap")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    // each map task forwards at most CAP rows per source BEFORE the
    // shuffle — a genuinely hot source (the thing the cap exists to
    // truncate) costs its partition count × cap rows in the exchange,
    // never its full row count
    val wglIdx = finalOnly.indexOf("WindowGroupLimit")
    val exIdx = finalOnly.indexOf("Exchange hashpartitioning(source")
    assert(finalOnly.contains("row_number(), 20, Partial"),
      s"the partial window-group limit must bound the exchange input:\n$plan")
    assert(wglIdx >= 0 && exIdx >= 0, plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string>"), plan)
  }

  test("text_bm25_topk: query-term model broadcasts into the term frame; two-phase top-k; text-only scan") {
    val plan = finalPlan(graft.ops.RetrievalOps.queries("text_bm25_topk")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    // the corpus-wide (doc_id, tok, tf) frame is probed by a BROADCAST of
    // the query-batch-sized df-capped model — the trigram key is never a
    // shuffle key for the probe (the Zipf-skew posture of the family)
    assert(finalOnly.contains("BroadcastHashJoin"), plan)
    // partition-local selection feeds the q_id rank window, so the window
    // sees the bounded survivor set no matter how many candidates the cap
    // admits (the sim-family two-phase top-k)
    assert(finalOnly.contains("MapPartitions"), plan)
    val exchangeIdx = finalOnly.indexOf("Exchange hashpartitioning(q_id")
    val mapIdx = finalOnly.indexOf("MapPartitions")
    assert(exchangeIdx >= 0 && mapIdx > exchangeIdx,
      s"partition-local top-k should sit below the q_id exchange:\n$plan")
    // term aggregation partial-aggregates map-side before its exchange
    assert(finalOnly.contains("partial_count"), plan)
    // the posting frame is checkpointed once (r13: the tokenize Generate
    // fed every exchange key), so the text-only scan pin targets the
    // feeding frame itself — the qcFeatureRows pin convention
    val dtPlan = finalPlan(graft.ops.RetrievalOps.docToks(spark, d))
    assert(dtPlan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), dtPlan)
  }

  test("text_tfidf_topterms: hot-phrase prune is a broadcast anti join; keyword window partitions per doc") {
    val plan = finalPlan(graft.ops.RetrievalOps.queries("text_tfidf_topterms")(spark, d))
    // boilerplate terms leave the frame via a broadcast left_anti BEFORE
    // the vocabulary-model join — they never enter its exchange. Asserted
    // on the INITIAL plan section: at verify scale the hot frame is empty
    // (no trigram reaches the cap) and AQE's empty-relation propagation
    // correctly deletes the anti join from the final plan at runtime —
    // the pin is that the shape is DECLARED; its runtime elision on an
    // empty stop list is the bonus, not a regression
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("LeftAnti"), plan)
    // the rank window's only partition key is doc_id (per-doc state, no
    // global window). Scan pin targets the checkpointed feeding frame
    // (r13, see the bm25 pin)
    val dtPlan = finalPlan(graft.ops.RetrievalOps.docToks(spark, d))
    assert(dtPlan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), dtPlan)
  }

  test("corpus_drift: the head is a map-side top-k; the divergence fold consumes head ∪ OOV, never the corpus vocabulary") {
    val plan = finalPlan(graft.ops.PipelineOps.queries("corpus_drift")(spark, d))
    // the capped head arrives via TakeOrderedAndProject (map-side partial
    // top-k) — the round-7 weak shape (corpus-wide collect_list in one
    // unpartitioned aggregate) had no such node and no Union above it
    assert(plan.contains("TakeOrderedAndProject(limit=24"), plan)
    val unionIdx = plan.indexOf("Union")
    val foldIdx = plan.indexOf("collect_list")
    assert(unionIdx >= 0, s"head ∪ OOV union missing:\n$plan")
    assert(foldIdx >= 0 && foldIdx < unionIdx,
      s"the sorted fold must consume the capped union (fold above, union below):\n$plan")
  }

  test("quality classifier feature extraction: the corpus scan reads only doc_id and text") {
    // the train/apply plans read from the checkpointed feature frame, so
    // the scan pin must target the feature-extraction frame itself:
    // feature rows need two columns and the other document fields must
    // be pruned out of the scan (at 100 TB the scan IS the cost)
    val plan = finalPlan(graft.ops.ClassifierOps.qcFeatureRows(
      graft.Tables.documents(spark, d)))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), plan)
  }

  test("corpus_curate_model: the cap stage keeps the map-side partial WindowGroupLimit") {
    val plan = finalPlan(graft.ops.ClassifierOps.queries("corpus_curate_model")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    // composing the classifier filter + dedup upstream must not cost
    // the cap stage its pre-shuffle bound
    assert(finalOnly.contains("row_number(), 20, Partial"),
      s"the partial window-group limit must bound the source exchange input:\n$plan")
  }

  test("media near-dup pairs: pigeonhole equi-join with exact bit_count check, no pairwise nested loop") {
    for (name <- Seq("mm_image_neardup_pairs", "mm_audio_neardup_pairs",
        "mm_video_neardup_pairs")) {
      val plan = finalPlan(graft.ops.MultimodalOps.queries(name)(spark, d))
      // candidates come from the block-key equi-join; a nested loop over
      // the fingerprint table would be the |rows|² regression
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
      assert(plan.contains("bit_count"), s"$name:\n$plan")
    }
  }

  test("dedup_bloom: the probe reads the BROADCAST word table, never a shuffle of the probe stream") {
    val plan = finalPlan(graft.ops.SketchOps.queries("dedup_bloom")(spark, d))
    // the standing filter (<= m/32 words, bounded by the 2^26 clamp)
    // ships to the probes; a sort-merge join here would shuffle k rows
    // per PROBED document — the anti-join the bloom exists to replace
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("text_ngram_cms_topk: cells broadcast to the gram probe; the cut is TakeOrderedAndProject") {
    val plan = finalPlan(graft.ops.SketchOps.queries("text_ngram_cms_topk")(spark, d))
    // cell counts partial-aggregate map-side (at most d*w rows per task
    // regardless of vocabulary — the sketch's whole point). r13: cells
    // sum per-DISTINCT-gram df weights instead of counting occurrences
    // (arithmetic-identical), so the map-side partial is a partial_sum;
    // the occurrence count itself lives behind the checkpointed gram
    // frame
    assert(plan.contains("partial_sum"), plan)
    // the d*w-bounded sketch joins broadcast; the gram frame never shuffles for it
    assert(plan.contains("BroadcastHashJoin"), plan)
    // fixed-K cut = per-partition heaps, never a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("sim_binary_topk: code table scans against broadcast query bits; no cartesian anywhere") {
    val plan = finalPlan(graft.ops.SimOps.queries("sim_binary_topk")(spark, d))
    // stage 1 is a scan of the 8 B/row code table against the 8
    // broadcast query rows; stage 2 rescores the shortlist — neither
    // may degenerate into a corpus-wide nested loop
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("bit_count"), plan)
  }

  test("k-means codebook cap: the family's one driver collect stays bounded at MaxCentroids") {
    // the cap is the driver-surface bound of the whole k-means/IVF/PQ
    // family (MaxCentroids scaladoc: per-Lloyd-round collect+broadcast
    // is k x dim floats; past the cap a deployment shards instead of
    // raising it) - a silent raise must fail here, not on a cluster
    assert(graft.ops.SimOps.MaxCentroids == 256)
    assert(graft.ops.SimOps.nCentroids(500L) == 16, "verify-SF floor")
    assert(graft.ops.SimOps.nCentroids(1_000_000_000L) == 256, "capped at any corpus size")
    assert(graft.ops.SimOps.pqKsub(1_000_000_000L) == 256, "PQ codebook shares the cap")
  }

  test("two-level IVF: driver surface stays MaxCentroids while lists keep growing sqrt-style") {
    import graft.ops.SimOps.{nLists2, nCoarse2, nFine2, MaxLists2}
    // the post-262k-vector regime the single-level cap degrades in: the
    // two-level layout must keep L ~ sqrt(n/4) there with BOTH codebook
    // dimensions inside the driver-safe cap
    assert(MaxLists2 == 256 * 256)
    assert(nLists2(500L) == 16, "verify-SF floor (same as the flat rule)")
    val n9 = 1_000_000_000L
    val l9 = nLists2(n9)
    assert(l9 > 15_000 && l9 <= 16_000, s"sqrt(n/4) rule at 1e9: $l9")
    val k1 = nCoarse2(l9)
    assert(k1 <= 256, "coarse codebook (the ONLY collect) stays broadcastable")
    assert(k1.toLong * nFine2(l9, k1) >= l9, "k1*k2 covers the list target")
    // past n ~ 1.7e10 the grid caps at 65 536 — four decades beyond the
    // single-level knee, and a third level composes the same way
    assert(nLists2(100_000_000_000L) == MaxLists2)
    // verify-SF grid: 4x4 — the shape the oracle CTEs replay
    assert(nCoarse2(16) == 4 && nFine2(16, 4) == 4)
  }

  test("corpus_dsir_buckets build: hot buckets collapse map-side, scan reads only (doc_id, lang, text)") {
    // the scan/pre-aggregate shape lives on the BUILD plan of the
    // materialized bucket frame (docWeights localCheckpoints it — r12,
    // the NLL materialization lesson applied to the DSIR family: five
    // un-shared consumers re-ran the tokenize+hash corpus pass)
    val build = finalPlan(graft.ops.SelectOps.docBuckets(spark, d))
    assert(build.contains("partial_count"), build)
    assert("hashpartitioning\\(doc_id#\\d+L?, lang#\\d+".r.findFirstIn(build).isDefined,
      s"probe side must be the (doc_id, lang, b) aggregate, not raw tokens:\n$build")
    assert(build.contains("ReadSchema: struct<doc_id:bigint,lang:string,text:string>") ||
      build.contains("ReadSchema: struct<doc_id:bigint,text:string,lang:string>"), build)
  }

  test("corpus_dsir_select: bucket model broadcasts; weights partial-aggregate; top-K is bounded heaps") {
    val plan = finalPlan(graft.ops.SelectOps.queries("corpus_dsir_select")(spark, d))
    // the <= DsirB-row model ships to the scorer (no doc x vocab work)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // per-doc weight sums combine map-side before their exchange
    assert(plan.contains("partial_sum"), plan)
    // the DsirK selection runs as TakeOrderedAndProject, not a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("corpus_token_budget: the cumulative window consumes the score HISTOGRAM, never document rows") {
    val plan = finalPlan(graft.ops.ClassifierOps.queries("corpus_token_budget")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    // the single-partition sort under the window must sit ABOVE the
    // partial-aggregated groupBy(p_micro) histogram: the window's input
    // is the bounded score domain, and the corpus-sized frame only ever
    // crosses a hash exchange
    val winIdx = finalOnly.indexOf("Window")
    assert(winIdx >= 0, plan)
    val below = finalOnly.substring(winIdx)
    assert(below.contains("partial_sum(n_tok"),
      s"the score histogram must partial-aggregate below the window:\n$plan")
    // threshold + selection are broadcast 1-row compares, not a join of
    // the doc frame against itself
    assert(finalOnly.contains("BroadcastNestedLoopJoin"), plan)
    assert(!finalOnly.contains("CartesianProduct"), plan)
  }

  test("corpus_source_gini: every window and rank sees the SOURCE domain (post-aggregate), never documents") {
    val plan = finalPlan(graft.ops.PipelineOps.queries("corpus_source_gini")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    val winIdx = finalOnly.indexOf("Window")
    assert(winIdx >= 0, plan)
    // below the rank window: the per-source mass aggregate with its
    // map-side partials — the corpus never reaches the single partition
    assert(finalOnly.substring(winIdx).contains("partial_sum(n_tok"),
      s"the source-mass aggregate must sit below the rank window:\n$plan")
    // the scan reads only what the mass frame needs
    assert(finalOnly.contains("ReadSchema: struct<text:string,source:string>") ||
      finalOnly.contains("ReadSchema: struct<source:string,text:string>"), plan)
  }

  test("vocab_growth: register file partial-aggregates map-side; the checkpoint <=-join broadcasts") {
    val plan = finalPlan(graft.ops.SketchOps.queries("vocab_growth")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    // per-(seg, bucket) register maxes combine before their exchange —
    // the fixed-size-exchange property the curve's cost story rests on
    assert(finalOnly.contains("partial_max(rho"),
      s"register maxes must combine map-side:\n$plan")
    // the seg <= chk cumulative join ships the ~40-row checkpoint list,
    // never a shuffle of the register file against itself
    assert(finalOnly.contains("BroadcastNestedLoopJoin"), plan)
    assert(!finalOnly.contains("CartesianProduct"), plan)
  }

  test("sample_bottomk: heap+merge top-k, never a global sort of the corpus") {
    val plan = finalPlan(graft.ops.PipelineOps.queries("sample_bottomk")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("TakeOrderedAndProject"),
      s"the k smallest hashes must come from per-partition heaps + driver merge:\n$plan")
  }

  test("sample_weighted_bottomk: priority is a projection, cut is heap+merge top-k") {
    val plan = finalPlan(
      graft.ops.PipelineOps.queries("sample_weighted_bottomk")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("TakeOrderedAndProject"),
      s"the weighted draw must be per-partition heaps + driver merge, not a global sort:\n$plan")
    // the salted-hash fan stays inside a projection — no Generate/explode
    // row growth feeding the cut
    assert(!finalOnly.contains("Generate"),
      s"the max-of-w-hashes priority must not explode rows:\n$plan")
  }

  test("sim_ivf_probe_curve: probe grid broadcasts; centroid work never cartesians the corpus") {
    val plan = finalPlan(
      graft.ops.SimOps.queries("sim_ivf_probe_curve")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(!finalOnly.contains("CartesianProduct"), plan)
    assert(finalOnly.contains("BroadcastHashJoin") ||
      finalOnly.contains("BroadcastNestedLoopJoin"),
      s"the nprobe grid and query set must broadcast:\n$plan")
  }

  test("sample_uncertainty: annotation cut is heap+merge top-k over a stateless scoring projection") {
    val plan = finalPlan(
      graft.ops.ClassifierOps.queries("sample_uncertainty")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("TakeOrderedAndProject"),
      s"the uncertainty band must come from per-partition heaps, not a global sort:\n$plan")
  }

  test("emb_drift: one map-side (label, half, pos) aggregate; no cartesian") {
    val plan = finalPlan(graft.ops.SimOps.queries("emb_drift")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("partial_sum") || finalOnly.contains("partial_count"),
      s"the component aggregate must combine map-side:\n$plan")
    assert(!finalOnly.contains("CartesianProduct"), plan)
  }

  test("sample_weighted_by_source: per-group top-k runs as WindowGroupLimit before the exchange") {
    val plan = finalPlan(
      graft.ops.PipelineOps.queries("sample_weighted_by_source")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("WindowGroupLimit"),
      s"the per-source cut must prune per-partition before the shuffle:\n$plan")
  }

  test("q1_pricing_summary: one pruned lineitem scan feeds the partial fold; one group exchange") {
    val plan = finalPlan(
      graft.ops.RefOps.queries("q1_pricing_summary")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    // scan-bound shape: exactly ONE fact scan — the 6 aggregates fold in
    // a single pass, never a per-aggregate re-scan
    assert(finalOnly.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"Q1 must read lineitem exactly once:\n$plan")
    // the date cut reaches the reader...
    assert(finalOnly.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"the shipdate predicate must reach the scan:\n$plan")
    // ...and columns not aggregated are pruned there (100 TB cost is
    // scan bandwidth; reading l_orderkey/l_comment would be paying for
    // bytes the query never touches)
    val readSchema = finalOnly.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && !readSchema.contains("l_orderkey") &&
      !readSchema.contains("l_comment"),
      s"the reader must prune to the 7 referenced columns:\n$readSchema")
    // map-side combine, then exactly one hash exchange on the group keys
    // (the trailing sort's range exchange moves 6 rows; the group
    // exchange is the only one that sees data)
    assert(finalOnly.contains("partial_sum"),
      s"the 6-aggregate fold must combine map-side:\n$plan")
    assert(finalOnly.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"one group-key exchange only:\n$plan")
  }

  test("q17_small_quantity: decorrelated to ONE equi-join — no cartesian, no per-row subquery") {
    val plan = finalPlan(
      graft.ops.RefOps.queries("q17_small_quantity")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    val joins = finalOnly.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin") ||
        l.contains("ShuffledHashJoin"))
    assert(joins == 1,
      s"the correlated aggregate must decorrelate to exactly one equi-join, saw $joins:\n$plan")
    assert(!finalOnly.contains("CartesianProduct") &&
      !finalOnly.contains("BroadcastNestedLoopJoin"),
      s"no per-row subquery execution:\n$plan")
    // the per-part (sum, count) stats combine map-side before their exchange
    assert(finalOnly.contains("partial_sum"), plan)
  }

  test("q18_large_volume: lineitem aggregates BEFORE any join (dims join the qualifying frame, never the fact)") {
    val plan = finalPlan(
      graft.ops.RefOps.queries("q18_large_volume")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    val lines = finalOnly.linesIterator.toSeq
    // tree text prints ancestors above descendants: the lineitem scan's
    // NEAREST enclosing operator chain must hit the HashAggregate before
    // any join — i.e. the last aggregate printed above the l_quantity
    // scan sits BELOW (after) the last join printed above it
    val scanIdx = lines.indexWhere(l => l.contains("Scan parquet") && l.contains("l_quantity"))
    assert(scanIdx >= 0, s"no lineitem scan found:\n$plan")
    val lastAggAbove = lines.take(scanIdx).lastIndexWhere(_.contains("HashAggregate"))
    val lastJoinAbove = lines.take(scanIdx).lastIndexWhere(l =>
      l.contains("Join") && !l.contains("ReusedExchange"))
    assert(lastAggAbove >= 0, s"lineitem must feed a HashAggregate:\n$plan")
    assert(lastJoinAbove < lastAggAbove,
      s"the fact must aggregate to qualifying keys BEFORE joining dims:\n$plan")
    assert(finalOnly.contains("partial_sum"),
      s"the per-order quantity sum must combine map-side:\n$plan")
    assert(!finalOnly.contains("CartesianProduct"), plan)
  }

  test("q3_shipping_priority: pushed date/segment filters, broadcast dim, partial agg, heap top-k") {
    val plan = finalPlan(
      graft.ops.RefOps.queries("q3_shipping_priority")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("PushedFilters: [") &&
      finalOnly.contains("IsNotNull(c_mktsegment)"),
      s"the segment filter must reach the customer scan:\n$plan")
    assert(finalOnly.contains("BroadcastHashJoin"),
      s"the filtered customer dim must broadcast:\n$plan")
    assert(finalOnly.contains("partial_sum"),
      s"revenue must combine map-side:\n$plan")
    assert(finalOnly.contains("TakeOrderedAndProject"),
      s"the top-10 must be per-partition heaps, not a global sort:\n$plan")
  }

  test("q4_order_priority: EXISTS runs as LeftSemi with the late predicate inside the join") {
    val plan = finalPlan(graft.ops.RefOps.queries("q4_order_priority")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("LeftSemi"),
      s"EXISTS must not materialize match multiplicity:\n$plan")
  }

  test("anti_churned_customers: NOT EXISTS runs as LeftAnti; date filter pushed to the orders scan") {
    val plan = finalPlan(graft.ops.RefOps.queries("anti_churned_customers")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("LeftAnti"), plan)
    assert(finalOnly.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThan(o_orderdate"),
      s"the activity cut must reach the orders scan:\n$plan")
  }

  test("join_left_outer_enrich: LeftOuter broadcast — the fact side never shuffles") {
    val plan = finalPlan(
      graft.ops.RefOps.queries("join_left_outer_enrich")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("BroadcastHashJoin") && finalOnly.contains("LeftOuter"),
      s"the incomplete dim must broadcast into a LeftOuter join:\n$plan")
    // only the broadcast exchange and the final sort's range exchange
    // may appear — a hash exchange would mean the fact shuffled
    assert(!finalOnly.contains("Exchange hashpartitioning"),
      s"the fact side must not shuffle for a broadcast enrichment:\n$plan")
    // the segment snapshot filter reaches the dim scan
    assert(finalOnly.contains("In(c_mktsegment"),
      s"the snapshot filter must reach the customer scan:\n$plan")
  }

  test("set_diff_refresh: one FullOuter equi-join over fingerprint projections, no cartesian") {
    val plan = finalPlan(graft.ops.RefOps.queries("set_diff_refresh")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("FullOuter"),
      s"the diff must preserve both sides (FULL OUTER):\n$plan")
    assert(!finalOnly.contains("CartesianProduct"), plan)
    // the 100 TB discipline: document bodies never reach the join —
    // both sides reduce to (doc_id, 32-hex-char md5) before shuffling.
    // Position-checked, not just contains: tree text prints ancestors
    // above descendants (the q18 precedent), so every md5 projection
    // must print BELOW the FullOuter join line — an md5 computed above
    // the join would mean full text shuffled through it.
    val lines = finalOnly.linesIterator.toSeq
    val joinIdx = lines.indexWhere(_.contains("FullOuter"))
    val md5Idxs = lines.zipWithIndex.collect {
      case (l, i) if l.contains("md5(") => i }
    assert(md5Idxs.nonEmpty,
      s"fingerprints must be computed below the join:\n$plan")
    assert(md5Idxs.forall(_ > joinIdx),
      s"md5 fingerprint projections must sit in the join's child subtrees, not above it:\n$plan")
  }

  test("set_except_refresh: EXCEPT plans as LeftAnti + distinct aggregate, no cartesian") {
    val plan = finalPlan(graft.ops.RefOps.queries("set_except_refresh")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("LeftAnti"),
      s"EXCEPT must set-subtract as an anti join:\n$plan")
    assert(finalOnly.contains("HashAggregate"),
      s"EXCEPT DISTINCT needs its dedup aggregate:\n$plan")
    assert(!finalOnly.contains("CartesianProduct"), plan)
  }

  test("set_intersect_refresh: INTERSECT plans as LeftSemi + distinct aggregate, no cartesian") {
    val plan = finalPlan(graft.ops.RefOps.queries("set_intersect_refresh")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("LeftSemi"),
      s"INTERSECT must membership-probe as a semi join:\n$plan")
    assert(finalOnly.contains("HashAggregate"),
      s"INTERSECT DISTINCT needs its dedup aggregate:\n$plan")
    assert(!finalOnly.contains("CartesianProduct"), plan)
  }

  test("set_union_refresh: UNION DISTINCT plans as Union + one distinct aggregate, no join") {
    val plan = finalPlan(graft.ops.RefOps.queries("set_union_refresh")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("Union"),
      s"the merge must be a Union, not a join:\n$plan")
    assert(finalOnly.contains("HashAggregate"),
      s"UNION DISTINCT needs its dedup aggregate:\n$plan")
    assert(!finalOnly.contains("Join") || finalOnly.linesIterator
      .filter(_.contains("Join")).forall(_.contains("ReusedExchange")),
      s"no join may appear in a pure set union:\n$plan")
    assert(!finalOnly.contains("CartesianProduct"), plan)
    // fingerprints below the Union: the distinct shuffle keys on
    // (doc_id, 32-hex md5), never document bodies
    val lines = finalOnly.linesIterator.toSeq
    val unionIdx = lines.indexWhere(_.contains("Union"))
    val md5Idxs = lines.zipWithIndex.collect {
      case (l, i) if l.contains("md5(") => i }
    assert(md5Idxs.nonEmpty && md5Idxs.forall(_ > unionIdx),
      s"md5 projections must sit below the Union:\n$plan")
  }

  test("corpus_governance_cube: all 8 grouping sets in ONE Expand pass, partial agg, one scan") {
    val plan = finalPlan(
      graft.ops.PipelineOps.queries("corpus_governance_cube")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("Expand"),
      s"cube must expand grouping sets in one pass, not re-scan per subset:\n$plan")
    assert(finalOnly.contains("partial_count") || finalOnly.contains("partial_sum"),
      s"the cubed aggregate must combine map-side before the exchange:\n$plan")
    assert(finalOnly.linesIterator.count(_.contains("Scan parquet")) <= 1,
      s"cube must not re-scan per grouping set:\n$plan")
    assert(!finalOnly.contains("CartesianProduct"), plan)
  }

  test("events_rollup: one Expand + one partial-agg exchange, no per-level re-scan") {
    val plan = finalPlan(graft.ops.RefOps.queries("events_rollup")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("Expand"),
      s"rollup must expand grouping sets in one pass, not re-scan per level:\n$plan")
    assert(finalOnly.contains("partial_count") || finalOnly.contains("partial_sum"),
      s"the grouped aggregate must combine map-side:\n$plan")
    // exactly one scan of the events table feeds the rollup
    assert(finalOnly.linesIterator.count(_.contains("Scan parquet")) <= 1,
      s"rollup must not re-scan per grouping level:\n$plan")
  }

  test("events_pivot: explicit-values pivot stays one map-side aggregation (no distinct pre-scan)") {
    val plan = finalPlan(graft.ops.RefOps.queries("events_pivot")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("partial_"),
      s"the pivot cells must fold map-side:\n$plan")
    assert(!finalOnly.contains("CartesianProduct"), plan)
  }

  test("corpus_quality_matrix: grouping-set expansion before the exchange") {
    val plan = finalPlan(
      graft.ops.PipelineOps.queries("corpus_quality_matrix")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    assert(finalOnly.contains("Expand"), plan)
    assert(finalOnly.contains("partial_count") || finalOnly.contains("partial_sum"), plan)
  }

  test("pack_shuffle_layout: every window is shard-partitioned (no single-partition rank)") {
    val plan = finalPlan(graft.ops.PipelineOps.queries("pack_shuffle_layout")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    val windows = finalOnly.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty, plan)
    assert(windows.forall(_.contains("shard")),
      s"a window without the shard partition key serializes the corpus:\n$plan")
  }

  test("dedup_keep_central_incremental: batch path is partial struct-max aggregates, no cartesian") {
    val plan = finalPlan(
      graft.ops.DedupOps.queries("dedup_keep_central_incremental")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    // the election + assignment argmaxes partial-aggregate map-side;
    // per-batch work is joins against the standing label/mass frames —
    // never a doc×doc product (the standing CC/PR chain is the offline
    // build, not the per-batch path)
    assert(finalOnly.contains("partial_max"), plan)
    assert(!finalOnly.contains("CartesianProduct"), plan)
  }

  test("dedup_cross_source: hot-shingle prune broadcasts; source-pair agg combines map-side") {
    val plan = finalPlan(graft.ops.DedupOps.queries("dedup_cross_source")(spark, d))
    val finalOnly = plan.split("== Initial Plan ==").head
    // the df cap's anti-join ships the tiny hot list, never a shuffle.
    // Pinned on the INITIAL plan: at sf0.001 the hot list is EMPTY and
    // AQE's empty-relation propagation elides the LeftAnti from the
    // final plan entirely (which is itself broadcast-shaped behavior —
    // a shuffled anti join would leave its Exchange behind)
    assert(plan.contains("LeftAnti"), plan)
    assert(finalOnly.contains("BroadcastHashJoin"), plan)
    // the source-pair matrix aggregate partial-aggregates before its
    // (domain-sized) exchange
    assert(finalOnly.contains("partial_count"), plan)
  }
}
