package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corrupt-row discipline: at corpus scale some rows WILL carry null
  * text, empty strings, null/empty/truncated embedding vectors — and
  * one bad row must never kill a stage. Every custom expression is
  * null-safe by construction (nullSafeEval / min-length truncation);
  * this spec drives the REGISTERED operators over a corpus seeded with
  * every corrupt shape and pins: no throw, clean rows still processed,
  * corrupt rows either propagate as null/absent or degrade per the
  * operator's documented semantics — never crash. */
@Nightly
class CorruptInputSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_corrupt").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = Seq(
      Row(1L, "a perfectly ordinary document with enough words to shingle and chunk", "en", "src0", 69L),
      Row(2L, "a perfectly ordinary document with enough words to shingle and chunk", "en", "src2", 69L),
      Row(3L, null, "en", "src0", 0L),          // null text
      Row(4L, "", "en", "src2", 0L),            // empty text
      Row(5L, "   \t  ", "en", "src0", 6L),     // whitespace-only
      Row(6L, "short", null, null, 5L),         // null metadata
      Row(7L, "metadata-less but textful", "en", "src0", null)) // null n_chars
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(docs).asJava),
      docSchema).write.parquet(s"$d/documents.parquet")
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val clean = Array.tabulate(64)(i => (if (i % 2 == 0) 0.5f else -0.5f))
    val embs = Seq(
      Row(1L, clean.toSeq, 0),
      Row(2L, clean.map(v => v * 0.9f).toSeq, 0),
      Row(3L, null, 0),                          // null vector
      Row(4L, Seq.empty[Float], 0),              // empty vector
      Row(5L, clean.take(8).toSeq, 0),           // truncated vector
      Row(6L, Seq.fill(64)(Float.NaN), 0),       // NaN vector
      // +Inf vector: nrm = Infinity passes `nrm > 0 && !isnan(nrm)`,
      // and its Inf/Inf cosine is NaN — the finiteness side of EmbGate
      Row(7L, Seq.fill(64)(Float.PositiveInfinity), 0))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(embs).asJava),
      embSchema).write.parquet(s"$d/embeddings.parquet")
    // events with null-typed rows interleaved (ts in nanos, the real
    // feed's physical type)
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val base = 1_700_000_000_000_000_000L
    val evs = Seq(
      Row(1L, base, 7L, "view", 1.0, """{"k":1}"""),
      Row(2L, base + 60_000_000_000L, 7L, null, 1.0, null), // null type
      Row(3L, base + 120_000_000_000L, 7L, "click", 1.0, """{"k":2}"""),
      Row(4L, base + 180_000_000_000L, 7L, null, 1.0, """{"k":3}"""),
      Row(5L, base + 240_000_000_000L, 7L, "purchase", 1.0, """{"k":4}"""),
      Row(6L, base + 300_000_000_000L, 7L, null, null, null), // fully null tail
      // valid JSON with a DUPLICATE key: map building (from_json into
      // map<string,string>) throws DUPLICATED_MAP_KEY under the default
      // dedup policy — key listing must survive it
      Row(7L, base + 360_000_000_000L, 8L, "view", 1.0, """{"dup":1,"dup":2,"k":5}"""))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(evs).asJava),
      evSchema).write.parquet(s"$d/events.parquet")
    // the TPC-H-shaped tables, with nulls in every nullable position —
    // so the relational/CDC/function ops run the same gauntlet as the
    // document/embedding/event ops above
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    write(d, "region", Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType)),
      Seq(Row(0, "EUROPE"), Row(1, null)))
    write(d, "nation", Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)),
      Seq(Row(0, "FRANCE", 0), Row(1, null, 1), Row(2, "NOWHERE", null)))
    write(d, "customer", Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)),
      Seq(Row(7L, "Customer#7", 0, 100.0, "BUILDING"),
        Row(8L, null, null, null, null), // all-null attributes
        Row(9L, "Customer#9", 2, -1.0, "AUTOMOBILE")))
    write(d, "supplier", Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType)),
      Seq(Row(1L, "Supplier#1", 0, 10.0), Row(2L, null, null, null)))
    write(d, "part", Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)),
      Seq(Row(1L, "part one", "B#1", "STANDARD", 5, 9.99),
        Row(2L, null, null, null, null, null)))
    write(d, "orders", Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)),
      Seq(Row(100L, 7L, "O", 50.0, ts("2024-03-01 10:00:00"), "1-URGENT"),
        Row(101L, null, null, null, null, null), // null FK + attrs
        Row(102L, 9L, "F", 0.0, ts("2024-03-02 11:30:00"), "5-LOW")))
    write(d, "lineitem", Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType)),
      Seq(Row(100L, 1L, 1L, 1, 2.0, 20.0, 0.1, 0.05, "N", "O", ts("2024-03-05 00:00:00")),
        Row(100L, 2L, 2L, 2, null, null, null, null, null, null, null),
        Row(102L, null, null, null, 1.0, 5.0, 0.0, 0.0, "R", "F", ts("2024-03-06 00:00:00"))))
    d
  }

  private def write(d: String, name: String, fields: Seq[StructField], rows: Seq[Row]): Unit =
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(fields)).write.parquet(s"$d/$name.parquet")

  // THE ENTIRE REGISTRY, no opt-in list: every key SparkEntry exposes
  // must survive the corrupt corpus, and a newly registered operator is
  // enrolled automatically. No exemptions — even src_datagen (which
  // ignores the directory) costs nothing to keep under the net.
  for (name <- LegacyEntry.queries.keys.toSeq.sorted) {
    test(s"$name survives null/empty/truncated rows") {
      LegacyEntry.queries(name)(spark, dir).collect()
    }
  }

  test("NaN vectors are gated out: no NaN pair emitted, no NaN rank-1 hijack") {
    // both engines order NaN above every number, so an ungated all-NaN
    // vector passes `nrm > 0`, its NaN cosine passes `> 0.3`, and DESC
    // sort makes it the rank-1 neighbor of every query — the gate's
    // !isnan is what this pins
    val pairs = LegacyEntry.queries("dedup_embedding_cosine")(spark, dir)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists(_ >= 3L),
      s"corrupt vectors (ids 3-6) must never appear in cosine pairs, got $pairs")
    val top = LegacyEntry.queries("sim_brute_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(top.forall(_._3 < 3L),
      s"corrupt vectors must never rank as neighbors, got ${top.toSeq}")
    assert(top.contains((1L, 1, 2L)),
      "the clean near-identical vector must be the rank-1 neighbor")
  }

  test("Inf vectors are gated out: infinite norm never reaches a cosine") {
    // nrm = Infinity passes `> 0` and `!isnan`, but Inf/Inf = NaN and
    // NaN outranks every real sim under DESC in BOTH engines — the
    // finiteness clause of EmbGate is what this pins
    val pairs = LegacyEntry.queries("dedup_embedding_cosine")(spark, dir)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.contains(7L), s"the all-Inf vector must be gated, got $pairs")
    val top = LegacyEntry.queries("sim_brute_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(top.forall(_._3 != 7L),
      s"the all-Inf vector must never rank as a neighbor, got ${top.toSeq}")
  }

  test("duplicate-key props count the key once and never kill the stage") {
    val keys = LegacyEntry.queries("events_props_keys")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(keys("dup") == 1L, s"duplicate key must count once per event: $keys")
    assert(keys("k") == 5L, s"clean keys must all survive: $keys")
  }

  test("null n_chars stays out of the quantile CDF") {
    // a null bucket sorts NULLS FIRST in Spark's window but NULLS LAST
    // in DuckDB's — excluded up front, the CDF sees only observed
    // lengths (docs 1-6: 69,69,0,0,6,5 → CDF 0:2 5:3 6:4 69:6;
    // ceil(.5*6)=3 → p50=5, ceil(.9*6)=6 → p90=69, p99=69)
    val q = LegacyEntry.queries("corpus_quantiles")(spark, dir)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(q == Map(0.5 -> 5L, 0.9 -> 69L, 0.99 -> 69L),
      s"quantiles must be over non-null lengths only, got $q")
  }

  test("null-typed events vanish identically from the path trigrams") {
    // Spark's concat_ws SKIPS a null inside a trigram while SQL's ||
    // nulls the whole path — both sides now filter null-typed events
    // before the window, so adjacency skips over them consistently
    val paths = LegacyEntry.queries("events_path_topk")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(paths == Map("view>click>purchase" -> 1L),
      s"null-typed events must be invisible to adjacency, got $paths")
  }

  test("revenue stats: null types bucket as 'unknown', null values never dilute the mean") {
    val rows = LegacyEntry.queries("events_revenue_stats")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)))).toMap
    // two null-typed rows (one with revenue, one fully null): the mean
    // is over the ONE observed value, not diluted by the null
    assert(rows("unknown") == ((3L, 2L, Some(1.0))),
      s"unknown bucket must count 3 rows, 2 observed values, mean 1.0: ${rows("unknown")}")
    assert(rows("purchase") == ((1L, 1L, Some(1.0))), rows.toString)
  }

  test("clean rows still dedup across the corrupt neighbors") {
    // docs 1 and 2 are byte-identical; the corrupt rows around them must
    // not stop the pair from being found
    val exact = LegacyEntry.queries("dedup_exact")(spark, dir)
      .where(col("n_copies") > 1).collect()
    assert(exact.exists(_.getAs[Long]("keeper") == 1L),
      "the clean duplicate pair must survive corrupt neighbors")
    val cos = LegacyEntry.queries("dedup_embedding_cosine_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cos.contains((1L, 2L)),
      "the clean near-identical vectors must pair despite corrupt neighbors")
  }
}
