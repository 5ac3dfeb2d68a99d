package graft

import org.apache.spark.sql.functions._
import graft.functions.Functions._
import graft.functions.LegacyFunctions._

/** Property-style tests (seeded random inputs) for the scalar function
  * layer and the custom expressions' equivalence to their declarative
  * forms. */
class FunctionsSpec extends SparkSpec {

  import java.sql.Timestamp
  private val rnd = new scala.util.Random(42)

  test("ceilToHour: fixpoint on exact hours, else next hour boundary") {
    import spark.implicits._
    val tss = Seq.fill(200)(new Timestamp(math.abs(rnd.nextLong() % 2_000_000_000L) * 1000)) ++
      Seq(new Timestamp(3600L * 1000 * 500000)) // exact hour
    val got = tss.toDF("ts")
      .select(col("ts"), ceilToHour(col("ts")).as("c"))
      .collect()
    got.foreach { r =>
      val ts = r.getTimestamp(0).getTime
      val c = r.getTimestamp(1).getTime
      assert(c >= ts, "ceil must be >= input")
      assert(c - ts < 3600 * 1000, "ceil within one hour")
      assert(c % (3600 * 1000) == 0, "ceil lands on an hour boundary")
      if (ts % (3600 * 1000) == 0) assert(c == ts, "exact hour is a fixpoint")
    }
  }

  test("TextShingles expression == declarative normalize+slide pipeline") {
    import spark.implicits._
    graft.expressions.TextShingles.register(spark)
    val words = Array("the", "Fast", "key!", "a", "12", "zz-9", "", "  ", "Row", "scan;SCAN")
    val texts = Seq.fill(300)(
      Seq.fill(rnd.nextInt(12))(words(rnd.nextInt(words.length))).mkString(" "))
    val df = texts.toDF("text")
    val got = df.selectExpr("array_sort(text_shingles(text, 3)) s")
      .collect().map(_.getSeq[String](0))
    val want = df.select(array_sort(array_distinct(shingles(col("text"), 3))).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(got.toSeq == want.toSeq)
    // n = 1 degenerates to the distinct token set
    val got1 = df.selectExpr("array_sort(text_shingles(text, 1)) s")
      .collect().map(_.getSeq[String](0))
    val want1 = df.select(array_sort(array_distinct(shingles(col("text"), 1))).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(got1.toSeq == want1.toSeq)
  }

  test("FloatDotProduct expression == interpreted zip_with/aggregate form (bit-identical)") {
    import spark.implicits._
    graft.expressions.VectorExpressions.register(spark)
    val pairs = Seq.fill(100)((
      Seq.fill(64)(rnd.nextFloat() * 2 - 1),
      Seq.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = pairs.toDF("a", "b")
      .select(col("a").cast("array<float>").as("a"), col("b").cast("array<float>").as("b"))
    val got = df.selectExpr("float_dot(a, b) d").collect().map(_.getDouble(0))
    val want = df.select(dotProduct(col("a"), col("b")).as("d")).collect().map(_.getDouble(0))
    assert(got.toSeq == want.toSeq) // exact equality, not tolerance
  }

  test("RpProject == the inline ± chain it replaced, codegen AND interpreted, incl. null/short") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    graft.expressions.VectorExpressions.register(spark)
    val signs = graft.expressions.RpProjectSigns.matrix
    // the retired form, replicated op-for-op: (0.0 ± e(0) ± … ± e(63))/4
    // strictly left to right in double — the bit-identity reference
    def ref(e: Seq[Float]): Seq[Double] =
      (0 until 16).map { j =>
        var acc = 0.0
        (0 until 64).foreach { i =>
          if (signs(j)(i) > 0) acc += e(i).toDouble else acc -= e(i).toDouble
        }
        acc / 4.0
      }
    val vecs = Seq.fill(50)(Seq.fill(64)(rnd.nextFloat() * 2 - 1))
    // codegen path: the registered function in a projection
    val df = vecs.toDF("e").select(col("e").cast("array<float>").as("e"))
    val got = df.selectExpr("rp_project(e) p").collect().map(_.getSeq[Double](0).toSeq)
    assert(got.toSeq == vecs.map(ref), "codegen path diverged from the inline chain")
    // interpreted path: Expression.eval directly (nullSafeEval — never
    // exercised by queries while codegen succeeds, r13 advice)
    def evalOne(e: Seq[Float]): Any =
      graft.expressions.RpProject(Literal.create(
        new GenericArrayData(e.toArray), ArrayType(FloatType))).eval(null)
    vecs.take(5).foreach { e =>
      val r = evalOne(e).asInstanceOf[ArrayData].toDoubleArray().toSeq
      assert(r == ref(e), "interpreted path diverged from the inline chain")
    }
    // short array -> NULL (the inline form's OOB-subscript propagation),
    // both paths; NULL input -> NULL
    assert(evalOne(Seq.fill(63)(1.0f)) == null)
    assert(graft.expressions.RpProject(Literal.create(
      null, ArrayType(FloatType))).eval(null) == null)
    val shortDf = Seq(Seq.fill(63)(1.0f)).toDF("e")
      .select(col("e").cast("array<float>").as("e"))
    assert(shortDf.selectExpr("rp_project(e) p").collect().head.isNullAt(0),
      "codegen path must NULL a short array")
  }

  test("QcMargin == the aggregate/element_at form on reachable fids; NULL on OOB, codegen AND interpreted") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    graft.expressions.VectorExpressions.register(spark)
    val fvType = ArrayType(StructType(Seq(
      StructField("fid", IntegerType), StructField("x", DoubleType))))
    val wmType = ArrayType(LongType)
    val w = 7
    val wm = Seq.fill(w)(rnd.nextLong() % 2000000L)
    val fvs = Seq.fill(50)(Seq.fill(5)((rnd.nextInt(w), rnd.nextDouble() * 2 - 1)))
    // codegen path vs the retired higher-order-function form, in one
    // query so both see identical input bits
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    fvs.foreach { fv =>
      rows.add(org.apache.spark.sql.Row(
        fv.map { case (fid, x) => org.apache.spark.sql.Row(fid, x) }, wm))
    }
    val df = spark.createDataFrame(rows, StructType(Seq(
      StructField("fv", fvType), StructField("wm", wmType))))
    val both = df.selectExpr(
      "qc_margin(fv, wm) got",
      "aggregate(fv, CAST(0 AS DOUBLE), (acc, t) -> acc + t.x * (CAST(element_at(wm, t.fid + 1) AS DOUBLE) / 1000000)) want")
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"qc_margin diverged from the aggregate form: $r"))
    // interpreted path (direct eval) on the same rows
    def evalOne(fv: Seq[(Int, Double)], wmv: Seq[Long]): Any =
      graft.expressions.QcMargin(
        Literal.create(new GenericArrayData(
          fv.map { case (fid, x) => InternalRow(fid, x) }.toArray), fvType),
        Literal.create(new GenericArrayData(wmv.toArray), wmType)).eval(null)
    fvs.take(5).zip(both.take(5)).foreach { case (fv, r) =>
      assert(evalOne(fv, wm) == r.getDouble(1), "interpreted path diverged")
    }
    // OOB fid >= w -> NULL (element_at parity); fid < 0 -> NULL (the
    // DOCUMENTED divergence: element_at would wrap or raise; a negative
    // fid is a broken feature builder and must poison loudly)
    assert(evalOne(Seq((w, 1.0)), wm) == null)
    assert(evalOne(Seq((-1, 1.0)), wm) == null)
    assert(evalOne(Seq((-2, 1.0)), wm) == null)
    // codegen OOB: same NULLs through a projection
    val oobRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    Seq(w, -1, -2).foreach(fid => oobRows.add(org.apache.spark.sql.Row(
      Seq(org.apache.spark.sql.Row(fid, 1.0)), wm)))
    val oobDf = spark.createDataFrame(oobRows, StructType(Seq(
      StructField("fv", fvType), StructField("wm", wmType))))
    assert(oobDf.selectExpr("qc_margin(fv, wm) m").collect()
      .forall(_.isNullAt(0)), "codegen path must NULL every OOB fid")
    // null inputs -> NULL (BinaryExpression null-intolerance)
    assert(graft.expressions.QcMargin(
      Literal.create(null, fvType),
      Literal.create(new GenericArrayData(wm.toArray), wmType)).eval(null) == null)
  }

  test("explode+join round-trip preserves the (order, pizza) multiset") {
    import spark.implicits._
    val arrays = Seq.fill(50)(Seq.fill(rnd.nextInt(8))(1 + rnd.nextInt(4)))
    val orders = arrays.zipWithIndex.map { case (a, i) => (i, a) }.toDF("id", "pizzas")
    val exploded = orders.select(col("id"), explode(col("pizzas")).as("p"))
    val back = exploded.groupBy("id").agg(sort_array(collect_list("p")).as("ps"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
    arrays.zipWithIndex.foreach { case (a, i) =>
      if (a.nonEmpty) assert(back(i) == a.sorted)
      else assert(!back.contains(i)) // explode drops empty arrays
    }
  }

  test("jsonValue / jsonQuery / fromBase64 round-trips") {
    import spark.implicits._
    val df = Seq(("""{"k": 42, "s": "héllo", "arr": [1,2]}""", "pay load"))
      .toDF("j", "raw")
    val r = df.select(
      jsonValue(col("j"), "$.k", "int").as("k"),
      jsonValue(col("j"), "$.s").as("s"),
      jsonQuery(col("j"), "$.arr").as("arr"),
      fromBase64(base64(col("raw"))).as("b64rt")).collect().head
    assert(r.getInt(0) == 42)
    assert(r.getString(1) == "héllo")
    assert(r.getString(2) == "[1,2]")
    assert(r.getString(3) == "pay load")
  }

  test("RowCodec: struct_to_binary -> binary_to_struct round-trips mixed types exactly") {
    import spark.implicits._
    graft.expressions.RowCodec.register(spark)
    val df = Seq(
      (1, "héllo wörld", Seq(1, 2, 3), Some(2.5), 1723450000123456L),
      (2, null.asInstanceOf[String], Seq.empty[Int], None, 0L))
      .toDF("id", "s", "arr", "d", "us")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val ddl = df.schema.toDDL
    val back = df
      .select(call_function("struct_to_binary", struct(df.columns.map(col): _*)).as("b"))
      .select(call_function("binary_to_struct", col("b"), lit(ddl)).as("r"))
      .select(df.columns.map(c => col(s"r.$c").as(c)): _*)
    val (orig, rt) = (df.orderBy("id").collect(), back.orderBy("id").collect())
    assert(orig.toSeq == rt.toSeq, s"round trip mismatch:\n${orig.toSeq}\n${rt.toSeq}")
  }

  test("SimHashFingerprint expression == the explode+groupBy aggregation, bit for bit") {
    val d = "/root/testdata/sf0.001"
    // the registered query (one-pass expression) against the retained
    // aggregation reference form — same 64-char bitstring per document
    val viaExpr = graft.ops.DedupOps.queries("dedup_simhash")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaAgg = graft.ops.DedupOps.simhashAggForm(spark, d)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaExpr.size == viaAgg.size && viaExpr.nonEmpty)
    assert(viaExpr == viaAgg, {
      val diff = viaExpr.collect { case (k, v) if viaAgg.get(k) != Some(v) => k }.take(3)
      s"fingerprints diverge for docs $diff"
    })
  }

  test("MinHashSignatures expression == the explode+groupBy aggregation, byte for byte") {
    val d = "/root/testdata/sf0.001"
    graft.expressions.TextShingles.register(spark)
    graft.expressions.MinHashSignatures.register(spark)
    val k = 9
    // the pre-round-2 formulation: explode every (doc, shingle) row and
    // re-collapse through a k-aggregate groupBy
    val sh = graft.Tables.documents(spark, d)
      .select(col("doc_id"), explode(expr("text_shingles(text, 3)")).as("sh"))
    val aggs = (0 until k).map(i =>
      min(graft.functions.LegacyFunctions.seededMd5(col("sh"), i)).as(s"s$i"))
    val reference = sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getString).toVector).toMap
    val onePass = graft.Tables.documents(spark, d)
      .select(col("doc_id"), expr(s"minhash_sigs(text_shingles(text, 3), $k)").as("sigs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    assert(onePass == reference)
  }

  test("packed-bit simhash == the explode(0..63) reference formulation, bit for bit") {
    val d = "/root/testdata/sf0.001"
    graft.expressions.TextShingles.register(spark)
    // the pre-round-2 formulation: explicit per-bit rows
    val toks = graft.Tables.documents(spark, d)
      .select(col("doc_id"), explode(expr("text_shingles(text, 1)")).as("tok"))
    val reference = toks
      .withColumn("b", explode(sequence(lit(0), lit(63))))
      .withColumn("nib",
        expr("instr('0123456789abcdef', substring(md5(tok), b div 4 + 1, 1)) - 1"))
      .withColumn("contrib", expr("2 * (shiftright(nib, 3 - b % 4) & 1) - 1"))
      .groupBy("doc_id", "b")
      .agg(sum("contrib").as("sc"))
      .withColumn("bit", when(col("sc") > 0, "1").otherwise("0"))
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("b"), col("bit")))),
          x => x.getField("bit")), "").as("simhash"))
    val packed = graft.ops.DedupOps.queries("dedup_simhash")(spark, d)
    val ref = reference.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = packed.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == ref)
  }

  test("hourWindowFilter is a half-open (lo, hi] window one hour wide") {
    import spark.implicits._
    val eval = lit("2024-01-15 12:34:56").cast("timestamp")
    val tss = Seq(
      "2024-01-15 12:00:00", // == lo -> excluded
      "2024-01-15 12:00:01", // in
      "2024-01-15 13:00:00", // == hi -> included
      "2024-01-15 13:00:01", // out
      "2024-01-15 11:59:59") // out
    val got = tss.toDF("s").select(col("s").cast("timestamp").as("ts"))
      .where(hourWindowFilter(col("ts"), eval))
      .collect().map(_.getTimestamp(0).toString).toSet
    assert(got == Set("2024-01-15 12:00:01.0", "2024-01-15 13:00:00.0"))
  }

  test("KMV sketch saturated branch: estimate within 15% at 50k distinct tokens") {
    // the corpus vocabulary is tiny (31 tokens), so the oracle only ever
    // exercises the exact small-cardinality branch — drive the k-th-min
    // extrapolation on a synthetic vocabulary big enough to saturate k
    val toks = spark.range(50000).selectExpr("concat('tok_', id) AS tok")
    val r = graft.ops.PipelineOps.kmvSketch(toks).collect()(0)
    assert(r.getAs[Long]("exact_distinct") == 50000L)
    assert(r.getAs[Long]("k_seen") == 256L)
    val est = r.getAs[Double]("kmv_estimate_r")
    val err = r.getAs[Double]("rel_err_r")
    assert(est > 0 && err < 0.15, s"KMV estimate $est has error $err")
  }

  test("int8 quantization: codes in [-127,127], reconstruction error <= scale/2") {
    val d = "/root/testdata/sf0.001"
    val qz = graft.ops.SimOps.queries("emb_quantize_int8")(spark, d)
    val joined = qz.join(graft.LegacyTables.embeddings(spark, d), "vec_id")
      .selectExpr("vec_id", "scale",
        "transform(split(qvec, ','), x -> cast(x as int)) AS q",
        "embedding")
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val q = r.getSeq[Int](2)
      val x = r.getSeq[Float](3)
      assert(q.forall(c => c >= -127 && c <= 127), s"code out of range: $q")
      // half-up rounding puts every value within half a quantization step
      val maxErr = q.zip(x).map { case (c, v) =>
        math.abs(v.toDouble - c * scale) }.max
      assert(maxErr <= scale / 2 + 1e-12,
        s"vec ${r.getLong(0)}: reconstruction error $maxErr > ${scale / 2}")
    }
  }
}
