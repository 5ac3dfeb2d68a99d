package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowed substring fingerprints (Schleimer et al., SIGMOD'03) of a
  * text column in ONE pass per row: normalize (identical to
  * LegacyFunctions.normalizeText), polynomial-hash every k-char window (Horner
  * mod [[WinnowedFingerprints.M]], base [[WinnowedFingerprints.B]] —
  * leftmost char carries B^0, matching the DuckDB oracle's power-literal
  * sum), then winnowing's sliding-window minimum selects, per run of w
  * consecutive window hashes, the (min hash, leftmost position) — a
  * monotonic deque, O(n) total. Returns the DISTINCT selected hashes.
  *
  * Why custom: the declarative form (nested transform over a position
  * sequence with 20 substr calls per position) is O(n²·k) per document —
  * UTF8String.substring must scan from the string start to locate a char
  * offset — and evaluates the lambda interpreter per element; measured
  * 110 s for 5k docs at sf0.1 vs 1.3 s for this expression. Semantics are
  * value-identical by construction (same hash arithmetic, same
  * min-of-key selection; pinned against the declarative form in
  * OpGoldensSpec). Texts shorter than k normalized chars yield an empty
  * array — they cannot carry a detectable duplicated span.
  *
  * CodegenFallback is fine here: one virtual call per ROW; the tight
  * char loop dominates, unlike per-element lambda dispatch.
  */
case class WinnowedFingerprints(child: Expression, k: Int, w: Int,
    withPos: Boolean = false, allPositions: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  require(k >= 2 && w >= 1, "need k >= 2, w >= 1")

  import WinnowedFingerprints.{B, M, Shift}

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String =
    if (allPositions) "kgram_keys" else if (withPos) "winnow_keys" else "winnow_fps"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_fps requires a string input, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String].toString
    // normalization identical to LegacyFunctions.normalizeText / normSqlOf
    val sb = new java.lang.StringBuilder(raw.length)
    var i = 0
    var lastSpace = true
    while (i < raw.length) {
      val c0 = raw.charAt(i)
      val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
      val keep = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      if (keep) { sb.append(c); lastSpace = false }
      else if (!lastSpace) { sb.append(' '); lastSpace = true }
      i += 1
    }
    while (sb.length > 0 && sb.charAt(sb.length - 1) == ' ') sb.setLength(sb.length - 1)
    val n = sb.length
    if (n < k) return new GenericArrayData(Array.empty[Any])

    // all window hashes, rolled right-to-left (leftmost char holds B^0,
    // so the O(1) roll adds on the left): h(i) = c_i + B·h(i+1) − B^k·c_{i+k}
    val npos = n - k + 1
    val h = new Array[Long](npos) // h(i) at index i-1
    var bk = 1L // B^k mod M
    var j = 0
    while (j < k) { bk = bk * B % M; j += 1 }
    var last = 0L // Horner of the final window, highest power first
    j = n - 1
    while (j >= n - k) { last = (last * B + sb.charAt(j)) % M; j -= 1 }
    h(npos - 1) = last
    var p = npos - 2
    while (p >= 0) {
      val t = (sb.charAt(p) + B * h(p + 1)) % M
      h(p) = (t - bk * sb.charAt(p + k) % M + M) % M
      p -= 1
    }

    // audit mode (kgram_keys): EVERY window's key, no winnowing — the
    // exact-truth side of dedup_substring_eval; O(n) keys per doc
    if (allPositions) {
      val arr = new Array[Any](npos)
      var a = 0
      while (a < npos) { arr(a) = h(a) * Shift + (a + 1); a += 1 }
      return new GenericArrayData(arr)
    }

    // sliding-window minimum of key = h·Shift + pos over runs of w —
    // monotonic deque of positions; one clamped window when npos < w
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    val dq = new Array[Int](npos)
    var head = 0
    var tail = 0 // exclusive
    def key(q: Int): Long = h(q) * Shift + (q + 1)
    var q = 0
    while (q < npos) {
      while (tail > head && key(dq(tail - 1)) >= key(q)) tail -= 1
      dq(tail) = q; tail += 1
      if (q >= w - 1) {
        while (dq(head) < q - w + 1) head += 1
        out.add(if (withPos) key(dq(head)) else h(dq(head)))
      }
      q += 1
    }
    if (npos < w) out.add(if (withPos) key(dq(head)) else h(dq(head)))
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var o = 0
    while (it.hasNext) { arr(o) = it.next().longValue(); o += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowedFingerprints {
  /** Polynomial-hash constants — the single source for BOTH engines:
    * the DuckDB oracle's power literals are generated from these in
    * DedupOps, so the arithmetic cannot drift. */
  val M = 1000000007L
  val B = 131L
  /** key = hash·Shift + position: min-key selection breaks hash ties on
    * the leftmost position; supports documents to 2^31 normalized chars. */
  val Shift: Long = 1L << 31

  /** Register as SQL functions taking (text, k, w) with literal ints:
    * `winnow_fps` returns the distinct selected hashes (the pair-dedup
    * input); `winnow_keys` the distinct selected hash·Shift+position
    * keys (the span-map input — position recovers as key % Shift). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow_fps",
      exprs => WinnowedFingerprints(exprs(0),
        exprs(1).eval(null).asInstanceOf[Int],
        exprs(2).eval(null).asInstanceOf[Int]),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow_keys",
      exprs => WinnowedFingerprints(exprs(0),
        exprs(1).eval(null).asInstanceOf[Int],
        exprs(2).eval(null).asInstanceOf[Int], withPos = true),
      "built-in")
    // every k-gram window's key, unwinnowed — the eval row's truth side
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "kgram_keys",
      exprs => WinnowedFingerprints(exprs(0),
        exprs(1).eval(null).asInstanceOf[Int],
        exprs(2).eval(null).asInstanceOf[Int], withPos = true, allPositions = true),
      "built-in")
  }
}
