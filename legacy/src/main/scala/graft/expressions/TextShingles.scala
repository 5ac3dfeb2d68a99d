package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles of a text column in ONE pass per row:
  * lowercase → strip non-[a-z0-9 ] → collapse whitespace → tokenize →
  * sliding n-word windows → distinct set (`distinct = true`, the dedup
  * family's membership unit) or the full occurrence sequence
  * (`distinct = false`, the retrieval family's tf-carrying unit —
  * BM25/TF-IDF need term frequency, which a set destroys).
  *
  * Why custom: the declarative pipeline (two regexp_replace + split +
  * transform(sequence, slice, concat_ws) + array_distinct) evaluates the
  * lambda interpreter per shingle — ~17 s for 5k docs; this expression
  * does the same work in a tight loop (~1 s) and the semantics stay
  * byte-identical to the SQL form used by the DuckDB oracle
  * (texts shorter than n words yield one shingle: the normalized text).
  * CodegenFallback is fine here: one virtual call per ROW (the regex work
  * dominates), unlike per-element lambda dispatch.
  */
case class TextShingles(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "text_shingles"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"text_shingles requires a string input, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String].toString
    // Normalization identical to LegacyFunctions.normalizeText / the oracle SQL:
    // lower, [^a-z0-9 ] -> ' ', ' +' -> ' ', trim.
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
    val norm = sb.toString
    val words = if (norm.isEmpty) Array("") else norm.split(" ")
    // distinct mode: insertion-ordered set; tf mode: every window in order
    val out: java.util.Collection[UTF8String] =
      if (distinct) new java.util.LinkedHashSet[UTF8String]()
      else new java.util.ArrayList[UTF8String](math.max(words.length - n + 1, 1))
    if (words.length < n) {
      out.add(UTF8String.fromString(norm))
    } else {
      var j = 0
      val b = new java.lang.StringBuilder(64)
      while (j + n <= words.length) {
        b.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) b.append(' ')
          b.append(words(j + k))
          k += 1
        }
        out.add(UTF8String.fromString(b.toString))
        j += 1
      }
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextShingles {
  /** Register as SQL functions taking (text, n) with literal int n:
    * `text_shingles` (distinct) and `text_shingles_all` (tf-carrying). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "text_shingles",
      exprs => TextShingles(exprs(0),
        exprs(1).eval(null).asInstanceOf[Int]),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "text_shingles_all",
      exprs => TextShingles(exprs(0),
        exprs(1).eval(null).asInstanceOf[Int], distinct = false),
      "built-in")
  }
}
