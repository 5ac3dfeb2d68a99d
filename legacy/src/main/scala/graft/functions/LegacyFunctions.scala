package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine deterministic text and hashing helpers of the legacy
  * curation operators (the dedup family). md5 hex is identical in every
  * engine, unlike murmur/xxhash seeds. */
object LegacyFunctions {

  /** k-th independent hash of a string (seeded by suffixing the seed). */
  def seededMd5(c: Column, seed: Int): Column =
    md5(concat(c, lit("#" + seed)))

  /** Normalize text for fingerprinting: lowercase, strip non [a-z0-9 ],
    * collapse runs of whitespace, trim. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Word n-gram shingles of a text column as array<string>.
    * Whitespace tokenization; documents shorter than n words collapse to
    * a single shingle (the normalized text itself).
    */
  def shingles(text: Column, n: Int): Column = {
    val words = split(normalizeText(text), " ")
    val grams = transform(
      sequence(lit(0), size(words) - lit(n)),
      i => concat_ws(" ", slice(words, i + 1, lit(n))))
    when(size(words) >= n, grams).otherwise(array(normalizeText(text)))
  }

  /** Dot product of two numeric array columns, computed in double with
    * strict left-to-right accumulation (bit-reproducible across engines).
    * The declarative reference form for graft.expressions.FloatDotProduct
    * (which the hot paths use) — their bit-identity is pinned by
    * FunctionsSpec. */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
}
