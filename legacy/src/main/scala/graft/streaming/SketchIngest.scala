package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming maintenance of the persisted sketches
  * ([[graft.ops.SketchOps]]) — the TextIndexIngest shape (no state-store
  * state; the index directory IS the state, source offsets are the only
  * checkpoint) applied to the two sketch monoids, whose merge laws give
  * each ingest its own exactly-once story:
  *
  *  - Bloom (twin #22): appends are sparse word tables merged by bit_or
  *    at read time. OR is IDEMPOTENT, so at-least-once redelivery —
  *    even a partial first write interleaved with its full retry — is
  *    absorbed with no key machinery at all. This is the Dolma-style
  *    cross-snapshot deduper's ingest half: each arriving batch both
  *    probes (upstream, via [[graft.ops.SketchOps.bloomHitsFromIndex]])
  *    and enrolls its survivors.
  *
  *  - CMS (twin #23): appends are (batch_id, r, c, cnt) cell partials
  *    merged by SUM — not idempotent, so replay safety rides on the
  *    micro-batch id foreachBatch hands over: Structured Streaming
  *    redelivers a failed batch under the SAME id, the re-run of the
  *    deterministic cell aggregate yields the IDENTICAL rows, and the
  *    read path's (batch_id, r, c) dedup collapses them before the sum
  *    — the additive monoid never sees a double count.
  *
  * Both ingests cost only the arriving batch's own hash/shingle work;
  * the standing structure is never rewritten. SketchIndexSpec pins the
  * twins (chunked feed, killed between every chunk, replayed appends)
  * byte-equal to the batch-built indexes.
  */
object BloomIngest {

  /** Caller supplies trigger + checkpoint and starts the query.
    * `docs` needs (doc_id, text). Cold start freezes the first batch's
    * count as filter capacity (see appendToBloomIndex — production
    * builds offline with planned capacity instead). */
  def ingest(docs: DataFrame, dir: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        graft.ops.SketchOps.appendToBloomIndex(b.sparkSession, dir, b)
      }
}

/** See [[BloomIngest]] — the additive (CMS) half. */
object CmsIngest {

  def ingest(docs: DataFrame, dir: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        graft.ops.SketchOps.appendToCmsIndex(b.sparkSession, dir, b, id)
      }
}

/** Streaming cardinality at ingest (twin #27): each micro-batch appends
  * its own HLL register file ([[graft.ops.SketchOps.appendToHllIndex]]);
  * the standing estimate re-derives through the read-time per-bucket MAX
  * — the [[BloomIngest]] exactly-once class (MAX is idempotent like OR:
  * redelivered batches, partial first writes retried in full, and even
  * overlapping chunk boundaries are absorbed with no batch-id or dedup
  * machinery), with the HLL twist that the state is a FIXED-SIZE
  * register file regardless of stream length — the live distinct-users
  * counter a 100 TB event pipeline keeps per day/tenant. `toks` needs a
  * single `tok` column. */
object HllIngest {

  def ingest(toks: DataFrame, dir: String): DataStreamWriter[Row] =
    toks.writeStream
      .outputMode("append")
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        graft.ops.SketchOps.appendToHllIndex(b.sparkSession, dir, b)
      }

  /** Rewrite the register log to one row per bucket (MAX fold —
    * estimate-invariant, [[IndexCompaction]]). */
  def compact(s: org.apache.spark.sql.SparkSession, dir: String): Unit =
    LegacyCompaction.compactMaxFold(s, dir + "/regs", "rho")
}

/** Streaming vocabulary-growth monitoring at ingest (twin #29): each
  * micro-batch appends its own per-segment register file + per-segment
  * doc counts ([[graft.ops.SketchOps.appendToGrowthIndex]]); the
  * standing Heaps-law curve re-derives through
  * [[graft.ops.SketchOps.growthFromIndex]]. One index, two monoids,
  * two exactly-once stories: registers absorb ANY replay interleaving
  * by read-time MAX (the [[HllIngest]] class), doc counts ride the
  * micro-batch id into a read-time dedup before their sum (the
  * [[QsIngest]] class). The production question this answers live:
  * is the crawl still buying vocabulary, per ingested prefix, without
  * ever rescanning what was already ingested. `docs` needs
  * (doc_id, text). */
object GrowthIngest {

  def ingest(docs: DataFrame, dir: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        graft.ops.SketchOps.appendToGrowthIndex(b.sparkSession, dir, b, id)
      }
}

/** Streaming quantile monitoring at ingest (twin #28): each micro-batch
  * appends its own (batch_id, bucket_id, cnt) cell partial
  * ([[graft.ops.SketchOps.appendToQsIndex]]) — the [[CmsIngest]]
  * additive class (replay safety = the batch id the read-time dedup
  * keys on), giving a LIVE p50/p90/p99 over everything ingested so far
  * in < 1000 cells of state at any value spread. The production
  * monitor this models: length/latency distribution drift visible at
  * ingest time, without a corpus-sized sort anywhere. `docs` needs an
  * `n_chars` column. */
object QsIngest {

  def ingest(docs: DataFrame, dir: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        graft.ops.SketchOps.appendToQsIndex(b.sparkSession, dir, b, id)
      }
}
