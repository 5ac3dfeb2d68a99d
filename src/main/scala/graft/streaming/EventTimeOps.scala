package graft.streaming

import org.apache.spark.sql.streaming.GroupState

/** The event-time scaffolding and the as-of rule of the
  * buffer-until-watermark stateful operators [[AsOfJoin]] and
  * [[EnrichAsOf]]. The boundary conventions:
  *
  *  - timestamps are MICROSECONDS end-to-end (the parquet feed's grain);
  *  - a buffered row is ripe only when the watermark has STRICTLY
  *    passed it. Measured on this Spark (StreamingSpec's boundary-
  *    contract test): the stateful late filter DROPS rows with
  *    ts <= watermark but ADMITS the µs tail (wm, wm+999] of the
  *    watermark's own millisecond — and the docs promise only that
  *    late rows are "expected, not guaranteed" to drop. The strict
  *    gate holds everything at-or-after wm, so both the admissible
  *    tail and any not-guaranteed-dropped straggler still reach the
  *    state before a probe they precede in event time is finalized;
  *  - batch mode (isStreaming = false) = complete input: the watermark
  *    is +∞ and everything flushes;
  *  - event-time timers re-arm past the earliest buffered event so a
  *    quiet key's pending work still finishes (timeouts are watermark
  *    MILLISECONDS, event times µs).
  */
private[streaming] object EventTimeOps {

  /** Microsecond event time of a java.sql.Timestamp. */
  def tsMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** (watermark µs, watermark ms). Long.MaxValue µs in batch mode —
    * some Spark versions report watermark 0 rather than throwing in
    * batch, so the explicit flag decides, not the Try. */
  def watermarkMicros(streaming: Boolean, state: GroupState[_]): (Long, Long) = {
    val wmMs =
      if (!streaming) Long.MaxValue
      else scala.util.Try(state.getCurrentWatermarkMs()).getOrElse(0L)
    (if (wmMs == Long.MaxValue) Long.MaxValue else wmMs * 1000L, wmMs)
  }

  /** Strict ripeness gate — see the class note for why never `<=`. */
  def ripe(tsMicros: Long, wmMicros: Long): Boolean = tsMicros < wmMicros

  /** The as-of rule over `n` versions sorted by time (`time(i)`, µs):
    * the index of the newest version at or before `ts` (the last of
    * equal times), or -1 if there is none. */
  def asOf(n: Int, ts: Long)(time: Int => Long): Int = {
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (time(mid) <= ts) lo = mid + 1 else hi = mid
    }
    lo - 1
  }

  /** Version GC at watermark `wm` (µs): of `n` versions sorted by time,
    * the index of the first to keep. A version superseded at or before
    * the watermark can match no probe still to come, so the version in
    * effect at the watermark and all later ones stay. */
  def firstKept(n: Int, wm: Long)(time: Int => Long): Int = math.max(asOf(n, wm)(time), 0)

  /** Arm the event-time timer to fire once the watermark passes the
    * earliest buffered event. */
  def armWake(state: GroupState[_], minBufferedMicros: Long, wmMs: Long): Unit =
    state.setTimeoutTimestamp(math.max(minBufferedMicros / 1000L + 1, wmMs + 1))
}
