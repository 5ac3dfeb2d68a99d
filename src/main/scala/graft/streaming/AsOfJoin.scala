package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.slf4j.LoggerFactory
import graft.expressions.RowCodec

/** Event-time temporal (as-of) join over changelog dimensions — the
  * `FOR SYSTEM_TIME AS OF probe.event_time` of
  * flink-applications/06-flink-cdc-temporal-join.json:30, the one
  * operator Spark SQL lacks for streams (SURVEY.md §7.3).
  *
  * Design (stream-correct, scale-aware):
  * - Both sides are tagged and unioned, then grouped by join key:
  *   ONE shuffle; per-key state instead of a pairwise join.
  * - State per key: the dimension's version history + probes still
  *   waiting for the watermark. A probe emits only once the global
  *   watermark passes its event time, guaranteeing every dim version
  *   ≤ that time has been seen (the reference's min-watermark gating,
  *   README.md:526-534).
  * - State GC: versions superseded before the watermark can never match
  *   a future probe, so only the latest version ≤ watermark plus all
  *   newer versions are kept — bounding the "possibly large state"
  *   concern (README.md:559). Keys holding only versions re-GC on an
  *   event-time timeout, so idle keys prune as the watermark advances
  *   instead of retaining history until their next event.
  * - Event times compare at MICROSECOND precision (Spark timestamps are
  *   µs): two versions inside the same millisecond order correctly,
  *   matching the batch form and DuckDB ASOF semantics. Only the
  *   watermark gate itself is millisecond-granular (Spark's watermark
  *   unit).
  * - Late probes (ts < watermark on arrival) still emit — matched
  *   against retained history — rather than silently dropping.
  * - Works in batch mode too (no watermark ⇒ everything flushes),
  *   which is how the DuckDB ASOF-join oracle checks it.
  * - Bounded map-side fan-out (streaming only): a source's micro-batch
  *   arrives as one partition per block it received (a MemoryStream adds
  *   one per `addData`), so a hop's input stage would run one task per
  *   block, and task launch, not the few hundred rows, would set the
  *   micro-batch's time. Each tagged side is coalesced to at most
  *   `defaultParallelism` partitions (the tasks the session runs at
  *   once, so no parallelism is lost) before the union. Each side on its
  *   own, not the union: the probe of a chained hop is the previous hop's
  *   stateful output, and a union-wide coalesce over partitions with no
  *   known location groups them by index, which can run several of that
  *   operator's state partitions in one task. A side that already has
  *   that many partitions or fewer is left as it is.
  *
  * Chaining: [[joinDataFramesWide]]'s output can probe another hop.
  * Scenario 6 does not chain (its four lookups share the order's event
  * time and run in one operator, [[EnrichAsOf]]). Rows emit at the
  * watermark boundary, so Spark's global-watermark correctness check
  * flags the downstream op — disable
  * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled` for
  * a chained query. Late probes that reach a hop are matched against its
  * retained version history, but the downstream hop's late filter drops
  * a row emitted at exactly the previous watermark (a watermark tie,
  * see StreamingSpec's two-hop tie test).
  *
  * Payloads travel as Spark's own UnsafeRow bytes
  * ([[graft.expressions.StructToBinary]]) — schema-generic like JSON,
  * but encode is one unsafe projection and decode is pointer assignment,
  * so a chained hop no longer pays a text format/parse round-trip per
  * row and state holds compact binary rows.
  */
object AsOfJoin {

  /** Re-GC cadence for keys left holding only dimension versions: the
    * state wakes up this many ms past the watermark to prune superseded
    * versions even if the key never sees another event. */
  private val IdleGcIntervalMs = 60000L

  private val log = LoggerFactory.getLogger(getClass)

  /** One tagged input row: join key, event time (this column carries the
    * stream's watermark — do not project it away before the stateful op),
    * side, payload (an UnsafeRow-encoded row — keeps the operator
    * schema-generic). */
  case class AsOfEvent(k: String, eventTime: java.sql.Timestamp,
      isProbe: Boolean, payload: Array[Byte]) {
    /** Microsecond event time: getTime carries ms, getNanos the full
      * sub-second — combine without double-counting the ms part. */
    def ts: Long = EventTimeOps.tsMicros(eventTime)
  }

  /** Output: probe row + the dim version in effect at probe.ts (None if
    * no version existed yet). Times are µs since epoch. */
  case class AsOfJoined(k: String, probeTs: Long, probePayload: Array[Byte],
      buildTs: Option[Long], buildPayload: Option[Array[Byte]])

  case class AsOfState(builds: List[(Long, Array[Byte])], probes: List[(Long, Array[Byte])])

  /** `wm` in µs (watermark ms × 1000). */
  private def flush(key: String, st: AsOfState, wm: Long):
      (List[AsOfJoined], AsOfState) = {
    val sortedBuilds = st.builds.sortBy(_._1).toVector
    def time(i: Int) = sortedBuilds(i)._1
    // STRICTLY below the watermark: Spark's late filter admits the µs
    // tail (wm, wm+999] of the watermark's own millisecond (measured —
    // see EventTimeOps), so a build row in that tail may still arrive;
    // a probe in the same millisecond must keep waiting or it could
    // miss an at-or-before version. Dropping of rows at ts <= wm is
    // only "expected, not guaranteed" by the docs — the strict gate
    // also orders any such straggler correctly instead of relying on
    // the drop.
    val (ready, pending) = st.probes.partition(e => EventTimeOps.ripe(e._1, wm))
    val out = ready.sortBy(_._1).map { case (pts, ppay) =>
      val m = sortedBuilds.lift(EventTimeOps.asOf(sortedBuilds.size, pts)(time))
      AsOfJoined(key, pts, ppay, m.map(_._1), m.map(_._2))
    }
    val kept = sortedBuilds.drop(EventTimeOps.firstKept(sortedBuilds.size, wm)(time))
    (out, AsOfState(kept.toList, pending))
  }

  private def updateFn(streaming: Boolean)(key: String, rows: Iterator[AsOfEvent],
      state: GroupState[AsOfState]): Iterator[AsOfJoined] = {
    // Batch mode = complete input: flush everything (EventTimeOps uses
    // the explicit flag, not Try — some Spark versions report watermark
    // 0 rather than throwing in batch).
    val (wm, wmMs) = EventTimeOps.watermarkMicros(streaming, state)
    if (log.isDebugEnabled)
      log.debug(s"key=$key wm=$wm timedOut=${state.hasTimedOut} hasState=${state.exists}")
    val prev = state.getOption.getOrElse(AsOfState(Nil, Nil))
    val (newBuilds, newProbes) = rows.toList.partition(!_.isProbe)
    val st = AsOfState(
      prev.builds ++ newBuilds.map(e => (e.ts, e.payload)),
      prev.probes ++ newProbes.map(e => (e.ts, e.payload)))
    val (out, next) = flush(key, st, wm)
    if (next.builds.isEmpty && next.probes.isEmpty) {
      state.remove()
    } else {
      state.update(next)
      if (wm != Long.MaxValue) {
        if (next.probes.nonEmpty) {
          // wake up when the watermark passes the earliest pending probe
          // (timeouts are in watermark ms; probe times are µs)
          EventTimeOps.armWake(state, next.probes.map(_._1).min, wmMs)
        } else if (next.builds.size > 1) {
          // builds-only key with prunable history: re-run GC later even
          // if no further event ever arrives for this key, so superseded
          // versions don't outlive the watermark (single-version keys
          // need no wakeup — one retained version IS the steady state).
          state.setTimeoutTimestamp(wmMs + IdleGcIntervalMs)
        }
      }
    }
    out.iterator
  }

  /** Join a tagged event stream (see [[tag]]) as-of event time.
    * For streaming input the caller must have applied a watermark to the
    * event-time column before tagging. */
  def join(events: Dataset[AsOfEvent]): Dataset[AsOfJoined] = {
    import events.sparkSession.implicits._
    val timeout =
      if (events.isStreaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(updateFn(events.isStreaming))
  }

  /** Tag a DataFrame side for the union: key col, event-time col (must be
    * TimestampType; keep the same column the watermark was set on), and
    * the full row UnsafeRow-encoded as payload. */
  def tag(df: DataFrame, keyCol: String, tsCol: String, isProbe: Boolean): DataFrame = {
    RowCodec.register(df.sparkSession)
    df.select(
      col(keyCol).cast("string").as("k"),
      col(tsCol).as("eventTime"),
      lit(isProbe).as("isProbe"),
      call_function("struct_to_binary",
        struct(df.columns.map(col): _*)).as("payload"))
  }

  /** Wide as-of join: like [[joinDataFrames]] but decodes the payloads
    * back to columns — probe columns as-is, build columns prefixed — and
    * re-exposes the probe's event time under its original column name, so
    * the output can feed ANOTHER as-of join (scenario 6 chains four,
    * 06-flink-cdc-temporal-join.json:30). Left-join semantics: unmatched
    * probes keep null build columns. */
  def joinDataFramesWide(probe: DataFrame, build: DataFrame, keyCol: String,
      tsCol: String, buildPrefix: String,
      delay: String = "0 seconds"): DataFrame = {
    val joined = joinDataFrames(probe, build, keyCol, tsCol, delay)
    RowCodec.register(probe.sparkSession)
    val pCols = probe.schema.fieldNames
    val bCols = build.schema.fieldNames
    joined
      .select(
        call_function("binary_to_struct",
          col("probePayload"), lit(probe.schema.toDDL)).as("_p"),
        call_function("binary_to_struct",
          col("buildPayload"), lit(build.schema.toDDL)).as("_b"))
      .select(
        pCols.map(c => col(s"_p.$c").as(c)) ++
          bCols.filterNot(_ == tsCol).map(c => col(s"_b.$c").as(buildPrefix + c)): _*)
  }

  /** Convenience: full as-of join of two DataFrames on a key + event-time
    * column. `delay` is the watermark for streaming inputs (ignored for
    * batch). Output: key, probe/build event times (µs) + binary payloads.
    * Streaming inputs have each side's partitions bounded first (see the
    * object doc); the batch form is planned as given. */
  def joinDataFrames(probe: DataFrame, build: DataFrame, keyCol: String,
      tsCol: String, delay: String = "0 seconds"): Dataset[AsOfJoined] = {
    val spark = probe.sparkSession
    import spark.implicits._
    val streaming = probe.isStreaming || build.isStreaming
    val slots = spark.sparkContext.defaultParallelism
    def side(df: DataFrame, isProbe: Boolean): DataFrame = {
      val t = tag(df, keyCol, tsCol, isProbe)
      if (streaming) t.coalesce(slots) else t
    }
    val tagged = side(build, isProbe = false).unionByName(side(probe, isProbe = true))
    val withWm =
      if (streaming) tagged.withWatermark("eventTime", delay) else tagged
    join(withWm.as[AsOfEvent])
  }
}
