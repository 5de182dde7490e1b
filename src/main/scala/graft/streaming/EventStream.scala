package graft.streaming

import graft.core.{GenerationCache, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.NumericFunctions.{decSum, roundN}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming over the `events` table (extension surface —
  * SURVEY.md §2.11: the reference has no streaming; the fixtures' `ts`
  * column exists for exactly this demo).
  *
  * The batch twins live in [[graft.operators.EventOps]]; Spark's unified
  * model means the same Column expressions run in both modes. For local
  * verification the parquet file is replayed through
  * [[Tables.eventsStream]] (the batch read's cached schema and `ts`
  * dispatch, with `ts` as `timestamp`). Every memory-sink gate runs
  * through the one bounded-stream runner, [[StreamMeter.toMemory]]
  * (start, synchronous drain, meter, capture, drop), inside
  * [[StreamTuning.withStatePartitions]]; the file-sink and foreachBatch
  * gates drain through [[StreamMeter.drain]] directly.
  */
object EventStream {

  /** Windowed streaming aggregation with a watermark: hourly counts + value
    * sums per event type. Late events beyond 2 hours are dropped — state
    * stays bounded however long the stream runs.
    */
  def hourlyCounts(t: Tables): DataFrame =
    StreamTuning.withStatePartitions(t) {
    val agg = t.eventsStream
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), roundN(decSum(col("value")), 2).as("total_value"))
    // UTC session ⇒ cast to NTZ keeps wall-clock time; matches the batch twin
    StreamMeter.toMemory(agg, "events_hourly_streaming", OutputMode.Complete())
      .withColumn("hour_start", col("hour_start").cast("timestamp_ntz"))
  }

  /** Streaming exact dedup — the training-pipeline "drop replayed events"
    * stage: dropDuplicatesWithinWatermark keys state by event_id and
    * evicts it once the watermark passes, so state stays bounded on an
    * unbounded stream (a plain dropDuplicates would grow state forever).
    * Emits per-type counts of the deduplicated stream; equals the batch
    * distinct count, which the oracle checks.
    */
  def dedupCounts(t: Tables): DataFrame =
    StreamTuning.withStatePartitions(t) {
    val agg = t.eventsStream
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
    StreamMeter.toMemory(agg, "events_dedup_streaming", OutputMode.Complete())
  }

  /** Stream–static join: the event stream enriched against a STATIC
    * dimension — the bucket-exploded busy-window table of
    * [[graft.operators.EventOps.intervalJoinBusyWindows]], computed once
    * from the batch table at plan time (standing in for a
    * slowly-changing campaign/maintenance dimension). Stream–static
    * inner joins are STATELESS: each micro-batch probes the static side
    * (broadcast here), no watermark and no join state however long the
    * stream runs — the production shape for stream enrichment, distinct
    * from the stateful stream–stream joins ([[clickPurchaseJoin]]). The
    * interval match uses the same bucket equi-join + containment filter
    * as the batch twin; counts aggregate in Complete mode (streaming
    * forbids count(DISTINCT), so this emits n_events only — the batch
    * gate keeps the distinct-user column).
    */
  def intervalJoinStreaming(t: Tables): DataFrame =
    StreamTuning.withStatePartitions(t) {
    val wb = graft.operators.EventOps.busyWindowBuckets(t, 20)
    val agg = t.eventsStream
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .withColumn("bucket", date_trunc("hour", col("ts")))
      .join(wb, Seq("bucket"))
      .filter(col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .groupBy("w_start", "w_end")
      .agg(count(lit(1)).as("n_events"))
    StreamMeter.toMemory(agg, "events_interval_join_streaming", OutputMode.Complete())
      .orderBy("w_start")
  }

  /** One temp dir holding the sink's `out` and `ckpt` dirs per (input dir,
    * events generation), deleted on eviction or exit. The checkpoint tracks
    * consumed source files: reusing it for the same input makes replays
    * no-ops (the committed output is simply re-read — idempotent under
    * Bench's min-of-2), while a different input dir or a regenerated
    * `events.parquet` gets a fresh pair, or its rows would APPEND onto the
    * previous corpus's output (or be skipped as already seen).
    */
  private val fileSinkDirs =
    GenerationCache.dirs[Unit]("events.parquet", "graft_fsink_")

  /** Streaming parquet FILE sink roundtrip — the continuous-ingest landing
    * path (readStream → stateless transform → exactly-once parquet files).
    * The sink commits files through its `_spark_metadata` transaction log
    * and the batch read-back resolves through that log, so partially
    * written files are invisible — that exactly-once contract is what the
    * hash gate checks: the oracle computes the same per-type rollup
    * straight from the source table, and any dropped or doubled row (e.g.
    * from a replayed micro-batch after recovery) breaks the match.
    */
  def fileSinkRoundtrip(t: Tables): DataFrame = {
    val sinkDir = fileSinkDirs(t.dir, ())(_ => ())
    val outDir = s"$sinkDir/out"
    val q = t.eventsStream
      .select("event_id", "event_type", "value")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", s"$sinkDir/ckpt")
      .outputMode(OutputMode.Append())
      .start()
    // the checkpoint is REUSED per input generation, so every call after the
    // first is a resumed run (batch ids continue mid-sequence) — the
    // meter must not recover a capped count from the final batch id
    StreamMeter.drain(q, "events_file_sink", resumed = true)
    t.spark.read.parquet(outDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), roundN(decSum(col("value")), 2).as("total_value"))
      .orderBy("event_type")
  }

  /** The stream-join family's one join: clicks (`u`, `click_ts`) and
    * purchases (`u2`, `buy_ts`), each under a 2-hour watermark, matched
    * on user with `buy_ts` in (click_ts, click_ts + 1 h].
    */
  private def clickBuyJoin(t: Tables, joinType: String): DataFrame = {
    val clicks = t.eventsStream
      .filter(col("event_type") === "click")
      .select(col("user_id").as("u"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val buys = t.eventsStream
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"), col("ts").as("buy_ts"))
      .withWatermark("buy_ts", "2 hours")
    clicks.join(buys,
      col("u") === col("u2") &&
        col("buy_ts") > col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      joinType)
  }

  /** Stream-stream INNER join with an event-time interval — the funnel
    * query (click followed by a purchase within the hour) as a genuine
    * two-stream join, not a batch self-join. Both sides carry watermarks
    * and the join condition bounds `buy_ts` to (click_ts, click_ts + 1 h]:
    * that pair is what lets Spark compute state-cleanup bounds — a click
    * older than watermark − 1 h can never match a future purchase and its
    * state row is evicted, so state is O(arrival rate × (watermark delay +
    * interval)) on an unbounded stream. Matches emit as they arrive
    * (inner join, append mode), so over the finite replay the emitted
    * pair set is exactly the batch interval join, which the oracle states
    * directly; the per-user rollup runs in batch on the drained sink.
    */
  def clickPurchaseJoin(t: Tables): DataFrame =
    StreamTuning.withStatePartitions(t) {
    StreamMeter.toMemory(clickBuyJoin(t, "inner")
      .select(col("u").as("user_id"), col("click_ts"), col("buy_ts")),
      "events_stream_join", OutputMode.Append())
      .groupBy("user_id")
      .agg(count(lit(1)).as("click_buy_pairs"))
      .orderBy("user_id")
  }

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                event_type: String, value: Double, props: String)

  /** Per-user state: 1-based index of the CURRENT session (matches the
    * batch twin's running break count), its event count, its value total in
    * exact integer cents (the fixtures' values are 2-dp doubles — integer
    * accumulation is order-independent and bit-stable, where a running
    * double sum would drift from the oracle's exact decimal sum), and the
    * last event's epoch-seconds.
    */
  case class SessionState(sid: Long, count: Long, totalCents: Long, lastSec: Long)
  case class SessionOut(user_id: Long, session_id: Long,
                        events_in_session: Long, session_value: Double)

  /** Custom stateful sessionization with flatMapGroupsWithState: a session
    * CLOSES after a 30-minute event-time gap (the next event of the user
    * arrives >30 min later, or the event-time timeout fires). The batch
    * twin is EventOps.userSessions (lag + windowed sum) — over a FINITE
    * replay this stream emits exactly the batch sessions minus each user's
    * final, still-open session (in Append mode the watermark never passes
    * max ts, so the last session's timeout cannot fire — round-1 verdict
    * item 4). The oracle states that contract directly: batch sessions
    * QUALIFY session_id < max(session_id) per user.
    */
  def sessionize(t: Tables): DataFrame =
    StreamTuning.withStatePartitions(t) {
    import t.spark.implicits._
    val out = t.eventsStream.as[Ev]
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, events: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.sid, s.count, s.totalCents / 100.0))
          } else {
            // events within a micro-batch are not ordered; sort this user's slice
            val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val sec   = e.ts.getTime / 1000
              val cents = math.round(e.value * 100)
              cur match {
                case Some(s) if sec - s.lastSec <= 1800 =>
                  cur = Some(SessionState(s.sid, s.count + 1, s.totalCents + cents, sec))
                case Some(s) =>
                  closed ::= SessionOut(user, s.sid, s.count, s.totalCents / 100.0)
                  cur = Some(SessionState(s.sid + 1, 1, cents, sec))
                case None =>
                  cur = Some(SessionState(1, 1, cents, sec))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastSec * 1000 + 1800 * 1000)
            }
            closed.reverseIterator
          }
      }
    StreamMeter.toMemory(out, "events_sessions_streaming", OutputMode.Append())
  }

  /** Streaming twin of [[graft.operators.EventOps.slidingTypeCounts]] —
    * the same overlapping 2 h/1 h `window()` expression under a
    * watermark, completing the streaming twin set for all three window
    * families (tumbling [[hourlyCounts]], sliding here, session
    * [[sessionizeNativeWindows]]). Complete mode like the tumbling twin:
    * over a finite replay it emits every window, so the gate states
    * EXACT equality with the batch operator (the unbounded-stream
    * deployment flips to append + watermark eviction, the mode the
    * session twin exercises).
    */
  def slidingCounts(t: Tables): DataFrame =
    StreamTuning.withStatePartitions(t) {
    val agg = t.eventsStream
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "2 hours", "1 hour").getField("start").as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), roundN(decSum(col("value")), 2).as("total_value"))
    StreamMeter.toMemory(agg, "events_sliding_streaming", OutputMode.Complete())
      .withColumn("win_start", col("win_start").cast("timestamp_ntz"))
  }

  /** The production-shaped tumbling twin: the same hourly aggregation as
    * [[hourlyCounts]] but in APPEND mode — a window row is emitted exactly
    * once, when the watermark passes its end (it can no longer receive
    * rows: any event that would land in it is late beyond the watermark
    * and dropped), and its state is evicted. This is the mode an unbounded
    * deployment runs: state is bounded by (watermark delay / window size)
    * windows per key, not by stream length. Over the finite replay the
    * emitted set is exactly the batch windows whose end precedes the final
    * watermark (max event time − 2 h, µs precision, `<=` boundary like the
    * session twin) — the open tail windows stay in state, and the oracle
    * states that closed-window predicate directly.
    */
  def hourlyCountsAppend(t: Tables): DataFrame =
    StreamTuning.withStatePartitions(t) {
    val agg = t.eventsStream
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), roundN(decSum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))
    StreamMeter.toMemory(agg, "events_hourly_streaming_append", OutputMode.Append())
      .withColumn("hour_start", col("hour_start").cast("timestamp_ntz"))
      .orderBy("hour_start", "event_type")
  }

  /** Append-mode twin of [[slidingCounts]] — same 2 h/1 h overlapping
    * windows, emitted once closed by the watermark (see
    * [[hourlyCountsAppend]] for the emission contract). A sliding window
    * closes when the watermark passes `win_start + 2 h`, so at any moment
    * at most (delay + width) / slide windows per key are live.
    */
  def slidingCountsAppend(t: Tables): DataFrame =
    StreamTuning.withStatePartitions(t) {
    val agg = t.eventsStream
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), roundN(decSum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))
    StreamMeter.toMemory(agg, "events_sliding_streaming_append", OutputMode.Append())
      .withColumn("win_start", col("win_start").cast("timestamp_ntz"))
      .orderBy("win_start", "event_type")
  }

  /** Stream-stream LEFT OUTER join — [[clickPurchaseJoin]]'s outer form,
    * completing the stream-join family: clicks that found a purchase
    * within the hour emit matched as they arrive (inner semantics), and a
    * click emits ONCE with a null purchase when the watermark passes the
    * end of its match window (click_ts + 1 h — no future purchase can ever
    * match it, so its state row is evicted and the null-padded row
    * released). State stays O(arrival rate × (delay + interval)) on an
    * unbounded stream, identical to the inner form. Over the finite replay
    * the emitted set is: ALL batch-matched pairs, plus the unmatched
    * clicks whose match window closed under the final watermark — open-
    * tail unmatched clicks stay in state, exactly like the unclosed
    * sessions of the session twin. The gate rolls up per user: matched
    * pair count and closed unmatched count.
    */
  def clickPurchaseLeftJoin(t: Tables): DataFrame =
    StreamTuning.withStatePartitions(t) {
    StreamMeter.toMemory(clickBuyJoin(t, "leftOuter")
      .select(col("u").as("user_id"), col("click_ts"), col("buy_ts")),
      "events_stream_left_join", OutputMode.Append())
      .groupBy("user_id")
      .agg(count(col("buy_ts")).as("click_buy_pairs"),
        count(when(col("buy_ts").isNull, 1)).as("closed_unmatched"))
      .orderBy("user_id")
  }

  /** Stream-stream FULL OUTER join — the last member of the stream-join
    * family (inner [[clickPurchaseJoin]], left [[clickPurchaseLeftJoin]]):
    * matched pairs emit as they arrive; an unmatched CLICK emits
    * null-padded once the watermark passes the end of its match window
    * (click + 1 h); an unmatched PURCHASE emits null-padded once the
    * watermark passes its own event time — the condition `buy_ts >
    * click_ts` means a purchase only ever matches EARLIER clicks, so
    * once the watermark guarantees no click at-or-before it can still
    * arrive, its fate is sealed. Both state stores stay bounded by the
    * same cleanup rules as the one-sided forms. The gate rolls up per
    * user: matched pairs, closed unmatched clicks, closed unmatched
    * purchases.
    */
  def clickPurchaseFullJoin(t: Tables): DataFrame =
    StreamTuning.withStatePartitions(t) {
    StreamMeter.toMemory(clickBuyJoin(t, "fullOuter")
      .select(coalesce(col("u"), col("u2")).as("user_id"),
        col("click_ts"), col("buy_ts")),
      "events_stream_full_join", OutputMode.Append())
      .groupBy("user_id")
      .agg(
        count(when(col("click_ts").isNotNull && col("buy_ts").isNotNull, 1))
          .as("click_buy_pairs"),
        count(when(col("buy_ts").isNull, 1)).as("closed_unmatched_clicks"),
        count(when(col("click_ts").isNull, 1)).as("closed_unmatched_buys"))
      .orderBy("user_id")
  }

  /** Streaming twin of [[graft.operators.EventOps.nativeSessionWindows]]:
    * the IDENTICAL `session_window` grouping expression running in append
    * mode under a 2-hour watermark — Spark's unified model means the gap
    * merge that was an aggregate in batch becomes watermark-finalized
    * session state here with no operator rewrite. Append emits a session
    * once the watermark passes its end (the window can no longer merge:
    * any event that would extend it is by definition late beyond the
    * watermark and dropped). Over the finite replay the emitted set is
    * exactly the batch sessions whose end precedes the final watermark
    * (max event time − 2 h) — the open tails stay unemitted, and the
    * oracle states that closed-session predicate directly.
    */
  def sessionizeNativeWindows(t: Tables): DataFrame =
    StreamTuning.withStatePartitions(t) {
    val agg = t.eventsStream
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.functions.NumericFunctions.roundN(decSum(col("value")), 2).as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("total_value"))
    StreamMeter.toMemory(agg, "events_sessions_native_streaming", OutputMode.Append()).orderBy("user_id", "session_start")
  }

  /** Per-batch latest-event-per-user upsert of one micro-batch into the
    * parquet target at `targetDir`, returning the new version path. The
    * merge is the MERGE-less upsert: (existing ∪ batch-latest) reduced to
    * one row per user by max_by over the total order (ts, event_id). Each
    * version writes to a fresh subdirectory — the previous version stays
    * readable during the write (no in-place overwrite of a directory a
    * reader may hold), then becomes garbage the shutdown hook sweeps.
    * At 100 TB the target would be a table format with real MERGE and
    * the batch side would join-prune (only touched user partitions
    * rewritten); the per-batch shape here — batch pre-reduced before the
    * union, one exchange on user_id — is the part that carries over.
    */
  private[streaming] def upsertVersion(
      spark: SparkSession, targetDir: String,
      prev: Option[String], batch: DataFrame, version: Long): String = {
    val latest = batch
      .groupBy("user_id")
      .agg(max_by(
        struct(col("ts"), col("event_id"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("e"))
      .select(col("user_id"), col("e.ts").as("ts"), col("e.event_id").as("event_id"),
        col("e.event_type").as("event_type"), col("e.value").as("value"))
    val merged = prev match {
      case Some(p) =>
        spark.read.parquet(p).unionByName(latest)
          .groupBy("user_id")
          .agg(max_by(
            struct(col("ts"), col("event_id"), col("event_type"), col("value")),
            struct(col("ts"), col("event_id"))).as("e"))
          .select(col("user_id"), col("e.ts").as("ts"), col("e.event_id").as("event_id"),
            col("e.event_type").as("event_type"), col("e.value").as("value"))
      case None => latest
    }
    val out = s"$targetDir/v$version"
    merged.write.mode("overwrite").parquet(out)
    // v is committed; v-1 is garbage nobody can still be handed — drop it
    // now so repeated invocations (Verify + Bench min-of-2) keep at most
    // two versions on disk instead of one per micro-batch until JVM exit
    prev.foreach(Tables.deleteRecursively)
    out
  }

  /** foreachBatch upsert sink — the "maintain a serving table from a
    * stream" shape: every micro-batch merges into a latest-event-per-user
    * parquet target via [[upsertVersion]]. foreachBatch is the escape
    * hatch Structured Streaming provides for sinks with no native
    * connector (JDBC upserts, MERGE into table formats); the batch handle
    * it passes is a full DataFrame, so the merge itself stays declarative
    * and distributed. Each call replays the source against a fresh
    * checkpoint into a fresh target (deterministic end state — the gate
    * hash-checks it against a batch argmax oracle); the multi-batch
    * replay/restart semantics are spec-proven over a MemoryStream.
    */
  /** One (target, checkpoint-root) pair per JVM with a single shutdown
    * hook — the same discipline OrcIO/JsonIO use so Verify + Bench's
    * repeated calls never accumulate temp dirs or hooks. Each CALL gets a
    * fresh checkpoint SUBDIR (a reused checkpoint would make the replay a
    * no-op) and a fresh version namespace under the shared target; old
    * versions are pruned as soon as their successor commits.
    */
  private lazy val upsertDirs: (String, String) =
    (Tables.scratchDir("graft_upsert_"), Tables.scratchDir("graft_upsert_ckpt_"))
  private val upsertCalls = new java.util.concurrent.atomic.AtomicLong(0)

  def foreachBatchUpsert(t: Tables): DataFrame =
    StreamTuning.withStatePartitions(t) {
    val spark = t.spark
    val call = upsertCalls.incrementAndGet()
    val (targetRoot, ckptRoot) = upsertDirs
    // the previous call's final version is dead once a new call begins
    // (its returned frame has been consumed) — sweep it so repeated calls
    // hold at most one final version plus the in-flight one
    if (call > 1) Tables.deleteRecursively(s"$targetRoot/call${call - 1}")
    val targetDir = s"$targetRoot/call$call"
    val ckptDir   = s"$ckptRoot/call$call"
    @volatile var current: Option[String] = None
    val q = t.eventsStream
      .select("user_id", "ts", "event_id", "event_type", "value")
      .writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        current = Some(upsertVersion(spark, targetDir, current, batch, id))
      }
      .start()
    StreamMeter.drain(q, "events_foreach_upsert")
    current match {
      case Some(p) =>
        // eagerly materialized: the NEXT call sweeps this call's target
        // directory, so a returned frame that still lazily read the
        // parquet would hit FileNotFoundException for any caller holding
        // it across calls — after localCheckpoint the rows live in block
        // storage and the files are free to go
        spark.read.parquet(p)
          .select(col("user_id"), unix_millis(col("ts")).as("last_ms"),
            col("event_type").as("last_type"), col("value").as("last_value"))
          .orderBy("user_id")
          .localCheckpoint(true)
      case None => spark.emptyDataFrame
    }
  }

  /** Streaming observability — the progress LEDGER: every trigger of a
    * Structured Streaming query reports `numInputRows` in its
    * StreamingQueryProgress; the sum over a bounded run's triggers plus
    * the sink's own row accounting must BOTH equal the exact source
    * count. This is how a production 100 TB ingest proves exactly-once
    * end-to-end without a second scan — the monitoring plane
    * (progress events, what a dashboard/alert consumes) is reconciled
    * against the data plane (the sink), and the gate hash-checks both
    * against the oracle's direct count. The trigger sum is the
    * `inputRows` [[StreamMeter.drain]] records for the run;
    * `recentProgress` retains the last 100 triggers; the bounded replay drains in far fewer (a
    * zero-trigger or truncated ledger would break the hash loudly).
    */
  def progressLedger(t: Tables): DataFrame =
    StreamTuning.withStatePartitions(t) {
    import t.spark.implicits._
    val gate = "events_progress_ledger"
    val rowsInSink = StreamMeter.toMemory(
      t.eventsStream.groupBy(col("event_type")).agg(count(lit(1)).as("n")),
      gate, OutputMode.Complete())
      .agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
    val rowsIngested = StreamMeter.snapshot(gate).inputRows
    Seq((rowsIngested, rowsInSink, rowsIngested == rowsInSink))
      .toDF("rows_ingested", "rows_in_sink", "ledger_balanced")
  }
}
