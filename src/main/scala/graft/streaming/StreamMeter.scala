package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery
import scala.util.control.NonFatal

/** Per-gate streaming-run telemetry (round-14 verdict item 6): every
  * streaming gate drains its query through [[drain]], which records the
  * run's micro-batch count and final state-store row count keyed by the
  * GATE name. Bench emits the snapshot as `streaming_meter` in the
  * archival artifact, so "this streaming row is init-dominated" is
  * measured per row — a 6 s stream-stream join that ran 3 micro-batches
  * holding 12k state rows reads very differently from one that ran 40 —
  * instead of inferred from the single 1-row `streaming_overhead` probe.
  *
  * The map keeps the LAST run per gate (Bench runs each gate 2× plus a
  * warm-up; replays are deterministic over fixed fixtures, so the counts
  * are identical across runs of a generation). Thread-safe; Verify's
  * sequential gate loop and Bench's timed loop both just see their own
  * last drain.
  */
object StreamMeter {

  final case class Meter(batches: Int, dataBatches: Int, stateRows: Long,
                         capped: Boolean)

  private val meters =
    scala.collection.concurrent.TrieMap.empty[String, Meter]

  /** The last drained run's micro-batch execution and its gate
    * (round-17): its executed streaming plan — state-store operators and
    * exchange partition counts included — is the only place the
    * state-partition sizing ([[StreamTuning]]) is observable; batch
    * `DataFrame.explain` on a gate's drained output never shows the
    * stream side. The reference is taken before `stop()`; the plan
    * renders only when [[lastPlan]] asks (rendering a banded
    * flatMapGroupsWithState plan costs 0.3–0.6 s, which a timed drain
    * must not pay). One slot, not one per gate: an execution reaches its
    * sink, so a memory sink's rows stay reachable while it is kept, and
    * the last drain's rows are the ones its caller still holds.
    */
  @volatile private var lastExecution: Option[
    (String, org.apache.spark.sql.execution.streaming.runtime.IncrementalExecution)] = None

  /** The micro-batch plan of `gate`'s run, if it was the last one drained. */
  def lastPlan(gate: String): Option[String] =
    lastExecution.collect { case (g, e) if g == gate => e.simpleString }

  /** `processAllAvailable()` + `stop()` + record the run's progress
    * telemetry under `gate`. Exactly the drain idiom every streaming
    * gate already used, with the metering attached at the one seam they
    * share. `batches` counts every micro-batch the engine planned;
    * `dataBatches` only those that carried input rows (the no-data
    * batches watermark/state-cleanup ticks add); `stateRows` is the sum
    * over state operators of rows held after the final batch. `capped`
    * flags a run whose telemetry outgrew `recentProgress`'s retention
    * window (`spark.sql.streaming.numRecentProgressUpdates`, default
    * 100): batch ids are contiguous from 0 within a run, so the TRUE
    * planned-batch count is recovered from the final event's batchId
    * and `batches` stays exact past retention — but `dataBatches` is
    * derived from the RETAINED WINDOW only and reads as a lower bound
    * when `capped` (round-15/16 review findings: the old
    * `length >= retention` rule both flagged an exactly-at-retention
    * run that lost nothing and silently clamped `batches` itself).
    * `stateRows` comes from the final event alone — never
    * window-limited. A query RESTARTED from a checkpoint resumes batch
    * ids mid-sequence; the id-vs-length gap alone therefore doesn't
    * imply truncation, which is why `capped` also requires the window
    * to be full — and why callers that REUSE a checkpoint must pass
    * `resumed = true`: for a resumed run the id-based recovery would
    * report a CROSS-RUN total (lastBatchId + 1 counts every batch since
    * the checkpoint was created, not this run's), so a resumed-and-
    * capped run reports the retained window length instead — an exact
    * count while the run drains ≤ retention − 2 batches, a flagged
    * lower bound from retention − 1 up (round-16 advice: the old doc
    * claimed restart gates "stay exact" through ≤ retention batches,
    * but a resumed run draining exactly retention − 1 fills the window,
    * trips `capped`, and the id recovery would have shipped the
    * cross-run total; StreamMeterSpec drives that case live).
    */
  def drain(q: StreamingQuery, gate: String, resumed: Boolean = false): Unit = {
    q.processAllAvailable()
    lastExecution = q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        Option(w.streamingQuery.lastExecution).map(gate -> _)
      case _ => None
    }
    q.stop()
    val prog = q.recentProgress
    val retention =
      try q.sparkSession.conf
        .get("spark.sql.streaming.numRecentProgressUpdates", "100").toInt
      catch { case NonFatal(e) =>
        System.err.println(s"[graft] StreamMeter: progress retention unreadable ($e); assuming 100")
        100 }
    val idCount = prog.lastOption.map(_.batchId + 1L).getOrElse(0L)
    // the engine's progress buffer dequeues WHILE length >= retention
    // after each append, so it retains at most retention − 1 events —
    // a full window is length == retention − 1 (measured in
    // StreamMeterSpec: retention 3 keeps 2 events)
    val capped = prog.length >= retention - 1 && idCount > prog.length
    meters.put(gate, Meter(
      batches =
        if (!capped) prog.length
        // fresh run: ids are contiguous from 0, so the final id recovers
        // the true planned count past the window. Resumed run: ids
        // started mid-sequence, the id span is a cross-run total —
        // report the retained length (a lower bound, flagged by capped).
        else if (!resumed) idCount.toInt
        else prog.length,
      dataBatches = prog.count(_.numInputRows > 0L),
      stateRows = prog.lastOption
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L),
      capped = capped))
  }

  def snapshot: Map[String, Meter] = meters.toMap

  def reset(): Unit = meters.clear()
}
