package graft.streaming

import graft.core.{Ledger, Tables}
import org.apache.spark.sql.SparkSession

/** Scale-adaptive shuffle/state partitioning for the bounded streaming
  * gates (round-17 optimization; guide §2 "make partitioning
  * scale-adaptive — derive from input size — rather than a constant tuned
  * for either local mode or the cluster").
  *
  * A Structured Streaming stateful operator instantiates one state store
  * per shuffle partition per operator, and every micro-batch pays a
  * commit (delta file + maintenance bookkeeping) per store instance.
  * AQE never coalesces these exchanges — `spark.sql.shuffle.partitions`
  * is captured at query start and pinned for the checkpoint's lifetime —
  * so a session sized for batch work (cores = 32 here) runs a 2 MB
  * replay through 32 state partitions x up to 4 stores x batches, and
  * engine bookkeeping dwarfs data cost: the r17 baseline read the
  * stream-stream joins at ~8.7 s against 142 total state rows.
  *
  * [[statePartitions]] derives the partition count from the INPUT SIZE
  * (one state partition per ~16 MB of replayed input, floor 4, through
  * [[graft.core.ShuffleWidth.forTarget]]), capped at
  * the session's configured shuffle partitions so a production session —
  * where the conf is already sized to the cluster and the state volume —
  * is NEVER re-tuned upward or downward beyond its own setting: with
  * input >> partitions x 16 MB the derived value hits the cap and the
  * wrapper is a no-op.
  *
  * Results are partitioning-independent: watermark math, stateful
  * aggregation, dedup and join semantics key on row content, never on
  * the partition a row lands in (the correctness gates re-verify this
  * against the DuckDB oracle at every SF).
  */
object StreamTuning {

  private val bytesPerPartition = 16L << 20

  /** Cached per (dir, `events.parquet` generation): total bytes of the
    * events fixture — the replay volume the partition count is derived
    * from (every stateful gate replays `events`). A path that cannot be
    * walked reads as `Long.MaxValue`, so the configured partition count
    * is used; that fallback warns on stderr with the path and adds
    * `stream_tuning.size_fallback` to the [[Ledger]].
    */
  private val bytesCache = graft.core.GenerationCache[Unit, Long]("events.parquet")

  private[streaming] def inputBytes(dir: String): Long =
    bytesCache(dir, ()) {
      val path = s"$dir/events.parquet"
      try {
        val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
        try stream.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally stream.close()
      } catch { case scala.util.control.NonFatal(e) =>
        Ledger.add("stream_tuning.size_fallback")
        System.err.println(s"[graft] StreamTuning: cannot size $path " +
          s"($e); using the configured shuffle partitions")
        Long.MaxValue
      }
    }

  private[streaming] def statePartitions(spark: SparkSession, bytes: Long): Int =
    graft.core.ShuffleWidth.forTarget(spark, bytes, bytesPerPartition, 4)

  /** Run `body` (stream start + synchronous drain, usually one
    * [[StreamMeter.toMemory]] call) over `t`'s fixture with
    * `spark.sql.shuffle.partitions` set to the input-derived state
    * partition count, restoring the session value afterwards. The
    * streaming query clones the session conf when its stream execution
    * begins, so the override must span the drain, not just `start()`.
    * Batch queries planned inside `body` (foreachBatch merges) see the
    * same reduced value — their inputs are the same micro-batches, so
    * the sizing argument holds for them too.
    *
    * NOT thread-safe / reentrant (round-18 advice): the set/restore
    * mutates the SHARED session conf, so concurrent gates on one session
    * would see each other's override, and nested use restores the inner
    * value. Safe under the engine's actual execution model — Verify and
    * Bench run gates serially on the session — but a caller that ever
    * parallelizes gates must scope the override via `spark.newSession()`
    * instead.
    */
  def withStatePartitions[T](t: Tables)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = t.spark.conf.get(key)
    t.spark.conf.set(key, statePartitions(t.spark, inputBytes(t.dir)).toString)
    try body finally t.spark.conf.set(key, prev)
  }
}
