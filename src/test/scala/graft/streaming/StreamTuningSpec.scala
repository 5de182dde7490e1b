package graft.streaming

import graft.SparkTestBase

/** [[StreamTuning]]'s input-derived state partition count, including the
  * fallback when the fixture path cannot be walked: the configured
  * partition count is used, a warning on stderr names the path, and the
  * ledger counts one `stream_tuning.size_fallback`.
  */
class StreamTuningSpec extends SparkTestBase {

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** `body`'s value and the sizing fallbacks it added to the ledger. */
  private def counted[T](body: => T): (T, Long) = {
    val before = graft.core.Ledger.snapshot()
    val out = body
    (out, graft.core.Ledger.delta(before).getOrElse("stream_tuning.size_fallback", 0L))
  }

  test("a missing fixture reads as Long.MaxValue, warns with its path and keeps the configured partitions") {
    // a dir without events.parquet
    val dir = graft.core.Tables.scratchDir("graft_stream_tuning_")
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val (bytes, fellBack) =
      try counted(StreamTuning.inputBytes(dir))
      finally System.setErr(saved)
    assert(bytes == Long.MaxValue && fellBack == 1L)
    assert(err.toString("UTF-8").linesIterator.exists(l =>
      l.contains("StreamTuning") && l.contains(s"$dir/events.parquet")),
      s"no StreamTuning warning naming the path in: $err")
    withShufflePartitions(64) {
      assert(StreamTuning.statePartitions(spark, bytes) == 64)
    }
  }

  test("small inputs get the floor of 4, large ones one partition per 16 MB up to the configured count") {
    withShufflePartitions(64) {
      assert(StreamTuning.statePartitions(spark, 0L) == 4)
      assert(StreamTuning.statePartitions(spark, 2L << 20) == 4)
      assert(StreamTuning.statePartitions(spark, (160L << 20) + 1) == 11)
      assert(StreamTuning.statePartitions(spark, 1L << 40) == 64)
    }
  }

  test("an unreadable events.parquet runs the gate at the configured count, warns with its path and keeps the rows") {
    // a `file:` URI dir: Spark reads the fixture through it, java.nio
    // cannot walk it, so the sizing falls back to the session's count
    val unsized = graft.core.Tables(spark, s"file:${t.dir}")
    val (sized, sizedFallbacks) = counted(EventStream.hourlyCounts(t).collect().toSet)
    assert(sizedFallbacks == 0L)
    val sizedParts = StreamMeter.snapshot("events_hourly_streaming").statePartitions
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    withShufflePartitions(7) {
      System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
      val (got, fellBack) =
        try counted(EventStream.hourlyCounts(unsized).collect().toSet)
        finally System.setErr(saved)
      assert(fellBack == 1L)
      assert(StreamMeter.snapshot("events_hourly_streaming").statePartitions == 7)
      assert(got.nonEmpty && got == sized, "the fallback must not change the gate's rows")
    }
    assert(sizedParts == 4, "the sized run uses the floor at sf0.001")
    assert(err.toString("UTF-8").linesIterator.exists(l =>
      l.contains("StreamTuning") && l.contains(s"file:${t.dir}/events.parquet")),
      s"no StreamTuning warning naming the path in: $err")
  }
}
