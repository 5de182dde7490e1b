package graft.streaming

import graft.core.Tables
import graft.operators.SnapshotOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The maintained aggregate as a STREAMING materialized view — the
  * production cadence of [[SnapshotOps.incrementalRollup]]: CDC batches
  * land continuously as files, a Structured Streaming query picks each
  * one up, and `foreachBatch` folds its signed deltas into a persisted
  * per-source rollup table. The corpus is never rescanned — each refresh
  * reads yesterday's tiny rollup and one bounded delta batch, exactly the
  * batch operator's contract, now driven by the streaming plane.
  *
  * Versioned state, not in-place mutation: every refresh writes rollup
  * version N+1 to its own directory and flips a pointer — the same
  * swap-on-commit posture a table format gives a 100 TB materialized
  * view (readers of version N are never torn by a concurrent refresh).
  */
object CdcStream {

  /** CDC envelope schema (Debezium shape: op + after-image + before
    * image) — file streams require a declared schema; this one is
    * engine-derived, not probed, because the feed is the engine's own
    * [[SnapshotOps.syntheticChangesWithImages]] materialization.
    */
  val changeSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("op", StringType),
    StructField("source", StringType),
    StructField("text", StringType),
    StructField("prev_source", StringType),
    StructField("prev_text", StringType)))

  /** Gate query: rollup(A) maintained through the A→B and B→C CDC
    * batches ARRIVING AS A STREAM (batch 2 is copied into the source dir
    * only after batch 1 has fully drained — the arrival order a real
    * changelog topic guarantees). The final stored rollup must equal
    * rollup(C) — the SAME oracle as the batch multi-hop gate
    * (`agg_incremental_rollup_multi`), making the streaming plane the
    * third independent path to the maintained view's truth: batch
    * two-hop, compacted one-hop, and now streamed.
    */
  def streamedRollupGate(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val work = java.nio.file.Files
      .createTempDirectory("graft_cdc_stream").toString
    val rows = try {
      val feedDir = s"$work/feed"
      val stateRoot = s"$work/rollup_v"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(feedDir))

      // the two CDC batches, materialized where the "topic" will serve them
      val staged1 = s"$work/staged1"
      val staged2 = s"$work/staged2"
      SnapshotOps.syntheticChangesWithImages(t)
        .write.mode("overwrite").parquet(staged1)
      SnapshotOps.syntheticChangesWithImages2(t)
        .write.mode("overwrite").parquet(staged2)

      // v0 = rollup(A): the view's initial full build (the ONLY corpus scan)
      val v0 = s"${stateRoot}0"
      SnapshotOps.rollupStats(t.documents.select("doc_id", "source", "text"))
        .write.mode("overwrite").parquet(v0)

      // pointer to the current version; foreachBatch runs on the driver,
      // and batches are serialized per query, so a plain var is safe here
      var current = v0
      var version = 0
      val q = spark.readStream
        .schema(changeSchema)
        .parquet(feedDir)
        .writeStream
        .option("checkpointLocation", s"$work/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val next = s"$stateRoot${version + 1}"
            SnapshotOps.incrementalRollup(spark.read.parquet(current), batch)
              .write.mode("overwrite").parquet(next)
            version += 1
            current = next
          }
        }
        .start()

      // "publish a batch to the topic": move the staged batch's data
      // files into the watched dir under a batch-tagged name (atomic per
      // file — the file-stream source only sees complete files)
      def publish(staged: String, tag: String): Unit =
        Tables.listLocalParquetFiles(staged).zipWithIndex.foreach {
          case (f, i) =>
            java.nio.file.Files.move(java.nio.file.Paths.get(f),
              java.nio.file.Paths.get(feedDir, s"${tag}_part$i.parquet"))
        }

      try {
        publish(staged1, "b1")
        q.processAllAvailable()
        publish(staged2, "b2")
        StreamMeter.drain(q, "agg_incremental_rollup_streamed")
      } finally if (q.isActive) q.stop()

      // the gate's output is the FINAL stored version — localized (the
      // rollup is #sources rows) so the temp state can be reclaimed
      spark.read.parquet(current)
        .select(col("source"), col("n_docs").cast("long"),
          col("total_chars").cast("long"), col("digest_sum").cast("long"))
        .as[(String, Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
    } finally Tables.deleteRecursively(work)
    rows.toDF("source", "n_docs", "total_chars", "digest_sum")
  }
}
