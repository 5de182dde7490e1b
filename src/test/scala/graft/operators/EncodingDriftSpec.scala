package graft.operators

import graft.SparkTestBase
import graft.core.Tables
import graft.streaming.EventStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Guards against fixture encoding drift (round-8 postmortem: the driver
  * regenerated `events.parquet` with `ts` as TIMESTAMP(MICROS) where prior
  * generations used TIMESTAMP(NANOS)-read-as-long, and the hard-coded nanos
  * path broke 24 gates — the streaming side SILENTLY, every timestamp
  * compressed 1000×).
  *
  * The same micro corpus is written in all three physical encodings the
  * dispatch supports — raw INT64 nanos, TIMESTAMP(MICROS) NTZ, and
  * UTC-adjusted TIMESTAMP — and both the batch reader (`Tables.events` →
  * `EventOps.hourlyTypeCounts`) and the streaming reader
  * (`EventStream.hourlyCounts` → `Tables.eventsStream`) must produce
  * identical results across them.
  * If the adaptive dispatch in either reader is removed, the nanos variant
  * throws (batch) or the row sets diverge (streaming), so this spec fails
  * before the driver's gates do on the next regeneration.
  */
class EncodingDriftSpec extends SparkTestBase {

  /** 40 events over ~6 hours for 3 users / 2 types, nanos-precision values
    * chosen so micros truncation is exact (whole seconds).
    */
  private lazy val encodedDirs: Map[String, String] = {
    import spark.implicits._
    val base = (0 until 40).map { i =>
      val sec = 1700000000L + i * 540L // every 9 minutes
      (i.toLong, sec, i.toLong % 3,
        if (i % 2 == 0) "click" else "purchase", i * 1.25, s"""{"k":$i}""")
    }
    val root = Tables.scratchDir("graft_enc_")

    // 1) raw INT64 nanos — what a TIMESTAMP(NANOS) file surfaces as under
    // legacy.parquet.nanosAsLong (Spark cannot author real NANOS parquet,
    // but the reader-visible schema is identical: ts comes back LongType)
    base.map { case (id, sec, u, ty, v, p) => (id, sec * 1000000000L, u, ty, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$root/nanos/events.parquet")

    // 2) TIMESTAMP(MICROS) isAdjustedToUTC=false — timestamp_ntz, the
    // current fixture encoding
    base.map { case (id, sec, u, ty, v, p) => (id, sec, u, ty, v, p) }
      .toDF("event_id", "sec", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("cast(timestamp_seconds(sec) as timestamp_ntz)"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$root/micros_ntz/events.parquet")

    // 3) UTC-adjusted TIMESTAMP(MICROS) — session is pinned UTC so the
    // wall-clock content matches the NTZ variant
    base.map { case (id, sec, u, ty, v, p) => (id, sec, u, ty, v, p) }
      .toDF("event_id", "sec", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$root/micros_ltz/events.parquet")

    Map("nanos" -> s"$root/nanos", "micros_ntz" -> s"$root/micros_ntz",
      "micros_ltz" -> s"$root/micros_ltz")
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("batch events read is encoding-adaptive: hourlyTypeCounts parity") {
    val results = encodedDirs.map { case (enc, dir) =>
      val out = EventOps.hourlyTypeCounts(Tables(spark, dir))
      // contract: ts-derived column independent of physical encoding
      enc -> canon(out)
    }
    val distinct = results.values.toSeq.distinct
    assert(distinct.size == 1,
      s"batch hourly counts diverge across encodings: ${results.keys}")
    assert(results("micros_ntz").nonEmpty)
  }

  test("streaming events read is encoding-adaptive: hourlyCounts parity") {
    val results = encodedDirs.map { case (enc, dir) =>
      enc -> canon(EventStream.hourlyCounts(Tables(spark, dir)))
    }
    val distinct = results.values.toSeq.distinct
    assert(distinct.size == 1,
      s"streaming hourly counts diverge across encodings: ${results.keys}")
    assert(results("micros_ntz").nonEmpty)
  }

  test("streaming dedup adapts to documents fixture width drift") {
    import spark.implicits._
    // same micro corpus in two physical widths: the current fixture shape
    // (int64 ids/counts) and a narrowed regeneration (int32) — the
    // streaming documents schema must absorb either, and the emitted pair
    // set must equal the batch operator's on both
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally different words in this other document here"),
      (4L, "alpha beta gamma delta epsilon zeta eta iota"))
    val root = Tables.scratchDir("graft_docenc_")
    docs.map { case (id, tx) => (id, tx, "en", "s0", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$root/wide/documents.parquet")
    docs.map { case (id, tx) => (id.toInt, tx, "en", "s0", tx.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$root/narrow/documents.parquet")
    val results = Seq("wide", "narrow").map { enc =>
      val dir = s"$root/$enc"
      // width-agnostic reads: the batch operator propagates the fixture's
      // id width to its output (int32 on the narrow variant), while the
      // typed streaming operator always emits longs
      val streamed = graft.streaming.DedupStream
        .minhashPairs(Tables(spark, dir), 0.3)
        .collect()
        .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet
      val batch = graft.operators.DedupOps
        .minhashDupPairs(Tables(spark, dir), 0.3)
        .collect()
        .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet
      assert(streamed == batch, s"stream vs batch pair sets differ on $enc")
      streamed
    }
    assert(results.distinct.size == 1, "pair sets differ across encodings")
    assert(results.head.nonEmpty, "vacuous: no near-dup pairs in the fixture")
  }

  test("in-place fixture regeneration invalidates the streaming schema caches") {
    import spark.implicits._
    // The driver regenerates fixtures IN-PLACE under a running JVM (the
    // round-8 ts drift arrived exactly that way), so the cached table
    // schemas key on (dir, fixture generation stamp): a rewrite with a
    // different physical encoding must be picked up without a restart, by
    // the streaming and the batch reader alike. With a dir-only key the
    // second reads below would apply the stale NTZ schema to raw int64
    // nanos — the silent 1000× compression class.
    val root = Tables.scratchDir("graft_regen_")
    val base = (0 until 12).map { i =>
      val sec = 1700000000L + i * 540L
      (i.toLong, sec, i.toLong % 3,
        if (i % 2 == 0) "click" else "purchase", i * 1.25, s"""{"k":$i}""")
    }
    def writeMicros(): Unit = base
      .toDF("event_id", "sec", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("cast(timestamp_seconds(sec) as timestamp_ntz)"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/events.parquet")
    def writeNanos(): Unit = base
      .map { case (id, sec, u, ty, v, p) => (id, sec * 1000000000L, u, ty, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/events.parquet")

    writeMicros()
    val before = canon(EventStream.hourlyCounts(Tables(spark, root)))
    val batchBefore = canon(EventOps.hourlyTypeCounts(Tables(spark, root)))
    writeNanos() // regeneration-in-place: same dir, different physical type
    val after = canon(EventStream.hourlyCounts(Tables(spark, root)))
    assert(before == after,
      "regenerated encoding served through a stale cached streaming schema")
    assert(before.nonEmpty)
    val batchAfter = canon(EventOps.hourlyTypeCounts(Tables(spark, root)))
    assert(batchBefore == batchAfter,
      "regenerated encoding served through a stale cached batch schema")
    assert(batchBefore.nonEmpty)

    // same contract for the streaming documents schema (DedupStream)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally different words in this other document here"))
    val droot = Tables.scratchDir("graft_regen_doc_")
    docs.map { case (id, tx) => (id, tx, "en", "s0", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$droot/documents.parquet")
    val widePairs = graft.streaming.DedupStream
      .minhashPairs(Tables(spark, droot), 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    docs.map { case (id, tx) => (id.toInt, tx, "en", "s0", tx.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$droot/documents.parquet")
    val narrowPairs = graft.streaming.DedupStream
      .minhashPairs(Tables(spark, droot), 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(widePairs == narrowPairs && widePairs.nonEmpty,
      "regenerated documents width served through a stale cached schema")
  }

  test("in-place regeneration of embeddings.parquet rebuilds the IVF index") {
    // ivfTopK persists its index once per fixture generation; a rewrite
    // of embeddings.parquet under a running JVM must not keep probing
    // the index built over the replaced rows
    val root = Tables.scratchDir("graft_regen_emb_")
    def writeEmbeddings(idOffset: Long): Unit =
      t.embeddings.withColumn("vec_id", col("vec_id") + idOffset)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/embeddings.parquet")
    def topIds(queryId: Long): Set[Long] =
      SimilarityOps.ivfTopK(Tables(spark, root), queryId, k = 5)
        .collect().map(_.getLong(0)).toSet

    writeEmbeddings(0L)
    val before = topIds(0L)
    assert(before.nonEmpty && before.forall(_ < 1000000L))
    writeEmbeddings(1000000L) // regeneration-in-place: every vec_id moves
    val after = topIds(1000000L)
    assert(after.nonEmpty, "query row missing from the regenerated table")
    assert(after.forall(_ >= 1000000L),
      s"ivfTopK probed an index built over the replaced rows: $after")
  }

  test("in-place regeneration of lineitem/orders rewrites the bucketed tables") {
    // the bucketed gate writes its catalog tables once per fixture
    // generation; a rewrite of either join side must not keep serving the
    // tables bucketed from the replaced rows
    val root = Tables.scratchDir("graft_regen_bkt_")
    def writeFixtures(keep: org.apache.spark.sql.Column, priority: String): Unit = {
      t.lineitem.filter(keep)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/lineitem.parquet")
      t.orders.withColumn("o_orderpriority",
          when(col("o_orderkey") % 4 === 0, lit(priority)).otherwise(col("o_orderpriority")))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/orders.parquet")
    }
    def rows(df: DataFrame): Seq[(String, Double, Long)] =
      df.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    def check(): Seq[(String, Double, Long)] = {
      val tb = Tables(spark, root)
      val got = rows(graft.sources.BucketedTables.revenueByPriorityBucketed(tb))
      assert(got == rows(JoinOps.revenueByPriority(tb)),
        "bucketed join diverged from the shuffled join over the current rows")
      got
    }

    writeFixtures(lit(true), "0-REGEN")
    val before = check()
    // regeneration-in-place: fewer lineitems, a moved priority class
    writeFixtures(col("l_orderkey") % 3 =!= 0, "9-REGEN")
    val after = check()
    assert(before != after && after.exists(_._1 == "9-REGEN"),
      "vacuous: the regenerated fixture did not change the answer")
  }

  test("in-place regeneration of events.parquet restarts the file sink") {
    // the file sink's checkpoint has already consumed the replaced
    // events files; a rewrite must be read back as the new rows, neither
    // the old output nor the old output plus the new rows
    val root = Tables.scratchDir("graft_regen_fsink_")
    def writeEvents(df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$root/events.parquet")
    def rows(df: DataFrame): Seq[(String, Long, Double)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    def check(): Seq[(String, Long, Double)] = {
      val te = Tables(spark, root)
      val got = rows(EventStream.fileSinkRoundtrip(te))
      val batch = te.events.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          graft.functions.NumericFunctions.roundN(
            graft.functions.NumericFunctions.decSum(col("value")), 2).as("total_value"))
        .orderBy("event_type")
      assert(got == rows(batch), "file sink read back rows other than the current events")
      got
    }

    writeEvents(t.events)
    val before = check()
    writeEvents(t.events.filter(col("event_id") % 2 === 0)
      .withColumn("value", col("value") * 2))
    val after = check()
    assert(before != after, "vacuous: the regenerated fixture did not change the answer")
  }

  test("batch and streaming agree on every encoding") {
    encodedDirs.foreach { case (enc, dir) =>
      val batch = canon(EventOps.hourlyTypeCounts(Tables(spark, dir))
        .select("hour_start", "event_type", "n"))
      val stream = canon(EventStream.hourlyCounts(Tables(spark, dir))
        .select("hour_start", "event_type", "n"))
      assert(batch == stream, s"batch vs streaming mismatch on $enc")
    }
  }
}
