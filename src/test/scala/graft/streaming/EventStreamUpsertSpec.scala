package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class EventStreamUpsertSpec extends SparkTestBase {

  test("foreachBatch upsert: later batches replace, older arrivals do not, ties go to event_id") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF.toDF("user_id", "ts", "event_id", "event_type", "value")
    val target = graft.core.Tables.scratchDir("graft_upsert_spec_")
    @volatile var current: Option[String] = None
    val q = df.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        current = Some(EventStream.upsertVersion(spark, target, current, b, id))
      }
      .start()
    try {
      mem.addData((1L, ts(10), 1L, "click", 1.0), (2L, ts(20), 2L, "view", 2.0))
      q.processAllAvailable()
      val afterB1 = spark.read.parquet(current.get)
        .select("user_id", "event_id").as[(Long, Long)].collect().toSet
      assert(afterB1 == Set((1L, 1L), (2L, 2L)))

      mem.addData((1L, ts(30), 3L, "purchase", 3.0), (3L, ts(5), 4L, "click", 4.0),
        (4L, ts(40), 10L, "a", 0.1))
      q.processAllAvailable()
      // user 2's late arrival is OLDER than the stored row — must not win;
      // user 4 ties on ts, so the higher event_id wins
      mem.addData((2L, ts(15), 5L, "click", 9.9), (4L, ts(40), 11L, "b", 0.2))
      q.processAllAvailable()

      val got = spark.read.parquet(current.get)
        .select("user_id", "event_id", "event_type").as[(Long, Long, String)]
        .collect().toSet
      assert(got == Set((1L, 3L, "purchase"), (2L, 2L, "view"),
        (3L, 4L, "click"), (4L, 11L, "b")), s"got $got")
    } finally {
      q.stop()
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(target))
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally stream.close()
    }
  }

  test("foreachBatchUpsert gate equals the batch latest-event-per-user argmax") {
    import org.apache.spark.sql.functions._
    val got = EventStream.foreachBatchUpsert(t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
    val want = t.events
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      // Tables.events carries TIMESTAMP_NTZ; session tz is UTC so the cast
      // is the identity instant
      .select(col("user_id"),
        expr("unix_millis(cast(ts as timestamp))").as("last_ms"),
        col("event_type"), col("value"))
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    assert(got.toSeq == want.toSeq)
  }
}
