package graft.operators

import graft.SparkTestBase
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

class EventsWindowsSpec extends SparkTestBase {

  test("hourly window counts partition all events") {
    val total = EventOps.hourlyTypeCounts(t).agg(sum("n")).head().getLong(0)
    assert(total == t.events.count())
  }

  test("sessions partition all events per user") {
    val total = EventOps.userSessions(t).agg(sum("events_in_session")).head().getLong(0)
    assert(total == t.events.count())
  }

  test("session gaps: no session spans a >30 min gap (spot-check heaviest user)") {
    val heavy = t.events.groupBy("user_id").count()
      .orderBy(desc("count")).head().getLong(0)
    val ts = t.events.filter(col("user_id") === heavy)
      .select(unix_timestamp(col("ts").cast("timestamp")))
      .orderBy("ts").collect().map(_.getLong(0))
    val expectedSessions = 1 + ts.sliding(2).count(p => p.length == 2 && p(1) - p(0) > 1800)
    val gotSessions = EventOps.userSessions(t)
      .filter(col("user_id") === heavy).count()
    assert(gotSessions == expectedSessions)
  }

  test("intervalJoinBusyWindows == naive range join (and windows cross hour buckets)") {
    val got = EventOps.intervalJoinBusyWindows(t, 10)
      .collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // brute-force oracle: same busy windows, naive ts-range predicate
    val busy = t.events
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("h")).limit(10)
      .select(
        (col("h") + expr("interval 10 minutes")).as("w_start"),
        (col("h") + expr("interval 100 minutes")).as("w_end"))
    val naive = t.events.select(col("user_id"), col("ts"))
      .crossJoin(busy)
      .filter(col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .groupBy("w_start", "w_end")
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == naive)
    // the 90-min windows genuinely span two hour buckets (multi-bucket explode)
    assert(got.keys.forall { case (s, e) => e.getTime - s.getTime == 90L * 60 * 1000 })
    assert(got.nonEmpty)
  }

  test("stream-static interval join == batch interval join (event counts)") {
    val streamed = EventStream.intervalJoinStreaming(t)
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1)) -> r.getLong(2)).toMap
    val batch = EventOps.intervalJoinBusyWindows(t, 20)
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
  }

  test("streaming parquet file sink: exactly-once roundtrip, idempotent replay") {
    val first = EventStream.fileSinkRoundtrip(t)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val batch = t.events
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        graft.functions.NumericFunctions.roundN(
          graft.functions.NumericFunctions.decSum(col("value")), 2).as("total_value"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(first.toSeq == batch.toSeq, "file-sink roundtrip must preserve the stream exactly")
    // replay against the same checkpoint: source files already committed →
    // nothing appended, read-back unchanged (the exactly-once contract)
    val second = EventStream.fileSinkRoundtrip(t)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(second.toSeq == first.toSeq, "replay must be a no-op, not an append")
  }

  test("stream-stream interval join == batch interval join") {
    val streamed = EventStream.clickPurchaseJoin(t)
    val clicks = t.events.filter(col("event_type") === "click")
      .select(col("user_id").as("u"), col("ts").as("click_ts"))
    val buys = t.events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"), col("ts").as("buy_ts"))
    val batch = clicks.join(buys,
        col("u") === col("u2") && col("buy_ts") > col("click_ts") &&
          col("buy_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("u").as("user_id")).agg(count(lit(1)).as("click_buy_pairs"))
    val got  = streamed.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = batch.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming hourly counts == batch hourly counts") {
    val stream = EventStream.hourlyCounts(t)
    val batch = EventOps.hourlyTypeCounts(t)
    assert(stream.count() == batch.count())
    assert(stream.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(stream).count() == 0)
  }

  test("streaming sessionization == batch CLOSED sessions (break or timeout)") {
    import org.apache.spark.sql.expressions.Window
    val stream = EventStream.sessionize(t)
    // closed = ended by a break (a later session exists for the user) OR by
    // event-time timeout (final watermark = max ts - 2h passed end + 30min);
    // each user's open tail session cannot be emitted in Append mode
    val byUser  = Window.partitionBy("user_id")
    val sessEnd = EventOps.userSessionsWithEnd(t)
    val closed = sessEnd
      .withColumn("max_sid", max("session_id").over(byUser))
      .withColumn("max_sec", max("end_sec").over(Window.partitionBy()))
      .filter(col("session_id") < col("max_sid") ||
        col("end_sec") + 1800 < col("max_sec") - 7200)
      .select("user_id", "session_id", "events_in_session", "session_value")
    val streamSel = stream.select("user_id", "session_id", "events_in_session", "session_value")
    assert(streamSel.count() == closed.count())
    assert(streamSel.exceptAll(closed).count() == 0)
    assert(closed.exceptAll(streamSel).count() == 0)
  }

  test("asof join: one row per click, next purchase is at-or-after the click") {
    val asof = EventOps.nextPurchaseAsof(t)
    val clicks = t.events.filter(col("event_type") === "click").count()
    assert(asof.count() == clicks)
    assert(asof.filter(col("next_purchase_ts") < col("click_ts")).count() == 0)
    // spot-check one user against a naive computation (epoch micros — the
    // ts columns are timestamp_ntz, which collects as LocalDateTime)
    val u = asof.filter(col("next_purchase_ts").isNotNull).head().getLong(1)
    def micros(c: org.apache.spark.sql.Column) =
      unix_micros(c.cast("timestamp"))
    val naive = t.events.filter(col("event_type") === "purchase" && col("user_id") === u)
      .select(micros(col("ts"))).collect().map(_.getLong(0))
    asof.filter(col("user_id") === u)
      .filter(col("next_purchase_ts").isNotNull)
      .select(micros(col("click_ts")), micros(col("next_purchase_ts")))
      .collect().foreach { r =>
        val expected = naive.filter(_ >= r.getLong(0)).min
        assert(r.getLong(1) == expected)
      }
  }

  test("backward asof join: one row per click, prev purchase at-or-before, spot-checked") {
    val asof = EventOps.prevPurchaseAsof(t)
    val clicks = t.events.filter(col("event_type") === "click").count()
    assert(asof.count() == clicks)
    assert(asof.filter(col("prev_purchase_ts") > col("click_ts")).count() == 0)
    def micros(c: org.apache.spark.sql.Column) =
      unix_micros(c.cast("timestamp"))
    val u = asof.filter(col("prev_purchase_ts").isNotNull).head().getLong(1)
    val naive = t.events.filter(col("event_type") === "purchase" && col("user_id") === u)
      .select(micros(col("ts"))).collect().map(_.getLong(0))
    asof.filter(col("user_id") === u)
      .filter(col("prev_purchase_ts").isNotNull)
      .select(micros(col("click_ts")), micros(col("prev_purchase_ts")))
      .collect().foreach { r =>
        val expected = naive.filter(_ <= r.getLong(0)).max
        assert(r.getLong(1) == expected)
      }
  }

  test("streaming dedup drops replayed events: duplicated input, single-copy counts") {
    // write every event twice into a temp stream source; the deduplicated
    // per-type counts must equal the single-copy batch counts
    val dir = graft.core.Tables.scratchDir("graft-dedup-")
    // plain (schema-inferred) read: the duplicated copy keeps the fixture's
    // own ts encoding, so EventStream's adaptive dispatch sees the same
    // physical type the real table has
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet("/root/testdata/sf0.001/{events}.parquet")
    raw.unionAll(raw).write.parquet(s"$dir/events.parquet")

    val streamed = EventStream.dedupCounts(graft.core.Tables(spark, dir))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = t.events.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("json extraction: both paths agree") {
    val a = EventOps.jsonGetObject(t).count()
    val b = t.events
      .withColumn("k", from_json(col("props"), EventOps.propsSchema).getField("k"))
      .filter(col("k") > 50).count()
    assert(a == b)
  }

  test("window ranks are dense within partitions and bounded by k") {
    val rows = WindowOps.topCustomersPerSegment(t).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.length <= 3)
    }
  }

  test("running revenue final value equals customer total") {
    val last = WindowOps.runningRevenuePerCustomer(t)
      .groupBy("o_custkey").agg(max("running_total").as("final"))
    val totals = t.orders.groupBy("o_custkey")
      .agg((floor(sum("o_totalprice") * 100 + 0.5) / 100).as("expected"))
    val joined = last.join(totals, "o_custkey")
      .filter(abs(col("final") - col("expected")) > 0.01)
    // running sum accumulates in window order vs one-shot sum: tiny fp
    // drift allowed, never more than a cent
    assert(joined.count() == 0)
  }

  test("price quartiles split orders into 4 near-equal buckets") {
    val rows = WindowOps.priceQuartiles(t).collect()
    assert(rows.length == 4)
    // ntile is per year-partition: each partition puts its remainder (≤3
    // rows) in the lower quartiles, so cross-year counts differ by at most
    // one per year partition
    val nYears = t.orders.select(year(col("o_orderdate"))).distinct().count()
    val counts = rows.map(_.getLong(1))
    assert(counts.max - counts.min <= nYears)
    assert(counts.sum == t.orders.count())
  }

  test("props map explode matches a brute-force JSON parse") {
    val got = EventOps.propsMapStats(t).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val kvRe = """"([^"]+)"\s*:\s*(-?\d+)""".r
    val brute = t.events.select("props").collect()
      .flatMap(r => kvRe.findAllMatchIn(r.getString(0)).map(m => m.group(1) -> m.group(2).toLong))
      .groupBy(_._1).view.mapValues { vs =>
        val xs = vs.map(_._2)
        (xs.length.toLong, xs.min, xs.max, xs.sum)
      }.toMap
    assert(got == brute)
    assert(got.nonEmpty)
  }

  test("native session windows match a brute-force half-open-gap islands pass") {
    val got = EventOps.nativeSessionWindows(t)
      // ts columns are timestamp_ntz (collect as LocalDateTime) — read as millis
      .selectExpr("user_id", "unix_millis(cast(session_start as timestamp)) AS s",
        "unix_millis(cast(session_end as timestamp)) AS e", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val events = t.events
      .selectExpr("user_id", "unix_millis(cast(ts as timestamp)) AS ms")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val want = events.flatMap { case (user, ts) =>
      val sessions = ts.tail.foldLeft(List(List(ts.head))) { (acc, x) =>
        // half-open window: a gap of EXACTLY 30 min starts a new session
        if (x - acc.head.head >= 1800 * 1000L) List(x) :: acc
        else (x :: acc.head) :: acc.tail
      }
      sessions.map(s => (user, s.last, s.head + 1800 * 1000L, s.length.toLong))
    }.toSet
    assert(got == want)
  }

  test("streaming sliding counts == batch sliding counts") {
    import graft.streaming.EventStream
    val stream = EventStream.slidingCounts(t)
      .selectExpr("unix_millis(cast(win_start as timestamp)) AS w", "event_type",
        "n", "total_value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = EventOps.slidingTypeCounts(t)
      .selectExpr("unix_millis(cast(win_start as timestamp)) AS w", "event_type",
        "n", "total_value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(stream == batch)
    assert(stream.nonEmpty)
  }

  test("streaming native session windows == batch sessions closed before the final watermark") {
    import graft.streaming.EventStream
    val got = EventStream.sessionizeNativeWindows(t)
      .selectExpr("user_id", "unix_millis(session_start) AS s",
        "unix_millis(session_end) AS e", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val maxMs = t.events
      .selectExpr("max(unix_millis(cast(ts as timestamp)))").head().getLong(0)
    val wm = maxMs - 7200 * 1000L
    val batch = EventOps.nativeSessionWindows(t)
      .selectExpr("user_id", "unix_millis(cast(session_start as timestamp)) AS s",
        "unix_millis(cast(session_end as timestamp)) AS e", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val closedLe = batch.filter(_._3 <= wm).toSet
    val closedLt = batch.filter(_._3 < wm).toSet
    assert(got == closedLe || got == closedLt,
      s"emitted ${got.size} sessions; batch closed <=wm ${closedLe.size}, <wm ${closedLt.size}; " +
        s"only-in-got ${(got -- closedLe).take(3)}, only-in-batch ${(closedLe -- got).take(3)}")
    assert(got.nonEmpty && got.size < batch.length,
      "expected some closed sessions emitted and open tails withheld")
  }

  test("sliding 2h/1h windows: each window equals the sum of its two hourly cells") {
    val hourly = EventOps.hourlyTypeCounts(t)
      .selectExpr("unix_millis(cast(hour_start as timestamp)) AS w", "event_type", "n")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val sliding = EventOps.slidingTypeCounts(t)
      .selectExpr("unix_millis(cast(win_start as timestamp)) AS w", "event_type", "n")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val hourMs = 3600 * 1000L
    sliding.foreach { case ((w, typ), n) =>
      val expect = hourly.getOrElse((w, typ), 0L) + hourly.getOrElse((w + hourMs, typ), 0L)
      assert(n == expect, s"window $w/$typ: $n != $expect")
    }
    assert(sliding.values.sum == 2 * hourly.values.sum)
  }

  test("distribution ranks: percent_rank/cume_dist match a per-segment brute force") {
    val rows = WindowOps.distributionRanks(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length == t.customer.count())
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    rows.groupBy(_._1).foreach { case (seg, rs) =>
      val bals = rs.map(_._3)
      val n = bals.length.toDouble
      rs.foreach { case (_, ck, bal, pr, cd) =>
        val below = bals.count(_ < bal)
        val atOrBelow = bals.count(_ <= bal)
        val wantPr = if (n == 1) 0.0 else r6(below / (n - 1))
        assert(pr == wantPr, s"seg $seg cust $ck: pct_rank $pr != $wantPr")
        assert(cd == r6(atOrBelow / n), s"seg $seg cust $ck: cume_dist $cd")
      }
      assert(rs.map(_._5).max == 1.0, s"seg $seg: max cume_dist != 1")
    }
  }

  test("append-mode tumbling twin == batch windows closed under the final watermark") {
    val got = EventStream.hourlyCountsAppend(t)
      .selectExpr("unix_millis(cast(hour_start as timestamp)) AS w", "event_type",
        "n", "total_value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val maxMs = t.events
      .selectExpr("max(unix_millis(cast(ts as timestamp)))").head().getLong(0)
    val wm = maxMs - 7200 * 1000L
    val batch = EventOps.hourlyTypeCounts(t)
      .selectExpr("unix_millis(cast(hour_start as timestamp)) AS w", "event_type",
        "n", "total_value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val closed = batch.filter(r => r._1 + 3600 * 1000L <= wm).toSet
    assert(got == closed,
      s"emitted ${got.size} vs closed ${closed.size}; " +
        s"only-in-got ${(got -- closed).take(3)}, only-in-closed ${(closed -- got).take(3)}")
    assert(got.nonEmpty && got.size < batch.length,
      "expected some closed windows emitted and open tails withheld")
  }

  test("append-mode sliding twin == batch windows closed under the final watermark") {
    val got = EventStream.slidingCountsAppend(t)
      .selectExpr("unix_millis(cast(win_start as timestamp)) AS w", "event_type",
        "n", "total_value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val maxMs = t.events
      .selectExpr("max(unix_millis(cast(ts as timestamp)))").head().getLong(0)
    val wm = maxMs - 7200 * 1000L
    val batch = EventOps.slidingTypeCounts(t)
      .selectExpr("unix_millis(cast(win_start as timestamp)) AS w", "event_type",
        "n", "total_value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val closed = batch.filter(r => r._1 + 2 * 3600 * 1000L <= wm).toSet
    assert(got == closed,
      s"emitted ${got.size} vs closed ${closed.size}; " +
        s"only-in-got ${(got -- closed).take(3)}, only-in-closed ${(closed -- got).take(3)}")
    assert(got.nonEmpty && got.size < batch.length,
      "expected some closed windows emitted and open tails withheld")
  }

  test("stream-stream full outer join == batch pairs + closed unmatched on both sides") {
    val got = EventStream.clickPurchaseFullJoin(t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val clicks = t.events.filter(col("event_type") === "click")
      .selectExpr("user_id AS u", "unix_millis(cast(ts as timestamp)) AS click_ms")
    val buys = t.events.filter(col("event_type") === "purchase")
      .selectExpr("user_id AS u2", "unix_millis(cast(ts as timestamp)) AS buy_ms")
    val wm = math.min(
      clicks.agg(max("click_ms")).head().getLong(0),
      buys.agg(max("buy_ms")).head().getLong(0)) - 7200 * 1000L
    val full = clicks.join(buys,
      col("u") === col("u2") && col("buy_ms") > col("click_ms") &&
        col("buy_ms") <= col("click_ms") + 3600 * 1000L, "fullOuter")
    // click null-rows close when click+1h < wm (pinned by the left-join
    // spec); buy null-rows close when the buy's own ts passes under the
    // watermark (a purchase only matches EARLIER clicks)
    val expected = full
      .withColumn("emit",
        (col("click_ms").isNotNull && col("buy_ms").isNotNull) ||
        (col("buy_ms").isNull && col("click_ms") + 3600 * 1000L < lit(wm)) ||
        (col("click_ms").isNull && col("buy_ms") < lit(wm)))
      .filter(col("emit"))
      .groupBy(coalesce(col("u"), col("u2")).as("user_id"))
      .agg(
        count(when(col("click_ms").isNotNull && col("buy_ms").isNotNull, 1)).as("pairs"),
        count(when(col("buy_ms").isNull, 1)).as("uc"),
        count(when(col("click_ms").isNull, 1)).as("ub"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected,
      s"got ${got.size} users vs expected ${expected.size}; " +
        s"only-in-got ${(got -- expected).take(3)}, only-in-expected ${(expected -- got).take(3)}")
    assert(got.nonEmpty)
  }

  test("stream-stream left outer join == batch pairs + closed unmatched clicks") {
    val got = EventStream.clickPurchaseLeftJoin(t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val clicks = t.events.filter(col("event_type") === "click")
      .selectExpr("user_id AS u", "unix_millis(cast(ts as timestamp)) AS click_ms")
    val buys = t.events.filter(col("event_type") === "purchase")
      .selectExpr("user_id AS u2", "unix_millis(cast(ts as timestamp)) AS buy_ms")
    // each withWatermark node tracks ITS OWN max event time; the query
    // watermark is the min across inputs (multipleWatermarkPolicy=min) —
    // NOT the global events max (empirically pinned: using the global max
    // over-emits by exactly the clicks in the (click-max, buy-max] gap)
    val wm = math.min(
      clicks.agg(max("click_ms")).head().getLong(0),
      buys.agg(max("buy_ms")).head().getLong(0)) - 7200 * 1000L
    val left = clicks.join(buys,
      col("u") === col("u2") && col("buy_ms") > col("click_ms") &&
        col("buy_ms") <= col("click_ms") + 3600 * 1000L, "leftOuter")
    // matched pairs always emit; an unmatched click emits null-padded only
    // once its match window (click + 1h) closes under the final watermark
    val expected = left
      .withColumn("emit", col("buy_ms").isNotNull ||
        col("click_ms") + 3600 * 1000L < lit(wm))
      .filter(col("emit"))
      .groupBy(col("u").as("user_id"))
      .agg(count(col("buy_ms")).as("pairs"),
        count(when(col("buy_ms").isNull, 1)).as("unmatched"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"got ${got.size} users vs expected ${expected.size}; " +
        s"only-in-got ${(got -- expected).take(3)}, only-in-expected ${(expected -- got).take(3)}")
    assert(got.nonEmpty)
  }

  test("progress ledger: monitoring-plane counts reconcile with the sink and the source") {
    val row = graft.streaming.EventStream.progressLedger(t).head()
    val direct = t.events.count()
    assert(row.getAs[Long]("rows_ingested") == direct,
      s"progress numInputRows ${row.getAs[Long]("rows_ingested")} != source $direct")
    assert(row.getAs[Long]("rows_in_sink") == direct)
    assert(row.getAs[Boolean]("ledger_balanced"))
  }

  test("funnel: per-user step times match a brute-force ordered walk") {
    import spark.implicits._
    val evs = t.events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")), col("event_type"))
      .as[(Long, Long, String)].collect()
    def expect(uid: Long): (Option[Long], Option[Long], Option[Long]) = {
      val mine = evs.filter(_._1 == uid)
      val t1 = mine.filter(_._3 == "view").map(_._2).minOption
      val t2 = t1.flatMap(a =>
        mine.filter(e => e._3 == "click" && e._2 > a).map(_._2).minOption)
      val t3 = t2.flatMap(a =>
        mine.filter(e => e._3 == "purchase" && e._2 > a).map(_._2).minOption)
      (t1, t2, t3)
    }
    val got = EventOps.funnelSteps(t)
      .select(col("user_id"),
        unix_micros(col("t1").cast("timestamp")),
        unix_micros(col("t2").cast("timestamp")),
        unix_micros(col("t3").cast("timestamp")))
      .collect()
      .map(r => r.getLong(0) -> (
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got.keySet == evs.map(_._1).toSet)
    got.keys.foreach(uid => assert(got(uid) == expect(uid), s"user $uid"))
    // stage counts weakly decrease (a funnel, not a sieve with leaks)
    val counts = EventOps.funnelCounts(t).collect().map(_.getLong(1))
    assert(counts.length == 3 && counts(0) >= counts(1) && counts(1) >= counts(2))
    assert(counts(2) > 0, "fixture should convert at least one user")
  }

  test("hourly anomalies: verdicts match a brute-force trailing-window recompute; a planted spike fires") {
    import spark.implicits._
    import java.sql.Timestamp
    // hand-built: 30 quiet hours at n=4, then one hour with n=20 (5x)
    val rows = (0 until 30).flatMap { h =>
      val per = if (h == 28) 20 else 4
      (0 until per).map(i =>
        (new Timestamp((h * 3600L + i * 60L + 1) * 1000), "click"))
    }.toDF("ts", "event_type")
    val dir = graft.core.Tables.scratchDir("graft_anom")
    rows.withColumn("event_id", monotonically_increasing_id())
      .withColumn("user_id", lit(1L)).withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .write.parquet(s"$dir/events.parquet")
    val got = EventOps.hourlyAnomalies(graft.core.Tables(spark, dir))
      .select(unix_seconds(col("hour_start").cast("timestamp")),
        col("n"), col("anomalous"))
      .as[(Long, Long, Boolean)].collect()
      .map { case (hs, n, a) => hs -> ((n, a)) }.toMap
    // verdicts start once ≥12 trailing calendar hours exist: hours 12..29
    assert(got.size == 18)
    assert(got(28 * 3600L) == ((20L, true)), "the planted spike must fire")
    ((12 to 27) ++ Seq(29)).foreach { h =>
      assert(!got(h * 3600L)._2, s"quiet hour $h flagged")
    }
  }

  test("hourly anomalies: a calendar gap shrinks the baseline instead of stretching it") {
    import spark.implicits._
    import java.sql.Timestamp
    // hours 0..11 active, silence until hour 30: a ROWS frame would see
    // 12 stale rows and emit a (wrong-window) verdict at hour 30; the
    // RANGE frame sees only hours 6..11 inside [6, 29] — 6 observed
    // hours < 12 — and must withhold the verdict
    val rows = ((0 until 12).flatMap(h =>
      (0 until 4).map(i => (new Timestamp((h * 3600L + i * 60 + 1) * 1000), "view"))) ++
      (0 until 4).map(i => (new Timestamp((30 * 3600L + i * 60 + 1) * 1000), "view")))
      .toDF("ts", "event_type")
    val dir = graft.core.Tables.scratchDir("graft_anom_gap")
    rows.withColumn("event_id", monotonically_increasing_id())
      .withColumn("user_id", lit(1L)).withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .write.parquet(s"$dir/events.parquet")
    val got = EventOps.hourlyAnomalies(graft.core.Tables(spark, dir))
      .select((unix_seconds(col("hour_start").cast("timestamp")) / 3600)
        .cast("long"))
      .as[Long].collect().toSet
    assert(!got.contains(30L),
      "hour 30 has only 6 observed hours in its 24h window — no verdict")
  }

  test("funnel: a click BEFORE the first view never counts as step 2") {
    import spark.implicits._
    import java.sql.Timestamp
    // u1: click at t=1, view at t=2, click at t=3, purchase at t=4 — full
    // funnel via the SECOND click; u2: purchase first, never converts past
    // view; u3: view only
    val rows = Seq(
      (1L, 1L, "click"), (1L, 2L, "view"), (1L, 3L, "click"), (1L, 4L, "purchase"),
      (2L, 1L, "purchase"), (2L, 2L, "view"), (2L, 3L, "click"),
      (3L, 5L, "view"))
      .map { case (u, s, ty) => (u, new Timestamp(s * 1000), ty) }
      .toDF("user_id", "ts", "event_type")
    val dir = graft.core.Tables.scratchDir("graft_funnel")
    rows.withColumn("event_id", col("user_id"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.parquet(s"$dir/events.parquet")
    val steps = EventOps.funnelSteps(graft.core.Tables(spark, dir))
      .select(col("user_id"), col("t1").isNotNull, col("t2").isNotNull,
        col("t3").isNotNull)
      .as[(Long, Boolean, Boolean, Boolean)].collect()
      .map { case (u, a, b, c) => u -> ((a, b, c)) }.toMap
    assert(steps(1L) == ((true, true, true)))
    assert(steps(2L) == ((true, true, false)))
    assert(steps(3L) == ((true, false, false)))
  }

  test("tolerance as-of: in-window matches kept, stale matches nulled, infinite tolerance equals plain as-of") {
    import java.time.LocalDateTime
    import java.time.temporal.ChronoUnit.MILLIS
    def ldt(r: org.apache.spark.sql.Row, i: Int): Option[LocalDateTime] =
      if (r.isNullAt(i)) None else Some(r.getAs[LocalDateTime](i))
    val base = EventOps.nextPurchaseAsof(t).collect()
      .map(r => r.getLong(0) -> ldt(r, 3)).toMap
    val tol = EventOps.nextPurchaseAsofTolerance(t, tolMinutes = 120).collect()
      .map(r => (r.getLong(0), ldt(r, 3), r.getAs[LocalDateTime](2), r.getBoolean(4)))
    tol.foreach { case (id, np, click, matched) =>
      assert(matched == np.nonEmpty)
      (base(id), np) match {
        case (Some(b), Some(n)) =>
          assert(b == n, "a kept match must be the plain as-of match")
          assert(MILLIS.between(click, n) <= 120L * 60 * 1000)
        case (Some(b), None) =>
          assert(MILLIS.between(click, b) > 120L * 60 * 1000,
            s"click $id: match nulled though inside the window")
        case (None, None) => ()
        case (None, Some(_)) => fail(s"click $id: tolerance invented a match")
      }
    }
    assert(tol.exists(_._2.nonEmpty) && tol.exists(_._2.isEmpty),
      "fixture must exercise both kept and dropped matches")
    // an effectively infinite tolerance reduces to the plain as-of
    val inf = EventOps.nextPurchaseAsofTolerance(t, tolMinutes = Int.MaxValue / 60)
      .collect().map(r => r.getLong(0) -> ldt(r, 3)).toMap
    assert(inf == base)
  }

  test("retention cohorts match a brute-force driver recompute; offset 0 covers every user once") {
    val got = EventOps.retentionCohorts(t).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2)).toMap
    val userDays = t.events
      .select(col("user_id"), to_date(col("ts")).cast("string"))
      .distinct().collect().map(r => (r.getLong(0), r.getString(1)))
    val firstDay = userDays.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    def off(a: String, b: String) =
      java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse(a), java.time.LocalDate.parse(b)).toInt
    val expect = userDays
      .map { case (u, d) => (firstDay(u), off(firstDay(u), d), u) }
      .filter(_._2 <= 7)
      .groupBy(x => (x._1, x._2)).view.mapValues(_.map(_._3).distinct.length.toLong)
      .toMap
    assert(got == expect)
    // the offset-0 diagonal counts each user exactly once across cohorts
    val diag = got.collect { case ((_, 0), n) => n }.sum
    assert(diag == firstDay.size.toLong)
  }
}
