package graft.operators

import graft.SparkTestBase
import graft.core.Tables
import org.apache.spark.sql.functions._

/** Specs for the round-6 surface additions: value-based RANGE frames,
  * full-partition first/last/nth_value, gap-fill resampling, overlapping
  * token chunking, prefix-blocked edit-distance dedup, and deterministic
  * hash-order sampling.
  */
class RoundSixOpsSpec extends SparkTestBase {
  import spark.implicits._

  /** Literal orders/documents fixture exercising hand-checkable cases. */
  private lazy val fixDir: String = {
    val dir = Tables.scratchDir("graft_r6_")
    // customer 7: days 0 / 10 / 10 (same-day peers) / 40 from 1992-01-01;
    // customer 8: a single order
    Seq(
      (101L, 7L, "O", 10.0, java.sql.Timestamp.valueOf("1992-01-01 00:00:00"), "1-URGENT"),
      (102L, 7L, "O", 20.0, java.sql.Timestamp.valueOf("1992-01-11 00:00:00"), "1-URGENT"),
      (103L, 7L, "O", 5.0, java.sql.Timestamp.valueOf("1992-01-11 00:00:00"), "1-URGENT"),
      (104L, 7L, "O", 30.0, java.sql.Timestamp.valueOf("1992-02-10 00:00:00"), "1-URGENT"),
      (105L, 8L, "F", 50.0, java.sql.Timestamp.valueOf("1995-06-01 00:00:00"), "2-HIGH"),
      // month-end date: exercises add_months' end-of-month clamp
      (106L, 9L, "O", 1.0, java.sql.Timestamp.valueOf("1992-01-31 00:00:00"), "3-MEDIUM"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en", "s0", 44L),
      (2L, "the quick brown fox jumps over the lazy dogs", "en", "s0", 45L),
      (3L, "completely different text altogether here", "en", "s0", 41L),
      // same tail, different 16-char prefix: prefix blocking misses it
      (4L, "AAAAAAAAAAAAAAAA shared tail of this document", "en", "s0", 46L),
      (5L, "BBBBBBBBBBBBBBBB shared tail of this document", "en", "s0", 46L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }
  private lazy val ft: Tables = Tables(spark, fixDir)

  test("range frame: same-day peers share the frame; 30-day bound excludes day 10 from day 40") {
    val rows = WindowOps.rollingSpend30d(ft)
      .collect().map(r => (r.getLong(1), (r.getInt(2), r.getDouble(3)))).toMap
    // day 0: itself. days 10 (both peers): 10+20+5 — RANGE includes BOTH
    // same-day rows in each other's frame. day 40: [11,40] excludes day 10.
    assert(rows(101L) == (0, 10.0))
    assert(rows(102L) == (10, 35.0))
    assert(rows(103L) == (10, 35.0))
    assert(rows(104L) == (40, 30.0))
    assert(rows(105L) == (1247, 50.0))
  }

  test("first/last/nth_value over the full-partition frame (not the default CURRENT ROW frame)") {
    val rows = WindowOps.firstLastOrderStats(ft)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    assert(rows(7L) == ((10.0, 30.0, Some(102L))))
    // single order: first == last, no second order
    assert(rows(8L) == ((50.0, 50.0, None)))
  }

  test("gap fill: dense hourly spine per type, counts preserved, gaps zero") {
    val filled = EventOps.gapFillHourly(t).cache()
    try {
      // spine density: per type, rows == span-hours + 1 and hours distinct
      val spans = filled.groupBy("event_type")
        .agg(count(lit(1)).as("rows"),
          countDistinct("hour_start").as("distinct_hours"),
          ((unix_timestamp(max(col("hour_start")).cast("timestamp"))
            - unix_timestamp(min(col("hour_start")).cast("timestamp"))) / 3600 + 1)
            .cast("long").as("span_hours"))
        .collect()
      assert(spans.nonEmpty)
      spans.foreach { r =>
        assert(r.getLong(1) == r.getLong(3), s"${r.getString(0)}: spine not dense")
        assert(r.getLong(1) == r.getLong(2), s"${r.getString(0)}: duplicate hours")
      }
      // conservation: zero-filling must not change totals
      val total = filled.agg(sum("n")).head().getLong(0)
      assert(total == t.events.count())
      // the non-zero rows are exactly the plain hourly aggregation
      val nonZero = filled.filter(col("n") > 0).count()
      assert(nonZero == EventOps.hourlyTypeCounts(t).count())
    } finally filled.unpersist()
  }

  test("doc chunks: starts every stride while start < n_tokens; tail chunk truncated") {
    val dir = Tables.scratchDir("graft_r6_chunks_")
    Seq((1L, "a b c d e", "en", "s0", 9L), (2L, "x", "en", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.docChunks(Tables(spark, dir), chunk = 3, stride = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4), r.getString(5)))
      .toSet
    assert(got == Set(
      (1L, 0, 0, 3, "a", "c"),
      (1L, 1, 2, 3, "c", "e"),
      (1L, 2, 4, 1, "e", "e"),
      (2L, 0, 0, 1, "x", "x")))
  }

  test("edit distance: near-identical pair found with exact distance; different prefix blocks") {
    val got = DedupOps.editDistancePairs(ft, prefixLen = 16, maxDist = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // dog -> dogs is one insertion; docs 4/5 share a tail but differ in the
    // 16-char prefix — the blocker's documented miss (recall yardstick below)
    assert(got == Set((1L, 2L, 1)))
  }

  test("edit distance at sf0.001: prefix blocking reaches brute-force recall") {
    val blocked = DedupOps.editDistancePairs(t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = t.documents.select(col("doc_id"), col("text"))
    val a = docs.toDF("ia", "ta")
    val b = docs.toDF("ib", "tb")
    val brute = a.crossJoin(b)
      .filter(col("ia") < col("ib") && levenshtein(col("ta"), col("tb"), 20) >= 0)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(blocked.subsetOf(brute), "blocked pairs must be true pairs")
    assert(blocked == brute,
      s"prefix blocking missed ${(brute -- blocked).size} of ${brute.size} true pairs on this fixture")
  }

  test("snowflake star join: three broadcast dims, revenue conserved") {
    val df = JoinOps.supplierVolumeByRegion(t)
    val plan = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 3,
      "all three dimension joins must broadcast — the fact side never shuffles for a join")
    val rows = df.collect()
    // referential integrity: every lineitem reaches exactly one (region,
    // nation) — the rollup must conserve total net revenue
    val got = BigDecimal(rows.map(r => BigDecimal(r.getDouble(2))).sum.toDouble)
    val expected = t.lineitem
      .agg(graft.functions.NumericFunctions.roundN(
        graft.functions.NumericFunctions.decSum(
          col("l_extendedprice") * (lit(1) - col("l_discount"))), 2))
      .head().getDouble(0)
    assert((got - expected).abs < 0.05,
      s"snowflake rollup ($got) must conserve lineitem net revenue ($expected)")
  }

  test("map transform: map_filter/transform_values agree with the scalar json path") {
    val viaMap = EventOps.propsMapTransform(t).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // recompute through the independent get_json_object scalar path:
    // props carries a single key 'k', so n_high == count(k > 50) and
    // total_doubled == 2 * sum(k)
    val viaScalar = t.events
      .filter(col("props").isNotNull)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("k") > 50, 1L).otherwise(0L)).as("nh"),
        (sum("k") * 2).as("td"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(viaMap == viaScalar)
  }

  test("date arithmetic: offsets, end-of-month clamp, boundaries, dow") {
    val rows = CoreQueries.dateArithmetic(ft).collect()
      .map(r => r.getLong(0) -> (r.getDate(1).toString, r.getDate(2).toString,
        r.getDate(3).toString, r.getDate(4).toString, r.getInt(5), r.getInt(6)))
      .toMap
    // 1992-01-01 was a Wednesday (Spark dayofweek: 1=Sunday -> 4)
    assert(rows(101L) == (("1992-01-31", "1992-04-01", "1992-01-31", "1992-01-01", 4, 1)))
    // Jan 31 + 3 months clamps to Apr 30, not May 1
    assert(rows(106L) == (("1992-03-01", "1992-04-30", "1992-01-31", "1992-01-01", 6, 1)))
    assert(rows(105L) == (("1995-07-01", "1995-09-01", "1995-06-30", "1995-06-01", 5, 2)))
  }

  test("na.fill / na.replace: negatives zeroed, segments recoded, nothing else touched") {
    val src = t.customer
    val negatives = src.filter(col("c_acctbal") < 0).count()
    val building = src.filter(col("c_mktsegment") === "BUILDING").count()
    val out = CoreQueries.nullFillReplace(t).cache()
    try {
      assert(out.filter(col("bal_filled").isNull).count() == 0)
      assert(out.filter(col("bal_filled") === 0.0).count() == negatives,
        "every negative balance (and only those) must be filled to 0")
      assert(out.filter(col("segment").isin("BUILDING", "MACHINERY")).count() == 0)
      assert(out.filter(col("segment") === "B2B").count() == building)
      assert(out.count() == src.count())
    } finally out.unpersist()
  }

  test("vector stats by label match a driver-side recompute") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val raw = t.embeddings.select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(_.toDouble)))
    val expected = raw.groupBy(_._1).map { case (label, vs) =>
      val means = vs.map { case (_, arr) => arr.sum / arr.size }
      // decSum's double->DECIMAL(28,6) HALF_UP cast, exact decimal sum
      val s = means.map(m => JBD.valueOf(m).setScale(6, RoundingMode.HALF_UP))
        .reduce(_.add(_)).doubleValue()
      val avg = math.floor(s / means.size * 1e6 + 0.5) / 1e6
      label -> (vs.length.toLong, avg,
        vs.map(_._2.min).min, vs.map(_._2.max).max)
    }
    val got = SimilarityOps.vectorStatsByLabel(t).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got == expected)
  }

  test("hash sample: deterministic across partition layouts, matches driver-side md5 order") {
    val got = TextOps.hashSamplePerLang(ft, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3)))
      .sortBy(r => (r._1, r._4))
    // recompute expected order driver-side with java MessageDigest
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expected = Seq(1L, 2L, 3L, 4L, 5L)
      .map(id => ("en", id, md5hex(id.toString)))
      .sortBy(x => (x._3, x._2)).take(2).zipWithIndex
      .map { case ((l, id, h), i) => (l, id, h, i + 1) }
    assert(got.toSeq == expected)
    // layout independence: a differently-partitioned copy gives identical rows
    val dir2 = Tables.scratchDir("graft_r6_hs_")
    ft.documents.repartition(7).write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val got2 = TextOps.hashSamplePerLang(Tables(spark, dir2), k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3)))
      .sortBy(r => (r._1, r._4))
    assert(got2.toSeq == got.toSeq)
  }
}
