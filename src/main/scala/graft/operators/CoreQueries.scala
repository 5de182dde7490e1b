package graft.operators

import graft.core.{GenerationCache, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import graft.functions.NumericFunctions.{decAvg, decSum, roundN}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The parity core: the reference's three canonical benchmark queries
  * (SURVEY.md §2.13; reference `performance_py/2-cores-6-instances.py:121-212`)
  * transplanted onto the synthetic star schema, plus the rest of the
  * single-table aggregate / filter / scalar-function surface (§2.2, §2.4,
  * §2.6, §2.8).
  *
  * Scale notes: every groupBy here aggregates to a handful of groups, so
  * Spark plans partial (map-side) + final HashAggregate — the shuffle
  * carries only #groups × #partitions rows regardless of input size.
  * Percent-of-total is computed with a window over the *aggregated* frame
  * (cardinality = #groups), never over the raw data, so the single-
  * partition window is O(groups), safe at any input scale.
  */
object CoreQueries {

  /** Query 1 analogue (ref `data-understanding.py:75-82`): listings count +
    * mean price per group, sorted by count desc.
    */
  def q1GroupCountAvg(t: Tables): DataFrame =
    t.lineitem
      .groupBy("l_returnflag")
      .agg(
        count("l_returnflag").as("num_items"),
        roundN(decAvg(col("l_extendedprice")), 2).as("avg_price"))
      .orderBy(desc("num_items"))

  /** Query 2 analogue (ref `data-understanding.py:202-216`): count + median
    * price per group with `upper()`. The reference uses
    * `percentile_approx(price, 0.5)`; for the exact-oracle gate we use the
    * exact `percentile` twin (SURVEY §5.2) — the approx variant is
    * [[q2ApproxMedian]].
    */
  def q2MedianByPriority(t: Tables): DataFrame =
    t.orders
      .groupBy(upper(col("o_orderpriority")).as("priority"))
      .agg(
        count(lit(1)).as("num_orders"),
        roundN(percentile(col("o_totalprice"), lit(0.5)), 2).as("median_price"))
      .orderBy("priority")

  /** percentile_approx as the reference actually runs it (A4) — kept as a
    * separate query because the GK sketch is approximate; its oracle uses
    * the discrete quantile and is compared at equality only because
    * accuracy is pinned high enough to be exact at verify scale.
    */
  def q2ApproxMedian(t: Tables): DataFrame =
    t.orders
      .groupBy("o_orderpriority")
      .agg(
        roundN(percentile_approx(col("o_totalprice"), lit(0.5), lit(1000000)), 2)
          .as("approx_median_price"))
      .orderBy("o_orderpriority")

  /** percentile_approx at the DEFAULT accuracy 10000 — the exact call shape
    * the reference runs (ref `data-understanding.py:202`,
    * `performance_py/2-cores-6-instances.py:155-159`). The GK sketch result
    * is engine-specific at this accuracy, so the gate is rows-only; the
    * spec asserts the Greenwald–Khanna contract instead: the returned value
    * is an element of the group whose rank is within ε·N (ε = 1/10000) of
    * the target rank.
    */
  def q2ApproxMedianDefault(t: Tables): DataFrame =
    t.orders
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("num_orders"),
        percentile_approx(col("o_totalprice"), lit(0.5), lit(10000))
          .as("approx_median_price"))
      .orderBy("o_orderpriority")

  /** Hash-gated face of [[q2ApproxMedianDefault]] (round-9, was
    * rows-only): per-group exact count — oracle-recomputable — plus an
    * in-engine verdict that the GK median falls inside the exact
    * [P49, P51] band (rank error at default accuracy 10⁴ is ~n/10⁴
    * ranks ≪ 1% of ranks, so a correct sketch always passes). The
    * oracle states the verdict as a constant; GateInvariants recomputes
    * the band AND the GK value independently and requires the emitted
    * boolean to equal the recomputation — not self-certified.
    */
  def q2ApproxMedianDefaultGate(t: Tables): DataFrame =
    t.orders
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("num_orders"),
        percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("gk"),
        percentile(col("o_totalprice"), lit(0.49)).as("p49"),
        percentile(col("o_totalprice"), lit(0.51)).as("p51"))
      .select(col("o_orderpriority"), col("num_orders"),
        (col("gk") >= col("p49") && col("gk") <= col("p51")).as("in_band"))
      .orderBy("o_orderpriority")

  /** Query 3 analogue (ref `data-understanding.py:241-257`): share of
    * 'F'-status orders per priority. The reference collects the grand total
    * to the driver and re-embeds it as a literal; engine-side we keep it
    * distributed with a window over the aggregated (5-row) frame.
    */
  def q3StatusShare(t: Tables): DataFrame = {
    val counts = t.orders
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("f_count"))
    counts
      .withColumn(
        "percentage",
        roundN(col("f_count") * 100.0 / sum("f_count").over(Window.partitionBy()), 2))
      .orderBy(desc("percentage"))
  }

  /** A6: multi-key group-by mean (ref `data-viz&cleaning.py:293`). */
  def aggMultiKeyAvg(t: Tables): DataFrame =
    t.lineitem
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        roundN(decAvg(col("l_extendedprice")), 2).as("avg_price"),
        roundN(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A7: group-by multiple avgs ordered by key (ref `data-viz&cleaning.py:263`). */
  def aggByYear(t: Tables): DataFrame =
    t.orders
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(
        roundN(decAvg(col("o_totalprice")), 2).as("avg_price"),
        count(lit(1)).as("num_orders"))
      .orderBy("order_year")

  /** A9: skewness (ref `data-viz&cleaning.py:142`). Spark's `skewness` is the
    * population skewness m3 / m2^1.5; the oracle recomputes it from central
    * moments because DuckDB's built-in uses the sample-corrected estimator.
    */
  def aggSkewness(t: Tables): DataFrame =
    t.lineitem.agg(
      roundN(skewness("l_extendedprice"), 4).as("skew_price"),
      roundN(skewness("l_quantity"), 4).as("skew_qty"))

  /** A10: describe()-style stats block (ref `data-viz&cleaning.py:108`),
    * engine-side as one aggregation (describe() itself returns strings).
    */
  def aggDescribeStats(t: Tables): DataFrame =
    t.lineitem.agg(
      count("l_extendedprice").as("cnt"),
      roundN(decAvg(col("l_extendedprice")), 2).as("mean_price"),
      roundN(stddev("l_extendedprice"), 2).as("std_price"),
      roundN(min("l_extendedprice"), 2).as("min_price"),
      roundN(max("l_extendedprice"), 2).as("max_price"))

  /** A11: SQL-expression surface via selectExpr (ref `data-viz&cleaning.py:445`).
    * The half-up rounding is spelled inline (floor(x·100+0.5)/100) because the
    * SQL parser only sees built-ins — `roundN` is a Scala-side helper.
    */
  def aggSelectExprSum(t: Tables): DataFrame =
    t.lineitem.selectExpr(
      "floor(sum(l_quantity) * 100 + 0.5) / 100 as total_qty")

  /** A5 engine-side: global agg consumed as a scalar — kept distributed as a
    * 1-row frame instead of `collect()[0][0]` (ref `data-understanding.py:229`).
    */
  def aggGlobalSum(t: Tables): DataFrame =
    t.orders.agg(
      roundN(decSum(col("o_totalprice")), 2).as("total_revenue"),
      count(lit(1)).as("num_orders"))

  /** P6: conjunctive range predicate (ref `data-viz&cleaning.py:130,173`).
    * Both bounds reach the parquet scan as PushedFilters.
    */
  def filterRange(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_quantity") >= 10 && col("l_quantity") <= 40)
      .filter(col("l_extendedprice") > 1000 && col("l_extendedprice") <= 50000)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

  /** P7 + P8: equality / inequality / isin membership filters
    * (ref `data-understanding.py:223`, `data-viz&cleaning.py:234`).
    */
  def filterIsin(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_returnflag").isin("A", "R"))
      .filter(col("l_linestatus") =!= "O")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** P10 + F1 + F2: negated LIKE-disjunction over lowercased text
    * (ref `data-understanding.py:183-187`).
    */
  def filterNotLike(t: Tables): DataFrame =
    t.part
      .filter(!(lower(col("p_name")).like("%widget%") ||
                lower(col("p_name")).like("%gear%")))
      .select(col("p_partkey"), upper(col("p_name")).as("name_upper"), col("p_type"))

  /** P9: null predicates (ref `data-understanding.py:91`). */
  def filterNotNull(t: Tables): DataFrame =
    t.orders
      .filter(col("o_totalprice").isNotNull && col("o_orderdate").isNotNull)
      .agg(count(lit(1)).as("non_null_orders"))

  /** P11: explicit cast funnel, ANSI-off → bad parses become null
    * (ref `price-prediction.py:150-152`).
    *
    * Round-2 hardening: the DECIMAL(20,2) column and the double→string cast
    * are exercised INSIDE the query but the gated output carries only
    * int/long/double/string — a DECIMAL result column hash-failed the
    * driver in round 1 (engines/readers canonicalize trailing-zero decimals
    * differently: `Decimal("1234.50")` vs `1234.5`). `tax_str` is now
    * derived decimal→string, which renders identically ("0.05", "0.00") in
    * Spark and DuckDB, unlike a raw double→string cast.
    */
  def castColumns(t: Tables): DataFrame =
    t.lineitem
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_quantity").cast(IntegerType).as("qty_int"),
        col("l_quantity").cast(LongType).as("qty_long"),
        col("l_extendedprice").cast(DecimalType(20, 2)).cast(DoubleType).as("price_2dp"),
        col("l_tax").cast(DecimalType(4, 2)).cast(StringType).as("tax_str"))

  /** F9: when/otherwise chain (ref `recomendation-system.py:77-84`), the
    * native-expression replacement for the reference's Python UDFs U1–U3.
    */
  def caseWhenTier(t: Tables): DataFrame =
    t.orders
      .withColumn(
        "tier",
        when(col("o_totalprice") >= 300000, "high")
          .when(col("o_totalprice") >= 150000, "mid")
          .when(col("o_totalprice") >= 50000, "low")
          .otherwise("minimal"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n"), roundN(decAvg(col("o_totalprice")), 2).as("avg_price"))
      .orderBy("tier")

  /** F3: regexp_extract (ref `data-understanding.py:190` year extraction). */
  def regexpExtract(t: Tables): DataFrame =
    t.customer
      .select(
        col("c_custkey"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("cust_num"))
      .filter(col("cust_num") =!= "")

  /** F4 + F5: to_date / year / month on the timestamp column
    * (ref `data-viz&cleaning.py:254-257`).
    */
  def dateParts(t: Tables): DataFrame =
    t.orders
      .select(
        col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"))

  /** Date-arithmetic family beyond [[dateParts]]: day/month offsets with
    * Spark's end-of-month clamping (`add_months`: Jan 31 + 1 month =
    * Feb 28 — the interval-add semantics both engines share), month
    * boundaries (`last_day`, `trunc`), and day-of-week (Spark is
    * 1=Sunday; the oracle's 0-based dow shifts by one). Pure per-row
    * projection — codegen, no shuffle.
    */
  def dateArithmetic(t: Tables): DataFrame = {
    val d = col("o_orderdate").cast("date")
    t.orders.select(
      col("o_orderkey"),
      date_add(d, 30).as("due_date"),
      add_months(d, 3).as("quarter_later"),
      last_day(d).as("month_end"),
      trunc(d, "month").as("month_start"),
      dayofweek(d).as("dow"),
      quarter(d).as("qtr"))
  }

  /** DataFrameNaFunctions surface (`na.fill` / `na.replace` — the D1
    * neighbourhood the reference's dropna leaves unexercised): negative
    * balances nulled then filled to 0, market segments recoded via the
    * replacement-map form. Both are per-row conditional projections.
    */
  def nullFillReplace(t: Tables): DataFrame =
    t.customer
      .withColumn(
        "bal_or_null",
        when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")))
      .na.fill(Map("bal_or_null" -> 0.0))
      .na.replace("c_mktsegment", Map("BUILDING" -> "B2B", "MACHINERY" -> "IND"))
      .select(
        col("c_custkey"),
        col("bal_or_null").as("bal_filled"),
        col("c_mktsegment").as("segment"))

  /** F6 + F7 + F8: column arithmetic, sqrt, natural log, round
    * (ref `data-viz&cleaning.py:194-206`).
    */
  def mathFuncs(t: Tables): DataFrame =
    t.lineitem
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        roundN(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("net_price"),
        roundN(sqrt(col("l_extendedprice")), 4).as("sqrt_price"),
        roundN(log(col("l_extendedprice")), 4).as("log_price"))

  /** O1–O3: global sort + limit → TakeOrderedAndProject. A unique tiebreak
    * key keeps the selected row set deterministic for the oracle.
    */
  def topKOrders(t: Tables): DataFrame =
    t.orders
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(10)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  /** P1/P2/P3/P5 composition: prune → derive → reorder (ref
    * `data-viz&cleaning.py:69-94`): the cleaning pipeline's column surgery.
    */
  def projectDerive(t: Tables): DataFrame = {
    val keep = Seq("o_orderkey", "o_totalprice", "o_orderdate")
    t.orders
      .select(keep.map(col): _*)
      .withColumn("order_age_years", lit(2026) - year(col("o_orderdate")))
      .drop("o_orderdate")
      .select("order_age_years", "o_orderkey", "o_totalprice")
  }

  /** D1 + D2: na.drop + distinct (ref `data-viz&cleaning.py:74`). Projected
    * to a key subset first so the distinct is deterministic (dropDuplicates
    * on a subset keeps an arbitrary survivor; SELECT DISTINCT does not).
    */
  def dedupExact(t: Tables): DataFrame =
    t.lineitem
      .select("l_orderkey", "l_partkey", "l_suppkey")
      .na.drop()
      .distinct()

  /** ROLLUP hierarchy totals (SURVEY §2.4 "nearby surface"): per
    * (flag, status), per flag, and grand total in one pass —
    * partial-aggregatable, one shuffle, #groups × 3 output rows.
    */
  def aggRollup(t: Tables): DataFrame =
    t.lineitem
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), roundN(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** CUBE: all grouping-set combinations of (status, priority). */
  def aggCube(t: Tables): DataFrame =
    t.orders
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** GROUPING SETS beyond rollup/cube: an explicit set list mixing two
    * independent dimensions plus the grand total, with grouping() flags
    * disambiguating the all-null rows (SQL:1999 T431; plans through the
    * same Expand operator as rollup/cube — one scan, one shuffle).
    */
  def aggGroupingSets(t: Tables): DataFrame = {
    t.orders.createOrReplaceTempView("v_orders_gs")
    t.spark.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        |       CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
        |       count(*) AS n
        |FROM v_orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority""".stripMargin)
  }

  /** Exact distinct count: shuffles the distinct (flag, partkey) pairs. */
  def aggCountDistinct(t: Tables): DataFrame =
    t.lineitem
      .groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("n_parts"))
      .orderBy("l_returnflag")

  /** Approximate distinct count (HLL++): a fixed-size sketch per partition
    * instead of shuffling distinct keys — the 100 TB version of
    * [[aggCountDistinct]]. The estimate itself is engine-specific, so the
    * gate emits the exact count plus an in-engine 6·rsd error-band verdict
    * on the sketch — a FULL hash gate (the oracle recomputes the exact
    * count and expects `within_6rsd` true): a drifted sketch flips the
    * boolean and the hash goes red, instead of hiding behind rows-only.
    */
  def aggApproxDistinct(t: Tables): DataFrame =
    t.lineitem
      .groupBy("l_returnflag")
      .agg(
        countDistinct("l_partkey").as("n_exact"),
        approx_count_distinct("l_partkey", 0.02).as("approx"))
      .select(
        col("l_returnflag"),
        col("n_exact"),
        (abs(col("approx") - col("n_exact")).cast("double") <=
          greatest(lit(6 * 0.02) * col("n_exact"), lit(10.0))).as("within_6rsd"))
      .orderBy("l_returnflag")

  /** D3: seeded Bernoulli sample (ref `performance_py/...py:87`).
    * Partition-layout dependent rows; the hash-gated face is
    * [[sampleOrdersGate]], this raw form feeds the specs and the
    * independent invariant recomputation.
    */
  def sampleOrders(t: Tables): DataFrame =
    t.orders.sample(withReplacement = false, 0.1, seed = 42)
      .select("o_orderkey", "o_totalprice")

  /** 6σ binomial band around fraction·n, +10 absolute slack — shared by
    * the sampling verdict gates and recomputed independently (from the
    * same raw counts) in Verify.GateInvariants.
    */
  private[graft] def binomialBandOk(got: Long, n: Long, p: Double): Boolean = {
    val slack = 6.0 * math.sqrt(n * p * (1 - p)) + 10.0
    math.abs(got - n * p) <= slack
  }

  /** Hash-gated face of [[sampleOrders]] (round-9, was rows-only): the
    * source count — oracle-recomputable — plus two verdicts derived from
    * the ACTUAL sample: the sampled count sits in the 6σ binomial band
    * around 0.1·n, and the sampled keys are a distinct subset of the
    * source keys (without-replacement contract). The oracle states the
    * verdicts as constants; GateInvariants re-runs the raw sample and
    * recomputes both booleans independently.
    */
  def sampleOrdersGate(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val srcKeys = t.orders.select("o_orderkey")
    val nSource = srcKeys.count()
    val s = sampleOrders(t)
    val nSampled = s.count()
    val nDistinct = s.select(countDistinct(col("o_orderkey"))).head().getLong(0)
    val foreign = s.select("o_orderkey").exceptAll(srcKeys).count()
    Seq((nSource,
      binomialBandOk(nSampled, nSource, 0.1),
      foreign == 0L && nDistinct == nSampled))
      .toDF("n_source", "sampled_in_band", "sampled_distinct_subset")
  }

  /** D4: seeded randomSplit (ref `price-prediction.py:195`), surfaced as
    * per-split counts. Raw form — the hash-gated face is
    * [[splitCountsGate]].
    */
  def splitCounts(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val Array(train, test) = t.orders.randomSplit(Array(0.8, 0.2), seed = 42)
    Seq(("train", train.count()), ("test", test.count())).toDF("split", "n")
  }

  /** Hash-gated face of [[splitCounts]] (round-9, was rows-only): source
    * count plus two verdicts from the actual split — the two sides
    * PARTITION the source exactly (sum to n, both nonempty) and the
    * train share sits in the 6σ band around 0.8. Oracle states the
    * constants; GateInvariants re-runs the raw split and recomputes both.
    */
  def splitCountsGate(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val n = t.orders.count()
    val counts = splitCounts(t).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq((n,
      counts.values.sum == n && counts.values.forall(_ > 0L),
      binomialBandOk(counts("train"), n, 0.8)))
      .toDF("n_source", "partitions_source", "train_in_band")
  }

  /** Deterministic hash-based train/val/test assignment — the split a
    * 100 TB corpus actually uses. `randomSplit` carries RNG state that is
    * partition-layout-dependent and unstable under corpus growth; hashing
    * the KEY instead makes the split (a) reproducible across runs,
    * clusters and engines, (b) stable under insertion — an existing doc's
    * split never changes when new docs arrive — and (c) embarrassingly
    * parallel with zero coordination. Bucket = first two md5 nibbles of
    * the key's decimal string ∈ [0,256); train < 205, val < 230, test
    * otherwise (≈ 80/10/10).
    */
  def hashSplitAssign(df: DataFrame, key: String): DataFrame =
    df.withColumn("bucket",
        conv(substring(md5(col(key).cast("string")), 1, 2), 16, 10)
          .cast("int"))
      .withColumn("split",
        when(col("bucket") < 205, "train")
          .when(col("bucket") < 230, "val")
          .otherwise("test"))

  /** Gate query: per-split doc and char totals plus the bucket extents —
    * fully hash-gated (the oracle replays the same md5-nibble bucketing
    * in SQL, so engine and oracle must agree on EVERY doc's assignment,
    * not just the aggregate shape).
    */
  def hashSplitGate(t: Tables): DataFrame =
    hashSplitAssign(t.documents, "doc_id")
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        min("bucket").as("min_bucket"),
        max("bucket").as("max_bucket"))
      .orderBy("split")

  /** Split-representativeness check (round 12): a Kolmogorov–Smirnov-style
    * distance between the TRAIN and TEST length distributions of the
    * hash split — the QA gate that catches a holdout whose documents
    * don't look like training (a broken split, a skewed key, a sorted
    * corpus split by range). The empirical CDFs are compared on a fixed
    * 9-point equal-width grid over [min, max] computed in EXACT integer
    * arithmetic (gₖ = mn + ((mx−mn)·k) div 10), and each gap is the
    * cross-multiplied integer ppm ⌊|c_tr·n_te − c_te·n_tr|·10⁶ /
    * (n_tr·n_te)⌋ — no division until the final floor, no float anywhere,
    * so the whole report hash-gates. Two aggregation passes (extent, then
    * one conditional-sum pass computing all 9×2 CDF counts — the grid
    * rides a broadcast 1-row frame); at 100 TB this costs two scans and
    * one 1-row exchange.
    */
  def splitDistributionKs(t: Tables): DataFrame = {
    val assigned = hashSplitAssign(t.documents, "doc_id")
      .filter(col("split").isin("train", "test"))
      .select(col("split"), col("n_chars"))
    val extent = assigned.agg(
      min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
    val k = (1 to 9)
    val withGrid = assigned.crossJoin(broadcast(extent))
    val aggs =
      Seq(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test")) ++
      k.flatMap { i =>
        val g = expr(s"mn + ((mx - mn) * $i) div 10")
        Seq(
          sum(when(col("split") === "train" && col("n_chars") <= g, 1L)
            .otherwise(0L)).as(s"tr_$i"),
          sum(when(col("split") === "test" && col("n_chars") <= g, 1L)
            .otherwise(0L)).as(s"te_$i"),
          max(g).as(s"g_$i"))
      }
    val wide = withGrid.agg(aggs.head, aggs.tail: _*)
    // Cross-multiplied numerator in DECIMAL(38,0) (the digest-sum idiom):
    // at 100 TB splits (~10^13 rows/side) c·n·10^6 crosses Long range and
    // Spark (non-ANSI) would wrap silently while DuckDB raises — the
    // decimal hop keeps engine and oracle exact and identical.
    val stacked = k.map(i =>
      s"$i, g_$i, tr_$i, te_$i, " +
        s"CAST(abs(CAST(tr_$i AS DECIMAL(38,0)) * n_test - " +
        s"CAST(te_$i AS DECIMAL(38,0)) * n_train) * 1000000 " +
        s"div (CAST(n_train AS DECIMAL(38,0)) * n_test) AS BIGINT)").mkString(",\n")
    wide.select(expr(
      s"""stack(9,
         |$stacked
         |) AS (k, grid_value, n_train_le, n_test_le, gap_ppm)""".stripMargin))
      .orderBy("k")
  }

  /** Deterministic stratified sampling — per source, the k docs with the
    * smallest key digests. The hash IS the random order (uniform,
    * engine-independent), so unlike `sampleBy` the sample is exactly k
    * per stratum, reproducible anywhere, and hash-gateable row by row.
    * Plans as partial per-partition top-k (WindowGroupLimit) before the
    * per-source exchange — ≤ k×partitions rows shuffle, never the corpus.
    */
  def hashStratifiedSample(t: Tables, k: Int = 5): DataFrame =
    t.documents
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        Window.partitionBy("source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      .filter(col("rk") <= k)
      .select("source", "doc_id", "n_chars", "rk")
      .orderBy("source", "rk")

  /** F10: monotonically_increasing_id — unique but partition-dependent
    * (SURVEY §2.8 quirk: ids are not stable between runs/layouts); the spec
    * checks uniqueness, the hash gate is [[rowIdsGate]].
    */
  def rowIds(t: Tables): DataFrame =
    t.orders
      .select(col("o_orderkey"), monotonically_increasing_id().as("row_id"))

  /** Hash-gated face of [[rowIds]] (round-10, was the last rows-only gate):
    * the id VALUES are partition-dependent by contract, but the operator's
    * checkable facts are not — exactly one id per source row, all ids
    * unique, all ids non-negative. The gate emits the oracle-recomputable
    * source count plus those booleans derived from the ACTUAL generated
    * ids; `Verify.GateInvariants` re-runs the raw query and recomputes each
    * verdict independently (anti-self-certification, round-8 verdict #4).
    */
  def rowIdsGate(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val n = t.orders.count()
    val facts = rowIds(t)
      .agg(count(lit(1)), countDistinct(col("row_id")),
        // empty source: min aggregates to null — coalesce keeps the
        // nonnegativity verdict vacuously true instead of NPE-ing getLong
        coalesce(min(col("row_id")), lit(0L)))
      .head()
    Seq((n,
      facts.getLong(0) == n,
      facts.getLong(1) == n,
      facts.getLong(2) >= 0L))
      .toDF("n_source", "one_id_per_row", "ids_unique", "ids_nonnegative")
  }

  /** F10 stable twin (SURVEY §7.3's promised fix): deterministic 1-based
    * row ids = the global rank of a unique key. A `row_number() OVER
    * (ORDER BY key)` window would move ALL rows to one partition; instead
    * the frame is range-partitioned and sorted by the key and ids are
    * assigned as partition-local index + cumulative partition offsets
    * (`RDD.zipWithIndex` — a count pass over partition sizes, then a map
    * pass; both fully parallel, O(#partitions) driver data). The ids are
    * independent of the partition boundaries because the key is unique and
    * globally range-sorted, so the output is oracle-checkable:
    * `row_number() OVER (ORDER BY o_orderkey)`.
    */
  def rowIdsStable(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    t.orders
      .select(col("o_orderkey"))
      .repartitionByRange(col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .as[Long]
      .rdd
      .zipWithIndex()
      .map { case (key, i) => (key, i + 1) }
      .toDF("o_orderkey", "row_id")
  }

  /** Pivot: one column per return flag, a row per line status — wide-format
    * reporting. Values are enumerated explicitly so the plan is a single
    * pass (an unenumerated pivot first runs a distinct job to discover
    * them).
    */
  def pivotFlagStatus(t: Tables): DataFrame =
    t.lineitem
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(roundN(sum("l_quantity"), 2))
      .withColumnsRenamed(Map("A" -> "qty_a", "N" -> "qty_n", "R" -> "qty_r"))
      .orderBy("l_linestatus")

  /** The inverse reshape: unpivot (melt) the wide pivoted frame back into
    * long (status, flag, qty) rows — wide↔long is a lossless round trip,
    * which the oracle states by computing the long form directly from the
    * source and never touching the wide one. Dataset.unpivot RETAINS null
    * value rows (a flag absent for a status), so they are filtered
    * explicitly to match the long form, which never produces them.
    */
  def unpivotFlagStatus(t: Tables): DataFrame =
    pivotFlagStatus(t)
      .unpivot(
        Array(col("l_linestatus")),
        Array(col("qty_a").as("A"), col("qty_n").as("N"), col("qty_r").as("R")),
        "l_returnflag", "sum_qty")
      .filter(col("sum_qty").isNotNull)
      .orderBy("l_linestatus", "l_returnflag")

  /** Pearson correlation + sample covariance (the reference's
    * correlation-matrix intent, `data-viz&cleaning.py` commented plots) —
    * single-pass co-moment aggregation.
    */
  def statCorrCovar(t: Tables): DataFrame =
    t.lineitem.agg(
      roundN(corr("l_quantity", "l_extendedprice"), 6).as("corr_qty_price"),
      roundN(covar_samp("l_quantity", "l_extendedprice"), 4).as("covar_qty_price"))

  /** Per-stratum fractions for the stratified sample — 5% of F and O, 50%
    * of P (the class-balancing shape for skewed training data).
    */
  private val stratifiedFractions = Map("F" -> 0.05, "O" -> 0.05, "P" -> 0.5)

  /** Raw per-stratum sampled counts behind [[stratifiedSample]]: seeded
    * `sampleBy`, partition-layout dependent — exposed for the specs and
    * the determinism invariant.
    */
  def stratifiedSampleCounts(t: Tables): DataFrame =
    t.orders.stat
      .sampleBy("o_orderstatus", stratifiedFractions, 42L)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_sampled"))

  /** Stratified sample (sampleBy) gate: the sampled counts themselves are
    * engine-specific (seeded Bernoulli over a partition layout), so the
    * gate emits each stratum's SOURCE count plus an in-engine 6σ binomial
    * band verdict on the sampled count — a FULL hash gate (the oracle
    * recomputes the source counts and expects `in_band` true). A wrong
    * fraction, a double sample, or a lost stratum flips the boolean.
    */
  def stratifiedSample(t: Tables): DataFrame = {
    val p = when(col("o_orderstatus") === "P", lit(0.5)).otherwise(lit(0.05))
    t.orders.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_source"))
      .join(stratifiedSampleCounts(t), Seq("o_orderstatus"), "left")
      .select(
        col("o_orderstatus"),
        col("n_source"),
        (abs(coalesce(col("n_sampled"), lit(0L)) - p * col("n_source")) <=
          lit(6.0) * sqrt(p * (lit(1.0) - p) * col("n_source")) + lit(10.0))
          .as("in_band"))
      .orderBy("o_orderstatus")
  }

  /** Heavy hitters: top-k most frequent part keys in lineitem —
    * agg-then-TakeOrdered, the distributed word-count shape.
    */
  def topPartKeys(t: Tables, k: Int = 20): DataFrame =
    t.lineitem
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("l_partkey"))
      .limit(k)

  /** Deterministic per-group collection: collect_set arrives in partition
    * order (nondeterministic), so the gate pins it with sort_array +
    * array_join — the "list the group's members" shape made hash-checkable.
    */
  def aggCollectSorted(t: Tables): DataFrame =
    t.lineitem
      .groupBy("l_returnflag")
      .agg(
        array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses"),
        countDistinct("l_linestatus").as("n_statuses"))
      .orderBy("l_returnflag")

  /** EXACT interpolated percentiles (`percentile` — the full-sort twin of
    * the GK sketch gates): type-7 linear interpolation at p50/p90 per
    * group. At scale the exact form costs a per-group sort; the approx
    * twin (`q2_approx_median`) is the default path and this gate pins the
    * truth it approximates.
    */
  def aggExactPercentiles(t: Tables): DataFrame =
    // round-18 A/B'd the conditional scan rebalance here (guide §2.5 —
    // the 1-row-group orders layout builds every percentile buffer on one
    // task) and measured it SLOWER, 0.86 → 1.20 s (4/4 interleaved arms):
    // the partial buffers are cheap hash-map inserts, so the added
    // exchange of the (priority, price) rows costs more than the parallel
    // build saves — the same verdict round 17 recorded for
    // agg_approx_distinct. The plain scan stays.
    t.orders
      .groupBy("o_orderpriority")
      .agg(
        roundN(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        roundN(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** max_by over a TOTAL order: the struct tiebreak (price, key) makes the
    * argmax deterministic — bare max_by(key, price) would be
    * partition-order-dependent on price ties.
    */
  def aggMaxBy(t: Tables): DataFrame =
    t.orders
      .groupBy("o_orderstatus")
      .agg(
        max_by(col("o_orderkey"),
          struct(col("o_totalprice"), col("o_orderkey"))).as("top_orderkey"),
        max("o_totalprice").as("top_price"))
      .orderBy("o_orderstatus")

  /** Raw count-min sketch point estimates for the k heaviest part keys —
    * the frequency tier of the sketch surface (HLL++ covers distinct
    * counts, GK covers quantiles, bloom covers membership). The sketch
    * builds DISTRIBUTED in one pass (mergeable counter arrays aggregated
    * across partitions — fixed memory however large the input); estimates
    * are O(depth) driver lookups over the k keys. Fixed seed ⇒
    * deterministic, but the bin layout is engine-specific — the
    * hash-gated face is [[sketchCmsTopK]]; this raw form feeds the specs
    * and the independent invariant recomputation.
    */
  def sketchCmsEstimates(t: Tables, k: Int = 20,
                         eps: Double = 0.001, confidence: Double = 0.99): DataFrame = {
    val li  = t.lineitem
    val cms = li.stat.countMinSketch("l_partkey", eps, confidence, seed = 42)
    val topKeys = topPartKeys(t, k).collect().map(_.getLong(0))
    val spark = t.spark
    import spark.implicits._
    topKeys.toSeq.map(pk => (pk, cms.estimateCount(pk)))
      .toDF("l_partkey", "est_count")
      .orderBy(desc("est_count"), asc("l_partkey"))
  }

  /** Hash-gated face of the CMS (round-9, was rows-only): the exact top-k
    * keys with their exact counts — both oracle-recomputable — plus the
    * CMS one-sided bound rounded into two booleans the oracle states as
    * constants: `never_under` (exact ≤ estimate, a hard CMS guarantee)
    * and `within_bound` (estimate ≤ exact + 5·(⌈eps·N⌉+1), the Markov
    * slack that bounds even the rare per-key confidence miss). A drifted
    * or broken sketch flips a boolean and the hash goes red. The booleans
    * are NOT self-certified: GateInvariants recomputes the estimates via
    * [[sketchCmsEstimates]] and requires each emitted verdict to equal
    * the independent recomputation.
    */
  def sketchCmsTopK(t: Tables, k: Int = 20,
                    eps: Double = 0.001, confidence: Double = 0.99): DataFrame = {
    val li  = t.lineitem
    val n   = li.count()
    val slack = 5 * (math.ceil(eps * n).toLong + 1)
    val cms = li.stat.countMinSketch("l_partkey", eps, confidence, seed = 42)
    val exactTop = topPartKeys(t, k).collect().map(r => (r.getLong(0), r.getLong(1)))
    val spark = t.spark
    import spark.implicits._
    exactTop.toSeq.map { case (pk, ne) =>
      val est = cms.estimateCount(pk)
      (pk, ne, est >= ne, est <= ne + slack)
    }
      .toDF("l_partkey", "n_exact", "never_under", "within_bound")
      .orderBy(desc("n_exact"), asc("l_partkey"))
  }

  /** KMV (bottom-k) distinct estimates per group via the custom
    * `graft_kmv_distinct` TypedImperativeAggregate (KmvDistinct.scala) —
    * the DETERMINISTIC member of the sketch tier: "k smallest md5
    * digests of the value set" is independent of partitioning and merge
    * order, so unlike HLL the estimate itself hash-gates and the DuckDB
    * oracle recomputes it bit-for-bit. Partial aggregation is real: at
    * most k digests per group cross the exchange.
    */
  def sketchKmvDistinct(t: Tables, k: Int = 32): DataFrame =
    t.lineitemBalanced
      .select(col("l_returnflag"), col("l_partkey").cast("string").as("pk"))
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("pk")).as("n_exact"),
        roundN(call_function("graft_kmv_distinct", col("pk"), lit(k)), 2)
          .as("kmv_estimate"))
      .orderBy("l_returnflag")

  /** KMV shard-sketch MERGEABILITY — the property that makes bottom-k
    * sketches the 100 TB distinct-count tool: each shard (here: each
    * `source`) keeps only its k smallest md5 digests of the value set,
    * and the union's bottom-k equals the bottom-k of the merged shard
    * sketches — a theorem, not an approximation (any digest among the
    * global k smallest is among its own shard's k smallest). So
    * corpus-wide distinct estimates are answered from #shards × k stored
    * digests with NO rescan of the data.
    *
    * The gate computes the estimate BOTH ways — per-shard windows + tiny
    * merge (≤ #sources × k rows feed the global window) vs one direct
    * `graft_kmv_distinct` aggregate over the corpus — with identical
    * arithmetic to [[graft.plans.KmvDistinct.eval]]: exact 48-bit nibble
    * value, exact (k−1)·16^12 numerator, one IEEE division. Equality is
    * emitted as a column the oracle recomputes from both restatements,
    * so the whole row hash-gates (unlike HLL, whose merge result is
    * implementation-defined).
    *
    * Scale shape: the per-shard bottom-k is a rank-filter window
    * (WindowGroupLimit forwards ≤ k rows per source per task map-side,
    * the `sample_weighted_per_group` shape); the global window runs over
    * the already-k-bounded merge input, never the corpus.
    */
  def sketchKmvMerge(t: Tables, k: Int = 32): DataFrame =
    sketchKmvMergeOn(t.documents, k)

  /** [[sketchKmvMerge]] over an explicit (source, text) frame — the spec
    * seam for sub-k and hand-built shard corpora. */
  def sketchKmvMergeOn(docs: DataFrame, k: Int): DataFrame = {
    val v = docs.filter(col("text").isNotNull)
      .select(col("source"), md5(col("text")).as("h")).distinct()
    val perShard = v
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("h")))
      .filter(col("rn") <= k)
    val merged = perShard.select("h").distinct()
      .withColumn("rn", row_number().over(Window.orderBy("h")))
      .filter(col("rn") <= k)
    val numer = lit((k - 1).toDouble * 281474976710656.0)
    val mergedEst = merged.agg(
      count(lit(1)).as("sz"),
      max(when(col("rn") === k, col("h"))).as("hk"))
      .select(when(col("sz") < k, col("sz").cast("double"))
        .otherwise(numer / conv(substring(col("hk"), 1, 12), 16, 10).cast("double"))
        .as("merged_est"))
    val direct = docs.agg(
      countDistinct(md5(col("text"))).as("n_exact"),
      countDistinct(col("source")).as("n_sources"),
      call_function("graft_kmv_distinct", col("text"), lit(k)).as("direct_est"))
    direct.crossJoin(broadcast(mergedEst)).select(
      col("n_sources"), col("n_exact"),
      roundN(col("merged_est"), 2).as("merged_estimate"),
      roundN(col("direct_est"), 2).as("direct_estimate"),
      (roundN(col("merged_est"), 2) === roundN(col("direct_est"), 2))
        .as("merge_equals_direct"))
  }

  /** Datasketches HLL twin of [[sketchKmvMerge]] — Spark's NATIVE
    * persistable distinct-count sketch surface (`hll_sketch_agg` /
    * `hll_union_agg` / `hll_sketch_estimate`, Apache DataSketches HLL
    * under the hood). The production shape at 100 TB: per-shard/day
    * sketches land as a BINARY column in a stats table; corpus-wide
    * distinct counts are answered by unioning the stored sketches —
    * registers merge by max, so the union's estimate equals building one
    * sketch over the whole corpus directly.
    *
    * Unlike KMV's 48-bit nibble arithmetic, the HLL estimate is
    * implementation-defined (DataSketches internals) — and unlike KMV,
    * HLL's union is NOT estimate-identical to a direct build: unioning
    * promotes coupon-mode (exact) shard sketches into the HLL register
    * array, so on this very fixture the union reads 503 where the direct
    * sketch reads 499 (exact: 500). That asymmetry is precisely why
    * [[sketchKmvMerge]] carries the exact-merge theorem and this gate is
    * its native-surface complement, claiming what HLL actually
    * guarantees: both paths estimate within the error band. The gate
    * emits only oracle-stateable facts (exact counts) plus two booleans
    * the oracle states as `true` and [[graft.Verify.GateInvariants]]
    * independently recomputes from [[sketchHllEstimates]] (a doctored or
    * inverted boolean fails loudly):
    *  - `merged_in_band`: |union-of-shards estimate − exact| ≤ 10% ·
    *    exact;
    *  - `direct_in_band`: same bound for the whole-corpus sketch — 10%
    *    is ~6× the lgK=12 RSE (1.04/√4096 ≈ 1.6%), far beyond any
    *    plausible drift.
    */
  def sketchHllMerge(t: Tables, lgK: Int = 12): DataFrame =
    sketchHllMergeOn(t.documents, lgK)

  /** [[sketchHllMerge]] over an explicit (source, text) frame. */
  def sketchHllMergeOn(docs: DataFrame, lgK: Int): DataFrame = {
    def inBand(est: org.apache.spark.sql.Column) =
      abs(est.cast("double") - col("n_exact").cast("double")) <=
        col("n_exact").cast("double") * 0.1
    sketchHllEstimates(docs, lgK).select(
      col("n_sources"), col("n_exact"),
      inBand(col("merged_est")).as("merged_in_band"),
      inBand(col("direct_est")).as("direct_in_band"))
  }

  /** Raw estimates behind [[sketchHllMergeOn]] — the recompute seam for
    * `GateInvariants` and the spec: (n_sources, n_exact, merged_est,
    * direct_est). Per-shard sketches are a tiny per-source aggregate
    * (the rows a real pipeline would PERSIST); the union aggregates
    * #sources binary sketches, never rescanning values.
    */
  def sketchHllEstimates(docs: DataFrame, lgK: Int): DataFrame = {
    val d = docs.filter(col("text").isNotNull)
    val perShard = d.groupBy("source")
      .agg(hll_sketch_agg(col("text"), lgK).as("sk"))
    val merged = perShard
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_est"))
    // the exact count is the gate's verification term — distinct over
    // md5 digests so the exchange carries 16-byte digests, never text
    // (the engine-wide digests-only rule; md5-distinct == text-distinct)
    val direct = d.agg(
      countDistinct(md5(col("text"))).as("n_exact"),
      countDistinct(col("source")).as("n_sources"),
      hll_sketch_estimate(hll_sketch_agg(col("text"), lgK)).as("direct_est"))
    direct.crossJoin(broadcast(merged))
  }

  private val hllSketchDirCache =
    GenerationCache.dirs[Int]("documents.parquet", "graft_hll_sketch_table")

  /** Per-source HLL sketches persisted as a parquet table — the storage
    * hop [[sketchHllMerge]] only claims: at 100 TB the per-shard/day
    * sketches land as a BINARY column in a stats table and corpus-wide
    * distinct counts are answered from the STORED sketches, never
    * rescanning values. One tiny table per (fixture generation, lgK)
    * (#sources rows × ~2^lgK bytes).
    */
  def hllSketchTableDir(t: Tables, lgK: Int = 12): String =
    hllSketchDirCache(t.dir, lgK) { dir =>
      t.documents.filter(col("text").isNotNull)
        .groupBy("source")
        .agg(hll_sketch_agg(col("text"), lgK).as("sk"))
        .write.mode("overwrite").parquet(dir)
    }

  /** Gate query: the persisted-sketch round trip. Reads the parquet
    * sketch table back, unions the STORED binary sketches, and claims
    * (oracle states TRUE, [[graft.GateInvariants]] recomputes from
    * [[sketchHllPersistedEstimates]]):
    *  - `stored_rows_match`: the table holds exactly one sketch row per
    *    source (count(DISTINCT source) — oracle-stateable);
    *  - `storage_lossless`: union-of-stored estimate == union-of-live
    *    estimate EXACTLY (parquet BINARY round trip loses nothing);
    *  - `merged_in_band`: the stored-union estimate is within 10% of the
    *    exact distinct count (~6× the lgK=12 RSE).
    */
  def sketchHllPersisted(t: Tables, lgK: Int = 12): DataFrame =
    sketchHllPersistedEstimates(t, lgK).select(
      col("n_sources"), col("n_exact"),
      (col("stored_rows") === col("n_sources")).as("stored_rows_match"),
      (col("stored_est") === col("live_est")).as("storage_lossless"),
      (abs(col("stored_est").cast("double") - col("n_exact").cast("double")) <=
        col("n_exact").cast("double") * 0.1).as("merged_in_band"))

  /** Raw terms behind [[sketchHllPersisted]] — the recompute seam for
    * `GateInvariants` and the spec: (n_sources, n_exact, stored_rows,
    * stored_est, live_est). `stored_est` unions the sketches READ BACK
    * from parquet; `live_est` unions in-memory shard sketches built the
    * same way — equality proves the storage hop lossless.
    */
  def sketchHllPersistedEstimates(t: Tables, lgK: Int = 12): DataFrame = {
    val stored = t.spark.read.parquet(hllSketchTableDir(t, lgK))
    val fromStorage = stored.agg(
      count(lit(1)).as("stored_rows"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("stored_est"))
    val d = t.documents.filter(col("text").isNotNull)
    val live = d.groupBy("source")
      .agg(hll_sketch_agg(col("text"), lgK).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("live_est"))
    d.agg(
      countDistinct(col("source")).as("n_sources"),
      countDistinct(md5(col("text"))).as("n_exact"))
      .crossJoin(broadcast(fromStorage))
      .crossJoin(broadcast(live))
  }

  /** Full `spark.sql` surface over registered views (TPC-H Q3 shape):
    * the SQL text goes through the same Catalyst pipeline as the DataFrame
    * DSL — one parser/optimizer, two front doors.
    */
  def sqlTopUnshippedOrders(t: Tables): DataFrame = {
    t.customer.createOrReplaceTempView("v_customer")
    t.orders.createOrReplaceTempView("v_orders")
    t.lineitem.createOrReplaceTempView("v_lineitem")
    t.spark.sql(
      """SELECT l_orderkey,
        |       floor(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) * 100 + 0.5) / 100 AS revenue,
        |       o_orderdate
        |FROM v_customer
        |JOIN v_orders ON c_custkey = o_custkey
        |JOIN v_lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderstatus <> 'F'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin)
  }
}
