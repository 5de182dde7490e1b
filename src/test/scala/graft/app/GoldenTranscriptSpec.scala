package graft.app

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame

/** Golden-transcript numeric parity (SURVEY §5.2 item 3, round-2 verdict
  * item 5): run the DataUnderstanding pipeline over the checked-in 100-row
  * `vehicles_golden.csv` and assert the EXACT output tables — values, not
  * just shapes. The Kaggle CSV isn't in the sandbox, so the fixture is the
  * honest substitute: synthetic, but every expected number below is
  * hand-checkable arithmetic from the fixture's construction —
  *
  *  - manufacturers: ford rows 1–30 at price 1000·i (avg 15500), toyota
  *    31–55 at 8000, bmw 56–65 at 10000 + 66–75 at 20000 (avg 15000),
  *    honda 76–90 at 12000, rows 91–100 have NULL manufacturer at 5000;
  *  - states in id blocks: ca 1–21, tx 22–40, ny 41–65, wa 66–82,
  *    fl 83–100 — group sizes odd (or median-unambiguous) by design, so
  *    the per-state median element is pinned;
  *  - title_status: salvage exactly on ids {1,2,3,4, 22,23,24, 41,42, 66}
  *    → 4/3/2/1 per state of 10 total → 40/30/20/10 percent.
  */
class GoldenTranscriptSpec extends SparkTestBase {

  private lazy val vehicles: DataFrame = {
    val path = getClass.getResource("/vehicles_golden.csv").getPath
    VehiclesPipelines.load(spark, path).cache()
  }

  test("golden fixture loads with the 26-column all-strings schema, 100 rows") {
    assert(vehicles.columns.toSeq == VehiclesPipelines.columns)
    assert(vehicles.schema.fields.forall(_.dataType.typeName == "string"))
    assert(vehicles.count() == 100)
    // CSV empty fields must land as NULLs (the dirty-data contract)
    assert(vehicles.filter(vehicles("manufacturer").isNull).count() == 10)
    assert(vehicles.filter(vehicles("county").isNull).count() == 100)
  }

  test("Query 1 transcript: listings + mean price per manufacturer, exact") {
    val got = VehiclesPipelines.DataUnderstanding.listingsPerManufacturer(vehicles)
    // transcript column names are the dict-agg defaults (ref transcript :44)
    assert(got.columns.toSeq == Seq("manufacturer", "count(manufacturer)", "avg(price)"))
    val rows = got.collect().map(r =>
      (Option(r.getString(0)).orNull, r.getLong(1), r.getDouble(2)))
    // sorted desc by non-null count; the NULL-manufacturer group counts 0
    assert(rows.toSeq == Seq(
      ("ford", 30L, 15500.0),
      ("toyota", 25L, 8000.0),
      ("bmw", 20L, 15000.0),
      ("honda", 15L, 12000.0),
      (null, 0L, 5000.0)))
  }

  test("Query 2 transcript: per-state count + approx median price, exact") {
    val got = VehiclesPipelines.DataUnderstanding.statePriceMedians(vehicles)
    assert(got.columns.toSeq == Seq("state", "num_listings", "median_price"))
    val rows = got.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    // medians pinned by construction: CA 1000..21000 → rank-11 element;
    // TX {8000×10, 22000..30000} → rank 10; NY {8000×15, 10000×10} → rank
    // 13; WA {12000×7, 20000×10} → rank 9; FL {5000×10, 12000×8} → ranks
    // 9 and 10 both 5000 (even n, value unambiguous)
    assert(rows.toSeq == Seq(
      ("CA", 21L, 11000.0),
      ("FL", 18L, 5000.0),
      ("NY", 25L, 8000.0),
      ("TX", 19L, 8000.0),
      ("WA", 17L, 20000.0)))
  }

  test("Query 3 transcript: salvage share per state, exact") {
    val got = VehiclesPipelines.DataUnderstanding.salvageShareByState(vehicles)
    assert(got.columns.toSeq == Seq("state", "count", "percentage"))
    val rows = got.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // 10 salvage rows total, distinct per-state counts → unique ordering
    assert(rows.toSeq == Seq(
      ("ca", 4L, 40.0),
      ("tx", 3L, 30.0),
      ("ny", 2L, 20.0),
      ("wa", 1L, 10.0)))
  }

  /** Cleaning/viz transcript block (`data-viz&cleaning.py:141-207`,
    * transcript `notebooks_outputs/data-viz&cleaning.txt:33-92`): describe
    * over the cleaned frame + the three skewness numbers at the
    * reference's `%.2f` precision.
    *
    * Cleaned set by construction: rows 2–90 survive (row 1 price 1000 <
    * 2000; rows 91–100 have NULL manufacturer → na.drop) = 89 rows with
    * odometer the arithmetic sequence 52000..140000 step 1000 — so
    * count 89, mean EXACTLY 96000, and skewness EXACTLY 0 (symmetric:
    * third central moments cancel in pairs). Sample stddev of an
    * arithmetic sequence a+k·d is d·sqrt(n(n+1)/12) = 1000·sqrt(89·90/12)
    * = 25836.0213658... sqrt/log transforms skew left: −0.17 / −0.35.
    */
  test("cleaning transcript: describe block + skewness, exact") {
    val cleaned = VehiclesPipelines.Cleaning.clean(vehicles).cache()
    try {
      assert(cleaned.count() == 89)
      val d = cleaned.describe("odometer").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(d("count") == "89")
      assert(d("mean").toDouble == 96000.0)
      assert(math.abs(d("stddev").toDouble - 1000.0 * math.sqrt(89.0 * 90.0 / 12.0)) < 1e-6)
      // describe() min/max on an all-strings CSV column are LEXICOGRAPHIC
      // — the transcript's own quirk (odometer max "99999" with 200000
      // values present, `data-viz&cleaning.txt:77-84`); here "100000" <
      // "52000" and "99000" > "140000" as strings
      assert(d("min") == "100000", s"lexicographic min, got ${d("min")}")
      assert(d("max") == "99000", s"lexicographic max, got ${d("max")}")

      // the reference prints skewness with f"{x:.2f}" (ref :143,196,207)
      def r2dp(x: Double): Double = math.floor(x * 100 + 0.5) / 100
      val sk = VehiclesPipelines.Cleaning.skewnessReport(cleaned).head()
      assert(r2dp(sk.getDouble(0)) == 0.0, s"odometer skew ${sk.getDouble(0)}")
      assert(r2dp(sk.getDouble(1)) == -0.17, s"sqrt skew ${sk.getDouble(1)}")
      assert(r2dp(sk.getDouble(2)) == -0.35, s"log skew ${sk.getDouble(2)}")
    } finally { cleaned.unpersist(); () }
  }

  /** Replay of the five reference demo calls
    * (`recomendation-system.py:197-209`) over the dedicated 32-row
    * `vehicles_recommend_golden.csv` — crafted so every call has
    * candidates (the 100-row stats fixture has none) and every call's
    * price-keyed retrieval hits the reference's tie quirk
    * (`recomendation-system.py:176-179`, SURVEY §3.3.5): retrieval is
    * `price.isin(top-5 prices)`, so tied prices fetch MORE rows than the
    * five "intended" — including cars never in the similarity top-6 and
    * the dropped self row. Scores are degenerate (TF-IDF over the
    * constant `Made` term is 0 after IDF), so the engine's deterministic
    * tie-break (price asc, model asc, year asc — all CSV strings, equal
    * digit width by fixture design) makes the top-6 window, and therefore
    * the retrieval price set, hand-derivable per call below.
    */
  test("recommend transcript: five demo calls, price-tie retrieval pinned") {
    val path = getClass.getResource("/vehicles_recommend_golden.csv").getPath
    val rec = VehiclesPipelines.Recommendation
      .deriveFeatures(VehiclesPipelines.load(spark, path)).cache()
    try {
      assert(rec.count() == 32, "fixture must survive deriveFeatures intact")
      // (made, colorGroup, typeGroup, range, expected retrieval price set,
      //  expected retrieval model set, quirk note)
      val demos = Seq(
        // top-6: civic 5000, mazda3 5200, accord/accordx/camry 5500,
        // altima 5800; drop self → {5200, 5500, 5800}; isin additionally
        // fetches fit@5800 which was NEVER in the top-6
        ("Japanese", "light color", "luxury_small", (5000, 6000),
          Set("5200", "5500", "5800"),
          Set("mazda3", "accord", "accordx", "camry", "altima", "fit")),
        // top-6 = all 6; drop(1) drops equinox@10999 but the 10999 tie
        // re-fetches it — the dropped self reappears
        ("American", "dark color", "luxury_large", (1000, 20000),
          Set("10999", "11999", "12999"),
          Set("equinox", "equinoxawd", "yukon", "expedition", "srx", "durango")),
        // c240@2000 dropped, re-fetched via jetta's 2000 tie
        ("German", "light color", "luxury_small", (1000, 6000),
          Set("2000", "4300", "6000"),
          Set("c240", "jetta", "a4", "beetle", "e350")),
        // 500pop@17990 dropped and NOT re-fetched (unique price);
        // stelvio/stelvio2 tie at 27990
        ("Italian", "light color", "luxury_small", (1000, 5000000),
          Set("27590", "27990"),
          Set("giulia", "stelvio", "stelvio2")),
        // forte@17590 dropped, re-fetched via sonata's tie
        ("Korean", "light color", "luxury_small", (3000, 20000),
          Set("17590", "18590", "19590"),
          Set("forte", "sonata", "sonatase", "sonatasel", "rio")))
      import org.apache.spark.sql.functions.col
      demos.foreach { case (made, cg, tg, (lo, hi), prices, models) =>
        // the retrieval set the quirk produces, recomputed from plain
        // predicates + the hand-derived price set (independent of the
        // TF-IDF path under test)
        val retrieval = rec.filter(
          col("Made") === made && col("color_group") === cg &&
            col("type_group") === tg &&
            col("price") >= lo && col("price") <= hi &&
            col("price").isin(prices.toSeq: _*))
          .select("model").collect().map(_.getString(0)).toSet
        assert(retrieval == models,
          s"$made: retrieval ${retrieval} != hand-derived ${models}")
        val out = VehiclesPipelines.Recommendation
          .recommend(spark, rec, made, cg, tg, (lo, hi))
          .collect().map(r => (r.getAs[String]("model"), r.getAs[String]("price")))
        assert(out.length <= 5)
        out.foreach { case (m, p) =>
          assert(models(m) && prices(p),
            s"$made: returned ($m, $p) outside the derived retrieval set")
        }
        // the engine-side selection is deterministic (seeded split over a
        // deterministic layout): an identical call returns identical rows
        val again = VehiclesPipelines.Recommendation
          .recommend(spark, rec, made, cg, tg, (lo, hi))
          .collect().map(r => (r.getAs[String]("model"), r.getAs[String]("price")))
        assert(out.toSeq == again.toSeq, s"$made: recommend() not deterministic")
      }
      // the quirk made observable: demo 1's retrieval holds SIX cars for a
      // five-row recommendation — 'fit' rides in on altima's 5800 tie
      // without ever scoring into the top-6 (and demo 2's dropped self
      // 'equinox' reappears through its own tie)
      assert(demos.head._6.size == 6)
    } finally { rec.unpersist(); () }
  }

  test("price-prediction features: one multi-column indexer fit equals the per-column loop") {
    VehiclesPipelinesSpec.assertLoopEquivalent(vehicles)
  }

  /** Price-prediction comparison table (`price-prediction.py:503-527`):
    * the reference's exact schema — superscript-² column names, R²/
    * Adjusted R²/RMSE/MAE as 2-dp-rounded DOUBLE, and MSE rounded by a
    * CAST to decimal(20,2) instead of round() — plus the r2adj == r2
    * evaluator bug visible in the table itself (transcript :388-402 shows
    * identical R²/Adjusted R² columns for all nine models).
    */
  test("price-prediction transcript: comparison-table schema incl. decimal(20,2) MSE") {
    import org.apache.spark.sql.types._
    // linear models: the golden fixture's `model` column has 89 distinct
    // values, beyond tree maxBins=32 (trees are exercised on the larger
    // synthetic CSV in VehiclesPipelinesSpec)
    val table = VehiclesPipelines.PricePrediction.comparisonTable(
      spark, vehicles, Seq("LinearRegression", "GeneralizedLinear"))
    assert(table.columns.toSeq ==
      Seq("Algorithm", "R²", "Adjusted R²", "MSE", "RMSE", "MAE"))
    val types = table.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("MSE") == DecimalType(20, 2), s"MSE type ${types("MSE")}")
    assert(types("Algorithm") == StringType)
    Seq("R²", "Adjusted R²", "RMSE", "MAE").foreach(c =>
      assert(types(c) == DoubleType, s"$c type ${types(c)}"))
    val rows = table.collect()
    assert(rows.map(_.getString(0)).toSet ==
      Set("Linear Regression", "Generalized Linear Regression"))
    rows.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), "R² != Adjusted R² (quirk lost)")
      assert(r.getDecimal(3).doubleValue >= 0)
    }
  }
}
