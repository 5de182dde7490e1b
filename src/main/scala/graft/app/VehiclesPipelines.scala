package graft.app

import graft.functions.TextFunctions.dealerCategory
import graft.sources.CsvIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's four pipelines as runnable compositions over a
  * vehicles CSV (SURVEY.md §0) — the switch-over surface for a user of
  * `vepereira7/usedcars-bigdata`. Each step cites its reference site;
  * observable quirks are reproduced and flagged. Input contract is the
  * dirty-CSV semantics of SURVEY §1.2: every column read as nullable
  * string, numerics created by explicit ANSI-off casts downstream.
  */
object VehiclesPipelines {

  /** The 26-column vehicles schema (SURVEY §1.2, golden transcript
    * `notebooks_outputs/data-understanding.txt:11-37`).
    */
  val columns: Seq[String] = Seq(
    "id", "url", "region", "region_url", "price", "year", "manufacturer",
    "model", "condition", "cylinders", "fuel", "odometer", "title_status",
    "transmission", "VIN", "drive", "size", "type", "paint_color",
    "image_url", "description", "county", "state", "lat", "long",
    "posting_date")

  def load(spark: SparkSession, path: String): DataFrame =
    CsvIO.readAllStrings(spark, path, columns)

  /** Pipeline 1 — data understanding (`notebook_to_py/data-understanding.py`). */
  object DataUnderstanding {

    /** Query 1 (ref :75-82): count + mean price per manufacturer, sorted.
      * Dict-agg default column names kept (`count(manufacturer)`,
      * `avg(price)` — transcript :44).
      */
    def listingsPerManufacturer(df: DataFrame): DataFrame =
      df.groupBy("manufacturer")
        .agg(count("manufacturer"), avg("price"))
        .orderBy(desc("count(manufacturer)"))

    /** Dealer categorization (ref :131-152): U1 keyword UDF as a native
      * when-chain + percentage of total.
      */
    def dealerCategories(df: DataFrame): DataFrame = {
      val counts = df
        .withColumn("category", dealerCategory(col("description")))
        .groupBy("category").count()
      counts.withColumn(
        "percentage",
        round(col("count") * 100.0 / sum("count").over(Window.partitionBy()), 2))
    }

    /** Oldest cars (ref :183-196): spam-filtered descriptions, regex year
      * extraction, cast, sort asc, top 5.
      */
    def oldestCars(df: DataFrame, k: Int = 5): DataFrame =
      df
        .filter(!(lower(col("description")).like("%cash for%") ||
                  lower(col("description")).like("%provide photos%") ||
                  lower(col("description")).like("%buying%")))
        .withColumn("extracted_year",
          regexp_extract(col("description"), "\\b(19[0-9][0-9]|20[0-2][0-9])\\b", 0)
            .cast(IntegerType))
        .filter(col("extracted_year").isNotNull)
        .orderBy(asc("extracted_year"))
        .limit(k)
        .select("manufacturer", "model", "extracted_year", "description")

    /** Query 2 (ref :202-216): per-state count + approx-median price,
      * `row_number` over state order added then dropped, upper(state).
      */
    def statePriceMedians(df: DataFrame): DataFrame =
      df.groupBy(upper(col("state")).as("state"))
        .agg(
          count("state").as("num_listings"),
          expr("percentile_approx(price, 0.5)").as("median_price"))
        .withColumn("row_num", row_number().over(Window.orderBy(asc("state"))))
        .drop("row_num")

    /** Query 3 (ref :241-257): salvage share per state. The reference
      * collects the total to the driver; here a window over the aggregated
      * frame keeps it distributed (same rows).
      */
    def salvageShareByState(df: DataFrame): DataFrame =
      df.filter(col("title_status") === "salvage")
        .groupBy("state")
        .agg(count(lit(1)).as("count"))
        .withColumn("percentage",
          round(col("count") * 100.0 / sum("count").over(Window.partitionBy()), 2))
        .orderBy(desc("percentage"))
  }

  /** Pipeline 2 — cleaning (`notebook_to_py/data-viz&cleaning.py`). */
  object Cleaning {

    val colsToDrop: Seq[String] = Seq(
      "id", "url", "region", "region_url", "VIN", "image_url", "description",
      "county", "size", "paint_color", "drive", "cylinders", "state",
      "lat", "long") // ref :67-68

    /** The cleaning chain (ref :69-94 then :130-257): prune → dropna/dedup
      * → index → year-to-string → reorder → range filters → year whitelist
      * → to_date + age.
      */
    def clean(df: DataFrame): DataFrame = {
      val pruned = df.select(df.columns.filterNot(colsToDrop.contains).map(col): _*)
      val deduped = pruned.na.drop().dropDuplicates()
      val indexed = deduped
        .withColumn("index", monotonically_increasing_id())
        .withColumn("year", col("year").cast(StringType))
      val reordered = indexed.select(
        (Seq("index") ++ indexed.columns.dropRight(1)).distinct.map(col): _*)
      reordered
        .filter(col("price") >= 2000 && col("price") <= 50000)          // ref :130
        .filter(col("odometer") > 100 && col("odometer") <= 200000)     // ref :173
        .filter(col("year").cast(IntegerType).isin((2000 to 2020): _*)) // ref :234-235
        .withColumn("posting_date", to_date(col("posting_date")))       // ref :254
        .withColumn("age", year(col("posting_date")) - col("year"))     // ref :257
    }

    /** Skewness + transform report (ref :142,194-207). */
    def skewnessReport(df: DataFrame): DataFrame =
      df.agg(
        skewness(col("odometer")).as("skew_odometer"),
        skewness(sqrt(col("odometer"))).as("skew_sqrt"),
        skewness(log(col("odometer"))).as("skew_log"))
  }

  /** Pipeline 3 — price prediction (`notebook_to_py/price-prediction.py`):
    * the reference's feature pipeline (StringIndexer labels M1, fitted as
    * one multi-column pass whose labels equal the reference's per-column
    * loop at `price-prediction.py:159-167`; VectorAssembler with
    * handleInvalid=skip M2) + one representative regressor fit/eval from
    * graft.ml.PricePipeline's configs.
    */
  object PricePrediction {

    /** The seven indexed categoricals (ref :159-167). */
    val stringCols: Seq[String] = Seq("manufacturer", "model", "condition",
      "fuel", "title_status", "transmission", "type")

    /** The assembled numeric features (ref :178-190). */
    val numericCols: Seq[String] = Seq("odometer", "age", "year")

    /** Cleaned, typed and funnel-filtered rows the features come from. */
    def base(df: DataFrame): DataFrame =
      Cleaning.clean(df)
        .withColumn("price", col("price").cast(LongType))        // ref :150
        .withColumn("odometer", col("odometer").cast(DoubleType)) // ref :152
        .withColumn("year", col("year").cast(IntegerType))
        .filter(col("condition") =!= "new" &&
                col("condition") =!= "parts only")                // ref :89-113 funnel
        .na.drop(Seq("price", "odometer", "year"))

    /** Feature engineering (ref :49-190), returning (features, label). The
      * indexer fit runs eagerly, as one aggregate pass over `base`.
      */
    def featurize(df: DataFrame): DataFrame =
      graft.ml.PricePipeline.indexAndAssemble(base(df), numericCols,
        stringCols, col("price").cast(DoubleType))              // ref :159-190

    /** `featurize` persisted at session width for the fit loop: the
      * ~25k-row frame would otherwise keep the dedup exchange's
      * `spark.sql.shuffle.partitions` (200 by default), and every fit and
      * evaluator job would run one task per partition. Caller unpersists.
      */
    def cachedFeatures(spark: SparkSession, df: DataFrame): DataFrame =
      featurize(df).repartition(spark.sparkContext.defaultParallelism).persist()

    /** Fit + evaluate the named reference model configs on the vehicles
      * features; returns the comparison-table shape (ref :503-527,
      * r2adj == r2 quirk included via PricePipeline.fitEval).
      */
    def metrics(spark: SparkSession, df: DataFrame,
                models: Seq[String] = Seq("LinearRegression", "DecisionTree")): DataFrame = {
      import spark.implicits._
      val data = cachedFeatures(spark, df)
      try {
        val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed = 42)
        graft.ml.PricePipeline.regressors
          .filter { case (n, _) => models.contains(n) }
          .map { case (n, r) => graft.ml.PricePipeline.fitEval(n, r, train, test) }
          .toDF("model", "r2", "r2adj", "mse", "rmse", "mae")
      } finally data.unpersist()
    }

    /** The reference's Algorithm display names
      * (`price-prediction.py:287-489`, one `metrics_dict` per model).
      */
    private val displayNames = Map(
      "LinearRegression" -> "Linear Regression",
      "Lasso" -> "Lasso Regression",
      "Ridge" -> "Ridge Regression",
      "IsotonicRegression" -> "Isotonic Regression",
      "FMRegressor" -> "Factorization Machines",
      "DecisionTree" -> "Decision Tree",
      "RandomForest" -> "Random Forest",
      "GradientBoosting" -> "Gradient Boosting",
      "GeneralizedLinear" -> "Generalized Linear Regression")

    /** The "Models Comparison" table exactly as the reference builds it
      * (`price-prediction.py:503-527`, transcript
      * `notebooks_outputs/price_prediction.txt:388-402`): R²/Adjusted R²/
      * RMSE/MAE rounded to 2 dp as DOUBLE, and MSE — alone — cast to
      * `decimal(20,2)` (the reference rounds it by the cast, not round()),
      * under the reference's superscript-² column names.
      */
    def comparisonTable(spark: SparkSession, df: DataFrame,
                        models: Seq[String] = Seq("LinearRegression", "DecisionTree")): DataFrame = {
      val nameExpr = displayNames.foldLeft(col("model")) { case (c, (k, v)) =>
        when(col("model") === k, v).otherwise(c)
      }
      metrics(spark, df, models)
        .withColumn("MSE", col("mse").cast("decimal(20,2)"))
        .select(
          nameExpr.as("Algorithm"),
          round(col("r2"), 2).as("R²"),
          round(col("r2adj"), 2).as("Adjusted R²"),
          col("MSE"),
          round(col("rmse"), 2).as("RMSE"),
          round(col("mae"), 2).as("MAE"))
    }
  }

  /** Pipeline 4 — recommendation (`notebook_to_py/recomendation-system.py`). */
  object Recommendation {

    private val selectedColors = Seq("white", "silver", "yellow", "orange",
      "green", "custom", "black", "red", "blue", "purple", "grey", "brown")
    private val selectedTypes = Seq("sedan", "convertible", "coupe",
      "hatchback", "other", "SUV", "wagon", "pickup", "offroad", "truck",
      "van", "mini-van", "bus")

    /** U3 — country-of-manufacturer when-chain (ref :67-84). */
    def made(manufacturer: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val groups = Seq(
        "American" -> Seq("harley-davidson", "chevrolet", "pontiac", "ram",
          "ford", "gmc", "tesla", "jeep", "dodge", "cadillac", "chrysler",
          "lincoln", "buick", "saturn", "mercury"),
        "Japanese" -> Seq("lexus", "nissan", "toyota", "acura", "honda",
          "infiniti", "subaru", "mitsubishi", "datsun", "mazda"),
        "German" -> Seq("volkswagen", "mercedes-benz", "bmw", "audi", "porsche"),
        "Italian" -> Seq("ferrari", "fiat", "alfa-romeo"),
        "Korean" -> Seq("kia", "hyundai"),
        "Swedish" -> Seq("volvo"),
        "English" -> Seq("rover", "mini", "land rover", "jaguar"))
      groups.foldLeft(null: org.apache.spark.sql.Column) { case (chain, (c, ms)) =>
        if (chain == null) when(manufacturer.isin(ms: _*), c)
        else chain.when(manufacturer.isin(ms: _*), c)
      }.otherwise(lit(null))
    }

    /** Derived categorical features (ref :55-127): Made, age, mil_rating
      * (note the case-insensitive `col("Age")` quirk — works because
      * spark.sql.caseSensitive stays false), type_group (U2 as native
      * when-chain), color_group.
      */
    def deriveFeatures(df: DataFrame): DataFrame =
      df
        .filter(col("paint_color").isin(selectedColors: _*) &&
                col("type").isin(selectedTypes: _*))
        .withColumn("Made", made(col("manufacturer")))
        .withColumn("age", year(to_date(col("posting_date"))) - col("year"))
        .withColumn("avg_mil", col("odometer") / col("Age")) // quirk: 'Age' resolves to 'age'
        .withColumn("mil_rating",
          when(col("avg_mil") > 21500, "above average").otherwise("below average"))
        .withColumn("type_group",
          when(col("type").isin("sedan", "convertible", "coupe", "hatchback", "other"), "luxury_small")
            .when(col("type").isin("SUV", "wagon"), "luxury_large")
            .when(col("type").isin("pickup", "truck", "offroad"), "non-luxury_small")
            .when(col("type").isin("van", "mini-van", "bus"), "non-luxury_large")
            .otherwise(lit(null)))
        .withColumn("color_group",
          when(col("paint_color").isin("white", "silver", "yellow", "orange",
            "green", "custom"), "light color").otherwise("dark color"))
        .drop("id", "url", "region", "region_url", "VIN", "image_url",
          "description", "county", "size", "drive", "cylinders", "state",
          "lat", "long")
        .dropDuplicates()
        .na.drop()

    /** recommend() (ref :142-183): parameterized filter → TF-IDF over
      * `Made` → cosine top-5. The reference's per-row Python RDD hop
      * (:168-170) is replaced with a Dataset-native sparse dot + orderBy/
      * limit (TakeOrderedAndProject); its price-keyed retrieval (ties
      * fetch extra rows — SURVEY §3.3.5) is preserved deliberately.
      *
      * One CSV scan per call, and eager: the filtered group feeds five
      * consumers (CountVectorizer fit, IDF fit, query vector, top-6
      * scoring, price-keyed retrieval), each of which would otherwise
      * re-parse the CSV and re-run `deriveFeatures`' dedup shuffle. The
      * group is persisted once, repartitioned to `defaultParallelism`
      * (a persisted frame would keep the dedup exchange's shuffle width,
      * 200 near-empty partitions by default, scanned by every consumer),
      * and the ≤5 result rows come back as a local frame so the cache can
      * be released before returning.
      */
    def recommend(spark: SparkSession, recDf: DataFrame, madeV: String,
                  colorGroup: String, typeGroup: String,
                  priceRange: (Int, Int)): DataFrame = {
      val data = recDf.filter(
        col("color_group") === colorGroup &&
        col("type_group") === typeGroup &&
        col("price") >= priceRange._1 && col("price") <= priceRange._2 &&
        col("Made") === madeV)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
      try {
        val out = recommendFrom(data)
        spark.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
      } finally { data.unpersist(); () }
    }

    /** [[recommend]]'s body over an already filtered group, lazy. */
    private def recommendFrom(data: DataFrame): DataFrame = {
      val normalized =
        graft.ml.Recommender.tfidfPipeline("Made").fit(data).transform(data)

      // NOTE: TF-IDF over the constant `Made` column is degenerate — every
      // document in the filtered set has the same single term, so IDF is 0
      // and all scores tie (the reference has the identical degeneracy and
      // its rdd.sortBy pick is partition-arbitrary). The extra sort keys
      // make the tied selection deterministic here. Scoring is the codegen
      // `graft_dot` expression over densified vectors (the gated
      // Recommender's path) — no UDF, no codegen break in the hot loop.
      import org.apache.spark.ml.functions.vector_to_array
      val q = normalized.limit(1)
        .select(vector_to_array(col("features_norm")).as("q_vec"))
      val top = normalized
        .crossJoin(broadcast(q))
        .withColumn("score", call_function("graft_dot",
          vector_to_array(col("features_norm")), col("q_vec")))
        .orderBy(desc("score"), asc("price"), asc("model"), asc("year"))
        .limit(6)
      val prices = top.select("price").collect().drop(1).map(_.getString(0))

      data
        .select("price", "Made", "manufacturer", "model", "type", "year",
          "Age", "condition", "fuel", "title_status", "transmission",
          "paint_color", "mil_rating")
        .filter(col("price").isin(prices.toSeq: _*)) // quirk: keyed by price
        .orderBy("price")
        .randomSplit(Array(0.1, 0.1), seed = 42)(0)
        .limit(5)
    }
  }
}
