package graft.app

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end runs of the four reference pipelines over a synthetic dirty
  * vehicles CSV — junk numerics included, exercising the all-strings +
  * ANSI-off contract (SURVEY §1.2).
  */
class VehiclesPipelinesSpec extends SparkTestBase {

  private lazy val csvPath: String = vehiclesCsv(60)

  /** A dirty vehicles CSV of `n` clean rows plus 3 junk rows. */
  private def vehiclesCsv(n: Int): String = {
    val dir = graft.core.Tables.scratchDir("graft-vehicles-") + "/vehicles"
    val manufacturers = array(Seq("ford", "toyota", "bmw", "kia", "volvo").map(lit): _*)
    val conditions = array(Seq("good", "excellent", "fair").map(lit): _*)
    val fuels = array(Seq("gas", "diesel", "electric").map(lit): _*)
    val types = array(Seq("sedan", "SUV", "pickup", "van").map(lit): _*)
    val colors = array(Seq("white", "black", "red", "silver").map(lit): _*)
    val states = array(Seq("ca", "tx", "wa").map(lit): _*)
    val descs = array(
      lit("call us today for financing"),
      lit("selling my 2008 car, private"),
      lit("buy online with carvana"),
      lit("cash for cars buying now"))
    def pick(arr: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      element_at(arr, (pmod(i, size(arr)) + 1).cast("int"))

    val clean = spark.range(n).select(
      col("id").cast("string").as("id"),
      concat(lit("http://l/"), col("id")).as("url"),
      lit("r").as("region"), lit("http://r").as("region_url"),
      (lit(2500) + col("id") * 700).cast("string").as("price"),
      (lit(2002) + pmod(col("id"), lit(18))).cast("string").as("year"),
      pick(manufacturers, col("id")).as("manufacturer"),
      concat(lit("model"), pmod(col("id"), lit(7))).as("model"),
      pick(conditions, col("id")).as("condition"),
      lit("4 cylinders").as("cylinders"),
      pick(fuels, col("id")).as("fuel"),
      (lit(5000) + col("id") * 3000).cast("string").as("odometer"),
      when(pmod(col("id"), lit(10)) === 0, "salvage").otherwise("clean").as("title_status"),
      lit("automatic").as("transmission"),
      concat(lit("VIN"), col("id")).as("VIN"),
      lit("fwd").as("drive"), lit("mid-size").as("size"),
      pick(types, col("id")).as("type"),
      pick(colors, col("id")).as("paint_color"),
      lit("http://img").as("image_url"),
      pick(descs, col("id")).as("description"),
      lit("county").as("county"),
      pick(states, col("id")).as("state"),
      lit("34.1").as("lat"), lit("-118.2").as("long"),
      lit("2021-05-04T12:31:18-0500").as("posting_date"))

    // junk rows: unparseable numerics — must flow as strings, null out on
    // cast, and never throw (ANSI off)
    val junk = spark.range(3).select(
      lit("junk").as("id"), lit("u").as("url"), lit("r").as("region"),
      lit("ru").as("region_url"), lit("N/A").as("price"),
      lit("unknown").as("year"), lit("ford").as("manufacturer"),
      lit("m").as("model"), lit("good").as("condition"),
      lit("c").as("cylinders"), lit("gas").as("fuel"),
      lit("many").as("odometer"), lit("clean").as("title_status"),
      lit("automatic").as("transmission"), lit("V").as("VIN"),
      lit("fwd").as("drive"), lit("s").as("size"), lit("sedan").as("type"),
      lit("white").as("paint_color"), lit("i").as("image_url"),
      lit("desc").as("description"), lit("c").as("county"),
      lit("ca").as("state"), lit("x").as("lat"), lit("y").as("long"),
      lit("not-a-date").as("posting_date"))

    clean.unionByName(junk).coalesce(1).write
      .option("header", "true").mode("overwrite").csv(dir)
    dir
  }

  private lazy val df: DataFrame = VehiclesPipelines.load(spark, csvPath)

  test("load: all 26 columns arrive as nullable strings") {
    assert(df.columns.toSeq == VehiclesPipelines.columns)
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.count() == 63)
  }

  test("data understanding: q1/q2/q3 + dealers + oldest cars run and shape up") {
    val q1 = VehiclesPipelines.DataUnderstanding.listingsPerManufacturer(df)
    assert(q1.columns.toSeq == Seq("manufacturer", "count(manufacturer)", "avg(price)"))
    assert(q1.collect().map(_.getLong(1)).sum == 63)

    val dealers = VehiclesPipelines.DataUnderstanding.dealerCategories(df).collect()
    val cats = dealers.map(_.getString(0)).toSet
    assert(cats.contains("Physical dealership") && cats.contains("Online dealership"))
    assert(math.abs(dealers.map(_.getDouble(2)).sum - 100.0) < 0.1)

    val oldest = VehiclesPipelines.DataUnderstanding.oldestCars(df)
    assert(oldest.count() <= 5)
    // spam-filtered: 'buying'/'cash for' descriptions excluded
    oldest.collect().foreach(r => assert(!r.getString(3).contains("cash for")))

    val q2 = VehiclesPipelines.DataUnderstanding.statePriceMedians(df)
    assert(q2.columns.toSeq == Seq("state", "num_listings", "median_price"))
    assert(q2.collect().forall(r => r.getString(0) == r.getString(0).toUpperCase))

    val q3 = VehiclesPipelines.DataUnderstanding.salvageShareByState(df)
    assert(math.abs(q3.collect().map(_.getDouble(2)).sum - 100.0) < 0.1)
  }

  test("cleaning: junk rows cast to null and filter out, ranges hold, age derived") {
    val cleaned = VehiclesPipelines.Cleaning.clean(df)
    assert(cleaned.columns.contains("index") && cleaned.columns.head == "index")
    assert(cleaned.columns.contains("age"))
    val rows = cleaned.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val price = r.getAs[String]("price").toDouble
      assert(price >= 2000 && price <= 50000)
    }
    // junk 'N/A' price rows can never survive the range filter (their
    // price coerces to null under ANSI-off, and null comparisons are false)
    assert(!rows.exists(r => r.getAs[String]("price") == "N/A"))

    val skew = VehiclesPipelines.Cleaning.skewnessReport(cleaned).collect()(0)
    assert(!skew.isNullAt(0))
  }

  test("price prediction: featurize + fit on vehicles features yields finite metrics") {
    val m = VehiclesPipelines.PricePrediction.metrics(spark, df, Seq("DecisionTree")).collect()
    assert(m.length == 1)
    assert(!m(0).getDouble(3).isNaN && m(0).getDouble(3) >= 0) // mse
    assert(m(0).getDouble(1) == m(0).getDouble(2))             // r2adj == r2 quirk
  }

  test("price prediction: one multi-column indexer fit equals the per-column loop") {
    VehiclesPipelinesSpec.assertLoopEquivalent(df)
  }

  test("price prediction: featurize fits in one pass, fit loop runs at session width") {
    import VehiclesPipelines.PricePrediction
    df.columns // the CSV is written on first use; keep its jobs out of the count
    val onePass = jobsStartedBy { PricePrediction.featurize(df); () }
    val perColumn = jobsStartedBy {
      graft.ml.PerColumnIndexing.fold(PricePrediction.base(df), PricePrediction.stringCols); ()
    }
    // one aggregate pass (scan + dedup stages + collect) vs one pass per column
    assert(onePass <= 4, s"featurize started $onePass jobs")
    assert(perColumn >= PricePrediction.stringCols.size, s"per-column loop started $perColumn jobs")

    // a shuffle width unlike the session's, so a frame that kept the dedup
    // exchange's partitioning would show it
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "13")
    val data = try PricePrediction.cachedFeatures(spark, df) finally spark.conf.set(key, prev)
    try assert(data.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    finally { data.unpersist(); () }
  }

  test("recommendation: derived features + recommend() returns same-group cars") {
    val rec = VehiclesPipelines.Recommendation.deriveFeatures(df)
    assert(rec.columns.contains("Made") && rec.columns.contains("type_group")
      && rec.columns.contains("color_group") && rec.columns.contains("mil_rating"))
    val out = VehiclesPipelines.Recommendation.recommend(
      spark, rec, "American", "light color", "luxury_small", (2000, 50000))
    // ≤5 recommendations, all matching the requested group (price-keyed
    // retrieval quirk can only return rows from the filtered set)
    val got = out.collect()
    assert(got.length <= 5)
    got.foreach(r => assert(r.getAs[String]("Made") == "American"))
  }

  test("recommend reads its input once per call") {
    import VehiclesPipelines.Recommendation
    // one large (Made, colour, type) group: ids with id % 20 == 0 are
    // American (ford), white and sedan
    val rec = Recommendation.deriveFeatures(VehiclesPipelines.load(spark, vehiclesCsv(800)))
    rec.columns // the CSV is written on first use; keep its jobs out of the count
    val (made, color, kind, prices) = ("American", "light color", "luxury_small", (0, 1000000))
    var got = Array.empty[org.apache.spark.sql.Row]
    val (_, stages) = observe {
      got = Recommendation.recommend(spark, rec, made, color, kind, prices).collect()
    }
    // the stages that parse the CSV: bytes read through a file scan (a
    // cache read also counts input bytes, but scans no file)
    val scans = stages.filter(s => s.taskMetrics.inputMetrics.bytesRead > 0 &&
      s.rddInfos.exists(_.name == "FileScanRDD"))
    assert(scans.size == 1, s"recommend scanned the CSV in ${scans.size} stages")
    assert(got.nonEmpty && got.length <= 5)
    assert(got.toSeq == LazyRecommend(rec, made, color, kind, prices).collect().toSeq)
  }

  test("fitEval: one summary pass gives the four metrics bit-identical to four evaluate calls") {
    import org.apache.spark.ml.evaluation.RegressionEvaluator
    val data = VehiclesPipelines.PricePrediction.cachedFeatures(spark, df)
    try {
      // one partition each: a multi-partition summary merges task results
      // in completion order, so two passes may differ in the last bit
      val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed = 42).map(_.coalesce(1))
      graft.ml.PricePipeline.regressors
        .filter { case (n, _) => Seq("LinearRegression", "DecisionTree").contains(n) }
        .foreach { case (name, reg) =>
          val (_, r2, r2adj, mse, rmse, mae) = graft.ml.PricePipeline.fitEval(name, reg, train, test)
          val pred = reg.fit(train).asInstanceOf[org.apache.spark.ml.Transformer].transform(test)
          def m(metric: String): Double = new RegressionEvaluator().setMetricName(metric)
            .setLabelCol("label").setPredictionCol("prediction").evaluate(pred)
          assert((r2, r2adj, mse, rmse, mae) == ((m("r2"), m("r2"), m("mse"), m("rmse"), m("mae"))), name)
        }
    } finally { data.unpersist(); () }
  }

  test("recommend() scoring: graft_dot equals the sparse-merge udf it replaced") {
    import org.apache.spark.ml.functions.vector_to_array
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    // the exact scalar the retired udf computed: sorted-merge sparse dot
    val legacy = udf((a: Vector, b: Vector) => {
      val sa = a.toSparse; val sb = b.toSparse
      var i = 0; var j = 0; var s = 0.0
      while (i < sa.indices.length && j < sb.indices.length) {
        if (sa.indices(i) == sb.indices(j)) { s += sa.values(i) * sb.values(j); i += 1; j += 1 }
        else if (sa.indices(i) < sb.indices(j)) i += 1
        else j += 1
      }
      s
    })
    val vecs = Seq(
      Vectors.sparse(8, Array(0, 3, 5), Array(0.5, -1.25, 2.0)),
      Vectors.sparse(8, Array(1, 3), Array(4.0, 0.75)),
      Vectors.dense(Array.tabulate(8)(i => i * 0.125)),
      Vectors.sparse(8, Array(), Array()))
    val q = Vectors.sparse(8, Array(0, 3, 7), Array(1.5, 2.0, -0.5))
    val df = spark.createDataFrame(vecs.map(Tuple1(_))).toDF("v")
      .crossJoin(spark.createDataFrame(Seq(Tuple1(q))).toDF("q"))
    val rows = df.select(
      call_function("graft_dot", vector_to_array(col("v")),
        vector_to_array(col("q"))).as("native"),
      legacy(col("v"), col("q")).as("udf")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"native ${r.getDouble(0)} != udf ${r.getDouble(1)}"))
  }
}

object VehiclesPipelinesSpec {
  import VehiclesPipelines.PricePrediction

  /** `PricePrediction.featurize`'s one multi-column indexer fit against the
    * reference's per-column loop over the same base.
    */
  def assertLoopEquivalent(df: DataFrame): Unit = {
    val base = PricePrediction.base(df)
    graft.ml.PerColumnIndexing.assertMatches(base, PricePrediction.numericCols,
      PricePrediction.stringCols, col("price").cast("double"), PricePrediction.featurize(df))
  }
}
