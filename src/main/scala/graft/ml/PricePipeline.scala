package graft.ml

import graft.core.{Ledger, Tables}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{StringIndexer, VectorAssembler}
import org.apache.spark.ml.regression._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Price-prediction pipeline — the engine twin of the reference's
  * `notebook_to_py/price-prediction.py` (SURVEY.md §2.10 M1–M12),
  * transplanted onto `orders`: predict o_totalprice from indexed
  * categoricals + date parts.
  *
  * Reference-shape choices kept deliberately:
  *  - StringIndexer labels (M1, `price-prediction.py:159-167`): the
  *    reference fits one indexer per column, each refitting the whole lazy
  *    chain (SURVEY §3.2.3 flags it as an intentional inefficiency). We
  *    fit ONE multi-column indexer in one aggregate pass, whose labels
  *    equal the per-column loop's (see [[indexAndAssemble]]), and we
  *    `cache()` the featurized frame before the model loop — fidelity
  *    here is labels and API shape, not wall-time.
  *  - `VectorAssembler.handleInvalid="skip"` (M2).
  *  - nine regressor configs M3–M11 with the reference's hyperparameters.
  *  - metric set r2/mse/rmse/mae via RegressionEvaluator (M12). The
  *    reference's "Adjusted R²" evaluator bug (it reports plain R² twice,
  *    `price-prediction.py:225-226`) is reproduced as `r2adj == r2` and
  *    documented here rather than silently fixed.
  */
object PricePipeline {

  val labelCol = "o_totalprice"
  val stringCols: Seq[String] = Seq("o_orderpriority", "o_orderstatus")
  val numericCols: Seq[String] = Seq("order_year", "order_month")

  /** Raw feature base: date parts + label/categorical null drop. */
  private[graft] def baseFrame(t: Tables): DataFrame =
    t.orders
      .withColumn("order_year", year(col("o_orderdate")).cast("double"))
      .withColumn("order_month", month(col("o_orderdate")).cast("double"))
      .na.drop(labelCol +: stringCols)

  /** One multi-column StringIndexer over `cols`, writing `<c>_indexed`;
    * rows with unseen or null labels are skipped (M1).
    */
  def indexer(cols: Seq[String]): StringIndexer =
    new StringIndexer()
      .setInputCols(cols.toArray)
      .setOutputCols(cols.map(_ + "_indexed").toArray)
      .setHandleInvalid("skip")

  /** Index the `categorical` columns, assemble `numeric ++ <c>_indexed`
    * into `features` (M2, handleInvalid=skip) and return (features, label).
    *
    * The fit is one multi-column pass over `base`, not the reference's
    * per-column loop (`price-prediction.py:159-167`), and its labels equal
    * the loop's: both paths count values with the same aggregator and order
    * them frequencyDesc with ties broken alphabetically, and every caller's
    * base has dropped nulls in `categorical`, so the loop skips no row
    * between fits that would change a later column's counts.
    * `VehiclesPipelinesSpec`, `GoldenTranscriptSpec` and
    * `PricePipelineIndexerSpec` pin the equality against the loop.
    */
  def indexAndAssemble(base: DataFrame, numeric: Seq[String],
                       categorical: Seq[String], label: Column): DataFrame = {
    val indexed = indexer(categorical).fit(base).transform(base)
    new VectorAssembler()
      .setInputCols((numeric ++ categorical.map(_ + "_indexed")).toArray)
      .setOutputCol("features")
      .setHandleInvalid("skip")
      .transform(indexed)
      .select(col("features"), label.as("label"))
  }

  /** Featurized frame CACHED for a fit loop — the SURVEY §3.2.3 cache
    * knob, measured round-13. The base frame is cached for the indexer fit
    * and released once the assembled frame is materialized, so the raw
    * table is scanned ONCE per pipeline run (round 13, when the indexers
    * were still two per-column fits: three scans → one, 8.7 s → ~3 s at
    * sf1).
    *
    * Partitioning is workload-keyed (`wide`):
    *
    *  - `wide = true` (the 9-model table, the bench fits): ~32k rows/task
    *    clamped to the session parallelism. Iteration-bound L-BFGS fits
    *    pay per-task scheduling and favor few partitions, but the
    *    minibatch-GD FMRegressor is COMPUTE-bound and dominated the
    *    9-model table at the old fixed cap of 8 — measured at sf1: FM
    *    48 s @8 parts → 24.6 s @32, while the L-BFGS penalty was +0.9 s
    *    on LinearRegression.
    *  - `wide = false` (the CV sweep — LinearRegression only): the
    *    scheduling-bound grain, max 8 partitions. Round 13 measured the
    *    wide grain tripling `ml_cv_linear` at sf1 (4.0 → 10.4 s): six
    *    sequential 50-iteration L-BFGS fits are pure per-task scheduling
    *    with no compute-bound whale to amortize it.
    *
    * Caller must unpersist the returned frame.
    */
  def featurizedCached(t: Tables, wide: Boolean = true): DataFrame = {
    val base = baseFrame(t).persist()
    try {
      val par = t.spark.sparkContext.defaultParallelism
      val parts =
        if (wide) {
          // the count both fills the base cache and sizes the grain
          val rows = base.count()
          math.max(2L, math.min(par.toLong, rows >> 15)).toInt
        } else math.max(2, math.min(par / 4, 8)) // the indexer fit fills the cache
      val out = indexAndAssemble(base, numericCols, stringCols, col(labelCol))
        .repartition(parts).persist()
      out.count() // materialize while the base cache is still hot
      out
    } finally { base.unpersist(); () }
  }

  /** The reference's nine regressor configurations (M3–M11). */
  def regressors: Seq[(String, org.apache.spark.ml.Estimator[_])] = Seq(
    "LinearRegression" -> new LinearRegression()
      .setMaxIter(100).setRegParam(0.1).setElasticNetParam(0.7),
    "Lasso" -> new LinearRegression()
      .setMaxIter(100).setRegParam(0.1).setElasticNetParam(1.0),
    "Ridge" -> new LinearRegression()
      .setMaxIter(100).setRegParam(0.3).setElasticNetParam(0.1),
    "IsotonicRegression" -> new IsotonicRegression(),
    "FMRegressor" -> new FMRegressor().setStepSize(0.01).setSeed(42),
    "DecisionTree" -> new DecisionTreeRegressor().setMaxDepth(5).setSeed(42),
    "RandomForest" -> new RandomForestRegressor()
      .setNumTrees(2).setMaxDepth(2).setSeed(42),
    "GradientBoosting" -> new GBTRegressor()
      .setMaxIter(10).setMaxDepth(5).setSeed(42),
    "GeneralizedLinear" -> new GeneralizedLinearRegression()
      .setFamily("gaussian").setLink("identity").setMaxIter(10).setRegParam(0.3))

  /** Fit + evaluate one model; returns (r2, r2adj, mse, rmse, mae).
    * r2adj == r2 reproduces the reference bug (see object doc).
    */
  def fitEval(name: String, reg: org.apache.spark.ml.Estimator[_],
              train: DataFrame, test: DataFrame): (String, Double, Double, Double, Double, Double) = {
    val model = reg.fit(train).asInstanceOf[org.apache.spark.ml.Transformer]
    // one summary pass serves all four metrics: `evaluate(metricName)`
    // computes the same RegressionMetrics and returns one field of it
    val m = new RegressionEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .getMetrics(model.transform(test))
    (name, m.r2, m.r2, m.meanSquaredError, m.rootMeanSquaredError, m.meanAbsoluteError)
  }

  /** Run a subset of models end-to-end → metrics table with the reference's
    * comparison-table shape (`price-prediction.py:503-527`). Each fit adds
    * its fit+eval wall to the [[Ledger]] as `ml.fit_ms.<model>`,
    * so a move of the 9-model row is attributed to a model. The walls are
    * in-pool: the loop interleaves 3 fits, so each includes its
    * neighbours' contention.
    */
  def metricsTable(t: Tables, modelNames: Seq[String]): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val data = featurizedCached(t) // size-aware partitioning; see its doc
    try {
      val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed = 42)
      // Independent estimators over one cached frame are embarrassingly
      // JOB-parallel — the same scheme CrossValidator exposes as its
      // `parallelism` param: each iterative fit runs ~100 tiny
      // treeAggregate jobs whose scheduling latency dominates on a small
      // frame, and interleaving 3 fits hides it (measured ~2× on the
      // 9-model table). Results are unaffected: every fit is seeded and
      // self-contained, and the output is re-ordered back to the
      // reference's model order below.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      // Longest-job-first submission: the pool's makespan is bound by the
      // FMRegressor whale (24.6 s vs ≤8.5 s for every other model at sf1
      // — see featurizedCached's doc); submitted mid-list it only STARTS
      // after a slot frees, adding its predecessors' wall to the table.
      // The rank is a static cost order from the round-13 measurement.
      val costRank = Map(
        "FMRegressor" -> 0, "GradientBoosting" -> 1, "LinearRegression" -> 2,
        "DecisionTree" -> 3, "RandomForest" -> 4, "IsotonicRegression" -> 5,
        "Lasso" -> 6, "Ridge" -> 7, "GeneralizedLinear" -> 8)
      val selected = regressors.filter { case (n, _) => modelNames.contains(n) }
      val rows =
        try {
          val futs = selected
            .sortBy { case (n, _) => costRank.getOrElse(n, Int.MaxValue) }
            .map { case (n, r) =>
              scala.concurrent.Future {
                // One FAIR scheduler pool per fit (round-16 verdict item
                // 5): under the default FIFO job queue the whale's ~100
                // tiny treeAggregate jobs wait behind its neighbors'
                // stages, inflating FMRegressor's in-pool wall to 34-38 s
                // vs ~24.6 s isolated (r15 fit walls). With
                // spark.scheduler.mode=FAIR (set by core.LocalSession)
                // each fit's jobs schedule in their own pool at
                // equal share, so the row's makespan approaches the
                // whale's isolated wall. Results are unaffected: every
                // fit is seeded and scheduling never changes arithmetic.
                // The local property is thread-local and the pool's
                // threads are reused, so it is cleared per task.
                val sc = train.sparkSession.sparkContext
                sc.setLocalProperty("spark.scheduler.pool", s"graft_fit_$n")
                try {
                  val t0 = System.nanoTime()
                  // round-18: FMRegressor is the table's compute whale —
                  // minibatch GD runs ~100 full gradient passes over the
                  // train split, so its cost is compute × passes, unlike
                  // the scheduling-bound L-BFGS/tree fits the shared
                  // frame's iteration-friendly grain (rows >> 15
                  // partitions; featurizedCached doc) is sized for. When
                  // that grain under-parallelizes the session (sf0.1: 4
                  // partitions on 32 cores — the same signature as the
                  // round-17 scan rebalance, guide §2.5), re-grain THIS
                  // fit's input only: one extra cached materialization at
                  // session width, amortized over the 100 passes. The
                  // other models keep the shared frame untouched, and at
                  // grains ≥ cores (sf1 and up) the condition is false
                  // and nothing changes. Gradient accumulation order
                  // shifts with partitioning; the gate's verdict booleans
                  // are partition-independent (oracle re-proved).
                  val par = sc.defaultParallelism
                  val regrain = n == "FMRegressor" &&
                    train.rdd.getNumPartitions < par
                  if (regrain) Ledger.add("ml.fm_regrain")
                  val fitTrain =
                    if (regrain) train.repartition(par).persist() else train
                  val row =
                    try fitEval(n, r, fitTrain, test)
                    finally if (regrain) { fitTrain.unpersist(); () }
                  Ledger.add(s"ml.fit_ms.$n", (System.nanoTime() - t0) / 1000000)
                  row
                } finally sc.setLocalProperty("spark.scheduler.pool", null)
              }
            }
          val byModel = futs
            .map(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
            .map(row => row._1 -> row).toMap
          selected.map { case (n, _) => byModel(n) } // reference order
        } finally pool.shutdown()
      rows.toDF("model", "r2", "r2adj", "mse", "rmse", "mae")
        .select(
          col("model"),
          round(col("r2"), 4).as("r2"),
          round(col("r2adj"), 4).as("r2adj"),
          round(col("mse"), 2).as("mse"),
          round(col("rmse"), 2).as("rmse"),
          round(col("mae"), 2).as("mae"))
    } finally data.unpersist()
  }

  /** Fast subset for the correctness harness (Verify runs every query;
    * tree ensembles are exercised in tests and bench instead).
    */
  def fastMetrics(t: Tables): DataFrame =
    metricsTable(t, Seq("LinearRegression", "DecisionTree", "GeneralizedLinear"))

  /** All nine reference models. */
  def fullMetrics(t: Tables): DataFrame =
    metricsTable(t, regressors.map(_._1))

  /** M15 completion: `CrossValidator` + `ParamGridBuilder`, the last ML
    * API the reference touches (it imports both,
    * `performance_py/2-cores-6-instances.py:20`, but never wires them up).
    * A seeded 3-fold CV sweep over the LinearRegression regularization
    * grid on the shared feature frame: one row per grid point with its
    * cross-validation average RMSE and the winner flag. Fold assignment
    * and L-BFGS are engine-specific ⇒ rows-only gate; the invariant
    * enforces that the flagged winner minimizes the grid's avg RMSE and
    * that the seeded sweep is deterministic in-session.
    *
    * Scale shape: CV cost is numFolds × gridPoints fits over the SAME
    * cached frame — the data is featurized and partitioned once; each fit
    * is iteration-bound like the ml_fit_* rows, nothing new shuffles.
    */
  def cvLinearSweep(t: Tables): DataFrame = {
    import org.apache.spark.ml.regression.LinearRegressionModel
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    val spark = t.spark
    import spark.implicits._
    val data = featurizedCached(t, wide = false) // L-BFGS-only: narrow grain
    try {
      val lr = new LinearRegression().setMaxIter(50).setElasticNetParam(0.5)
      val grid = new ParamGridBuilder()
        .addGrid(lr.regParam, Array(0.01, 0.5))
        .build()
      val cv = new CrossValidator()
        .setEstimator(lr)
        .setEstimatorParamMaps(grid)
        .setEvaluator(new RegressionEvaluator().setMetricName("rmse")
          .setLabelCol("label").setPredictionCol("prediction"))
        .setNumFolds(3)
        .setSeed(42)
        // round-17: the 3-fold x 2-point sweep is 6 independent seeded
        // fits over one cached frame — CrossValidator's own job-level
        // parallelism knob interleaves them (the metricsTable posture;
        // guide §2.6 "overlap independent jobs"). Fold assignment and
        // every fit are seeded, so avgMetrics and the winner are
        // unchanged; only the scheduling overlaps.
        .setParallelism(3)
      val model = cv.fit(data)
      val bestReg = model.bestModel.asInstanceOf[LinearRegressionModel].getRegParam
      grid.zip(model.avgMetrics).toSeq
        .map { case (pm, m) => (pm.get(lr.regParam).get, m) }
        .toDF("reg_param", "avg_rmse")
        .select(
          col("reg_param"),
          round(col("avg_rmse"), 2).as("avg_rmse"),
          (col("reg_param") === bestReg).as("is_best"))
        .orderBy("reg_param")
    } finally { data.unpersist(); () }
  }

  /** Verdict facts over a metrics table — the reference's documented
    * contracts, checkable even though the fitted VALUES are
    * engine-specific: adjusted R² equals R² (the reference's M12 quirk),
    * rmse² ≈ mse, mae ≤ rmse, and every metric finite with r2 ≤ 1.
    */
  private[graft] def metricsVerdicts(rows: Array[org.apache.spark.sql.Row])
      : (Boolean, Boolean, Boolean) = {
    val quirk = rows.forall(r => r.getDouble(1) == r.getDouble(2))
    val rmseMse = rows.forall { r =>
      val (mse, rmse) = (r.getDouble(3), r.getDouble(4))
      math.abs(rmse * rmse - mse) / math.max(mse, 1e-9) < 0.01
    }
    val sane = rows.forall { r =>
      val vals = (1 to 5).map(r.getDouble)
      vals.forall(v => !v.isNaN && !v.isInfinite) &&
        r.getDouble(1) <= 1.0 && r.getDouble(3) >= 0 &&
        r.getDouble(5) <= r.getDouble(4)
    }
    (quirk, rmseMse, sane)
  }

  /** Hash-gated face of a metrics table (round-9, was rows-only): one row
    * per model — the model SET is part of the contract and
    * oracle-recomputable — with the reference's metric identities as
    * verdicts the oracle states constant. Verify.GateInvariants re-runs
    * the fits and recomputes every boolean independently.
    */
  def metricsVerdictGate(t: Tables, modelNames: Seq[String]): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val rows = metricsTable(t, modelNames).collect()
    val byModel = rows.map(r => r.getString(0) -> r).toMap
    modelNames.map { m =>
      val (quirk, rmseMse, sane) = metricsVerdicts(Array(byModel(m)))
      (m, quirk, rmseMse, sane)
    }.toDF("model", "r2adj_eq_r2", "rmse2_eq_mse", "metrics_sane")
  }

  def fastMetricsGate(t: Tables): DataFrame =
    metricsVerdictGate(t, Seq("LinearRegression", "DecisionTree", "GeneralizedLinear"))

  def fullMetricsGate(t: Tables): DataFrame =
    metricsVerdictGate(t, regressors.map(_._1))

  /** Verdict facts for the CV sweep: fixed grid recovered, exactly one
    * winner flagged and it minimizes the cross-validation average RMSE,
    * all metrics finite and positive.
    */
  private[graft] def cvVerdicts(rows: Array[(Double, Double, Boolean)])
      : (Long, Boolean, Boolean, Boolean) = {
    val gridOk = rows.map(_._1).toSet == Set(0.01, 0.5)
    val winners = rows.filter(_._3)
    val winnerOk = winners.length == 1 &&
      winners.headOption.exists(_._2 == rows.map(_._2).min)
    val finite = rows.forall { case (_, m, _) => !m.isNaN && m > 0 }
    (rows.length.toLong, gridOk, winnerOk, finite)
  }

  /** Hash-gated face of [[cvLinearSweep]] (round-9, was rows-only). */
  def cvVerdictGate(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val rows = cvLinearSweep(t).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getBoolean(2)))
    val (n, gridOk, winnerOk, finite) = cvVerdicts(rows)
    Seq((n, gridOk, winnerOk, finite))
      .toDF("n_grid_points", "grid_expected", "winner_unique_minimal", "metrics_finite")
  }
}
