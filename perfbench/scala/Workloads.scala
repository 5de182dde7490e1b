package perfbench

import java.util.{LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.app.VehiclesPipelines
import graft.app.VehiclesPipelines.{DataUnderstanding, PricePrediction, Recommendation}
import graft.core.Tables
import graft.functions.TextFunctions.{stopwordRatio, tokens}
import graft.operators.{DedupOps, GraphOps, PipelineOps}
import graft.sources.CsvIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Harness.{jlist, jmap, rowList}

/** The workloads, stage by stage. Each returns the closure that
  * gathers what the output checks need; the harness runs it after the timed
  * pass. Outputs go into `outputs` as plain JSON values. */
object Workloads {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ------------------------------------------------------------------ vehicles
  val FitModels = Seq("LinearRegression")
  val PriceMetrics = "ml.price_metrics"

  /** `PricePrediction.metrics` runs as one timed call. The traced pass
    * reports it as the feature pipeline (indexer fits, CSV rescans) and the
    * model fits with their evaluation, told apart by the Spark ML entry
    * point on each job's call stack. */
  val splits = Seq(Tracer.Split(PriceMetrics, "ml.featurize", "ml.fit_eval", stack =>
    stack.contains("org.apache.spark.ml.Predictor.fit") || stack.contains("org.apache.spark.ml.evaluation.")))

  def vehicles(run: Run, dataDir: String, job: JsonNode, outputs: JMap[String, Any]): () => Unit = {
    val spark = run.spark
    val path = s"$dataDir/vehicles.csv"

    run.stage("sources.csv_load") {
      outputs.put("inferred_columns", CsvIO.readInferred(spark, path).columns.length)
      noop(VehiclesPipelines.load(spark, path))
    }
    val df = VehiclesPipelines.load(spark, path)

    run.span("app.understanding") {
      run.op("app.understanding/listingsPerManufacturer") {
        outputs.put("manufacturers", rowList(DataUnderstanding.listingsPerManufacturer(df).collect()))
      }
      run.op("app.understanding/salvageShareByState") {
        outputs.put("salvage_by_state", rowList(DataUnderstanding.salvageShareByState(df).collect()))
      }
    }

    run.stage(PriceMetrics) {
      val fits = new JMap[String, Any]()
      PricePrediction.metrics(spark, df, FitModels).collect().foreach { r =>
        fits.put(r.getAs[String]("model"), jmap("r2" -> r.getAs[Double]("r2"),
          "mse" -> r.getAs[Double]("mse"), "rmse" -> r.getAs[Double]("rmse"), "mae" -> r.getAs[Double]("mae")))
      }
      outputs.put("fits", fits)
    }

    run.span("app.recommend") {
      val rec = Recommendation.deriveFeatures(df)
      val results = jlist(Nil)
      job.get("recommend_queries").elements().asScala.zipWithIndex.foreach { case (q, i) =>
        run.op(s"app.recommend/$i") {
          val rows = Recommendation.recommend(spark, rec, q.get("made").asText,
            q.get("color_group").asText, q.get("type_group").asText,
            (q.get("price_lo").asInt, q.get("price_hi").asInt)).collect()
          results.add(rowList(rows))
        }
      }
      outputs.put("recommend", results)
    }
    () => ()
  }

  // ------------------------------------------------------------------ intake
  val MinJaccard = 0.5

  def intake(run: Run, dataDir: String, trace: Boolean, outputs: JMap[String, Any]): () => Unit = {
    val t = Tables(run.spark, dataDir)

    run.stage("functions.text_features") {
      noop(t.documentsBalanced.select(col("doc_id"), col("source"),
        size(tokens(col("text"))).as("n_tokens"),
        stopwordRatio(col("text")).as("swr"),
        md5(col("text")).as("digest")))
    }
    run.stage("operators.intake_decisions") {
      val rows = PipelineOps.intakeDecisions(t).collect()
      val byReason = new JMap[String, Any]()
      rows.groupBy(_.getAs[String]("reason")).foreach { case (reason, rs) =>
        byReason.put(reason, jlist(rs.map(_.getAs[Long]("doc_id"))))
      }
      outputs.put("decisions", byReason)
    }
    run.stage("operators.minhash_pairs") {
      outputs.put("verified_pairs", DedupOps.pairGraph(t, MinJaccard).count())
    }
    run.stage("operators.connected_components") {
      outputs.put("component_nodes", GraphOps.connectedComponents(DedupOps.pairGraph(t, MinJaccard)).count())
    }
    () => {
      val pairs = DedupOps.pairGraph(t, MinJaccard)
      outputs.put("pair_nodes",
        pairs.select(col("doc_a").as("d")).union(pairs.select(col("doc_b"))).distinct().count())
      if (trace)
        outputs.put("candidate_pairs", DedupOps.minhashCandidatePairs(t).count())
    }
  }
}
