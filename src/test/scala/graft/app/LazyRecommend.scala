package graft.app

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature._
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Recommendation.recommend` as a lazy plan over the unfiltered frame,
  * with no cache and no repartition, kept in the tests as the oracle that
  * the one-scan eager version must match: every consumer (the two fits,
  * the query vector, the scoring and the price-keyed retrieval)
  * recomputes the filtered group from the source.
  */
object LazyRecommend {
  def apply(recDf: DataFrame, madeV: String, colorGroup: String,
            typeGroup: String, priceRange: (Int, Int)): DataFrame = {
    val data = recDf.filter(
      col("color_group") === colorGroup &&
      col("type_group") === typeGroup &&
      col("price") >= priceRange._1 && col("price") <= priceRange._2 &&
      col("Made") === madeV)
    val normalized = new Pipeline().setStages(Array(
      new RegexTokenizer().setInputCol("Made").setOutputCol("words").setPattern("\\W"),
      new StopWordsRemover().setInputCol("words").setOutputCol("filtered"),
      new CountVectorizer().setInputCol("filtered").setOutputCol("raw_features")
        .setVocabSize(1 << 16).setMinDF(1.0),
      new IDF().setInputCol("raw_features").setOutputCol("features").setMinDocFreq(5),
      new Normalizer().setInputCol("features").setOutputCol("features_norm").setP(2.0)))
      .fit(data).transform(data)
    val q = normalized.limit(1)
      .select(vector_to_array(col("features_norm")).as("q_vec"))
    val prices = normalized
      .crossJoin(broadcast(q))
      .withColumn("score", call_function("graft_dot",
        vector_to_array(col("features_norm")), col("q_vec")))
      .orderBy(desc("score"), asc("price"), asc("model"), asc("year"))
      .limit(6)
      .select("price").collect().drop(1).map(_.getString(0))
    data
      .select("price", "Made", "manufacturer", "model", "type", "year",
        "Age", "condition", "fuel", "title_status", "transmission",
        "paint_color", "mil_rating")
      .filter(col("price").isin(prices.toSeq: _*))
      .orderBy("price")
      .randomSplit(Array(0.1, 0.1), seed = 42)(0)
      .limit(5)
  }
}
