package graft.ml

import org.apache.spark.ml.feature.{StringIndexer, VectorAssembler}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.scalatest.Assertions._

/** The reference's per-column StringIndexer loop
  * (`price-prediction.py:159-167`), kept in the tests as the oracle that
  * [[PricePipeline.indexAndAssemble]]'s one multi-column fit must match:
  * each single-column fit runs over the previous column's transform.
  */
object PerColumnIndexing {

  /** (frame with every `<c>_indexed` column, each fit's labels in order). */
  def fold(base: DataFrame, categorical: Seq[String]): (DataFrame, Seq[Seq[String]]) =
    categorical.foldLeft((base, Seq.empty[Seq[String]])) { case ((d, labels), c) =>
      val model = new StringIndexer()
        .setInputCol(c).setOutputCol(s"${c}_indexed")
        .setHandleInvalid("skip")
        .fit(d)
      (model.transform(d), labels :+ model.labelsArray(0).toSeq)
    }

  /** (features, label) exactly as the loop-then-assemble shape built it. */
  def featurize(base: DataFrame, numeric: Seq[String], categorical: Seq[String],
                label: Column): DataFrame =
    new VectorAssembler()
      .setInputCols((numeric ++ categorical.map(_ + "_indexed")).toArray)
      .setOutputCol("features")
      .setHandleInvalid("skip")
      .transform(fold(base, categorical)._1)
      .select(col("features"), label.as("label"))

  /** Multiset of (feature values, label) rows. */
  def multiset(features: DataFrame): Map[(Seq[Double], Any), Int] =
    features.collect().toSeq
      .groupBy(r => (r.getAs[Vector](0).toArray.toSeq, r.get(1)))
      .view.mapValues(_.size).toMap

  /** `featurized` (a pipeline's (features, label) over `base`) against the
    * loop: [[PricePipeline.indexer]]'s labels equal each single-column
    * fit's, and the (features, label) multisets are equal.
    */
  def assertMatches(base: DataFrame, numeric: Seq[String], categorical: Seq[String],
                    label: Column, featurized: DataFrame): Unit = {
    val (_, loopLabels) = fold(base, categorical)
    val model = PricePipeline.indexer(categorical).fit(base)
    assert(model.labelsArray.map(_.toSeq).toSeq == loopLabels)
    assert(loopLabels.forall(_.nonEmpty), s"empty labels: $loopLabels")
    val got = multiset(featurized)
    assert(got.nonEmpty && got == multiset(featurize(base, numeric, categorical, label)))
  }
}
