package graft.ml

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The round-10 feature-engineering transformers (Imputer, OneHotEncoder,
  * Bucketizer, with SQLTransformer and IndexToString in the plumbing):
  * each gate's oracle-recomputable quantities are recomputed here from
  * first principles, and the StringIndexer tie-break contract — the part
  * the DuckDB oracle leans on — gets a synthetic corpus with an EXACT
  * frequency tie.
  */
class FeatureEngineeringSpec extends SparkTestBase {

  test("bucketized price counts equal the explicit CASE recomputation") {
    val got = FeatureEngineering.bucketizedPriceCounts(t)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = t.orders.na.drop(Seq("o_totalprice"))
      .groupBy(
        when(col("o_totalprice") < 50000, 0L)
          .when(col("o_totalprice") < 150000, 1L)
          .when(col("o_totalprice") < 300000, 2L)
          .otherwise(3L).as("b"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, s"bucket counts diverge: $got vs $expected")
    assert(got.keySet == Set(0L, 1L, 2L, 3L),
      s"fixture should populate all four buckets, got ${got.keySet}")
  }

  test("impute gate: deterministic gaps, surrogate fill, exact-mean band") {
    val row = FeatureEngineering.imputeGate(t).head()
    val expectedGaps = t.orders
      .filter(pmod(col("o_orderkey"), lit(10L)) === 0).count()
    assert(row.getLong(0) == t.orders.count())
    assert(row.getLong(1) == expectedGaps && expectedGaps > 0)
    assert(row.getBoolean(2), "a gapped row was not filled with the surrogate")
    assert(row.getBoolean(3), "Imputer surrogate outside the DECIMAL-exact mean band")
  }

  test("onehot gate: index equals frequency rank, vectors and round-trip hold") {
    val rows = FeatureEngineering.onehotGate(t).collect()
    val counts = t.orders.na.drop(Seq("o_orderpriority"))
      .groupBy("o_orderpriority").count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expectedIdx = counts.sortBy { case (v, c) => (-c, v) }
      .zipWithIndex.map { case ((v, _), i) => v -> i.toLong }.toMap
    assert(rows.length == counts.length)
    rows.foreach { r =>
      assert(r.getLong(2) == expectedIdx(r.getString(0)),
        s"index mismatch for ${r.getString(0)}")
      assert(r.getLong(3) == counts.length - 1L, "dropLast size wrong")
      assert(r.getBoolean(4), s"one-hot vector wrong for ${r.getString(0)}")
      assert(r.getBoolean(5), s"round-trip failed for ${r.getString(0)}")
    }
  }

  test("median impute gate: deterministic gaps, surrogate fill, exact-percentile band") {
    val row = FeatureEngineering.imputeMedianGate(t).head()
    val expectedGaps = t.orders
      .filter(pmod(col("o_orderkey"), lit(10L)) === 0).count()
    assert(row.getLong(0) == t.orders.count())
    assert(row.getLong(1) == expectedGaps && expectedGaps > 0)
    assert(row.getBoolean(2), "a gapped row was not filled with the surrogate")
    assert(row.getBoolean(3),
      "Imputer median surrogate outside the exact [P49.5, P50.5] band")
  }

  test("median surrogate is an actual element of the column, near the exact median") {
    // the GK sketch returns a REAL value from the data, not an interpolation
    val gappy = FeatureEngineering.gappyOrders(t)
    val surrogate = new org.apache.spark.ml.feature.Imputer().setStrategy("median")
      .setInputCols(Array("price_gappy")).setOutputCols(Array("price_imputed"))
      .fit(gappy).surrogateDF.head().getDouble(0)
    assert(gappy.filter(col("price_gappy") === surrogate).count() > 0,
      s"median surrogate $surrogate is not an element of the column")
  }

  test("vector index gate: ascending-rank map, quantity stays continuous, " +
      "transform verdicts hold") {
    val rows = FeatureEngineering.vectorIndexGate(t).collect()
    val counts = t.lineitem
      .groupBy(col("l_linenumber").cast("long").as("v")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expectedIdx = counts.map(_._1).sorted
      .zipWithIndex.map { case (v, i) => v -> i.toLong }.toMap
    val cmap = counts.toMap
    assert(rows.length == counts.length && rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == cmap(r.getLong(0)), s"count for value ${r.getLong(0)}")
      assert(r.getLong(2) == expectedIdx(r.getLong(0)),
        s"category index for value ${r.getLong(0)} is not the ascending rank")
      assert(r.getLong(3) == 1L,
        "l_quantity (50 distinct > maxCategories) must NOT be categorical")
      assert(r.getBoolean(4), s"transform verdict for value ${r.getLong(0)}")
    }
  }

  test("VectorIndexer zero-first quirk: 0.0 takes index 0 even when not the minimum") {
    // THE reason the gate's categorical column is zero-free: with values
    // {-3, 0, 4}, plain ascending rank would give -3 -> 0, but
    // VectorIndexer special-cases 0.0 to index 0 (sparse vectors must
    // stay sparse), shifting everything below it. A SQL oracle stating
    // ascending rank would be wrong here — and exactly right on the
    // zero-free l_linenumber.
    import spark.implicits._
    val df = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("cat", "cont")).setOutputCol("features")
      .transform((0 until 30).map(i =>
        (Seq(-3.0, 0.0, 4.0)(i % 3), i.toDouble)).toDF("cat", "cont"))
    val model = new org.apache.spark.ml.feature.VectorIndexer()
      .setInputCol("features").setOutputCol("indexed").setMaxCategories(10)
      .fit(df)
    assert(model.categoryMaps.keySet == Set(0),
      s"only the 3-distinct feature should be categorical: ${model.categoryMaps.keySet}")
    assert(model.categoryMaps(0) == Map(0.0 -> 0, -3.0 -> 1, 4.0 -> 2),
      s"zero-first quirk changed: ${model.categoryMaps(0)}")
  }

  test("StringIndexer tie-break is alphabetic on an exact frequency tie") {
    import spark.implicits._
    // 'b-tied' and 'a-tied' both appear 40x (exact tie), 'c-common' 60x:
    // frequencyDesc puts c-common first, then the tie resolves
    // ALPHABETICALLY — a-tied before b-tied — which is precisely what the
    // oracle's ORDER BY n DESC, value ASC restates. The sf0.01 driver
    // fixture ties 2-HIGH/3-MEDIUM at 3003, so this contract carries a
    // real gate, not just this synthetic.
    val dir = graft.core.Tables.scratchDir("graft_tie_")
    val rows = (1L to 60L).map(i => (i, "c-common")) ++
      (61L to 100L).map(i => (i, "b-tied")) ++
      (101L to 140L).map(i => (i, "a-tied"))
    rows.toDF("o_orderkey", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val tt = graft.core.Tables(spark, dir)
    val got = FeatureEngineering.onehotGate(tt).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got == Map("c-common" -> 0L, "a-tied" -> 1L, "b-tied" -> 2L),
      s"tie-break not (count desc, value asc): $got")
  }
}
