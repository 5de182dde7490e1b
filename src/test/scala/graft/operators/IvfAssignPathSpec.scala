package graft.operators

import graft.SparkTestBase
import graft.functions.VectorFunctions.toDoubleArr
import org.apache.spark.sql.functions._

/** IVF cell assignment (round 14): at every nlist the centroids ride the
  * codegen `graft_ivf_assign` expression as a reference object — plan
  * size O(1) in nlist, batch side unshuffled, no join.
  *
  * Pinned here: (a) the engine assigns exactly the cells of this spec's
  * own driver-side argmin at nlist = 16 and 256, (b) the plan is one
  * join-free Project with a compact table summary and no exchange at all,
  * at 256 cells and at the gated 16.
  */
class IvfAssignPathSpec extends SparkTestBase {
  import spark.implicits._

  private val dim = 64

  /** Deterministic synthetic centroid table (no KMeans — the spec tests
    * the ASSIGNMENT arithmetic, not the quantizer fit).
    */
  private def writeCentroids(nlist: Int): String = {
    val dir = graft.core.Tables.scratchDir("graft_ivf_path_")
    (0 until nlist)
      .map(c => (c, (0 until dim).map(j => math.sin(c * 31 + j * 7) * 10.0)))
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    dir
  }

  private def batch = t.embeddings
    .select(col("vec_id"), col("label"), toDoubleArr(col("embedding")).as("emb"))

  private def cellsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
    df.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("engine assignment matches a driver-side argmin at nlist=16 and nlist=256") {
    Seq(16, 256).foreach { nlist =>
      val dir = writeCentroids(nlist)
      val engine = cellsOf(SimilarityOps.ivfAssignCells(spark, dir, batch))
      // independent driver-side recompute with the same IEEE op order:
      // |c|^2 as a left fold, dot ascending, argmin ties to the low cell
      val cents = (0 until nlist)
        .map(c => (c, (0 until dim).map(j => math.sin(c * 31 + j * 7) * 10.0).toArray))
      val vecs = batch.collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](2).toArray)
      assert(engine.keySet == vecs.map(_._1).toSet, s"nlist=$nlist: rows lost or minted")
      vecs.foreach { case (id, v) =>
        val best = cents.map { case (c, arr) =>
          val n2 = arr.map(x => x * x).sum
          var j = 0
          var dp = 0.0
          while (j < dim) { dp += v(j) * arr(j); j += 1 }
          (n2 - 2.0 * dp, c)
        }.min
        assert(engine(id) == best._2,
          s"nlist=$nlist vec $id: engine ${engine(id)} != driver ${best._2}")
      }
    }
  }

  test("expression path: join-free Project, compact table summary, no exchange") {
    val dir = writeCentroids(256)
    val df = SimilarityOps.ivfAssignCells(spark, dir, batch)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the table rides the graft_ivf_assign reference object: one narrow
    // Project, NO join (the one-row broadcast-join formulation was
    // measured codegen-boundary-copy-bound — the join materialized the
    // O(nlist·dim) arrays per vector), and the plan dump stays compact
    // because the table prints as its summary
    assert(plan.contains("graft_ivf_assign"),
      "the assignment must be the reference-object expression")
    assert(!plan.contains("Join"), "expression path must not plan a join")
    assert(plan.contains("IvfCentroidTable(nlist=256, ncoarse=1, pcoarse=1)"),
      "the flat table must print as its compact summary in plan dumps")
    assert(exchangeInputs(df).isEmpty,
      "assignment must not shuffle anything — the batch streams through one Project")
  }

  test("16 cells plan one graft_ivf_assign Project: no join, no exchange") {
    val dir = writeCentroids(16)
    val df = SimilarityOps.ivfAssignCells(spark, dir, batch)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("graft_ivf_assign".r.findAllIn(plan).size == 1 &&
      plan.contains("IvfCentroidTable(nlist=16, ncoarse=1, pcoarse=1)"),
      s"16 cells must take the same flat reference-object Project:\n$plan")
    assert(!plan.contains("Join"), "16 cells must not plan a join")
    assert(exchangeInputs(df).isEmpty, "16 cells must not shuffle anything")
  }
}
