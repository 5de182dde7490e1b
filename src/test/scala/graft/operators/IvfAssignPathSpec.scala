package graft.operators

import graft.SparkTestBase
import graft.functions.VectorFunctions.toDoubleArr
import org.apache.spark.sql.functions._

/** The nlist-thresholded IVF cell assignment (round-14 verdict item 2):
  * at or below `maxInlineCells` the centroids are inlined as literals
  * into one codegen projection; above it they ride the codegen
  * `graft_ivf_assign` expression as a reference object — plan size O(1)
  * instead of O(nlist·dim), batch side still unshuffled, no join.
  *
  * Pinned here: (a) the two paths assign BIT-identically at nlist = 256
  * (and both match a driver-side argmin recompute), (b) the expression
  * path plans one join-free Project with a compact table summary and no
  * exchange at all, (c) the small-nlist path stays join-free.
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

  test("literal and expression paths assign bit-identically at nlist=256 and match a driver argmin") {
    val nlist = 256
    val dir = writeCentroids(nlist)
    // force each path explicitly: threshold above/below the cell count
    val viaLiteral = SimilarityOps.ivfAssignCells(spark, dir, batch,
      maxInlineCells = Int.MaxValue)
    val viaExpr = SimilarityOps.ivfAssignCells(spark, dir, batch,
      maxInlineCells = 64)
    val a = cellsOf(viaLiteral)
    val b = cellsOf(viaExpr)
    assert(a == b, "paths disagree on at least one vector's cell")

    // independent driver-side recompute with the same IEEE op order:
    // |c|^2 as a left fold, dot ascending, argmin ties to the low cell
    val cents = (0 until nlist)
      .map(c => (c, (0 until dim).map(j => math.sin(c * 31 + j * 7) * 10.0).toArray))
    val vecs = batch.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](2).toArray)
    vecs.foreach { case (id, v) =>
      val best = cents.map { case (c, arr) =>
        val n2 = arr.map(x => x * x).sum
        var j = 0
        var dp = 0.0
        while (j < dim) { dp += v(j) * arr(j); j += 1 }
        (n2 - 2.0 * dp, c)
      }.min
      assert(a(id) == best._2, s"vec $id: engine ${a(id)} != driver ${best._2}")
    }
  }

  test("expression path: join-free Project, compact table summary, no exchange") {
    val dir = writeCentroids(256)
    val df = SimilarityOps.ivfAssignCells(spark, dir, batch, maxInlineCells = 64)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // above the threshold the table rides the graft_ivf_assign reference
    // object: one narrow Project, NO join (the one-row broadcast-join
    // formulation was measured codegen-boundary-copy-bound — the join
    // materialized the O(nlist·dim) arrays per vector), and the plan dump
    // stays compact because the table prints as its summary
    assert(plan.contains("graft_ivf_assign"),
      "above the inline threshold the assignment must be the reference-object expression")
    assert(!plan.contains("Join"), "expression path must not plan a join")
    assert(plan.contains("IvfCentroidTable(nlist=256"),
      "the table must print as its compact summary in plan dumps")
    assert(exchangeInputs(df).isEmpty,
      "assignment must not shuffle anything — the batch streams through one Project")
  }

  test("small-nlist (gated) path stays a join-free literal projection") {
    val dir = writeCentroids(16)
    val df = SimilarityOps.ivfAssignCells(spark, dir, batch)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Join"), "16 cells must stay literal-inlined (no join)")
    assert(exchangeInputs(df).isEmpty, "literal path must not shuffle anything")
  }
}
