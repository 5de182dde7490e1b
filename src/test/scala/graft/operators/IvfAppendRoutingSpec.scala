package graft.operators

import graft.SparkTestBase
import graft.functions.VectorFunctions.toDoubleArr
import org.apache.spark.sql.functions._

/** The routed production-ingest assignment (round-14 verdict item 1):
  * [[SimilarityOps.ivfAssignForIngest]] — what [[SimilarityOps.appendToIvfIndex]]
  * and the streaming ingest call — picks flat-exact assignment below the
  * hier threshold and the two-level coarse-quantized scan at/above it.
  *
  * Pinned here:
  *  - at nlist = 4096 the routed plan is the two-level `graft_ivf_assign`
  *    expression (ncoarse = √4096 = 64), join-free, exchange-free;
  *  - between the inline cap and the hier threshold (256) the routed plan
  *    is the FLAT expression path (ncoarse = 1) and assigns bit-identically
  *    to [[SimilarityOps.ivfAssignCells]];
  *  - at the gated nlist = 16 the routed plan stays the literal projection
  *    and assigns bit-identically — which is why no append/ingest gate
  *    hash moved when the routing landed;
  *  - a non-finite embedding assigns to the same deterministic valid cell
  *    on the literal and expression paths (round-14 advice: the expression
  *    used to mint Int.MaxValue when every distance was NaN).
  */
class IvfAppendRoutingSpec extends SparkTestBase {
  import spark.implicits._

  private val dim = 64

  /** Deterministic synthetic centroid table (the IvfAssignPathSpec sin
    * grid — the spec tests ROUTING + plan shape, not quantizer training).
    */
  private def writeCentroids(nlist: Int): String = {
    val dir = graft.core.Tables.scratchDir("graft_ivf_route_")
    (0 until nlist)
      .map(c => (c, (0 until dim).map(j => math.sin(c * 31 + j * 7) * 10.0)))
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    dir
  }

  private def batch = t.embeddings
    .select(col("vec_id"), col("label"), toDoubleArr(col("embedding")).as("emb"))

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private def cellsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
    df.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("at nlist >= 4096 the ingest route is the two-level expression: join-free, exchange-free") {
    val dir = writeCentroids(4096)
    val df = SimilarityOps.ivfAssignForIngest(spark, dir, batch)
    val plan = planOf(df)
    assert(plan.contains("graft_ivf_assign"),
      "above the hier threshold ingest must ride the reference-object expression")
    assert(plan.contains("IvfCentroidTable(nlist=4096, ncoarse=64"),
      s"expected the two-level table (ncoarse=64) in the plan summary:\n$plan")
    assert(!plan.contains("Join"), "routed ingest assignment must not plan a join")
    assert(exchangeInputs(df).isEmpty,
      "routed ingest assignment must not shuffle the batch")
    // the routed frame IS the hier frame at the ingest default
    // pcoarse = 4 (measured exact on the structured bench table;
    // r15_assign_scale.jsonl agreement fields): identical assignment
    assert(cellsOf(df) ==
      cellsOf(SimilarityOps.ivfAssignCellsHier(spark, dir, batch, pcoarse = 4)))
  }

  test("between inline cap and hier threshold the route is the flat expression, bit-identical to ivfAssignCells") {
    val dir = writeCentroids(256)
    val df = SimilarityOps.ivfAssignForIngest(spark, dir, batch)
    val plan = planOf(df)
    assert(plan.contains("IvfCentroidTable(nlist=256, ncoarse=1"),
      s"256 cells must route to the FLAT expression (one group):\n$plan")
    assert(!plan.contains("Join") && exchangeInputs(df).isEmpty)
    assert(cellsOf(df) == cellsOf(SimilarityOps.ivfAssignCells(spark, dir, batch)),
      "flat expression route must assign bit-identically to ivfAssignCells")
  }

  test("the gated nlist=16 route stays the literal projection, bit-identical (gate hashes cannot move)") {
    val dir = writeCentroids(16)
    val df = SimilarityOps.ivfAssignForIngest(spark, dir, batch)
    val plan = planOf(df)
    assert(!plan.contains("graft_ivf_assign"),
      "below the inline cap the route must stay the literal projection")
    assert(!plan.contains("Join") && exchangeInputs(df).isEmpty)
    assert(cellsOf(df) == cellsOf(SimilarityOps.ivfAssignCells(spark, dir, batch)))
  }

  test("the ingest plan (centroid read + driver quantizer) builds ONCE per index generation") {
    // streaming ingest calls ivfAssignForIngest once per micro-batch —
    // without the per-generation cache every batch would re-read the
    // centroid parquet and re-run the driver Lloyd quantizer (~1 s at
    // 16384 cells per batch)
    val dir = writeCentroids(4096)
    val before = SimilarityOps.ingestPlanBuilds.get()
    val a = cellsOf(SimilarityOps.ivfAssignForIngest(spark, dir, batch))
    val mid = SimilarityOps.ingestPlanBuilds.get()
    val b = cellsOf(SimilarityOps.ivfAssignForIngest(spark, dir, batch))
    val after = SimilarityOps.ingestPlanBuilds.get()
    assert(mid == before + 1, "first call must build the plan")
    assert(after == mid, "second call on the same generation must reuse it")
    assert(a == b)
    // a rewritten centroids dir (= index rebuild) moves the generation
    // stamp and rebuilds the plan instead of serving the stale table
    Thread.sleep(5)
    import spark.implicits._
    (0 until 16)
      .map(c => (c, (0 until dim).map(j => math.sin(c * 31 + j * 7) * 10.0)))
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    val df = SimilarityOps.ivfAssignForIngest(spark, dir, batch)
    assert(SimilarityOps.ingestPlanBuilds.get() == after + 1,
      "a regenerated centroids dir must rebuild the ingest plan")
    assert(!planOf(df).contains("graft_ivf_assign"),
      "the rebuilt 16-cell index must route back to the literal path")
  }

  test("the 16384-cell routed-recall gate's OWN ingest plans the deep two-level expression") {
    // round-16 verdict item 3: the deep-hier gate
    // (ann_ivf_recall_routed_hier) must be probing an index whose ingest
    // actually took the two-level path — pin the routed plan on the
    // gate's own index dir, not a synthetic surrogate: ncoarse = √16384
    // = 128 at the ingest default pcoarse = 4, join-free, exchange-free
    val dir = SimilarityOps.routedIngestIndexFor(t, 16384)
    val df = SimilarityOps.ivfAssignForIngest(spark, dir, batch)
    val plan = planOf(df)
    assert(plan.contains("IvfCentroidTable(nlist=16384, ncoarse=128, pcoarse=4)"),
      s"the gate's ingest must ride the deep two-level table:\n$plan")
    assert(!plan.contains("Join"), "routed ingest must not plan a join")
    assert(exchangeInputs(df).isEmpty,
      "routed ingest assignment must not shuffle the batch")
  }

  test("coalesceCells lands at most one vector file per non-empty cell on a wide backfill") {
    // round-16 fix, previously bench-verified only: the default
    // zero-shuffle append writes one file per (task, cell) — a wide
    // backfill from many tasks mints O(tasks·cells) near-empty files
    // (measured ~10⁵ at 200k×4096×32). With coalesceCells the batch is
    // repartitioned BY CELL first, so the layout contract is ≤ one file
    // per non-empty cell regardless of input partitioning.
    val dir = writeCentroids(64)
    SimilarityOps.appendToIvfIndex(spark, dir,
      batch.repartition(8), coalesceCells = true)
    val vecs = spark.read.parquet(s"$dir/vectors")
    val nonEmptyCells = vecs.select("cell").distinct().count()
    val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/vectors"))
    val nFiles =
      try stream.filter(p => p.toString.endsWith(".parquet")).count()
      finally stream.close()
    assert(nFiles <= nonEmptyCells,
      s"coalesced backfill wrote $nFiles files for $nonEmptyCells non-empty " +
        "cells — the one-file-per-cell layout contract broke")
    assert(vecs.count() == batch.count(),
      "the coalesced layout must conserve every appended row")
  }

  test("non-finite embeddings assign to the same deterministic valid cell on both paths") {
    val dir = writeCentroids(16)
    val bad = Seq(
      (1L, 0, Array.fill(dim)(Double.NaN)),
      (2L, 0, Array.tabulate(dim)(j => if (j == 0) Double.PositiveInfinity else 1.0)),
      (3L, 0, Array.tabulate(dim)(_.toDouble)))
      .toDF("vec_id", "label", "emb")
    val viaLiteral = cellsOf(
      SimilarityOps.ivfAssignCells(spark, dir, bad, maxInlineCells = Int.MaxValue))
    val viaExpr = cellsOf(
      SimilarityOps.ivfAssignCells(spark, dir, bad, maxInlineCells = 0))
    assert(viaLiteral == viaExpr,
      s"NaN/Inf handling must match the literal path: $viaLiteral vs $viaExpr")
    // all-NaN distances tie ⇒ the struct-min tie-break picks the LOWEST
    // cell id (0 here) — a real cell, never Int.MaxValue
    assert(viaExpr(1L) == 0, s"all-NaN vector must land in cell 0, got ${viaExpr(1L)}")
    assert(viaExpr.values.forall(c => c >= 0 && c < 16),
      s"every assigned cell must be a real cell id: $viaExpr")
  }
}
