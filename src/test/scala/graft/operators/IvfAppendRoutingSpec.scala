package graft.operators

import graft.SparkTestBase
import graft.functions.VectorFunctions.toDoubleArr
import org.apache.spark.sql.functions._

/** The routed production-ingest assignment (round-14 verdict item 1):
  * [[SimilarityOps.ivfAssignForIngest]] — what [[SimilarityOps.appendToIvfIndex]]
  * and the streaming ingest call — picks the flat exact table below the
  * hier threshold and the two-level coarse-quantized table at/above it,
  * both through the one `graft_ivf_assign` projection.
  *
  * Pinned here:
  *  - at nlist = 4096 the routed plan carries the two-level table
  *    (ncoarse = √4096 = 64), join-free, exchange-free;
  *  - below the hier threshold (256 cells, and the gated 16) the routed
  *    plan carries the FLAT table (ncoarse = 1) and assigns
  *    bit-identically to [[SimilarityOps.ivfAssignCells]];
  *  - a non-finite embedding assigns to the cell the (d2, cell) order
  *    names — NaN after every number, ties to the lowest cell — on the
  *    flat and the two-level table alike (round-14 advice: the
  *    expression used to mint Int.MaxValue when every distance was NaN).
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
    // the routed frame IS the hier frame at the ingest pcoarse = 4
    // (measured exact on the structured bench table;
    // r15_assign_scale.jsonl agreement fields): identical assignment
    assert(cellsOf(df) ==
      cellsOf(SimilarityOps.ivfAssignCellsHier(spark, dir, batch, pcoarse = 4)))
  }

  test("256 cells route to the flat table (ncoarse=1), bit-identical to ivfAssignCells") {
    val dir = writeCentroids(256)
    val df = SimilarityOps.ivfAssignForIngest(spark, dir, batch)
    val plan = planOf(df)
    assert(plan.contains("IvfCentroidTable(nlist=256, ncoarse=1, pcoarse=1)"),
      s"256 cells must route to the FLAT table (one group):\n$plan")
    assert(!plan.contains("Join") && exchangeInputs(df).isEmpty)
    assert(cellsOf(df) == cellsOf(SimilarityOps.ivfAssignCells(spark, dir, batch)),
      "the flat route must assign bit-identically to ivfAssignCells")
  }

  test("16 cells route to the flat table (ncoarse=1), bit-identical to ivfAssignCells") {
    val dir = writeCentroids(16)
    val df = SimilarityOps.ivfAssignForIngest(spark, dir, batch)
    val plan = planOf(df)
    assert(plan.contains("IvfCentroidTable(nlist=16, ncoarse=1, pcoarse=1)"),
      s"16 cells must route to the FLAT table (one group):\n$plan")
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
    assert(planOf(df).contains("IvfCentroidTable(nlist=16, ncoarse=1, pcoarse=1)"),
      "the rebuilt 16-cell index must route to the flat table")
  }

  test("the 16384-cell routed-recall gate's OWN ingest plans the deep two-level expression") {
    // round-16 verdict item 3: the deep-hier gate
    // (ann_ivf_recall_routed_hier) must be probing an index whose ingest
    // actually took the two-level path — pin the routed plan on the
    // gate's own index dir, not a synthetic surrogate: ncoarse = √16384
    // = 128 at the ingest pcoarse = 4, join-free, exchange-free
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
    // the expected cells by value, from the (d2, cell) total order: a
    // NaN distance sorts after every number, ties go to the lowest cell
    val cents = (0 until 16)
      .map(c => (0 until dim).map(j => math.sin(c * 31 + j * 7) * 10.0).toArray)
    def expected(v: Array[Double]): Int =
      cents.zipWithIndex.map { case (c, cell) =>
        var dp = 0.0; var j = 0
        while (j < dim) { dp += v(j) * c(j); j += 1 }
        (c.map(x => x * x).sum - 2.0 * dp, cell)
      }.sortWith { case ((d1, c1), (d2, c2)) =>
        val o = java.lang.Double.compare(d1, d2)
        if (d1 == d2 || (d1.isNaN && d2.isNaN)) c1 < c2 else o < 0
      }.head._2
    val want = bad.collect().map(r => r.getLong(0) -> expected(r.getSeq[Double](2).toArray)).toMap
    // all-NaN distances tie ⇒ the LOWEST cell id (0 here) — a real cell,
    // never Int.MaxValue
    assert(want(1L) == 0)
    val flat = cellsOf(SimilarityOps.ivfAssignCells(spark, dir, bad))
    val twoLevel = cellsOf(SimilarityOps.ivfAssignCellsHier(spark, dir, bad,
      pcoarse = Int.MaxValue))
    assert(flat == want, s"flat table: $flat, expected $want")
    assert(twoLevel == want, s"full-sweep two-level table: $twoLevel, expected $want")
  }
}
