package graft.operators

import graft.SparkTestBase
import graft.functions.VectorFunctions.toDoubleArr
import org.apache.spark.sql.functions._

/** Two-level (coarse-quantized) IVF cell assignment (round 14) — the rung
  * above the flat argmin on the nlist axis: cluster the fine centroids
  * into ~√nlist coarse groups once per index, then per vector probe the
  * pcoarse nearest groups and argmin only their members.
  *
  * Pinned here:
  *  (a) the identity theorem — pcoarse ≥ #groups assigns BIT-identically
  *      to flat [[SimilarityOps.ivfAssignCells]] at nlist = 256;
  *  (b) the pruned path (pcoarse = 2) stays inside its contract: every
  *      assignment is a valid cell and agreement with the flat argmin
  *      clears the gate floor with margin;
  *  (c) plan shape — one join-free Project with the table as a compact
  *      reference object, nothing shuffles, and the plan doesn't grow
  *      with nlist (the centroids never inline as literals);
  *  (d) [[SimilarityOps.coarseGroups]] is deterministic and always
  *      PARTITIONS the cell set — what the theorem in (a) rests on.
  */
class IvfAssignHierSpec extends SparkTestBase {
  import spark.implicits._

  private val dim = 64

  /** Deterministic synthetic centroid table — same idiom as
    * IvfAssignPathSpec: the spec tests assignment arithmetic, not the
    * quantizer fit.
    */
  private def writeCentroids(nlist: Int): String = {
    val dir = graft.core.Tables.scratchDir("graft_ivf_hier_spec_")
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

  test("full-sweep hier assignment is bit-identical to the flat argmin at nlist=256") {
    val dir = writeCentroids(256)
    val flat = cellsOf(SimilarityOps.ivfAssignCells(spark, dir, batch))
    val full = cellsOf(SimilarityOps.ivfAssignCellsHier(spark, dir, batch,
      pcoarse = Int.MaxValue))
    assert(flat == full,
      "probing every coarse group must reproduce the flat argmin exactly")
  }

  test("pruned path (pcoarse=2): valid cells, agreement clears the gate floor with margin") {
    val dir = writeCentroids(256)
    val flat = cellsOf(SimilarityOps.ivfAssignCells(spark, dir, batch))
    val hier = cellsOf(SimilarityOps.ivfAssignCellsHier(spark, dir, batch, 2))
    assert(hier.keySet == flat.keySet, "pruning must not drop or mint rows")
    assert(hier.values.forall(c => c >= 0 && c < 256),
      "every pruned assignment must be a real cell id")
    val agree = flat.count { case (id, c) => hier(id) == c }
    val frac = agree.toDouble / flat.size
    assert(frac >= 0.8,
      f"pcoarse=2 agreement $frac%.3f under the spec's 0.8 margin floor")
    // and the gated fixture verdicts hold end-to-end (data-derived
    // quantizer surrogate, nlist=64, pcoarse=4 of 8 — measured agreement
    // band 0.85–0.90 on the near-isotropic fixture): all booleans true
    val row = SimilarityOps.ivfAssignHierGate(t).head()
    assert(row.getLong(0) == t.embeddings.count())
    assert(row.getBoolean(1) && row.getBoolean(2) && row.getBoolean(3),
      s"gate verdicts: $row")
  }

  test("plan: one join-free Project, nothing shuffles, size flat in nlist") {
    val d256 = writeCentroids(256)
    val df = SimilarityOps.ivfAssignCellsHier(spark, d256, batch, 2)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("graft_ivf_assign"),
      "the two-level table must ride the reference-object expression")
    assert(!plan.contains("Join"),
      "assignment must not plan a join — the one-row broadcast-join " +
        "formulation was measured codegen-boundary-copy-bound " +
        "(UnsafeRow.copy of the O(nlist*dim) arrays per vector)")
    assert(exchangeInputs(df).isEmpty,
      "assignment must not shuffle anything — one Project over the batch")
    // plan size must not scale with nlist: the table is a reference
    // object printing as its compact summary, never inlined data (the
    // failure mode the flat literal path hits at 256 cells)
    assert(plan.contains("IvfCentroidTable(nlist=256, ncoarse=16, pcoarse=2)"),
      "plan dump must carry the compact table summary")
    val d16 = writeCentroids(16)
    val small = SimilarityOps.ivfAssignCellsHier(spark, d16, batch, 2)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.length < small.length * 2,
      s"plan grew with nlist (${small.length} -> ${plan.length} chars) " +
        "- centroids are leaking into the plan")
  }

  test("IvfCentroidTable.assign == naive two-level reference across p, including coarse ties") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val d = 8
    val rnd = new scala.util.Random(7)
    // 24 cells in 6 groups of 4; group centroids deliberately DUPLICATED
    // pairwise so the coarse pass has exact d2 ties (gi tie-break exercised)
    val gcents = Array.tabulate(6)(g =>
      Array.tabulate(d)(j => math.sin((g / 2) * 13 + j)))
    val fines = Array.tabulate(6)(g => Array.tabulate(4) { m =>
      (g * 4 + m, Array.tabulate(d)(j => math.sin(g * 7 + m * 3 + j) * 2))
    })
    val groups = gcents.zip(fines)
    for (p <- 1 to 7) {
      val table = graft.plans.IvfCentroidTable.fromGroups(groups, p)
      (0 until 50).foreach { _ =>
        val v = Array.fill(d)(rnd.nextDouble() * 4 - 2)
        // naive reference: full (d2, gi) sort, take p, scan those fines
        val coarse = gcents.zipWithIndex.map { case (c, gi) =>
          (c.map(x => x * x).sum - 2.0 * c.zip(v).map(t => t._1 * t._2).sum, gi)
        }.sorted.take(math.min(p, 6)).map(_._2)
        val expect = coarse.flatMap(fines(_)).map { case (cell, c) =>
          var dp = 0.0; var j = 0
          while (j < d) { dp += v(j) * c(j); j += 1 }
          (c.map(x => x * x).sum - 2.0 * dp, cell)
        }.min._2
        val got = table.assign(new GenericArrayData(v))
        assert(got == expect, s"p=$p v=${v.toSeq}")
      }
    }
  }

  test("coarseGroups: deterministic, and the groups partition the cell set") {
    val cents = (0 until 256)
      .map(c => (c, (0 until dim).map(j => math.sin(c * 31 + j * 7) * 10.0).toArray))
      .toArray
    val a = SimilarityOps.coarseGroups(cents, 16)
    val b = SimilarityOps.coarseGroups(cents, 16)
    assert(a.map(_._2.map(_._1).toSeq).toSeq == b.map(_._2.map(_._1).toSeq).toSeq,
      "repeated clustering of the same centroid table must group identically")
    val covered = a.flatMap(_._2.map(_._1))
    assert(covered.length == 256 && covered.toSet == (0 until 256).toSet,
      "groups must partition the cells: every cell in exactly one group")
    assert(a.forall(_._2.nonEmpty), "empty groups must be dropped")
    // ncoarse beyond the cell count degrades gracefully to singletons
    val tiny = SimilarityOps.coarseGroups(cents.take(3), 16)
    assert(tiny.flatMap(_._2.map(_._1)).toSet == Set(0, 1, 2))
  }
}
