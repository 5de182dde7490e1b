package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** The IVF centroid table as a REFERENCE OBJECT for nearest-cell
  * assignment — flat or two-level — evaluated by [[IvfAssignCell]] in one
  * tight primitive loop per row.
  *
  * Why an expression payload and not a broadcast join (round 14): the
  * assignment was first written as `crossJoin(broadcast(oneRow))` + a
  * higher-order-function projection. Measured at nlist = 4096–16384 ×
  * 200k vectors, that shape is NOT op-bound: HOFs can't enter whole-stage
  * codegen, so the BroadcastNestedLoopJoin compiles into its own codegen
  * stage whose boundary MATERIALIZES every joined row — jstack sampling
  * showed the executors pinned in `UnsafeRow.copy`, memcpy-ing the
  * O(nlist·dim)-byte centroid arrays once per vector. The two-level
  * formulation cut the dot count ~√nlist-fold but only ran 2.5–3× faster
  * than flat, because the copy dominated. Carried as a reference object,
  * the table ships ONCE per stage inside the task binary (which Spark
  * broadcasts — the same wire cost as the join's build side, and the
  * same seam `graft_bloom_contains` and Spark's own InjectRuntimeFilter
  * use), rows stay narrow, and the per-row cost is the arithmetic alone.
  *
  * Arithmetic contract: per cell, d2 = |c|² − 2·v·c with |c|² a
  * driver-side ascending-index left fold and the dot an ascending-index
  * left fold — the op order of `graft_dot` — and the winner is the
  * (d2, cell) total order: lowest d2, NaN after every number, ties to the
  * lowest cell id. Two-level probing every group therefore assigns
  * BIT-identically to the flat scan; pruned probing differs only by cells
  * hidden in unprobed groups (IvfAssignPathSpec pins the flat scan
  * against a driver-side argmin, IvfAssignHierSpec the two-level one).
  */
final class IvfCentroidTable(
    val coarseN2: Array[Double],
    val coarseCents: Array[Array[Double]],
    // fine cells, group-major: group g owns [groupOffsets(g), groupOffsets(g+1))
    val groupOffsets: Array[Int],
    val fineN2: Array[Double],
    val fineCells: Array[Int],
    val fineCents: Array[Array[Double]],
    val pcoarse: Int) extends Serializable {

  def nlist: Int = fineCells.length
  def ncoarse: Int = coarseCents.length

  override def toString: String =
    s"IvfCentroidTable(nlist=$nlist, ncoarse=$ncoarse, pcoarse=$pcoarse)"

  /** Nearest-cell id for one embedding. Coarse pass over ncoarse group
    * centroids, top-`pcoarse` groups kept (ascending d2, ties to the
    * lower group index — the array_sort struct order), then the fine
    * argmin over the probed groups' members only.
    */
  def assign(emb: ArrayData): Int = {
    val k = ncoarse
    val p = math.min(math.max(1, pcoarse), k)
    // top-p selection by insertion: tiny p, ascending (d2, gi)
    val topD = new Array[Double](p)
    val topG = new Array[Int](p)
    var filled = 0
    var g = 0
    while (g < k) {
      val c = coarseCents(g)
      var dp = 0.0
      var j = 0
      while (j < c.length) { dp += emb.getDouble(j) * c(j); j += 1 }
      val d2 = coarseN2(g) - 2.0 * dp
      // insert (d2, g) if it beats the current worst (gi ascending breaks
      // ties because insertion scans existing entries with strict >)
      var pos = filled
      while (pos > 0 && topD(pos - 1) > d2) pos -= 1
      if (pos < p) {
        val last = math.min(filled, p - 1)
        var m = last
        while (m > pos) { topD(m) = topD(m - 1); topG(m) = topG(m - 1); m -= 1 }
        topD(pos) = d2; topG(pos) = g
        if (filled < p) filled += 1
      }
      g += 1
    }
    var bestD = Double.PositiveInfinity
    var bestCell = Int.MaxValue
    var t = 0
    while (t < filled) {
      val gi = topG(t)
      var f = groupOffsets(gi)
      val end = groupOffsets(gi + 1)
      while (f < end) {
        val c = fineCents(f)
        var dp = 0.0
        var j = 0
        while (j < c.length) { dp += emb.getDouble(j) * c(j); j += 1 }
        val d2 = fineN2(f) - 2.0 * dp
        if (d2 < bestD || (d2 == bestD && fineCells(f) < bestCell)) {
          bestD = d2; bestCell = fineCells(f)
        }
        f += 1
      }
      t += 1
    }
    if (bestCell == Int.MaxValue) {
      // Non-finite embedding: every d2 is NaN, so no comparison above
      // fired (round-14 advice — this used to mint the invalid cell id
      // Int.MaxValue). In the (d2, cell) total order NaN equals NaN, so
      // the tie-break picks the LOWEST probed cell id — under a full
      // sweep, the global minimum cell.
      var t2 = 0
      while (t2 < filled) {
        val gi = topG(t2)
        var f = groupOffsets(gi)
        val end = groupOffsets(gi + 1)
        while (f < end) {
          if (fineCells(f) < bestCell) bestCell = fineCells(f)
          f += 1
        }
        t2 += 1
      }
    }
    bestCell
  }
}

object IvfCentroidTable {

  /** Two-level table from [[graft.operators.SimilarityOps.coarseGroups]]
    * output. |c|² folds ascending on the driver — the shared op order.
    */
  def fromGroups(groups: Array[(Array[Double], Array[(Int, Array[Double])])],
                 pcoarse: Int): IvfCentroidTable = {
    val offsets = groups.scanLeft(0)(_ + _._2.length)
    val fines = groups.flatMap(_._2)
    new IvfCentroidTable(
      groups.map(_._1.map(x => x * x).sum),
      groups.map(_._1),
      offsets,
      fines.map(_._2.map(x => x * x).sum),
      fines.map(_._1),
      fines.map(_._2),
      pcoarse)
  }

  /** Flat table: ONE group holding every cell, pcoarse = 1 — the same
    * eval loop degenerates to the exact flat argmin scan.
    */
  def fromFlat(cents: Array[(Int, Array[Double])]): IvfCentroidTable = {
    val dim = if (cents.isEmpty) 0 else cents.head._2.length
    new IvfCentroidTable(
      Array(0.0), Array(new Array[Double](dim)),
      Array(0, cents.length),
      cents.map(_._2.map(x => x * x).sum),
      cents.map(_._1),
      cents.map(_._2),
      1)
  }
}

/** `graft_ivf_assign` — nearest-centroid cell id for an ARRAY<DOUBLE>
  * embedding against an [[IvfCentroidTable]] carried as a reference
  * object (compact in every plan dump; the data rides the task-binary
  * broadcast). Codegen emits one virtual call into the table's primitive
  * loop, so the projection stays inside whole-stage codegen.
  */
case class IvfAssignCell(child: Expression, table: IvfCentroidTable)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ivf_assign"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckFailure(s"$prettyName needs ARRAY<DOUBLE>, got $t")
  }

  override def nullSafeEval(emb: Any): Any =
    table.assign(emb.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfTable", table,
      classOf[IvfCentroidTable].getName)
    nullSafeCodeGen(ctx, ev, emb => s"${ev.value} = $ref.assign($emb);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
