package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Routed-ingest recall floors (round-16 verdict item 3): the production
  * two-level assignment's recall cost on UNSTRUCTURED centroids, gated.
  * Pinned here beyond the gate itself:
  *
  *  - the index the gate probes really was built by the ROUTED regime
  *    (nlist = 4096 = the hier threshold) and conserved every vector;
  *  - the gate's curve meets its stated floors and closes exact;
  *  - the synthetic centroid table is deterministic (no RNG state) —
  *    two derivations are bit-identical — and the table the index writes
  *    on the executors is that derivation, row for row.
  */
class RoutedRecallProbeSpec extends SparkTestBase {

  test("isotropic centroid table is deterministic and in range") {
    val a = SimilarityOps.isotropicCentroids(128, 8)
    val b = SimilarityOps.isotropicCentroids(128, 8)
    assert(a.map(_._1).toSeq == b.map(_._1).toSeq)
    assert(a.zip(b).forall { case ((_, x), (_, y)) => x.sameElements(y) })
    assert(a.flatMap(_._2).forall(v => v >= -1.0 && v < 1.0))
    // unstructured: no two centroids collapse to the same point
    assert(a.map(_._2.toSeq).distinct.length == 128)
  }

  test("the routed index's centroid table is isotropicCentroids row for row") {
    val path = SimilarityOps.routedIngestIndexFor(t, 4096)
    val dim = t.embeddings.select(size(col("embedding"))).head().getInt(0)
    val written = spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    val expected = SimilarityOps.isotropicCentroids(4096, dim)
    assert(written.map(_._1).toSeq == expected.map(_._1).toSeq)
    assert(written.zip(expected).forall { case ((_, w), (_, e)) => w == e.toSeq })
  }

  test("routed index conserves every fixture vector with unique ids") {
    val path = SimilarityOps.routedIngestIndexFor(t, 4096)
    val vecs = spark.read.parquet(s"$path/vectors")
    val counts = vecs.agg(count(lit(1)), countDistinct(col("vec_id"))).head()
    assert(counts.getLong(0) == t.embeddings.count())
    assert(counts.getLong(0) == counts.getLong(1))
    // the ingest ran ABOVE the flat regime: cells span the 4096-cell
    // space, not the gated 16-cell one
    val maxCell = vecs.agg(max(col("cell"))).head().getInt(0)
    assert(maxCell >= 16, s"cells look flat-regime-sized: max=$maxCell")
  }

  test("gate curve meets the stated floors and closes exact at the full sweep") {
    val rows = SimilarityOps.ivfRecallRoutedGate(t).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(16, 64, 256, 4096))
    rows.foreach { r =>
      assert(r.getLong(1) == 10L, s"probe width ${r.getInt(0)} returned ${r.getLong(1)}")
      assert(r.getBoolean(2), s"scores not exact at nprobe ${r.getInt(0)}")
      assert(r.getBoolean(3), s"recall not monotone at nprobe ${r.getInt(0)}")
      assert(r.getBoolean(4), s"floor missed at nprobe ${r.getInt(0)}")
    }
  }
}
