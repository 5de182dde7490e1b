package graft

import graft.core.Tables
import graft.functions.VectorFunctions.{signBucket, toDoubleArr}
import graft.operators.{DedupOps, SimilarityOps}
import graft.tools.GenScale
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling pins (round-6 verdict item 8): candidate-pair counts — the
  * quantity the skew/scale guards actually bound — measured at 1×
  * (sf0.01) and a 3× GenScale replica, asserting per-family growth stays
  * near-linear. Counting candidates instead of timing wall seconds keeps
  * the spec deterministic and CI-fast while still catching the next
  * quadratic blocker before the bench does: the deliberately unguarded
  * shapes below (fixed LSH bits — the round-6 `ann_knn_join` defect —
  * and raw prefix blocking — the round-6 `dedup_edit_distance` defect)
  * FAIL the same bound the guarded operators meet.
  */
object ScalingSpec {
  /** Opt-in decade-scale legs (SPARK_GRAFT_SLOW=1): too slow for every
    * CI pass, run per-round alongside the bench legs. */
  object SlowScale extends org.scalatest.Tag("graft.SlowScale")
}

class ScalingSpec extends SparkTestBase {

  /** 3× data: linear growth ≈ 3, quadratic = 9. */
  private val growthBound = 5.0

  private lazy val t1 = Tables(spark, "/root/testdata/sf0.01")

  private lazy val t3: Tables = {
    val dir = Tables.scratchDir("graft_scale3_")
    GenScale.replicateDocuments(t1.documents, 3)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    GenScale.replicateEmbeddings(t1.embeddings, 3)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Tables(spark, dir)
  }

  /** Σ c·(c−1)/2 over the group sizes of `key` — the self-join candidate
    * count a blocking scheme produces.
    */
  private def selfJoinPairs(df: DataFrame, key: String): Long =
    df.groupBy(key).count()
      .agg(coalesce(sum(col("count") * (col("count") - 1) / 2), lit(0.0)))
      .head().getDouble(0).toLong

  private def ratio(one: Long, three: Long): Double =
    three.toDouble / math.max(one, 1L).toDouble

  test("minhash banding candidates grow near-linearly at 3× data") {
    val c1 = selfJoinPairs(DedupOps.bandedDocs(t1.documents), "band")
    val c3 = selfJoinPairs(DedupOps.bandedDocs(t3.documents), "band")
    assert(c1 > 0, "1× corpus produced no banding candidates — vacuous")
    assert(ratio(c1, c3) <= growthBound,
      s"minhash banding candidates grew ${ratio(c1, c3)}× on 3× data ($c1 -> $c3)")
  }

  test("minhash candidate PAIRS stay near-linear at 10× data (slow leg; " +
      "set SPARK_GRAFT_SLOW=1)", ScalingSpec.SlowScale) {
    // round-10 verdict item 7: the 3× band-key bound above is CI-cheap,
    // but the hot-band guard matters a decade up — this leg counts the
    // actual post-guard candidate pairs (the quantity minhashDupPairs
    // verifies Jaccard over) on a 10× replica, the same corpus shape as
    // the sf0.1 bench fixture. Gated behind an env opt-in: ~40 s of
    // banding+self-join is too slow for every CI pass. Linear = 10,
    // quadratic = 100; the bound splits them at 20 (replicas introduce
    // cross-copy shingle collisions, so slightly super-10 is organic).
    assume(sys.env.contains("SPARK_GRAFT_SLOW"),
      "10x scaling leg runs only with SPARK_GRAFT_SLOW=1")
    val t10: Tables = {
      val dir = Tables.scratchDir("graft_scale10_")
      GenScale.replicateDocuments(t1.documents, 10)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      Tables(spark, dir)
    }
    val c1 = DedupOps.minhashCandidatePairs(t1).count()
    val c10 = DedupOps.minhashCandidatePairs(t10).count()
    assert(c1 > 0, "1× corpus produced no candidate pairs — vacuous")
    info(f"candidate pairs $c1 -> $c10 (${ratio(c1, c10)}%.1fx on 10x docs)")
    assert(ratio(c1, c10) <= 20.0,
      s"minhash candidate pairs grew ${ratio(c1, c10)}× on 10× data ($c1 -> $c10)")
  }

  test("guarded edit-distance candidates grow near-linearly at 3× data") {
    val c1 = DedupOps.editDistanceCandidates(t1).count()
    val c3 = DedupOps.editDistanceCandidates(t3).count()
    assert(ratio(c1, c3) <= growthBound,
      s"edit-distance candidates grew ${ratio(c1, c3)}× on 3× data ($c1 -> $c3)")
  }

  test("unguarded prefix blocking fails the growth bound; the maxBlock valve caps it") {
    // adversarial boilerplate corpus: every doc shares one 16-char prefix
    // and one length band — 400 docs at 1×, 1200 at 3×
    import spark.implicits._
    def hotTables(n: Int): Tables = {
      val dir = Tables.scratchDir("graft_scale_hot_")
      (0L until n.toLong)
        .map(i => (i, f"LICENSE_HEADER_A standard preamble $i%06d", "en", "s0", 40L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      Tables(spark, dir)
    }
    val (h1, h3) = (hotTables(400), hotTables(1200))
    def unguarded(t: Tables): Long =
      selfJoinPairs(t.documents.select(substring(col("text"), 1, 16).as("blk")), "blk")
    val (u1, u3) = (unguarded(h1), unguarded(h3))
    assert(ratio(u1, u3) > growthBound,
      s"negative control broken: unguarded prefix blocking grew only ${ratio(u1, u3)}× " +
        s"($u1 -> $u3) — the spec would not catch a quadratic blocker")
    // the shipped guard: 400 docs sit under the default 1000-doc cell cap
    // (exact semantics), 1200 exceed it and the cell SUB-SPLITS by content
    // hash — every doc still participates but pairs form only within a
    // sub-cell, collapsing the quadratic bucket by ~the 256 sub-cells
    val g1 = DedupOps.editDistanceCandidates(h1).count()
    val g3 = DedupOps.editDistanceCandidates(h3).count()
    assert(g1 == u1, "below the cap the guard must not drop candidates")
    assert(g3 > 0, "sub-split hot cell must keep its docs participating")
    assert(g3 < u3 / 50,
      s"sub-split failed to collapse the quadratic bucket: $g3 vs unguarded $u3")
    // and the degraded-mode meter reports exactly the one hot cell
    val stats = DedupOps.editDistanceHotCellStats(h3).head()
    assert(stats.getLong(0) == 1 && stats.getLong(1) == 1200,
      s"hot-cell meter wrong: $stats")
  }

  test("rare-shingle candidates (jaccard/containment family) grow near-linearly at 3× data") {
    // threshold 0 keeps every candidate pair the shared blocking stage
    // emits — the quantity the maxDf guard bounds
    val c1 = DedupOps.ngramContainmentPairs(t1, 0.0).count()
    val c3 = DedupOps.ngramContainmentPairs(t3, 0.0).count()
    assert(c1 > 0, "1× corpus produced no shingle candidates — vacuous")
    assert(ratio(c1, c3) <= growthBound,
      s"shingle candidates grew ${ratio(c1, c3)}× on 3× data ($c1 -> $c3)")
  }

  test("embedding replication is collision-free to 2·dim and rejects past it") {
    // the sf10 leg replicates 100× from sf0.1 (dim 64) in ONE run: copies
    // dim..2·dim−1 reuse the rotations sign-flipped, so every (rotation,
    // sign) pair stays distinct — norms exact, flipped twin at cosine −1
    import spark.implicits._
    val base = Seq((0L, Seq(1.0f, 2.0f, 3.0f, 4.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val k = 8 // = 2·dim for this 4-dim fixture
    val vecs = GenScale.replicateEmbeddings(base, k)
      .orderBy("vec_id").collect().map(_.getSeq[Float](1).toList)
    assert(vecs.length == k && vecs.distinct.size == k,
      "two copies collided into exact duplicate vectors")
    val norm0 = math.sqrt(vecs.head.map(x => x * x.toDouble).sum)
    vecs.foreach(v => assert(
      math.abs(math.sqrt(v.map(x => x * x.toDouble).sum) - norm0) < 1e-6,
      s"norm not preserved for $v"))
    // copy 5 is copy 1's flipped twin (both rotation 1): cosine exactly −1
    val cos = vecs(1).zip(vecs(5)).map { case (a, b) => a * b.toDouble }.sum /
      (norm0 * norm0)
    assert(math.abs(cos + 1.0) < 1e-6, s"flipped twin cosine was $cos, not -1")
    intercept[IllegalArgumentException](GenScale.replicateEmbeddings(base, k + 1))
  }

  test("adaptive knn buckets grow near-linearly; fixed bits fail the bound") {
    def bucketPairs(t: Tables, bits: Int): Long =
      selfJoinPairs(
        t.embeddings.select(
          signBucket(toDoubleArr(col("embedding")), bits).as("b")), "b")
    val n1 = t1.embeddings.count()
    val n3 = t3.embeddings.count()
    val adaptive1 = bucketPairs(t1, SimilarityOps.adaptiveSignBits(n1))
    val adaptive3 = bucketPairs(t3, SimilarityOps.adaptiveSignBits(n3))
    assert(ratio(adaptive1, adaptive3) <= growthBound,
      s"adaptive knn candidates grew ${ratio(adaptive1, adaptive3)}× on 3× data " +
        s"($adaptive1 -> $adaptive3)")
    // the round-6 defect, reproduced as the negative control: freezing the
    // bit count at the 1× choice makes the same corpus quadratic
    val fixed3 = bucketPairs(t3, SimilarityOps.adaptiveSignBits(n1))
    assert(ratio(adaptive1, fixed3) > growthBound,
      s"negative control broken: fixed-bits knn grew only ${ratio(adaptive1, fixed3)}× " +
        s"($adaptive1 -> $fixed3) — the spec would not catch a frozen bucket count")
  }

  test("co-activity cap holds its absolute pair ceiling at 6× users; uncapped goes quadratic") {
    import graft.operators.GraphOps
    val ev1 = t1.events
    val uk = ev1.agg(max(col("user_id"))).head().getLong(0) + 1
    // 6 user-shifted copies in the SAME time buckets — the hot-bucket
    // skew shape (one popular hour × event_type drawing ever more users)
    val ev6 = (0 until 6).map(i =>
      ev1.withColumn("user_id", col("user_id") + i * uk))
      .reduce(_.unionByName(_))
    val capped1 = GraphOps.coActivityEdgesOf(ev1, 10).count()
    val capped6 = GraphOps.coActivityEdgesOf(ev6, 10).count()
    val un1 = GraphOps.coActivityEdgesOf(ev1, Int.MaxValue).count()
    val un6 = GraphOps.coActivityEdgesOf(ev6, Int.MaxValue).count()
    val buckets = ev6.select(
      date_trunc("hour", col("ts")), col("event_type")).distinct().count()
    // the guarantee the operator ships: C(cap,2)·buckets, regardless of skew
    assert(capped6 <= buckets * 45,
      s"capped edges $capped6 exceed the C(10,2)×$buckets ceiling")
    // the cap genuinely binds at this occupancy, and the uncapped join is
    // the quadratic blow-up the ceiling exists to prevent
    assert(un6 > capped6 * 2,
      s"cap never engaged: uncapped $un6 vs capped $capped6")
    assert(ratio(un1, un6) > ratio(capped1, capped6),
      s"uncapped growth ${ratio(un1, un6)}× should outpace capped ${ratio(capped1, capped6)}×")
  }
}
