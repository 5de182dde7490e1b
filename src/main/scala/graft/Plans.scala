package graft

import graft.core.Tables

/** Plan-inspection main: prints `explain("formatted")` for a representative
  * query per operator family — the artifact behind PLANS.md. Usage:
  * `sbt 'runMain graft.Plans [sfDir]'`.
  */
object Plans {
  /** The representative query per operator family — shared by the main
    * (which prints the full formatted explains into PLANS.md) and
    * PlanLintSpec's drift check (which re-derives each plan's node
    * signature and compares it against the committed file, so a plan
    * change can't land without regenerating PLANS.md).
    */
  def picks(t: Tables): Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "q1_group_count_avg (scan pruning + partial/final agg)" ->
        operators.CoreQueries.q1GroupCountAvg(t),
      "filter_range (predicate pushdown to parquet)" ->
        operators.CoreQueries.filterRange(t),
      "topk_orders (TakeOrderedAndProject)" ->
        operators.CoreQueries.topKOrders(t),
      "join_customers_per_region (broadcast dim joins)" ->
        operators.JoinOps.customersPerRegion(t),
      "events_asof_purchase (window asof, no range join)" ->
        operators.EventOps.nextPurchaseAsof(t),
      "dedup_minhash (shared band exchange)" ->
        operators.DedupOps.minhashDupPairs(t, 0.3),
      "ann_brute_force (codegen'd graft_dot/graft_l2norm)" ->
        operators.SimilarityOps.bruteForceTopK(t, 0L, 10),
      "dedup_simhash (64 sign-sum aggs, shared band exchange)" ->
        operators.DedupOps.simhashDupPairs(t, 6),
      "text_top_tokens (word count: partial agg + TakeOrderedAndProject)" ->
        operators.TextOps.topTokens(t),
      "dedup_incremental tier 2 (codegen bloom probe, no UDF)" ->
        operators.DedupOps.incrementalDedup(t, "src0", maxBroadcastDigests = 0L),
      "dedup_decontaminate (broadcast eval shingles, hashed-long exchanges)" ->
        operators.DedupOps.decontaminate(t, "src15"),
      "ann_ivf (build-once index, partition-pruned probe)" ->
        operators.SimilarityOps.ivfTopK(t, 0L, 10, 16, 4),
      "text_repetition_stats (per-row bigram math + hashed dominance agg)" ->
        operators.TextOps.repetitionStats(t),
      "dedup_substring_spans (pruned df recompute + semi probe, per-doc span window)" ->
        operators.DedupOps.duplicateSpans(t.documents),
      "events_asof_prev (backward asof: same single-shuffle scan, running max)" ->
        operators.EventOps.prevPurchaseAsof(t),
      "ann_knn_join (adaptive-bits bucket-keyed self-join + per-vector window, no cartesian)" ->
        operators.SimilarityOps.knnJoinLsh(t, 3),
      "window_range_frame (value-based RANGE frame, one hash shuffle)" ->
        operators.WindowOps.rollingSpend30d(t),
      "events_gap_fill (tiny generated spine joined to pre-agg counts)" ->
        operators.EventOps.gapFillHourly(t),
      "dedup_edit_distance ((prefix, length-band) block equi-join + df guard + thresholded levenshtein)" ->
        operators.DedupOps.editDistancePairs(t),
      "events_interval_join (bucket-explode equi-join, no BNLJ from the range predicate)" ->
        operators.EventOps.intervalJoinBusyWindows(t),
      "sketch_kmv_distinct (custom TypedImperativeAggregate, partial + final ObjectHashAggregate)" ->
        operators.CoreQueries.sketchKmvDistinct(t),
      "sample_weighted (priority projection + TakeOrderedAndProject, corpus never shuffles)" ->
        operators.PackingOps.weightedSample(t),
      "sample_weighted_tau (sketch-tau filter + survivor re-rank, zero exchanges)" ->
        operators.PackingOps.weightedSampleTau(t),
      "layout_zorder (1-row bounds broadcast + codegen graft_zorder projection)" ->
        operators.LayoutOps.zorderIndex(t),
      "ann_quantized (codegen q8 pack + integer dot, TakeOrderedAndProject)" ->
        operators.SimilarityOps.quantizedTopK(t, 0L, 10),
      "ann_knn_join_q8 (bucket exchange carries 64-byte codes, not fp64 arrays)" ->
        operators.SimilarityOps.knnJoinQ8(t, 3),
      "agg_incremental_rollup (delta-only refresh: no exchange carries corpus text)" ->
        operators.SnapshotOps.incrementalRollupGate(t),
      "sketch_kmv_merge (per-shard WindowGroupLimit + 1-row merged-estimate broadcast)" ->
        operators.CoreQueries.sketchKmvMerge(t),
      "text_bm25_topk (query-filtered explode, broadcast df/stats, TakeOrderedAndProject)" ->
        operators.TextOps.bm25TopK(t),
      "events_funnel (single user exchange, array-expression step times, no per-step self-joins)" ->
        operators.EventOps.funnelCounts(t),
      "dq_constraint_report (one agg pass per table + anti-join orphan counts, 1-row broadcasts)" ->
        operators.DataQualityOps.constraintReport(t),
      "profile_join_size_cms (two sketch aggs joined on (row,bucket), the join never runs)" ->
        operators.ProfileOps.cmsJoinSizeGate(t),
      "sample_hash_stratified (WindowGroupLimit partial top-k per stratum)" ->
        operators.CoreQueries.hashStratifiedSample(t),
      "graph_triangle_stats (checkpointed capped edges, degree-oriented wedge join)" ->
        operators.GraphOps.triangleStats(t),
      "replica_antientropy_diff (partial+final digest aggs, O(buckets)-row full outer)" ->
        operators.SnapshotOps.antiEntropyGate(t),
      "partition_spec_pruned (per-spec scans: year dirs pruned in both, month dirs in spec2)" ->
        sources.PartitionedParquet.specPrunedCounts(t),
      "ivf_assign_cells (flat graft_ivf_assign reference-object table at nlist 256, join-free single Project)" ->
        ivfAssignFlatPick(t),
      "ivf_assign_cells_hier (two-level reference-object table: coarse top-p + pruned fine argmin in one codegen call, join-free)" ->
        ivfAssignHierPick(t))

  /** 256 deterministic synthetic centroids (KMeans at k=256 needs more
    * vectors than the plan fixture holds, and the picks document the
    * ASSIGNMENT plans, not the quantizer fit) written to a fresh index
    * dir, and the embeddings as `(vec_id, label, emb)`.
    */
  private def syntheticIvf(t: Tables): (String, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.col
    val spark = t.spark
    import spark.implicits._
    val dir = Tables.scratchDir("graft_plans_ivf_")
    (0 until 256).map(c => (c, (0 until 64).map(j => math.sin(c * 31 + j * 7) * 10.0)))
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    (dir, t.embeddings.select(col("vec_id"), col("label"),
      graft.functions.VectorFunctions.toDoubleArr(col("embedding")).as("emb")))
  }

  /** The flat assignment plan: the production
    * [[operators.SimilarityOps.ivfAssignCells]] call over [[syntheticIvf]].
    */
  private def ivfAssignFlatPick(t: Tables): org.apache.spark.sql.DataFrame = {
    val (dir, emb) = syntheticIvf(t)
    operators.SimilarityOps.ivfAssignCells(t.spark, dir, emb)
  }

  /** The two-level assignment plan over the same synthetic 256-cell
    * table: coarse top-p selection, then the pruned fine argmin — one
    * codegen call into the reference-object table, join-free.
    */
  private def ivfAssignHierPick(t: Tables): org.apache.spark.sql.DataFrame = {
    val (dir, emb) = syntheticIvf(t)
    operators.SimilarityOps.ivfAssignCellsHier(t.spark, dir, emb, 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = core.LocalSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t = Tables(spark, sfDir)

    picks(t).foreach { case (label, df) =>
      println(s"\n===== $label =====")
      df.explain("formatted")
    }
    spark.stop()
  }
}
