package graft.operators

import graft.core.{GenerationCache, Tables}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.DataFrame
import graft.functions.NumericFunctions.{decAvg, roundN}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (array<float>, 64-dim).
  *
  *  - Brute force: broadcast the query vector, score every row, global
  *    top-k via sort+limit (TakeOrderedAndProject — only k rows per
  *    partition reach the driver). Exact; O(n·d) — the correctness
  *    baseline.
  *  - Sign-LSH: bucket vectors by sign bits of leading dimensions; a query
  *    probes only its own bucket (expected n/2^bits candidates). The scale
  *    path: bucket assignment is a projection, the probe is a pushed-down
  *    equality filter on a (in production: partition) column.
  *  - Near-dup pairs: same buckets, intra-bucket self-join, cosine ≥ τ.
  *
  * All vector math in double precision (see VectorFunctions).
  */
object SimilarityOps {

  private def withQuery(t: Tables, queryId: Long): DataFrame = {
    val q = t.embeddings
      .filter(col("vec_id") === queryId)
      .select(toDoubleArr(col("embedding")).as("q_emb"))
    t.embeddings
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"), toDoubleArr(col("embedding")).as("emb"))
      .crossJoin(broadcast(q))
  }

  /** Exact top-k cosine neighbors of `queryId`. */
  def bruteForceTopK(t: Tables, queryId: Long = 0L, k: Int = 10): DataFrame =
    withQuery(t, queryId)
      .withColumn("cos_sim", roundN(cosine(col("emb"), col("q_emb")), 6))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)
      .select("vec_id", "label", "cos_sim")

  /** Matryoshka-style truncated-dimension retrieval (round 12): top-k by
    * cosine over only the FIRST `dims` of the `dim`-wide embeddings —
    * the MRL serving trick (Kusupati et al. 2022): a prefix of a
    * matryoshka-trained embedding is itself a usable embedding, so the
    * first-stage scan reads `dims/dim` of the vector bytes (8/64 here =
    * 8× less I/O and dot-product work per candidate) and the full vector
    * is touched only for rerank. Each hit also reports whether it
    * appears in the FULL-dimension top-k — the recall-vs-cost readout a
    * deployment tunes `dims` by. Fully hash-gated: truncation is a
    * `slice`, the cosine/rounding idiom is [[bruteForceTopK]]'s, and the
    * membership flag is a subquery the oracle restates.
    */
  def truncatedDimsTopK(t: Tables, queryId: Long = 0L, k: Int = 10,
                        dims: Int = 8): DataFrame = {
    val full = bruteForceTopK(t, queryId, k)
      .select(col("vec_id"), lit(true).as("in_full"))
    withQuery(t, queryId)
      .withColumn("cos_trunc", roundN(
        cosine(slice(col("emb"), 1, dims), slice(col("q_emb"), 1, dims)), 6))
      .orderBy(desc("cos_trunc"), asc("vec_id"))
      .limit(k)
      .join(broadcast(full), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("cos_trunc"),
        coalesce(col("in_full"), lit(false)).as("in_full_topk"))
      .orderBy(desc("cos_trunc"), asc("vec_id"))
  }

  /** ANN via sign-bit LSH: probe the query's bucket only, exact cosine
    * rerank inside it.
    */
  def lshTopK(t: Tables, queryId: Long = 0L, k: Int = 5, bits: Int = 6): DataFrame =
    withQuery(t, queryId)
      .withColumn("bucket", signBucket(col("emb"), bits))
      .withColumn("q_bucket", signBucket(col("q_emb"), bits))
      .filter(col("bucket") === col("q_bucket"))
      .withColumn("cos_sim", roundN(cosine(col("emb"), col("q_emb")), 6))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)
      .select("vec_id", "label", "cos_sim")

  /** IVF-style ANN, split into the two phases a real deployment has
    * (round-4 verdict item 4 — the old `ivfTopK` refit the quantizer on
    * every call, charging 100 queries 100 KMeans fits):
    *
    *  - [[buildIvfIndex]] — ONCE: fit the seeded KMeans coarse quantizer,
    *    assign each vector to its cell, and PERSIST the index as parquet
    *    partitioned by `cell` (one directory per cell) plus an O(nlist)
    *    centroids table.
    *  - [[probeIvf]] — per query: read the centroids, pick the nprobe
    *    nearest cells on the driver, and scan ONLY those cells — the cell
    *    predicate is a `PartitionFilter`, so pruning happens at planning
    *    time against the directory listing (plan-asserted in the spec,
    *    like `partitioned_roundtrip`); exact cosine reranks inside.
    *
    * At 100 TB a probe therefore reads nprobe/nlist of the data; recall is
    * tunable via nprobe. Seeded ⇒ deterministic cells, but KMeans
    * initialization is engine-specific ⇒ rows-only in the oracle gate,
    * recall-tested against brute force in the spec.
    */
  def buildIvfIndex(t: Tables, path: String, nlist: Int = 16): Unit =
    buildIvfIndexOf(
      t.embeddings
        .select(col("vec_id"), col("label"), toDoubleArr(col("embedding")).as("emb")),
      t.spark, path, nlist)

  /** [[buildIvfIndex]] over an explicit (vec_id, label, emb) frame — the
    * seam [[ivfAppendGate]] uses to build on a subset before appending
    * the remainder.
    */
  def buildIvfIndexOf(emb: DataFrame, spark: org.apache.spark.sql.SparkSession,
                      path: String, nlist: Int = 16): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import spark.implicits._
    val e = emb.withColumn("features", array_to_vector(col("emb")))
    val model = new KMeans().setK(nlist).setSeed(42)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(e)
    model.transform(e)
      .select(col("vec_id"), col("label"), col("emb"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/vectors")
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Probe a persisted IVF index: nprobe nearest cells by centroid
    * distance (O(nlist) driver work), partition-pruned scan of those
    * cells, exact cosine rerank, top-k. `excludeId` drops the query row
    * itself when the query vector came from the corpus.
    */
  def probeIvf(spark: org.apache.spark.sql.SparkSession, path: String,
               qEmb: Array[Double], k: Int = 10, nprobe: Int = 4,
               excludeId: Long = -1L): DataFrame = {
    import spark.implicits._
    val probeCells = spark.read.parquet(s"$path/centroids")
      .collect()
      .map { r =>
        val arr = r.getSeq[Double](1)
        var d = 0.0; var j = 0
        while (j < arr.length) { d += (arr(j) - qEmb(j)) * (arr(j) - qEmb(j)); j += 1 }
        (r.getInt(0), d)
      }
      .sortBy(_._2).take(nprobe).map(_._1)
    val q = Seq(Tuple1(qEmb)).toDF("q_emb")
    spark.read.parquet(s"$path/vectors")
      .filter(col("cell").isin(probeCells.toSeq: _*) && col("vec_id") =!= excludeId)
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", roundN(cosine(col("emb"), col("q_emb")), 6))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)
      .select("vec_id", "label", "cos_sim")
  }

  /** One persisted index per (embeddings dir, generation, nlist) — the
    * gate entry point: builds on first use, every later call is
    * probe-only (Bench's min-of-2 and repeated queries reuse the same
    * index).
    */
  private val ivfIndexDirs =
    GenerationCache.dirs[Int]("embeddings.parquet", "graft_ivf_")
  private def ivfIndexFor(t: Tables, nlist: Int): String =
    ivfIndexDirs(t.dir, nlist)(buildIvfIndex(t, _, nlist))

  def ivfTopK(t: Tables, queryId: Long = 0L, k: Int = 10,
              nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val path = ivfIndexFor(t, nlist)
    // the query vector comes from the source table by key — a point
    // lookup; a missing queryId yields an empty result like the sibling
    // variants, not a driver exception
    val qRows = t.embeddings.filter(col("vec_id") === queryId)
      .select(toDoubleArr(col("embedding"))).take(1)
    if (qRows.isEmpty) {
      return t.spark.read.parquet(s"$path/vectors").filter(lit(false))
        .withColumn("cos_sim", lit(0.0))
        .select("vec_id", "label", "cos_sim")
    }
    probeIvf(t.spark, path, qRows(0).getSeq[Double](0).toArray, k, nprobe, queryId)
  }

  /** Nearest-centroid cell assignment for a (vec_id, label, emb) batch
    * against a persisted index's centroids — the compute half of
    * [[appendToIvfIndex]]. Per vector, cell = argmin over nlist of
    * (|c|² − 2·v·c) — the squared-L2 argmin with the |v|² term dropped
    * (constant across cells, so the argmin and its lowest-cell-id
    * tie-break are unchanged).
    *
    * One execution shape at every nlist: the centroid table rides the
    * codegen `graft_ivf_assign` expression ([[graft.plans.IvfCentroidTable]])
    * as a REFERENCE OBJECT — one narrow Project, no join, ZERO shuffle of
    * the batch, plan size O(1) in nlist, the bytes shipped once per stage
    * in the task-binary broadcast. (Inlining the centroids as literals
    * builds an O(nlist·dim) expression tree that fails janino compilation
    * at 256 cells × 64 dims; a broadcast one-row join read by higher-order
    * functions was measured bound by the codegen-boundary `UnsafeRow.copy`
    * of the O(nlist·dim) arrays per VECTOR — the IvfCentroidTable scaladoc
    * carries the post-mortem.)
    *
    * Arithmetic: |c|² is a driver-side left fold in array order, the dot
    * the same ascending fold as `graft_dot`, and the winner the (d2, cell)
    * total order — lowest d2, NaN after every number, ties to the lowest
    * cell id. `IvfAssignPathSpec` pins it against a driver-side argmin.
    */
  def ivfAssignCells(spark: org.apache.spark.sql.SparkSession, path: String,
                     batch: DataFrame): DataFrame =
    assignWith(graft.plans.IvfCentroidTable.fromFlat(readCentroids(spark, path)),
      batch)

  /** The persisted O(nlist) centroid table, sorted by cell id — the one
    * read behind every assignment table.
    */
  private def readCentroids(spark: org.apache.spark.sql.SparkSession,
                            path: String): Array[(Int, Array[Double])] =
    spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)

  /** The one assignment projection: (vec_id, label, emb) plus
    * `graft_ivf_assign(emb)` against `table` as `cell`. The expression
    * carries the table as a reference object, so it can't go through the
    * SQL function registry (no literal encodes it without bloating every
    * plan dump).
    */
  private def assignWith(table: graft.plans.IvfCentroidTable,
                         batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    batch.select(col("vec_id"), col("label"), col("emb"),
      ColumnBridge.column(graft.plans.IvfAssignCell(
        ColumnBridge.expression(col("emb")), table)).as("cell"))
  }

  /** The two-level table over `cents`: ⌈√nlist⌉ coarse groups from
    * [[coarseGroups]], `pcoarse` of them probed per vector (clamped to
    * [1, #groups], so the plan summary states the probe width that runs).
    */
  private def twoLevelTable(cents: Array[(Int, Array[Double])],
                            pcoarse: Int): graft.plans.IvfCentroidTable = {
    val groups = coarseGroups(cents,
      math.ceil(math.sqrt(cents.length.toDouble)).toInt)
    graft.plans.IvfCentroidTable.fromGroups(groups,
      math.min(math.max(1, pcoarse), groups.length))
  }

  /** Two-level (coarse-quantized) nearest-centroid assignment — the rung
    * ABOVE [[ivfAssignCells]] on the nlist axis (round 14; BENCH.md's
    * round-13 note deferred it as "the next rung at 64k cells"). Flat
    * assignment is O(nlist·dim) per vector — measured 29 s for a
    * 200k-vector batch at nlist = 4096 on this host — and a 100 TB corpus
    * wants nlist in the tens of thousands, where the flat scan dominates
    * every rebuild and ingest batch. The standard fix (the IMI/two-level
    * coarse-quantizer family, Jégou et al., "Product quantization for
    * nearest neighbor search", TPAMI 2011 §V) quantizes the CENTROIDS:
    * cluster the nlist fine centroids into ncoarse = ⌈√nlist⌉ groups once
    * per index — driver-side, over the same O(nlist·dim) centroid table
    * [[probeIvf]] already reads — then per vector score the ncoarse group
    * centroids, keep the `pcoarse` nearest groups, and argmin only their
    * fine members: O((ncoarse + pcoarse·nlist/ncoarse)·dim) ≈
    * O(2·√nlist·dim) per vector at small pcoarse — a ~32× op cut at
    * nlist = 4096.
    *
    * Execution shape is [[ivfAssignCells]]' verbatim: the two-level table
    * rides the same `graft_ivf_assign` projection.
    *
    * Exactness contract (IvfAssignHierSpec + the ann_ivf_assign_hier
    * gate):
    *  - pcoarse ≥ #groups ⇒ BIT-identical to flat [[ivfAssignCells]]:
    *    every fine cell is scanned, each d2 = |c|² − 2·v·c uses the same
    *    left-fold |c|² and the same ascending-fold dot, and the winner is
    *    the same (d2, cell) total order. A theorem, not a tolerance —
    *    min over a fixed set is partition-order-invariant.
    *  - pcoarse < #groups trades exactness for the op cut exactly the way
    *    an IVF probe does: a vector whose argmin cell hides in an
    *    unprobed group lands in its best PROBED cell instead. The gate
    *    floors the observed agreement; the index stays correct either way
    *    (a probe reranks exactly within whichever cell holds the vector).
    */
  def ivfAssignCellsHier(spark: org.apache.spark.sql.SparkSession,
                         path: String, batch: DataFrame,
                         pcoarse: Int = 2): DataFrame =
    assignWith(twoLevelTable(readCentroids(spark, path), pcoarse), batch)

  /** Deterministic driver-side Lloyd clustering of the fine centroids
    * into `nGroups` groups — the once-per-index coarse quantizer behind
    * every two-level table ([[twoLevelTable]]). Deterministic by
    * construction (evenly-spaced init in cell-id order, fixed iteration
    * count, ties to the lowest group), so repeated builds over the same
    * centroid table group identically on any host. Empty groups are
    * dropped; the surviving groups always PARTITION the cell set, which
    * is what the pcoarse ≥ #groups identity theorem rests on.
    */
  private[operators] def coarseGroups(cents: Array[(Int, Array[Double])],
                                      nGroups: Int, iters: Int = 10)
      : Array[(Array[Double], Array[(Int, Array[Double])])] = {
    val k = math.min(math.max(1, nGroups), cents.length)
    val dim = cents.head._2.length
    var means = Array.tabulate(k)(i =>
      cents((i.toLong * cents.length / k).toInt)._2.clone())
    val assign = new Array[Int](cents.length)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < cents.length) {
        var best = 0; var bestD = Double.MaxValue; var g = 0
        while (g < k) {
          var d = 0.0; var j = 0
          while (j < dim) {
            val t = cents(i)._2(j) - means(g)(j); d += t * t; j += 1
          }
          if (d < bestD) { bestD = d; best = g }
          g += 1
        }
        assign(i) = best; i += 1
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnt = new Array[Int](k)
      i = 0
      while (i < cents.length) {
        val g = assign(i); cnt(g) += 1
        var j = 0
        while (j < dim) { sums(g)(j) += cents(i)._2(j); j += 1 }
        i += 1
      }
      means = Array.tabulate(k)(g =>
        if (cnt(g) == 0) means(g) else sums(g).map(_ / cnt(g)))
      it += 1
    }
    (0 until k).iterator
      .map(g => (means(g),
        cents.indices.filter(assign(_) == g).map(cents(_)).toArray))
      .filter(_._2.nonEmpty)
      .toArray
  }

  /** Index size at which ingest switches to the two-level table. */
  private val ingestHierCells = 4096

  /** Coarse groups probed per vector by the two-level ingest table. */
  private val ingestPcoarse = 4

  /** Ingest-time cell assignment ROUTED by index size — the production
    * entry point behind [[appendToIvfIndex]] and the streaming ingest
    * (round-14 verdict item 1: those paths called flat [[ivfAssignCells]]
    * unconditionally, paying O(nlist·dim)/vector — 11.2 s/200k vectors at
    * nlist = 16384 — where the two-level scan does it in ~1.4 s). Both
    * tables ride the one `graft_ivf_assign` projection; only the table
    * differs:
    *
    *  - nlist < 4096: the flat table, EXACT argmin — the gated regime
    *    (nlist = 16), where [[ivfAppendGate]]'s `appended_nearest`
    *    verdict holds by construction.
    *  - nlist ≥ 4096: the two-level [[ivfAssignCellsHier]] table at
    *    pcoarse = 4 probed groups — O(2·√nlist·dim)/vector instead of
    *    O(nlist·dim). This is the standard IVF ingest approximation: a
    *    vector whose argmin cell hides in an unprobed coarse group lands
    *    in its best PROBED cell instead. The index stays probe-CORRECT
    *    either way (a probe reranks exactly within whichever cell holds
    *    the vector — recall shifts marginally, results never misscore),
    *    which is why the threshold sits far above the exact-argmin gates;
    *    the `ann_ivf_recall_routed*` gates floor the recall on the
    *    two-level side. pcoarse = 4 is MEASURED, not guessed
    *    (`bench_runs/r15_assign_scale.jsonl` agreement fields): on the
    *    structured 16384-cell benchmark table p=4 matched the flat argmin
    *    on 100.0000% of 200k vectors at 0.60 s (p=2: 99.96% at 0.38 s;
    *    flat: 11.5 s) — centroid tables have geometric structure by
    *    construction, which is what coarse pruning exploits; only the
    *    near-isotropic gate surrogate drops agreement materially
    *    (0.85–0.90 at 4-of-8 groups).
    *
    * `IvfAppendRoutingSpec` pins the plan shape on both sides of the
    * threshold.
    */
  def ivfAssignForIngest(spark: org.apache.spark.sql.SparkSession,
                         path: String, batch: DataFrame): DataFrame =
    assignWith(ingestTableFor(spark, path), batch)

  /** The ingest table per index dir, cached per centroids generation:
    * the streaming ingest calls [[ivfAssignForIngest]] once per
    * MICRO-BATCH, and without the cache every batch would re-read the
    * O(nlist) centroid parquet and — at 4096 cells and up — re-run the
    * driver-side Lloyd quantizer (~1 s at 16384 cells, the exact
    * per-pass cost the round-14 AssignBench advice flagged). Centroids
    * are FROZEN between rebuilds by the append contract, and a rebuild
    * rewrites the centroids dir, which moves the generation stamp and
    * evicts the stale table.
    */
  private[operators] val ingestPlanBuilds =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private val ingestAssignPlans =
    GenerationCache[Unit, graft.plans.IvfCentroidTable]("centroids")
  private def ingestTableFor(spark: org.apache.spark.sql.SparkSession,
                             path: String): graft.plans.IvfCentroidTable = {
    // Evict entries whose index dir no longer exists (round-15 advice):
    // a lookup only evicts stale GENERATIONS of the dir being queried, so
    // tables for distinct — often temp, later-deleted — index dirs would
    // otherwise accumulate for the JVM's lifetime, each pinning
    // O(nlist·dim) doubles (~8 MB at 16384×64).
    ingestAssignPlans.evictWhere((dir, _) =>
      !java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)))
    ingestAssignPlans(path, ()) {
      ingestPlanBuilds.incrementAndGet()
      val cents = readCentroids(spark, path)
      if (cents.length >= ingestHierCells) twoLevelTable(cents, ingestPcoarse)
      else graft.plans.IvfCentroidTable.fromFlat(cents)
    }
  }

  /** Incremental IVF maintenance (round 13): append a batch of vectors
    * to a persisted index WITHOUT a rebuild — the streaming-ingest path
    * every deployed ANN index needs. Assignment is [[ivfAssignForIngest]]'s
    * zero-shuffle projection (the flat exact table below 4096 cells, the
    * two-level one from there — round-14 verdict item 1); the write APPENDS
    * parquet files into the existing cell partitions, so probes keep
    * their partition pruning over old and new files alike. The centroids
    * are FROZEN — the standard IVF ingest trade-off (cell balance drifts
    * until the next rebuild), which is why [[ivfAppendGate]] pins
    * conservation, full-probe exactness and nearest-assignment, not
    * assignment stability across rebuilds.
    */
  /** `coalesceCells` (round 16): the default zero-shuffle append writes
    * one file per (task, cell) — fine for micro-batches, but a LARGE
    * backfill spraying a wide cell space from many tasks mints
    * O(tasks·cells) near-empty files (measured: 200k vectors × 4096
    * cells × 32 tasks ⇒ ~10⁵ files), which is a metadata bomb at 100 TB
    * (and locally turns a 1 s assignment into minutes of file churn).
    * With the flag, the assigned batch is repartitioned BY CELL first —
    * one bounded shuffle of (id, label, emb, cell) buys exactly one file
    * per non-empty cell per append. Same rows either way; probes and
    * gates see identical data.
    */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       batch: DataFrame,
                       coalesceCells: Boolean = false): Unit = {
    val assigned = ivfAssignForIngest(spark, path, batch)
    val laid = if (coalesceCells) assigned.repartition(col("cell")) else assigned
    laid.write.mode("append").partitionBy("cell").parquet(s"$path/vectors")
  }

  /** One subset-built-then-appended index per (embeddings dir,
    * generation, nlist): built over vec_id % 7 ≠ 0, the remainder
    * appended — same corpus as the full index, different ingest history.
    */
  private val ivfAppendDirs =
    GenerationCache.dirs[Int]("embeddings.parquet", "graft_ivf_append_")
  private[operators] def ivfAppendIndexFor(t: Tables, nlist: Int): String =
    ivfAppendDirs(t.dir, nlist) { dir =>
      val emb = t.embeddings
        .select(col("vec_id"), col("label"), toDoubleArr(col("embedding")).as("emb"))
      buildIvfIndexOf(emb.filter(col("vec_id") % 7 =!= 0), t.spark, dir, nlist)
      appendToIvfIndex(t.spark, dir, emb.filter(col("vec_id") % 7 === 0))
    }

  /** Hash-gated face of the append path. One row of verdicts over the
    * subset-built + appended index:
    *
    *  - `n_vectors`: count over the index's vector files — the oracle
    *    states `count(*)` from the source table, so the append must have
    *    conserved every row (none lost, none doubled);
    *  - `ids_unique`: no vec_id appears twice (a re-run that appended
    *    again would double ids before it doubled the count of any gate
    *    above);
    *  - `full_probe_exact`: probing ALL cells returns exactly
    *    [[bruteForceTopK]] — ids and scores — regardless of how the
    *    frozen-centroid assignment skewed the cells; the exactness
    *    contract survives ingest;
    *  - `appended_nearest`: every appended vector landed in its argmin
    *    cell (recomputed distributed from the index files + centroids).
    *
    * Verify.GateInvariants recomputes all four from the index directory.
    */
  def ivfAppendGate(t: Tables, k: Int = 10, nlist: Int = 16): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val (n, unique, probeExact, nearest) = ivfAppendVerdicts(t, k, nlist)
    Seq((n, unique, probeExact, nearest))
      .toDF("n_vectors", "ids_unique", "full_probe_exact", "appended_nearest")
  }

  private[graft] def ivfAppendVerdicts(t: Tables, k: Int, nlist: Int)
      : (Long, Boolean, Boolean, Boolean) =
    ivfAppendVerdictsOf(t, ivfAppendIndexFor(t, nlist), k, nlist)

  /** [[ivfAppendVerdicts]] against an explicit index directory — shared
    * with the streaming-ingest twin, which builds the same index through
    * micro-batch appends.
    */
  private[graft] def ivfAppendVerdictsOf(t: Tables, path: String, k: Int,
                                         nlist: Int)
      : (Long, Boolean, Boolean, Boolean) = {
    val spark = t.spark
    val vecs = spark.read.parquet(s"$path/vectors")
    val counts = vecs.agg(count(lit(1)), countDistinct(col("vec_id"))).head()
    val (n, nd) = (counts.getLong(0), counts.getLong(1))
    val brute = bruteForceTopK(t, 0L, k).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val probed = ivfProbeOf(t, path, 0L, k, nlist) // nprobe = nlist: all cells
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // every appended row sits in its recomputed argmin cell
    val appended = vecs.filter(col("vec_id") % 7 === 0)
    val misassigned = ivfAssignCells(spark, path,
        appended.select(col("vec_id"), col("label"), col("emb")))
      .join(appended.select(col("vec_id"), col("cell").as("stored_cell")), "vec_id")
      .filter(col("cell") =!= col("stored_cell"))
      .count()
    (n, n == nd, probed == brute, misassigned == 0L)
  }

  /** One data-derived quantizer-surrogate centroid table per (embeddings
    * dir, generation, nlist): the `nlist` lowest-vec_id embeddings, cell
    * ids in vec_id order. Deterministic per generation with NO KMeans fit
    * — the hier gate tests the two-level ASSIGNMENT operator, not the
    * quantizer training ([[buildIvfIndex]] owns that), and a data-derived
    * table gives the coarse grouping real geometry to work with.
    */
  private val hierQuantDirs =
    GenerationCache.dirs[Int]("embeddings.parquet", "graft_ivf_hier_")
  private[operators] def hierQuantCentroidsFor(t: Tables, nlist: Int): String =
    hierQuantDirs(t.dir, nlist) { dir =>
      val spark = t.spark
      import spark.implicits._
      t.embeddings
        .select(col("vec_id"), toDoubleArr(col("embedding")).as("emb"))
        .orderBy("vec_id").limit(nlist)
        .collect().zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](1)) }
        .toSeq.toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    }

  /** Verdicts behind [[ivfAssignHierGate]], all from one distributed pass
    * over the three assignments joined on vec_id (shared with
    * Verify.GateInvariants' recompute):
    *
    *  - `n_assigned`: batch rows the hier path assigned (oracle states
    *    `count(*)` over the source, so none may be lost or doubled);
    *  - `cells_valid`: every hier-assigned cell is a real centroid id;
    *  - `full_sweep_identical`: pcoarse = ∞ (all groups probed) agrees
    *    with flat [[ivfAssignCells]] on EVERY vector — the identity
    *    theorem on live data;
    *  - `agreement_floor_met`: the pruned path (pcoarse as gated) agrees
    *    with the flat argmin on ≥ `agreementFloor` of vectors — the
    *    recall-style bound the op-count cut is traded against.
    */
  private[graft] def ivfAssignHierVerdicts(t: Tables, nlist: Int,
                                           pcoarse: Int,
                                           agreementFloor: Double)
      : (Long, Boolean, Boolean, Boolean) = {
    val spark = t.spark
    val path = hierQuantCentroidsFor(t, nlist)
    val batch = t.embeddings
      .select(col("vec_id"), col("label"), toDoubleArr(col("embedding")).as("emb"))
    val flat = ivfAssignCells(spark, path, batch)
    val hier = ivfAssignCellsHier(spark, path, batch, pcoarse)
    val full = ivfAssignCellsHier(spark, path, batch, pcoarse = Int.MaxValue)
    val cids = spark.read.parquet(s"$path/centroids")
      .select("cell").collect().map(_.getInt(0)).toSet
    val row = flat.select(col("vec_id"), col("cell").as("flat_cell"))
      .join(hier.select(col("vec_id"), col("cell").as("hier_cell")), "vec_id")
      .join(full.select(col("vec_id"), col("cell").as("full_cell")), "vec_id")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("full_cell") === col("flat_cell"), 0L).otherwise(1L)),
        sum(when(col("hier_cell") === col("flat_cell"), 1L).otherwise(0L)),
        sum(when(col("hier_cell").isin(cids.toSeq: _*), 0L).otherwise(1L)))
      .head()
    val n = row.getLong(0)
    (n, row.getLong(3) == 0L, row.getLong(1) == 0L,
      row.getLong(2).toDouble >= agreementFloor * n)
  }

  /** Hash-gated face of [[ivfAssignCellsHier]] over the data-derived
    * quantizer surrogate (nlist = 64 ⇒ ncoarse = 8, pcoarse = 4 — the
    * shape whose production form is 64k cells / 256 groups). Calibration:
    * the fixture's embeddings are near-ISOTROPIC — the hard case for
    * coarse pruning, since the surrogate centroids carry no cluster
    * structure for the coarse quantizer to exploit — and the measured
    * agreement band at 4-of-8 groups is 0.85–0.90 across sf0.001–0.1
    * (p=2 reads 0.63–0.69 here, vs 0.80+ on the spec's structured
    * synthetic grid; a production kmeans-fit index sits near the latter).
    * The 0.7 floor leaves ≥ 0.15 regeneration margin under the observed
    * band; IvfAssignHierSpec pins the tighter windows.
    */
  def ivfAssignHierGate(t: Tables, nlist: Int = 64, pcoarse: Int = 4,
                        agreementFloor: Double = 0.7): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val (n, valid, identical, floorMet) =
      ivfAssignHierVerdicts(t, nlist, pcoarse, agreementFloor)
    Seq((n, valid, identical, floorMet))
      .toDF("n_assigned", "cells_valid", "full_sweep_identical",
        "agreement_floor_met")
  }

  /** Hash-gated face of the flat [[ivfAssignCells]] arithmetic at a cell
    * count the append gates never reach (round-14 verdict item 2: every
    * other gated flat index sits at nlist ≤ 64). The
    * quantizer surrogate is the nlist = 256 lowest-vec_id embeddings
    * (cell = vec_id rank), so the whole derivation is closed-form and the
    * DuckDB oracle replays it EXACTLY: |c|² and each dot are ascending
    * left folds (`list_sum` — the `graft_dot` parity the ann_knn_join
    * hash gate already proved), d2 = |c|² − 2·dot the same IEEE ops, and
    * the argmin the same (d2, cell) total order. Output is the per-cell
    * assignment histogram — a full row/schema/hash gate over the
    * `graft_ivf_assign` arithmetic, not a verdict-boolean gate.
    *
    * Scale shape: the assignment is the one narrow join-free Project the
    * routing spec pins (plan size O(1) in nlist); the histogram's tiny
    * per-cell aggregate is the only exchange, and exists for the gate —
    * production ingest appends the assigned rows instead
    * ([[ivfAssignForIngest]]).
    */
  def ivfAssignExprGate(t: Tables, nlist: Int = 256): DataFrame =
    ivfAssignExprProbe(t, nlist)
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      .orderBy("cell")

  /** The raw flat assignment behind [[ivfAssignExprGate]] —
    * the production-shaped projection (no aggregate), used as the bench
    * probe and plan-shape surface.
    */
  def ivfAssignExprProbe(t: Tables, nlist: Int = 256): DataFrame = {
    val path = hierQuantCentroidsFor(t, nlist)
    ivfAssignCells(t.spark, path,
      t.embeddings.select(col("vec_id"), col("label"),
        toDoubleArr(col("embedding")).as("emb")))
  }

  /** Bench probe for the two-level path: ONE pruned hier assignment over
    * the full batch at the gated shape — the gate's three-way compare
    * (flat + full-sweep + pruned, joined) is verification-only.
    */
  def ivfAssignHierProbe(t: Tables, nlist: Int = 64,
                         pcoarse: Int = 4): DataFrame = {
    val path = hierQuantCentroidsFor(t, nlist)
    ivfAssignCellsHier(t.spark, path,
      t.embeddings.select(col("vec_id"), col("label"),
        toDoubleArr(col("embedding")).as("emb")),
      pcoarse)
  }

  /** Rebuild advisor (round 13): the cell-balance drift meter a deployed
    * IVF index reads after appends to decide WHEN to re-fit the coarse
    * quantizer — frozen centroids skew cell occupancy as the ingest
    * distribution drifts, and a hot cell degrades every probe that
    * touches it (probe cost ∝ probed-cell sizes). One aggregation over
    * the index's (cell) partition column — the vectors themselves are
    * never read (ReadSchema carries only vec_id + the partition value):
    *
    *  - `n_vectors`: total rows (the oracle's `count(*)` conserves);
    *  - `cells_within_nlist`: non-empty cells ≤ nlist — an appended
    *    vector can never mint a new cell;
    *  - `no_dominant_cell`: max cell ≤ half the index — the rebuild
    *    trigger. Stated as the cross-multiplied integer comparison so
    *    the verdict is exact at any scale;
    *  - `all_cells_probe_reachable`: every non-empty cell id is one of
    *    the persisted centroid ids — an orphaned partition would be
    *    invisible to every probe (silent recall loss, the worst failure).
    *
    * All four re-derived from the index directory by GateInvariants.
    */
  private[graft] def ivfDriftVerdicts(t: Tables, path: String, nlist: Int)
      : (Long, Boolean, Boolean, Boolean) = {
    val spark = t.spark
    val perCell = spark.read.parquet(s"$path/vectors")
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(
        sum(col("n")).cast("long").as("total"),
        count(lit(1)).as("n_cells"),
        max(col("n")).cast("long").as("max_cell"),
        collect_set(col("cell")).as("cells"))
      .head()
    val total = perCell.getLong(0)
    val nCells = perCell.getLong(1)
    val maxCell = perCell.getLong(2)
    val cellIds = perCell.getSeq[Int](3).toSet
    val centroidIds = spark.read.parquet(s"$path/centroids")
      .select(col("cell")).collect().map(_.getInt(0)).toSet
    (total, nCells <= nlist, maxCell * 2 <= total, cellIds.subsetOf(centroidIds))
  }

  /** [[ivfDriftVerdicts]] over the subset-built + appended index (the
    * one whose balance actually drifted via ingest) — shared by the gate
    * and Verify.GateInvariants' recompute.
    */
  private[graft] def ivfDriftVerdictsAppended(t: Tables, nlist: Int)
      : (Long, Boolean, Boolean, Boolean) =
    ivfDriftVerdicts(t, ivfAppendIndexFor(t, nlist), nlist)

  /** Hash-gated face of [[ivfDriftVerdicts]] over the appended index. */
  def ivfDriftGate(t: Tables, nlist: Int = 16): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val (n, within, noDominant, reachable) =
      ivfDriftVerdictsAppended(t, nlist)
    Seq((n, within, noDominant, reachable))
      .toDF("n_vectors", "cells_within_nlist", "no_dominant_cell",
        "all_cells_probe_reachable")
  }

  /** Bench probe for the append path: the production cost is the
    * zero-shuffle assignment projection over the ingest batch (the
    * parquet append is a plain partitioned write; the gate's brute-force
    * compare is verification-only).
    */
  def ivfAssignProbe(t: Tables, nlist: Int = 16): DataFrame = {
    val path = ivfAppendIndexFor(t, nlist)
    ivfAssignForIngest(t.spark, path,
      t.embeddings.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), col("label"), toDoubleArr(col("embedding")).as("emb")))
  }

  /** [[ivfTopK]]'s probe against an explicit index path. */
  private def ivfProbeOf(t: Tables, path: String, queryId: Long, k: Int,
                         nprobe: Int): DataFrame = {
    val qRows = t.embeddings.filter(col("vec_id") === queryId)
      .select(toDoubleArr(col("embedding"))).take(1)
    probeIvf(t.spark, path, qRows(0).getSeq[Double](0).toArray, k, nprobe, queryId)
  }

  /** ANN via MLlib's [[org.apache.spark.ml.feature.BucketedRandomProjectionLSH]]
    * — the built-in SURVEY §4.2 names, kept as a thin twin next to the
    * custom sign-LSH (same division of labor as dedup_minhash_mllib vs the
    * banded minhash). BRP-LSH hashes by Euclidean distance, so vectors are
    * L2-normalized first ([[org.apache.spark.ml.feature.Normalizer]]):
    * on unit vectors d² = 2 − 2·cos, making Euclidean NN order identical
    * to cosine NN order and cos = 1 − d²/2 exact arithmetic. Random
    * projections are seeded but engine-specific ⇒ rows-only in the oracle
    * gate; the spec recall-tests against [[bruteForceTopK]] like ann_ivf.
    *
    * At scale: `approxNearestNeighbors` prunes to hash-bucket collisions
    * (any of numTables tables), the same bucketed-probe shape as the custom
    * variant — the hash values become partition columns and a probe is
    * partition pruning, not a scan.
    */
  def brpLshTopK(t: Tables, queryId: Long = 0L, k: Int = 10,
                 bucketLength: Double = 0.5, numTables: Int = 3): DataFrame = {
    import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, Normalizer}
    import org.apache.spark.ml.functions.array_to_vector
    val e = t.embeddings
      .select(col("vec_id"), col("label"), toDoubleArr(col("embedding")).as("emb"))
      .withColumn("raw", array_to_vector(col("emb")))
    val unit = new Normalizer().setP(2.0)
      .setInputCol("raw").setOutputCol("features")
      .transform(e)
    val model = new BucketedRandomProjectionLSH()
      .setBucketLength(bucketLength).setNumHashTables(numTables).setSeed(42)
      .setInputCol("features").setOutputCol("hashes")
      .fit(unit)
    val qRows = unit.filter(col("vec_id") === queryId).select("features").take(1)
    if (qRows.isEmpty) {
      return unit.filter(lit(false))
        .withColumn("cos_sim", lit(0.0))
        .select("vec_id", "label", "cos_sim")
    }
    val key = qRows(0).getAs[org.apache.spark.ml.linalg.Vector](0)
    model
      .approxNearestNeighbors(unit.filter(col("vec_id") =!= queryId), key, k)
      .withColumn("cos_sim",
        roundN(lit(1.0) - col("distCol") * col("distCol") / 2.0, 6))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .select("vec_id", "label", "cos_sim")
  }

  /** Int8-quantized ANN — the storage/bandwidth scale path
    * ([[graft.plans.Q8Pack]] has the full arithmetic contract): embeddings
    * are packed once (write-side in production — a 100 TB fp32 corpus
    * becomes a 25 TB int8 index) and candidates are scored entirely on the
    * packed bytes by the codegen `graft_q8_dot` long accumulator; the fp32
    * originals are only read to report the exact cosine beside the
    * quantized one, making the approximation error a COLUMN of the gate
    * rather than a claim. Because the quantization rule is exact IEEE
    * arithmetic step-for-step, every output — including `cos_q` and
    * `q_err` — is bit-reproducible by the DuckDB oracle and `ann_quantized`
    * is a full hash gate (no verdict booleans needed, unlike the
    * engine-specific IVF/BRP-LSH indexes).
    *
    * Ranking uses the ROUNDED quantized score with vec_id as the total
    * tie-break: int8 scores tie more often than fp32 ones, so the ordering
    * key must be identical in both engines for the top-k boundary to
    * hash-match.
    */
  def quantizedTopK(t: Tables, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val packed = t.embeddings
      .select(col("vec_id"), col("label"), toDoubleArr(col("embedding")).as("emb"))
      .withColumn("q8", call_function("graft_q8_pack", col("emb")))
    // the query norm rides the 1-row broadcast frame — computing it after
    // the cross join would redo the O(dim) self-dot once per corpus row
    val q = packed
      .filter(col("vec_id") === queryId)
      .select(col("emb").as("q_emb"), col("q8").as("q_q8"),
        sqrt(call_function("graft_q8_dot", col("q8"), col("q8")).cast("double")).as("qn_b"))
    packed
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("qn_a", sqrt(call_function("graft_q8_dot", col("q8"), col("q8")).cast("double")))
      .withColumn("cos_q_raw",
        when(col("qn_a") === 0.0 || col("qn_b") === 0.0, 0.0)
          .otherwise(call_function("graft_q8_dot", col("q8"), col("q_q8")).cast("double")
            / (col("qn_a") * col("qn_b"))))
      .withColumn("cos_q", roundN(col("cos_q_raw"), 6))
      .withColumn("cos_exact", roundN(cosine(col("emb"), col("q_emb")), 6))
      .withColumn("q_err", roundN(abs(col("cos_q_raw") - cosine(col("emb"), col("q_emb"))), 6))
      .orderBy(desc("cos_q"), asc("vec_id"))
      .limit(k)
      .select("vec_id", "label", "cos_q", "cos_exact", "q_err")
  }

  /** Verdict facts for an ANN result — the contract an approximate index
    * must honor even though its neighbor SET is engine-specific: every
    * reported score equals the exact cosine for that vec_id within
    * `scoreTol` (ANN may miss neighbors, never misscore them), scores
    * arrive descending, and recall@k against [[bruteForceTopK]] clears
    * the per-index floor. Computed from the ACTUAL ann rows; the driver
    * oracle states them as constants and Verify.GateInvariants recomputes
    * each one independently from a fresh run of the raw index probe, so
    * the booleans are not self-certified (round-8 verdict #4 pattern).
    * The exact score map is looked up for JUST the ann result's ids
    * ([[exactScoresFor]], round-13 advice — was the full exhaustive
    * ranking); verification driver traffic is O(k) rows, same order as
    * the production probe's.
    */
  private[graft] def annVerdicts(t: Tables, ann: DataFrame, k: Int,
                                 scoreTol: Double, minHits: Int)
      : (Long, Boolean, Boolean, Boolean) = {
    val rows = ann.collect()
    val brute = exactScoresFor(t, 0L, rows.map(_.getLong(0)).toSeq)
    val scoresExact = rows.forall(r =>
      math.abs(brute(r.getLong(0)) - r.getDouble(2)) <= scoreTol)
    val scores = rows.map(_.getDouble(2)).toSeq
    val descending = scores == scores.sorted.reverse
    val top = bruteForceTopK(t, 0L, k).collect().map(_.getLong(0)).toSet
    val hits = rows.map(_.getLong(0)).count(top.contains)
    (rows.length.toLong, scoresExact, descending, hits >= minHits)
  }

  /** Exact rounded cosine vs the `queryId` vector for JUST `ids` — the
    * bounded ground-truth lookup the verdict checks need (round-13
    * advice: the old idiom materialized the FULL exhaustive ranking via
    * bruteForceTopK(k = MaxValue), unbounded driver traffic for a
    * ≤ k·|probes| need). Same roundN(cosine, 6) as [[bruteForceTopK]],
    * so the values are bit-identical to the ranking's scores; the scan is
    * a pushed-down isin filter, and only |ids| rows reach the driver.
    */
  private def exactScoresFor(t: Tables, queryId: Long,
                             ids: Seq[Long]): Map[Long, Double] =
    if (ids.isEmpty) Map.empty
    else withQuery(t, queryId)
      .filter(col("vec_id").isin(ids.distinct: _*))
      .select(col("vec_id"), roundN(cosine(col("emb"), col("q_emb")), 6).as("cos_sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Hash-gated face of [[ivfTopK]] (round-9, was rows-only). */
  def ivfVerdictGate(t: Tables, k: Int = 10): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val (n, exact, desc, recall) =
      annVerdicts(t, ivfTopK(t, 0L, k, 16, 4), k, scoreTol = 0.0, minHits = 2)
    Seq((n, exact, desc, recall))
      .toDF("n_neighbors", "scores_exact", "scores_descending", "recall_floor_met")
  }

  /** The IVF recall-vs-nprobe tuning curve (round 13) — the readout a
    * deployment tunes the probe width by: recall@k against
    * [[bruteForceTopK]] for each nprobe. The recall VALUES are
    * engine-specific (KMeans cell assignment), so the gate emits the
    * curve's exactly-statable CONTRACT per nprobe:
    *
    *  - `scores_exact`: every reported score equals the exact cosine for
    *    that vec_id (IVF may miss neighbors, never misscore them);
    *  - `recall_monotone`: recall never decreases as nprobe grows. This
    *    is a theorem, not an observation: probed cell sets are NESTED
    *    (same centroids, same distance order), and for candidate sets
    *    A ⊆ B any vector displacing a true top-k member from topk(B)
    *    scores above it and is therefore a true top-k member itself, so
    *    |topk(B) ∩ truth| ≥ |topk(A) ∩ truth|;
    *  - `recall_floor_met`: hits ≥ the per-nprobe floor — 2 at
    *    nprobe ∈ {4, 8} (the ann_ivf gate's floor) and k at
    *    nprobe = nlist, where the probe scans every cell and the curve
    *    must close at exact recall 1.0.
    *
    * Verify.GateInvariants recomputes the whole curve from fresh probes.
    * The collects are verdict derivation, and bounded: probe results
    * first (k rows each), then [[exactScoresFor]] over just the probed
    * ids — driver traffic ≤ 2·k·|probes| rows total.
    */
  private[graft] def ivfRecallCurveRows(t: Tables, k: Int, nlist: Int,
                                        probes: Seq[Int])
      : Seq[(Int, Long, Boolean, Boolean, Boolean)] =
    recallCurveRowsOf(t, k, probes,
      np => ivfTopK(t, 0L, k, nlist, np),
      np => if (np >= nlist) k else if (np >= 4) 2 else 0)

  /** Shared curve derivation behind [[ivfRecallCurveRows]] (the KMeans
    * index) and [[ivfRecallRoutedRows]] (the routed-ingest index): probe
    * at each width ascending, verify score exactness and nested-set
    * recall monotonicity, and check the per-width floor. The collects
    * stay bounded exactly as before: probe results first (k rows each),
    * then [[exactScoresFor]] over just the probed ids.
    */
  private def recallCurveRowsOf(t: Tables, k: Int, probes: Seq[Int],
                                probe: Int => DataFrame,
                                floorOf: Int => Int)
      : Seq[(Int, Long, Boolean, Boolean, Boolean)] = {
    val truth = bruteForceTopK(t, 0L, k).collect().map(_.getLong(0)).toSet
    // probe first, THEN look up exact scores for only the probed ids
    // (≤ k·|probes| rows) — never the full exhaustive ranking
    val probed = probes.sorted.map(np => np -> probe(np).collect())
    val exact = exactScoresFor(t, 0L,
      probed.flatMap(_._2.map(_.getLong(0))))
    var prevHits = Int.MinValue
    probed.map { case (np, rows) =>
      val hits = rows.map(_.getLong(0)).count(truth.contains)
      val scoresExact = rows.forall(r => exact(r.getLong(0)) == r.getDouble(2))
      val monotone = hits >= prevHits
      prevHits = hits
      (np, rows.length.toLong, scoresExact, monotone, hits >= floorOf(np))
    }
  }

  /** Hash-gated face of the [[ivfRecallCurveRows]] curve. */
  def ivfRecallCurveGate(t: Tables, k: Int = 10, nlist: Int = 16,
                         probes: Seq[Int] = Seq(1, 2, 4, 8, 16)): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    ivfRecallCurveRows(t, k, nlist, probes)
      .toDF("nprobe", "n_neighbors", "scores_exact", "recall_monotone",
        "recall_floor_met")
  }

  /** Deterministic UNSTRUCTURED centroid table for the routed-ingest
    * recall gate (round-16 verdict item 3): splitmix64 of (cell, dim)
    * mapped to [-1, 1). A centroid table built this way carries NO
    * cluster geometry for the coarse quantizer to exploit — the exact
    * "near-isotropic surrogate" BENCH.md's round-15 notes flagged as the
    * case where two-level agreement drops materially — so a recall floor
    * proved on it is the routed ingest's WORST-case face, not the
    * structured-table best case the r15_assign_scale run measured.
    * Deterministic on both engines and across hosts by construction (no
    * RNG state, no KMeans fit).
    */
  private[operators] def isotropicCentroids(nlist: Int, dim: Int)
      : Array[(Int, Array[Double])] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Array.tabulate(nlist) { c =>
      (c, Array.tabulate(dim) { j =>
        (mix(c.toLong * 131071L + j) >>> 11).toDouble / (1L << 52).toDouble - 1.0
      })
    }
  }

  /** One routed-ingest index per (embeddings dir, generation, nlist):
    * synthetic isotropic centroids at `nlist` ≥ the hier threshold, ALL fixture
    * vectors ingested through [[appendToIvfIndex]] — i.e. the PRODUCTION
    * two-level `pcoarse = 4` assignment, the path every real append and
    * streaming micro-batch takes at production cell counts. The gate
    * probes THIS index, so any recall the two-level approximation costs
    * shows up in the gated floor, on the centroid distribution where the
    * cost is largest.
    */
  private val routedIndexDirs =
    GenerationCache.dirs[Int]("embeddings.parquet", "graft_ivf_routed_")
  private[graft] def routedIngestIndexFor(t: Tables, nlist: Int): String =
    routedIndexDirs(t.dir, nlist) { dir =>
      val spark = t.spark
      import spark.implicits._
      val dim = t.embeddings.select(size(col("embedding"))).head().getInt(0)
      isotropicCentroids(nlist, dim)
        .map { case (c, a) => (c, a.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
      // a full-corpus backfill into 4096 cells is exactly the shape the
      // coalesced layout exists for (one file per non-empty cell)
      appendToIvfIndex(spark, dir,
        t.embeddings.select(col("vec_id"), col("label"),
          toDoubleArr(col("embedding")).as("emb")),
        coalesceCells = true)
    }

  /** Recall curve over the ROUTED-ingest index. The contract: exact
    * recall k at the full sweep — probing every cell must return brute
    * force exactly, which also proves the routed append CONSERVED every
    * vector — and the measured per-width floors of
    * [[ivfRecallRoutedGate]] at the partial widths.
    */
  private[graft] def ivfRecallRoutedRows(t: Tables, k: Int, nlist: Int,
                                         floors: Seq[(Int, Int)])
      : Seq[(Int, Long, Boolean, Boolean, Boolean)] = {
    val path = routedIngestIndexFor(t, nlist)
    val floorOf = floors.toMap
    recallCurveRowsOf(t, k, floors.map(_._1),
      np => ivfProbeOf(t, path, 0L, k, np),
      np => if (np >= nlist) k else floorOf(np))
  }

  /** Hash-gated face of the routed-ingest recall curve (round-16 verdict
    * item 3: the two-level production assignment had a measured-perfect
    * agreement number only on geometrically STRUCTURED centroid tables;
    * this gate states recall floors on the unstructured worst case).
    * nlist = 4096 sits exactly at the hier threshold, so the ingest that
    * built the probed index ran the routed two-level scan — the
    * IvfAppendRoutingSpec plan pin plus these floors covers the
    * production regime end to end. Floor calibration at k = 10 over
    * 4096 isotropic cells, MEASURED recall across the sf0.001/0.01/0.1
    * fixtures: 4–6 hits at nprobe = 16 (0.4% of cells), 7–9 at 64
    * (1.6%), 10 at 256 (6.3%) — the two-level approximation costs a few
    * neighbors at narrow widths on structure-free centroids and is
    * recovered by modest over-probing, which is exactly the operational
    * guidance the gate freezes. Gated floors one-two hits under each
    * measured band's low end for regeneration margin; the full sweep
    * must close EXACT at k.
    */
  def ivfRecallRoutedGate(t: Tables, k: Int = 10, nlist: Int = 4096,
                          floors: Seq[(Int, Int)] =
                            Seq(16 -> 2, 64 -> 5, 256 -> 8, 4096 -> 10))
      : DataFrame = {
    val spark = t.spark
    import spark.implicits._
    ivfRecallRoutedRows(t, k, nlist, floors)
      .toDF("nprobe", "n_neighbors", "scores_exact", "recall_monotone",
        "recall_floor_met")
  }

  /** Bench probe for the routed-recall gate: ONE production-width probe
    * of the routed index (the curve's brute-force truth derivation and
    * multi-width sweep are verification devices).
    */
  def ivfRecallRoutedProbe(t: Tables, k: Int = 10, nlist: Int = 4096,
                           nprobe: Int = 64): DataFrame =
    ivfProbeOf(t, routedIngestIndexFor(t, nlist), 0L, k, nprobe)

  /** The routed-recall gate ABOVE the hier threshold (round-16 verdict
    * item 3): [[ivfRecallRoutedGate]]'s nlist = 4096 sits exactly AT the
    * threshold, so the regime where the two-level assignment is the
    * production win — nlist = 16384, where r15's measured flat scan took
    * 8.0 s/200k vectors and the routed path 0.46-0.50 s
    * (`bench_runs/r15_assign_scale.jsonl`) — had bench evidence but no
    * oracle gate; a regression in the deep-hier path would only surface
    * via bench archaeology. This sibling ingests every fixture vector
    * through the 16384-cell isotropic index (ncoarse = 128, the ingest
    * pcoarse = 4, cell-coalesced layout — the exact production
    * backfill shape; IvfAppendRoutingSpec pins the plan on THIS index's
    * dir) and states recall floors per probe width. Floor calibration at
    * k = 10, MEASURED across the sf0.001/0.01/0.1 fixtures (500-2000
    * vectors, so cells are mostly singleton — the sparse-index worst
    * case): 3-4 hits at nprobe = 16 (0.1% of cells), 7 at 64, 9-10 at
    * 256 and 1024, 10 from 4096. Gated floors sit 1-2 under each band's
    * low end for regeneration margin; the full sweep must close EXACT at
    * k — which also proves the deep two-level append CONSERVED every
    * vector.
    */
  def ivfRecallRoutedHierGate(t: Tables, k: Int = 10, nlist: Int = 16384,
                              floors: Seq[(Int, Int)] =
                                Seq(16 -> 1, 64 -> 5, 256 -> 7, 1024 -> 8,
                                  16384 -> 10))
      : DataFrame = {
    val spark = t.spark
    import spark.implicits._
    ivfRecallRoutedRows(t, k, nlist, floors)
      .toDF("nprobe", "n_neighbors", "scores_exact", "recall_monotone",
        "recall_floor_met")
  }

  /** Hash-gated face of [[brpLshTopK]] (round-9, was rows-only). The
    * score tolerance covers the 1 − d²/2 reconstruction on unit vectors:
    * two 1e-6 roundings.
    */
  def brpLshVerdictGate(t: Tables, k: Int = 10): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val (n, exact, desc, recall) =
      annVerdicts(t, brpLshTopK(t, 0L, k), k, scoreTol = 2e-6, minHits = 5)
    Seq((n, exact, desc, recall))
      .toDF("n_neighbors", "scores_exact", "scores_descending", "recall_floor_met")
  }

  /** Embedding near-duplicate pairs: label-blocked exact variant (the
    * cluster label doubles as a blocking key — the oracle-checkable ground
    * truth for the LSH variant below).
    */
  def embeddingNearDupExact(t: Tables, minCos: Double = 0.9): DataFrame = {
    // norms are O(n·d) per vector BEFORE the join — computing cosine(a,b)
    // per pair would redo both norms per pair, O(pairs·d) wasted; the
    // blocking-key repartition also lets both self-join sides share one
    // exchange (and materializes emb/nrm against projection-collapse)
    val e = t.embeddings
      .select(col("vec_id"), col("label"), toDoubleArr(col("embedding")).as("emb"))
      .withColumn("nrm", l2Norm(col("emb")))
      .repartition(col("label"))
    val a = e.select(col("label"), col("vec_id").as("vec_a"),
      col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("label"), col("vec_id").as("vec_b"),
      col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("label"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", roundN(
        when(col("nrm_a") === 0.0 || col("nrm_b") === 0.0, 0.0)
          .otherwise(dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b"))), 6))
      .filter(col("cos_sim") >= minCos)
      .select("vec_a", "vec_b", "label", "cos_sim")
  }

  /** Embedding near-duplicate pairs via sign-LSH buckets — no label needed;
    * the unsupervised scale path (bucket join instead of n² blocking).
    */
  def embeddingNearDupLsh(t: Tables, minCos: Double = 0.9, bits: Int = 8): DataFrame = {
    // same shape as the exact variant: per-vector norms before the join,
    // one bucket-partitioned exchange shared by both sides
    val e = t.embeddings
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("emb"))
      .withColumn("nrm", l2Norm(col("emb")))
      .withColumn("bucket", signBucket(col("emb"), bits))
      .repartition(col("bucket"))
    val a = e.select(col("bucket"), col("vec_id").as("vec_a"),
      col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("bucket"), col("vec_id").as("vec_b"),
      col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", roundN(
        when(col("nrm_a") === 0.0 || col("nrm_b") === 0.0, 0.0)
          .otherwise(dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b"))), 6))
      .filter(col("cos_sim") >= minCos)
      .select("vec_a", "vec_b", "cos_sim")
  }

  /** k-NN JOIN: top-k nearest neighbors for EVERY vector at once — the
    * batch workhorse behind embedding clustering / near-dup resolution /
    * retrieval-index bootstrap, where the single-probe ANN ops
    * ([[bruteForceTopK]], [[lshTopK]], IVF) answer one query each.
    * Candidates come from the same deterministic sign-LSH buckets as
    * [[embeddingNearDupLsh]] (first-`bits` coordinate signs — closed-form,
    * so the DuckDB oracle recomputes the identical buckets and the gate is
    * a full hash check, like the minhash banding twin); within a bucket
    * every ordered pair is scored by codegen cosine and ranked per vector
    * by (cos desc, neighbor asc) — a bucket-partitioned window, never a
    * global one. Cost is bounded by bucket width: one bucket-keyed
    * exchange for the self-join, one for the rank. Vectors whose bucket
    * holds fewer than k peers report what exists (standard LSH-knn
    * semantics — recall is the tunable, recovered at 100 TB with multiple
    * hash tables or IVF cells).
    *
    * `bits` defaults to 0 = ADAPTIVE: with any fixed bit count the
    * intra-bucket pair count grows as (n/2^bits)² — the round-6 suite's
    * worst scaling row (7.4× wall on 10× data at bits=4). The adaptive
    * mode derives bits from the corpus size so the expected bucket stays
    * ≈ [[adaptiveSignBits]]'s target width and total candidate pairs grow
    * LINEARLY (n · width), which is the floor for an all-pairs top-k whose
    * output is already n·k. The count needed to size the buckets is one
    * metadata-cheap job at plan-construction time.
    */
  def knnJoinLsh(t: Tables, k: Int = 3, bits: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val useBits = if (bits > 0) bits else adaptiveSignBits(t.embeddings.count())
    val e = t.embeddings
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("emb"))
      .withColumn("nrm", l2Norm(col("emb")))
      .withColumn("bucket", signBucket(col("emb"), useBits))
      .repartition(col("bucket"))
    val a = e.select(col("bucket"), col("vec_id"),
      col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("bucket"), col("vec_id").as("neighbor_id"),
      col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    val w = Window.partitionBy("vec_id")
      .orderBy(desc("cos_sim"), asc("neighbor_id"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", roundN(
        when(col("nrm_a") === 0.0 || col("nrm_b") === 0.0, 0.0)
          .otherwise(dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b"))), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("vec_id", "neighbor_id", "cos_sim", "rank")
      .orderBy("vec_id", "rank")
  }

  /** INT8-quantized k-NN join — [[knnJoinLsh]] with the candidate scoring
    * moved onto [[graft.plans.Q8Pack]] codes: the same deterministic sign
    * buckets (computed from the RAW doubles, so bucketing is identical to
    * the fp64 twin), but the self-join sides carry the 64-BYTE packed
    * code + one precomputed quantized norm instead of the 512-byte
    * double array — an 8× reduction of BOTH bucket-keyed exchanges and
    * of the join's build/stream row width, which is where an all-pairs
    * candidate stage actually spends at 100 TB. Scoring is the codegen
    * long-accumulating `graft_q8_dot`; ranking uses the rounded quantized
    * cosine with neighbor_id as the total tie-break.
    *
    * Because the quantization rule is exact IEEE arithmetic
    * ([[Q8Pack]]'s contract), the DuckDB oracle replays codes, norms and
    * scores bit-for-bit — `ann_knn_join_q8` is a full hash gate like its
    * fp64 twin, and `Q8Spec` measures the per-vector agreement between
    * the two result sets.
    */
  def knnJoinQ8(t: Tables, k: Int = 3, bits: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val useBits = if (bits > 0) bits else adaptiveSignBits(t.embeddings.count())
    val e = t.embeddings
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("emb"))
      .withColumn("q8", call_function("graft_q8_pack", col("emb")))
      .withColumn("qn",
        sqrt(call_function("graft_q8_dot", col("q8"), col("q8")).cast("double")))
      .withColumn("bucket", signBucket(col("emb"), useBits))
      // the fp64 embedding is dropped HERE — only codes cross the wire
      .select("vec_id", "q8", "qn", "bucket")
      .repartition(col("bucket"))
    val a = e.select(col("bucket"), col("vec_id"),
      col("q8").as("q8_a"), col("qn").as("qn_a"))
    val b = e.select(col("bucket"), col("vec_id").as("neighbor_id"),
      col("q8").as("q8_b"), col("qn").as("qn_b"))
    val w = Window.partitionBy("vec_id")
      .orderBy(desc("cos_q"), asc("neighbor_id"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos_q", roundN(
        when(col("qn_a") === 0.0 || col("qn_b") === 0.0, 0.0)
          .otherwise(call_function("graft_q8_dot", col("q8_a"), col("q8_b")).cast("double")
            / (col("qn_a") * col("qn_b"))), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("vec_id", "neighbor_id", "cos_q", "rank")
      .orderBy("vec_id", "rank")
  }

  /** Scale-adaptive sign-LSH bit count: the smallest b in [1, 16] with
    * `targetBucket · 2^b >= n`, i.e. the expected bucket width stays in
    * (targetBucket/2, targetBucket]. Integer arithmetic only (no
    * floating log2 edge cases at exact powers of two), and the same rule
    * is restated verbatim in the DuckDB oracle so both engines pick the
    * identical bit count from the data. Capped at 16 bits — 65k buckets
    * carries the target width to n ≈ 8.4M vectors per hash table; past
    * that a production deployment shards into multiple tables rather than
    * exceeding the oracle's 16-char sign string.
    */
  def adaptiveSignBits(n: Long, targetBucket: Long = 128L): Int =
    (1 to 16).find(b => targetBucket * (1L << b) >= n).getOrElse(16)

  /** Cluster resolution over the embedding near-dup pair graph (same
    * [[GraphOps.clusters]] as DedupOps.dupClusters): each vector in a
    * near-dup component labelled with its component-min vec_id + size.
    */
  def embNearDupClusters(t: Tables, minCos: Double = 0.35, bits: Int = 8): DataFrame =
    GraphOps.clusters(embeddingNearDupLsh(t, minCos, bits).select("vec_a", "vec_b"))
      .withColumnsRenamed(Map("doc_id" -> "vec_id"))

  /** SemDeDup-style SEMANTIC dedup resolution (Abbas et al. 2023: cluster
    * embeddings, keep one representative per semantic cluster) — the
    * embedding twin of [[DedupOps.resolveClusters]]: every vector is
    * labelled keep/drop so exactly ONE representative survives per
    * near-dup component and singletons keep themselves. The keep rule is
    * deterministic and oracle-restatable — max L2 norm (a magnitude/
    * confidence proxy standing in for SemDeDup's centroid-distance pick,
    * which would inherit KMeans' engine-specific centroids), ties to min
    * vec_id; the norm ordering key is rounded to 6 decimals so both
    * engines rank identical values.
    *
    * Scale shape: identical to the text variant — cluster labels are
    * (long, long, long) rows, orders of magnitude smaller than the
    * corpus; the keep choice is a per-cluster row_number window that
    * reuses the join's hash partitioning.
    */
  def semanticResolve(t: Tables, minCos: Double = 0.35, bits: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = embNearDupClusters(t, minCos, bits)
    val vecs = t.embeddings.select(
      col("vec_id"),
      roundN(l2Norm(toDoubleArr(col("embedding"))), 6).as("norm"))
    val labelled = vecs.join(clusters, Seq("vec_id"), "left")
      .select(
        col("vec_id"),
        coalesce(col("cluster_rep"), col("vec_id")).as("cluster_rep"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        col("norm"))
    val w = Window.partitionBy("cluster_rep")
      .orderBy(desc("norm"), asc("vec_id"))
    labelled
      .withColumn("keep", row_number().over(w) === 1)
      .orderBy("vec_id")
  }

  /** Per-label embedding stats: avg L2 norm + count (sanity surface for the
    * vector math, fully oracle-checkable).
    */
  def normsByLabel(t: Tables): DataFrame =
    t.embeddings
      .select(col("label"), l2Norm(toDoubleArr(col("embedding"))).as("norm"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        roundN(decAvg(col("norm")), 4).as("avg_norm"))
      .orderBy("label")

  /** Per-label element statistics via the higher-order array surface:
    * `aggregate` (sequential double fold for the element sum), `array_min`
    * / `array_max`, `size` — the lambda-function family exercised directly
    * as a gate rather than inside other operators. All per-vector work is
    * a codegen'd row-parallel projection; the only shuffle is the final
    * tiny per-label aggregate. The per-vector mean goes through the
    * DECIMAL(28,6) accumulation idiom before the cross-row average, so
    * fold-order ulps can't flip the rounding (same pattern
    * [[normsByLabel]] proved cross-engine).
    */
  def vectorStatsByLabel(t: Tables): DataFrame = {
    val darr = toDoubleArr(col("embedding"))
    t.embeddings
      .select(
        col("label"),
        (aggregate(darr, lit(0.0), (acc, x) => acc + x)
          / size(col("embedding"))).as("elem_mean"),
        array_min(darr).as("elem_min"),
        array_max(darr).as("elem_max"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        roundN(decAvg(col("elem_mean")), 6).as("avg_elem_mean"),
        min("elem_min").as("min_elem"),
        max("elem_max").as("max_elem"))
      .orderBy("label")
  }
}
