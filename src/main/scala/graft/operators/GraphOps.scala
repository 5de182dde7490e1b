package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Small-graph primitives needed by the dedup pipeline. Spark has no
  * built-in graph operator surface (GraphX is RDD-era and not part of the
  * SQL engine), so connected components is implemented as iterative
  * relational algebra over the edge list — the standard DataFrame-native
  * formulation.
  */
object GraphOps {

  /** Process-wide count of [[observedRow]] fallbacks — the observable
    * face of a degraded convergence-scalar read. */
  private[graft] val observedFallbacks = new java.util.concurrent.atomic.AtomicLong

  /** The observed metrics row, with the wait BOUNDED (round-18 advice):
    * `Observation.get` blocks on the listener bus delivering the metrics
    * event, so a dropped event (bus overload) would hang the driver where
    * a separate `count()` action could not. When the wait times out or the
    * observation fails, the scalar is recomputed with `fallback` — an
    * explicit aggregate over the already-checkpointed frame, whose lineage
    * is truncated, so the fallback is one cheap job over materialized rows
    * and is value-identical (same aggregates over the same rows). Every
    * fallback warns on stderr and bumps [[observedFallbacks]].
    */
  private[operators] def observedRow(
      observed: scala.concurrent.Future[org.apache.spark.sql.Row],
      fallback: => org.apache.spark.sql.Row): org.apache.spark.sql.Row =
    try {
      import scala.concurrent.duration._
      scala.concurrent.Await.result(observed, 60.seconds)
    } catch {
      case scala.util.control.NonFatal(e) =>
        observedFallbacks.incrementAndGet()
        System.err.println(s"[graft] GraphOps: observed metrics unavailable " +
          s"($e); recomputing the convergence scalar with an explicit aggregate")
        fallback
    }

  /** Connected components by min-label propagation.
    *
    * Input: an undirected edge list as (a, b) pairs (any column names,
    * positional). Output: one row per node — `id`, `label` (= the minimum
    * node id in its component).
    *
    * Every node starts labelled with itself; each round takes the min of
    * its own and its neighbours' labels; converged when nothing changes.
    * Rounds = component diameter, so near-dup graphs (near-cliques,
    * diameter ≲ 3) converge in 2–4 rounds; each round is one shuffle of
    * the cached edge list joined to current labels. `localCheckpoint`
    * truncates lineage so round N's plan does not replay rounds 1..N-1.
    * The driver loop reads ONE scalar per round (changed-label count) —
    * data stays on the executors. If the graph has not converged after
    * `maxRounds` (component diameter > maxRounds — e.g. a chain of
    * drifting near-duplicate revisions a→b→c→…), the method falls back to
    * [[starContractionComponents]], which needs only O(log n) rounds
    * regardless of diameter, instead of failing.
    *
    * Early-stagnation bail (round 13): propagation is the optimistic path
    * for the near-clique graphs dedup produces — they converge in ≤3
    * rounds after the neighbourhood-min seed. On a long-chain graph the
    * changed count stays FLAT (each chain advances its min label one hop
    * per round), so riding out all `maxRounds` before falling back just
    * burns maxRounds driver-synchronized shuffles to learn what round 4
    * already knew. After round 4, if the changed count has not at least
    * halved over the last two rounds, the loop bails to star contraction
    * immediately. Output is IDENTICAL either way (both algorithms produce
    * the component-min labelling); only the round count changes —
    * measured 19 s → ~7 s on the revision-chain gate at sf1.
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 20): DataFrame =
    connectedComponentsWithStats(pairs, maxRounds)._1

  /** [[connectedComponents]] plus (propagation rounds run, fallback
    * fired) — the observable face of the round budget and the
    * early-stagnation bail, so the spec can pin WHICH path produced the
    * labels instead of inferring it from timing.
    */
  private[operators] def connectedComponentsWithStats(
      pairs: DataFrame, maxRounds: Int = 20): (DataFrame, Int, Boolean) = {
    val Array(ca, cb) = pairs.columns.take(2)
    // materialize the (possibly expensive) pair pipeline ONCE before the
    // union doubles it into an edge list — without this the upstream query
    // (e.g. the whole minhash pipeline) executes twice to fill the cache
    val p = pairs.select(col(ca).as("src"), col(cb).as("dst")).localCheckpoint(true)
    val edges = p
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
      .cache()

    // seed labels with the closed-neighbourhood min: one aggregation over
    // the edge list performs what used to be a distinct() PLUS the whole
    // first propagation round (3 shuffles + a checkpoint) — cliques are
    // fully labelled at seed time and only pay the convergence check.
    // Every node appears as `src` in the symmetrised edge list, so
    // coverage is complete, and the seed is a node id from the same
    // component, so min-propagation still converges to the component min.
    var labels = edges.groupBy("src")
      .agg(min("dst").as("nmin"))
      .select(col("src").as("id"), least(col("src"), col("nmin")).as("label"))
      .localCheckpoint(true)
    var changed  = 1L
    var changed2 = Long.MaxValue // changed count two rounds ago
    var prev     = Long.MaxValue
    var rounds   = 0
    var stagnant = false
    while (changed > 0 && !stagnant && rounds < maxRounds) {
      // the changed-label count rides the checkpoint job via observe()
      // (round-17, same rationale as the star-contraction checksum): the
      // separate filter().count() action per round doubled the loop's
      // synchronized job count for the same scalar. Wait bounded — see
      // observedRow.
      val changedExpr = coalesce(sum(
        when(col("label") < col("old_label"), 1L).otherwise(0L)), lit(0L))
        .as("changed")
      // round-18 fusion (verdict item 3, guide §2.4): the round-17 body
      // was join → agg → LEFT JOIN back to labels (the re-attach of each
      // node's own label). Unioning the self-labels INTO the aggregate
      // removes that second join: per id, min(label) over {own label} ∪
      // {neighbour labels} is exactly least(own, nmin), and old_label
      // rides the self branch (null on neighbour rows; min over one
      // non-null recovers it — every node HAS a self row, so it is never
      // null). Same values, one join + one aggregate per round.
      val self = labels.select(col("id"), col("label"),
        col("label").as("old_label"))
      val neighbor = edges
        .join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("label"),
          lit(null).cast(labels.schema("label").dataType).as("old_label"))
      val next = self.union(neighbor)
        .groupBy("id")
        .agg(min("label").as("label"), min("old_label").as("old_label"))
        .select(col("id"), col("old_label"), col("label"))
      val obs = org.apache.spark.sql.Observation(s"graft_cc_changed_$rounds")
      val updated = next.observe(obs, changedExpr).localCheckpoint(true)
      val changedNow = observedRow(obs.future, updated.agg(changedExpr).head())
        .getAs[Long]("changed")
      changed2 = prev
      prev = changed
      changed = changedNow
      labels = updated.select("id", "label")
      rounds += 1
      // not halving every two rounds after the optimistic window ⇒ a
      // high-diameter graph; bail to the O(log n) algorithm (see doc)
      stagnant = rounds > 4 && changed > 0 && changed * 2 > changed2
    }
    edges.unpersist()
    if (changed == 0) (labels, rounds, false)
    // high diameter: O(log n)-round algorithm. Fed the already-checkpointed
    // pair frame (round-13 advice): passing the raw `pairs` would re-execute
    // the full upstream pipeline (e.g. the whole minhash derivation) from
    // scratch to rebuild an edge list the loop already materialized.
    else (starContractionComponents(p), rounds, true)
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — public algorithm). Same output contract as
    * [[connectedComponents]]: one row per node, (`id`, `label` = min node
    * id in its component).
    *
    * Unlike min-label propagation (rounds = diameter), star contraction
    * halves every path each round, so a 1,000-node chain converges in
    * ~O(log n) ≈ 10 rounds. Each round is two grouped aggregations + two
    * joins on the current edge list — all hash-partitioned on the node id,
    * no driver-side data. Convergence is detected from two scalars per
    * round (edge count + sum of xxhash64 over the canonicalized edge set);
    * a false positive needs a 64-bit hash-sum collision between
    * consecutive rounds, which is negligible against the cost of an exact
    * `EXCEPT` every round at 100 TB.
    */
  def starContractionComponents(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    val Array(ca, cb) = pairs.columns.take(2)
    val p0 = pairs.select(col(ca).as("src"), col(cb).as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint(true)
    val allNodes = p0.select(col("src").as("id"))
      .union(p0.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint(true)

    // convergence scalars ride the checkpoint job via observe()
    // (round-17): the loop is driver-latency-bound on a small edge list,
    // and a separate checksum action per round doubled the synchronized
    // job count. CollectMetrics evaluates during the eager checkpoint's
    // own pass, so each round is ONE job; the checkpointed frame's
    // lineage is already truncated past the metrics node, so downstream
    // consumers never re-fire it. Metric values are identical to the
    // old separate aggregate (count + hash-sum over the same rows).
    def checkpointWithSig(e: DataFrame, round: Int): (DataFrame, (Long, Long)) = {
      val nExpr = count(lit(1)).as("n")
      val hExpr = coalesce(sum(xxhash64(col("src"), col("dst"))), lit(0L)).as("h")
      val obs = org.apache.spark.sql.Observation(s"graft_cc_sig_$round")
      val out = e.observe(obs, nExpr, hExpr).localCheckpoint(true)
      val m = observedRow(obs.future, out.agg(nExpr, hExpr).head())
      (out, (m.getAs[Long]("n"), m.getAs[Long]("h")))
    }

    var (edges, sig) = checkpointWithSig(p0.distinct(), 0)
    var rounds = 0
    var done   = false
    while (!done && rounds < maxRounds) {
      val (next, nextSig) = checkpointWithSig(smallStar(largeStar(edges)), rounds + 1)
      done = nextSig == sig
      edges = next
      sig = nextSig
      rounds += 1
    }
    require(done, s"star contraction did not converge in $maxRounds rounds")
    // converged edge set is a star forest: every edge is (child, root) with
    // child > root; roots (and any node only ever seen as a root) label themselves
    val starMap = edges.select(col("src").as("id"), col("dst").as("label"))
    allNodes.join(starMap, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Large-star: every node attaches its strictly-larger neighbours to the
    * minimum of its closed neighbourhood. One agg + one join, both hash
    * partitioned on `src`.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    // round-18 fusion: no intermediate dedup — every round
    // ends in smallStar's distinct(), whose output SET (and thus the
    // convergence signature and the final star map) is identical with or
    // without it: min/groupBy/union-distinct are multiset-insensitive.
    // Duplicates here cannot explode — the join emits exactly ONE row per
    // oriented input edge (the filter keeps one direction per undirected
    // edge, and `mins` has one row per src), so the multiset size equals
    // the round's input edge count regardless — so skipping the distinct
    // saves one full edge-list exchange per contraction round for a
    // bounded extra row count into smallStar's aggregate, which dedups
    // anyway.
    sym.filter(col("dst") > col("src"))
      .join(mins, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** Small-star: every node attaches its smaller-or-equal neighbours (and
    * itself) to the minimum among them. Edges are first oriented
    * large→small so each undirected edge is processed at its larger
    * endpoint.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val mins = oriented.groupBy("src").agg(min("dst").as("m")) // m <= every dst <= src
    oriented.join(mins, "src")
      .select(col("dst").as("v"), col("m"))
      .union(mins.select(col("src").as("v"), col("m")))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** [[connectedComponents]] plus per-component sizes, in the dedup output
    * shape: (doc_id, cluster_rep, cluster_size) ordered by doc_id.
    */
  def clusters(pairs: DataFrame): DataFrame =
    clustersOf(connectedComponents(pairs))

  /** [[clusters]] with the labelling computed DIRECTLY by
    * [[starContractionComponents]] — for callers that KNOW the graph is
    * high-diameter (e.g. revision chains). The propagation-first path
    * exists for unknown shapes, where near-clique graphs converge in ≤3
    * rounds; when the caller can see the shape up front, riding the
    * optimistic window just burns ~5 driver-synchronized shuffle rounds
    * to learn what the caller already knew. Output contract identical
    * (both algorithms produce the component-min labelling).
    */
  def clustersStar(pairs: DataFrame): DataFrame =
    clustersOf(starContractionComponents(pairs))

  private def clustersOf(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_rep"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Cluster resolution over a DRIFTING-REVISION chain graph (round 13):
    * within each source, consecutive documents (doc_id order) are linked
    * as revision edges a→b→c→…, modelling a document that drifts one
    * small edit at a time — each adjacent pair is a near-dup, the chain's
    * ends share nothing. This is the adversarial shape for min-label
    * propagation (rounds = component diameter = chain length − 1, 24+
    * even at the smallest fixture), so THIS gate is what exercises
    * the O(log n) [[starContractionComponents]] path on the gated
    * surface — the path the 100 TB story depends on, where a revision
    * chain can be millions long. Because the chain shape is KNOWN at
    * this call site, the clustering goes straight to star contraction
    * ([[clustersStar]], round-13 verdict item 3) instead of paying ~5
    * propagation rounds + the stagnation bail to re-discover it every
    * run — the row's 5.6 ↔ 10.2 s swing at sf0.1 was those extra
    * driver-synchronized rounds, not the data. The bail inside
    * [[connectedComponents]] stays, for graphs whose shape is unknown
    * (pinned by GraphOpsSpec). The components are
    * still exactly oracle-restatable without any recursive closure: a
    * per-source chain's component is the source itself, so cluster_rep =
    * min(doc_id) over the source and cluster_size = the source's doc
    * count (sources with a single document have no edge and don't
    * appear). Verify.GateInvariants requires the longest chain to exceed
    * the propagation round budget, so the gate can never silently stop
    * exercising the fallback if the fixture shape changes.
    */
  def revisionChainClusters(t: graft.core.Tables): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    val edges = t.documents.select(col("source"), col("doc_id"))
      .withColumn("prev", lag(col("doc_id"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("a"), col("doc_id").as("b"))
    clustersStar(edges)
  }

  // ---------------------------------------------------------------------
  // Graph analytics over a derived co-activity graph (round 12).
  // ---------------------------------------------------------------------

  /** Undirected co-activity edge list over `events`: two users are linked
    * when both acted in the same (hour, event_type) bucket — the co-click /
    * co-visitation graph every behavioural pipeline derives. The raw
    * construction is quadratic in bucket occupancy, which is exactly the
    * blow-up that kills it at 100 TB (one hot bucket with 10⁶ users →
    * 10¹² pairs), so occupancy is CAPPED first: per bucket, only the
    * `cap` lowest user ids pair up (deterministic, so the oracle replays
    * it with the same `row_number` window), bounding output at
    * C(cap,2) × #buckets regardless of skew — the standard co-occurrence
    * cap production co-click graphs apply per item. One exchange buckets
    * the events; the pair join re-uses that (h, et) partitioning; the
    * final distinct shuffles only (u, v) int pairs.
    */
  def coActivityEdges(t: graft.core.Tables, cap: Int = 10): DataFrame =
    coActivityEdgesOf(t.events, cap)

  /** [[coActivityEdges]] over an explicit events frame — the seam the
    * scaling spec replicates users through to measure the cap's ceiling.
    */
  private[graft] def coActivityEdgesOf(events: DataFrame, cap: Int): DataFrame = {
    val byBucket = events.select(
        date_trunc("hour", col("ts")).as("h"),
        col("event_type").as("et"),
        col("user_id").as("uid"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("h", "et").orderBy("uid")
    // materialize the capped frame ONCE before the self-join — without
    // this both join sides replay the scan + distinct + window pipeline
    // (the connectedComponents posture; 2× corpus scans at 100 TB)
    val capped = byBucket
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .drop("rn")
      .localCheckpoint(true)
    capped.as("a").join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.et") === col("b.et") &&
          col("a.uid") < col("b.uid"))
      .select(col("a.uid").as("u"), col("b.uid").as("v"))
      .distinct()
  }

  /** Global triangle census over [[coActivityEdges]]: one row —
    * (n_nodes, n_edges, n_wedges, n_triangles, transitivity_ppm).
    *
    * Counting is DEGREE-ORIENTED (Chiba–Nishizeki / "compact-forward"):
    * every undirected edge is directed from its lower-(degree, id)
    * endpoint to the higher, turning the graph into a DAG whose
    * out-degrees are bounded by O(√m) for any graph — so the wedge join
    * (o1 ⋈ o2 on source) materializes O(m^1.5) candidates worst-case
    * instead of Σ deg² of the naive id-orientation, the difference
    * between feasible and not on a skewed 100 TB co-click graph. Each
    * triangle {a,b,c} is counted exactly once: it has a unique
    * lowest-order apex, and the closing edge between the two higher
    * endpoints is oriented low→high in the same total order, so the
    * closure join needs no direction guessing. `transitivity_ppm` =
    * ⌊3·triangles·10⁶ / wedges⌋ keeps the clustering coefficient in
    * exact integer arithmetic on both engine and oracle sides.
    */
  def triangleStats(t: graft.core.Tables, cap: Int = 10): DataFrame = {
    val edges = coActivityEdges(t, cap).localCheckpoint(true)
    // round-18: deg is no longer eagerly checkpointed — it is ONE cheap
    // aggregate over the already-checkpointed edge list, and its three
    // consumers sit in two jobs (the `oriented` checkpoint job, where the
    // u- and v-side copies dedup via ReuseExchange, and the final
    // aggregate job). Recomputing the agg there costs one extra stage per
    // job; the eager checkpoint cost a whole extra driver-synchronized
    // job.
    val deg = edges.select(col("u").as("id"))
      .union(edges.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
    val fwd = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    val oriented = withDeg.select(
        when(fwd, col("u")).otherwise(col("v")).as("s"),
        when(fwd, col("v")).otherwise(col("u")).as("d"),
        when(fwd, col("dv")).otherwise(col("du")).as("dd"))
      .localCheckpoint(true)
    val o1 = oriented.as("o1")
    val o2 = oriented.as("o2")
    val o3 = oriented.as("o3")
    val triangles = o1
      .join(o2, col("o1.s") === col("o2.s") &&
        struct(col("o1.dd"), col("o1.d")) < struct(col("o2.dd"), col("o2.d")))
      .join(o3, col("o3.s") === col("o1.d") && col("o3.d") === col("o2.d"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodes  = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    nodes.crossJoin(nEdges).crossJoin(triangles)
      .select(col("n_nodes"), col("n_edges"),
        col("n_wedges").cast("long").as("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          expr("(3 * n_triangles * 1000000) div n_wedges"))
          .otherwise(lit(0L)).cast("long").as("transitivity_ppm"))
  }

  /** PageRank over the symmetrised [[coActivityEdges]] graph in EXACT
    * integer arithmetic — top `k` users by rank after `iters` power
    * iterations (damping 0.85, teleport mass (1−d)·10⁹ per node).
    *
    * Floating-point PageRank is order-of-accumulation dependent, so its
    * ranks can never hash-match an independent oracle; instead ranks live
    * in fixed-point units of 10⁻⁹: per-node share = `pr div deg` (exact
    * integer division), new rank = 150 000 000 + (Σ shares × 85) div 100
    * — every step closed over BIGINT, associative and commutative, so the
    * result is identical under any partitioning and any engine. Rank mass
    * is bounded by nodes × 10⁹ (floor losses only shrink it), far inside
    * the 2⁵³ gate-invariant ceiling until ~9 × 10⁶ nodes. Each iteration
    * is one join of the edge list to the per-node share table plus one
    * grouped sum — the classic message-passing round, hash-partitioned on
    * the node id end to end; `localCheckpoint` truncates lineage so round
    * N's plan does not replay rounds 1..N−1. Dangling nodes cannot occur:
    * every node of the symmetrised list has out-degree ≥ 1 by
    * construction.
    */
  def pagerankTop(t: graft.core.Tables, iters: Int = 3, k: Int = 20,
                  cap: Int = 10): DataFrame =
    pagerankOf(coActivityEdges(t, cap), iters)
      .orderBy(col("pr").desc, col("id")).limit(k)

  /** The power iterations over an explicit undirected (u, v) edge list —
    * one rank row per node. Shared by [[pagerankTop]] and
    * [[communityLeaders]] so composed queries derive the edge list once.
    */
  // Round-18 note (verdict item 3): a degree-carrying fusion — edge list
  // checkpointed WITH the destination degree so each iteration is one
  // join + one grouped sum instead of ranks⋈deg + edges⋈shares — was
  // implemented and A/B'd (5 interleaved pairs, sf0.1): median 1.76 s
  // fused vs 1.74 s unfused on graph_pagerank; the extra upfront symDeg
  // checkpoint job cancels the saved per-round join at this scale, and
  // the node-table join it removes is broadcast-sized here. Measured a
  // wash ⇒ reverted per the keep-only-wins rule; the two-join round
  // below stays the round-17 shape.
  private[graft] def pagerankOf(e: DataFrame, iters: Int): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(true)
    val deg = sym.groupBy("u").agg(count(lit(1)).as("deg"))
      .select(col("u").as("id"), col("deg"))
      .localCheckpoint(true)
    var ranks = deg.select(col("id"), lit(1000000000L).as("pr"))
    for (_ <- 1 to iters) {
      val shares = ranks.join(deg, "id")
        .select(col("id").as("cid"), expr("pr div deg").as("share"))
      ranks = sym.join(shares, col("u") === col("cid"))
        .groupBy(col("v"))
        .agg(expr("150000000L + (sum(share) * 85) div 100").as("pr"))
        .select(col("v").as("id"), col("pr"))
        .localCheckpoint(true)
    }
    ranks
  }

  /** Community detection + influencer ranking in one gated query:
    * connected components over the capped co-activity graph give the
    * communities; exact-integer PageRank over the SAME edge list (derived
    * once, checkpointed) gives per-node influence; the leader is each
    * community's rank argmax (ties to the smallest id). One row per
    * community — (community, n_members, leader_id, leader_pr) — every
    * column exactly restatable, so the composition hash-gates end to end:
    * the oracle re-derives the components via its recursive closure and
    * the ranks via the unrolled integer iterations.
    *
    * Scale: components and pagerank are both id-keyed message passing
    * over the shared cached edges; the final window partitions by
    * community (reusing the join's hash partitioning), bounded by
    * community width.
    */
  def communityLeaders(t: graft.core.Tables, iters: Int = 3,
                       cap: Int = 10): DataFrame = {
    val edges = coActivityEdges(t, cap).localCheckpoint(true)
    val labels = connectedComponents(edges)
      .select(col("id"), col("label").as("community"))
    val ranks = pagerankOf(edges, iters)
    val part = org.apache.spark.sql.expressions.Window.partitionBy("community")
    labels.join(ranks, "id")
      .withColumn("n_members", count(lit(1)).over(part))
      .withColumn("rn", row_number().over(
        part.orderBy(col("pr").desc, col("id").asc)))
      .filter(col("rn") === 1)
      .select(col("community"), col("n_members"),
        col("id").as("leader_id"), col("pr").as("leader_pr"))
      .orderBy("community")
  }
}
