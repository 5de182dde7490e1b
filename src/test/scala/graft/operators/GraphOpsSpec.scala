package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Connected components by star contraction, checked against a
  * driver-side union-find. The path graph is the adversarial case the
  * round-3 verdict called out: diameter 999, which star contraction must
  * cover in O(log n) rounds.
  */
class GraphOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select(col("id").cast("long"), col("label").cast("long"))
      .as[(Long, Long)].collect().toMap

  /** Driver-side union-find over `pairs`: every id -> its component's
    * minimum id. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** A session on the shared context with `spark.sql.shuffle.partitions`
    * set to `width`. */
  private def sessionOfWidth(width: Int): org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", width.toString)
    s
  }

  /** (labels, widths of every shuffle executed, rounds counted in
    * [[GraphOps.narrowedRounds]]) of connected components over `pairs` in
    * session `s`. The wide-session test below proves the listener sees
    * every CC execution, so an empty width list means no shuffle ran. */
  private def ccShuffles(s: org.apache.spark.sql.SparkSession, pairs: Seq[(Long, Long)])
      : (Map[Long, Long], Seq[Int], Long) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val widths = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        Plans.collect(qe.executedPlan) { case e: ShuffleExchangeLike => e.numPartitions }
          .foreach(widths.add)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val before = GraphOps.narrowedRounds.get()
    s.listenerManager.register(listener)
    // `observe` returns once the listener bus has delivered every event of
    // `body`, the query-execution ends included (same shared queue)
    var got = Map.empty[Long, Long]
    try observe {
      got = labelMap(GraphOps.connectedComponents(s.createDataFrame(pairs).toDF("a", "b")))
    } finally s.listenerManager.unregister(listener)
    (got, widths.asScala.toSeq, GraphOps.narrowedRounds.get() - before)
  }

  test("ShuffleWidth.forBytes: one partition per AQE target size, clamped to [1, configured]") {
    import graft.core.ShuffleWidth.forBytes
    import org.apache.spark.sql.internal.SQLConf
    // parallelism-first off: the target is the advisory size
    val s = sessionOfWidth(200)
    s.conf.set(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST.key, "false")
    val advisory = s.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    assert(forBytes(s, 0L) == 1)
    assert(forBytes(s, advisory) == 1)
    assert(forBytes(s, advisory + 1) == 2)
    assert(forBytes(s, Long.MaxValue) == 200, "no overflow: the ceiling is the configured width")
    assert(forBytes(sessionOfWidth(1), Long.MaxValue) == 1)
    // default confs on 4 cores: AQE fills the cores down to minPartitionSize,
    // so anything above it already takes more than one partition
    val d = sessionOfWidth(200)
    val minSize = d.sessionState.conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    assert(forBytes(d, minSize) == 1)
    assert(forBytes(d, minSize + 1) == 2)
    assert(forBytes(d, 4 * advisory) == 4)
    assert(forBytes(d, Long.MaxValue) == 200)
  }

  test("connected components on a small graph run unshuffled at any session width") {
    val pairs = (0L until 999L).map(i => (i, i + 1))
    val (got, widths, narrowed) = ccShuffles(sessionOfWidth(200), pairs)
    assert(got == unionFind(pairs))
    assert(narrowed > 1, "every round of a 1,000-edge graph runs narrower than 200")
    // width 1: one partition holds every key, so no round needs an exchange
    assert(widths.isEmpty, s"shuffle widths: $widths")
  }

  test("connected components above one partition's size keep the planner's exchanges") {
    val pairs = (0L until 999L).map(i => (i, i + 1))
    val (_, _, rounds) = ccShuffles(sessionOfWidth(200), pairs)
    // at a 1 KB minPartitionSize, a round of the 1,000-node path (~48 KB
    // through its widest exchange) sizes above width 1
    val s = sessionOfWidth(200)
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1024")
    val (got, widths, narrowed) = ccShuffles(s, pairs)
    assert(got == unionFind(pairs))
    assert(narrowed == 0)
    assert(widths.size == 3 * rounds + 1 && widths.forall(_ == 200),
      s"three exchanges per round plus the final per-id min, at the session's width: $widths")
  }

  test("star contraction converges on a 1,000-node path graph in O(log n) rounds") {
    val path = (0L until 999L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = labelMap(GraphOps.connectedComponents(path))
    assert(labels.size == 1000)
    assert(labels.values.toSet == Set(0L)) // one component, min-id label
  }

  test("connectedComponents evaluates the upstream pair pipeline exactly once") {
    // counted by an accumulator on the pair source: the node set and the
    // contraction rounds must read the checkpointed pairs, not replay the
    // upstream pipeline (e.g. the whole minhash derivation)
    val acc = spark.sparkContext.longAccumulator("pairEvals")
    val tap = udf((x: Long) => { acc.add(1L); x })
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("a0", "b")
      .select(tap(col("a0")).as("a"), col("b"))
    val labels = labelMap(GraphOps.connectedComponents(chain))
    assert(labels == (0L to 99L).map(_ -> 0L).toMap)
    assert(acc.value == 99L,
      s"pair pipeline evaluated ${acc.value}/99 rows — connectedComponents " +
        "must reuse its checkpointed pairs, not replay the upstream pipeline")
  }

  test("observedRow: a failed observation falls back to the same value, warns and counts") {
    val edges = (0L until 50L).map(i => (i, i % 7)).toDF("src", "dst")
    val nExpr = count(lit(1)).as("n")
    val hExpr = coalesce(sum(xxhash64(col("src"), col("dst"))), lit(0L)).as("h")
    val obs = org.apache.spark.sql.Observation("graft_spec_sig")
    val out = edges.observe(obs, nExpr, hExpr).localCheckpoint(true)
    val observed = GraphOps.observedRow(obs.future, fail("observation must deliver"))
    val before = GraphOps.observedFallbacks.get()
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val fellBack =
      try GraphOps.observedRow(
        scala.concurrent.Future.failed(new IllegalStateException("bus dropped")),
        out.agg(nExpr, hExpr).head())
      finally System.setErr(saved)
    assert(fellBack == observed, "fallback must be value-identical to the observation")
    assert(GraphOps.observedFallbacks.get() == before + 1)
    assert(err.toString("UTF-8").contains("bus dropped"))
  }

  test("connected components agree with a driver-side union-find on a mixed graph") {
    // near-cliques (triangles missing one edge of a 4-clique), a 99-node
    // chain whose ids are not monotone along it, duplicate and reversed
    // edges, a self-loop inside a component and one self-loop-only id
    val cliques = (0L until 20L).flatMap { i =>
      val b = i * 10
      Seq((b, b + 1), (b + 1, b + 2), (b, b + 2), (b + 2, b + 3), (b + 1, b + 3))
    }
    val order = (0L until 99L).map(i => 1000L + (i * 37) % 99)
    val chain = order.zip(order.tail)
    val extra = Seq((1001L, 1000L), (1000L, 1001L), (11L, 10L), (1037L, 1037L),
      (5000L, 5000L))
    val pairs = cliques ++ chain ++ chain.map(_.swap) ++ extra
    val got = labelMap(GraphOps.connectedComponents(pairs.toDF("a", "b")))
    val expect = unionFind(pairs)
    assert(expect.size == 20 * 4 + 99 + 1)
    assert(got == expect)
    assert(got(5000L) == 5000L, "a self-loop-only id is its own singleton")
    assert(got.values.toSet.size == 20 + 1 + 1)
  }

  test("revision-chain clusters: components match the per-source window derivation and exceed the round budget") {
    val got = GraphOps.revisionChainClusters(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // independent derivation: component = source (chains link consecutive
    // doc_ids within a source), rep = min doc_id, size = source doc count
    val expect = t.documents.select(col("source"), col("doc_id").cast("long"))
      .as[(String, Long)].collect()
      .groupBy(_._1).values
      .filter(_.length > 1)
      .flatMap { docs =>
        val ids = docs.map(_._2)
        ids.map(id => (id, ids.min, ids.length.toLong))
      }.toSet
    assert(got.toSet == expect)
    // the gate's reason to exist: a high-diameter component (> 20 hops)
    assert(got.map(_._3).max > 21)
  }

  test("star contraction handles self-loops, duplicate and reversed edges") {
    val edges = Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)).toDF("a", "b")
    val labels = labelMap(GraphOps.connectedComponents(edges))
    // self-loop-only node 5 is an id of the input, so it keeps its row
    assert(labels == Map(5L -> 5L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("cluster-size histogram: sizes×counts conserve the labelled docs and match a driver recompute") {
    val labels = DedupOps.dupClusters(t, 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val expect = labels.groupBy(_._2).values.map(_.length)
      .groupBy(identity).map { case (sz, cs) => sz.toLong -> cs.size.toLong }
    val got = DedupOps.clusterSizeHistogram(t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    val docs = DedupOps.clusterSizeHistogram(t)
      .agg(org.apache.spark.sql.functions.sum("n_docs")).head().getLong(0)
    assert(docs == labels.length, "histogram must conserve the labelled docs")
  }

  // --- graph analytics over the capped co-activity graph (round 12) ---

  test("triangle census matches a brute-force driver recompute on the fixture graph") {
    val edges = GraphOps.coActivityEdges(t)
      .as[(Long, Long)].collect().map { case (u, v) => (u.min(v), u.max(v)) }.toSet
    // each triangle a<b<y counted once at its lexicographically first edge
    val bruteTriangles = edges.toSeq.map { case (a, b) =>
      edges.count { case (x, y) => x == a && y > b && edges.contains((b, y)) }
    }.sum
    val deg = edges.toSeq.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val wedges = deg.values.map(d => d * (d - 1) / 2).sum
    val row = GraphOps.triangleStats(t).head()
    assert(row.getAs[Long]("n_nodes") == deg.size.toLong)
    assert(row.getAs[Long]("n_edges") == edges.size.toLong)
    assert(row.getAs[Long]("n_wedges") == wedges)
    assert(row.getAs[Long]("n_triangles") == bruteTriangles.toLong)
    if (wedges > 0)
      assert(row.getAs[Long]("transitivity_ppm") ==
        3L * bruteTriangles * 1000000L / wedges)
  }

  test("co-activity cap is a subset relation: cap-3 edges are contained in cap-10 edges") {
    val small = GraphOps.coActivityEdges(t, cap = 3).as[(Long, Long)].collect().toSet
    val big   = GraphOps.coActivityEdges(t, cap = 10).as[(Long, Long)].collect().toSet
    assert(small.nonEmpty && small.subsetOf(big),
      "the first-3 users per bucket are a subset of the first-10, so their pairs must be too")
  }

  test("integer pagerank: deterministic top-k, positive ranks, mass bounded by n×10^9") {
    val e0 = GraphOps.coActivityEdges(t)
    val nNodes = e0.select(col("u")).union(e0.select(col("v"))).distinct().count()
    val top = GraphOps.pagerankTop(t, iters = 3, k = 20)
      .as[(Long, Long)].collect()
    assert(top.length == math.min(20L, nNodes))
    assert(top.forall(_._2 >= 150000000L), "every node keeps at least the teleport mass")
    val again = GraphOps.pagerankTop(t, iters = 3, k = 20).as[(Long, Long)].collect()
    assert(top.toSeq == again.toSeq, "exact integer arithmetic: reruns are bit-identical")
    assert(top.forall(_._2 < nNodes * 1000000000L),
      "no rank can exceed the total mass (floor losses only shrink it)")
  }

  test("community leaders: one row per component, members conserved, leader is the in-community rank argmax") {
    val leaders = GraphOps.communityLeaders(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val edges = GraphOps.coActivityEdges(t)
    val comps = labelMap(GraphOps.connectedComponents(edges))
    val ranks = GraphOps.pagerankOf(edges, 3)
      .as[(Long, Long)].collect().toMap
    assert(leaders.map(_._1).toSet == comps.values.toSet,
      "one leader row per component label")
    assert(leaders.map(_._2).sum == comps.size, "member counts conserve the node set")
    leaders.foreach { case (community, _, leaderId, leaderPr) =>
      assert(comps(leaderId) == community, s"leader $leaderId outside its community")
      assert(ranks(leaderId) == leaderPr)
      val best = comps.collect { case (id, c) if c == community => (ranks(id), id) }
        .minBy { case (pr, id) => (-pr, id) }
      assert((leaderPr, leaderId) == best,
        s"community $community: leader $leaderId is not the rank argmax $best")
    }
  }

  test("pagerank concentrates on the capped hubs: more iterations never resurrect a dropped node") {
    // every iteration's output covers exactly the node set (no node gains
    // or loses rows) — the maintenance invariant the gate relies on
    val e = GraphOps.coActivityEdges(t)
    val n = e.select(col("u")).union(e.select(col("v"))).distinct().count()
    val full = GraphOps.pagerankTop(t, iters = 2, k = Int.MaxValue)
    assert(full.count() == n, "one rank row per node after every iteration")
  }
}
