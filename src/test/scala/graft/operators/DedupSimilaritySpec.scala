package graft.operators

import graft.SparkTestBase
import graft.core.Tables
import org.apache.spark.sql.DataFrame

/** Dedup + similarity operators on tiny literal corpora where ground truth
  * is hand-computable, plus recall checks of the sketch variants against
  * the exact ones on the sf0.001 fixtures.
  */
class DedupSimilaritySpec extends SparkTestBase {
  import spark.implicits._

  /** Tables over a temp dir holding the given literal frames as parquet. */
  private def litTables(docs: DataFrame = null, embs: DataFrame = null): Tables = {
    val dir = Tables.scratchDir("graft-test-")
    if (docs != null) docs.write.parquet(s"$dir/documents.parquet")
    if (embs != null) embs.write.parquet(s"$dir/embeddings.parquet")
    Tables(spark, dir)
  }

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "web"),
    (1L, "the quick brown fox jumps over the lazy dog", "en", "web"),   // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat", "en", "book"),  // near dup of 0
    (3L, "completely different text with no shared shingles at all", "en", "web"))
    .toDF("doc_id", "text", "lang", "source")

  test("exactDedup keeps min doc_id per distinct text") {
    val got = DedupOps.exactDedup(litTables(docs = docs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("ngramJaccardPairs finds exact and near dups with correct jaccard") {
    val got = DedupOps.ngramJaccardPairs(litTables(docs = docs), 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((0L, 1L)) == 1.0)
    // doc0 vs doc2: 7 shingles each, 6 shared → 6/8 = 0.75
    assert(got((0L, 2L)) == 0.75)
    assert(!got.contains((0L, 3L)))
  }

  test("ngramContainmentPairs catches doc-in-doc dups that Jaccard misses") {
    // doc 11 is doc 10's text quoted whole inside a much longer page:
    // every shingle of 10 appears in 11, so containment = 1.0, while
    // Jaccard = |A|/|B| stays far below any dedup threshold.
    val small = "alpha beta gamma delta epsilon zeta"
    val filler = (0 until 80).map(i => s"w$i").mkString(" ")
    val contained = Seq(
      (10L, small, "en", "web"),
      (11L, s"$filler $small $filler", "en", "web"),
      (12L, "unrelated words only here", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val t0 = litTables(docs = contained)
    val cont = DedupOps.ngramContainmentPairs(t0, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont((10L, 11L)) == 1.0)
    assert(!cont.keySet.exists(p => p._1 == 12L || p._2 == 12L))
    // the symmetric gate at its dedup threshold misses the same pair
    val jac = DedupOps.ngramJaccardPairs(t0, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((10L, 11L)))
  }

  test("minhash pairs: exact dups always collide; no false high jaccard") {
    val got = DedupOps.minhashDupPairs(litTables(docs = docs), 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((0L, 1L)) == 1.0) // identical signature → same bands
    got.values.foreach(j => assert(j >= 0.3))
  }

  test("simhash pairs: identical docs at hamming 0") {
    val got = DedupOps.simhashDupPairs(litTables(docs = docs), 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got((0L, 1L)) == 0)
  }

  test("simhash agg formulation matches the scalar simhashBits expression") {
    import graft.functions.TextFunctions.simhashBits
    import org.apache.spark.sql.functions.col
    // every pair the banded operator reports must carry exactly the hamming
    // the scalar HOF expression computes from the per-doc sketches
    val sketches = docs
      .select(col("doc_id"), simhashBits(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val reported = DedupOps.simhashDupPairs(litTables(docs = docs), 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // the exact-dup pair shares every band, so at least it is always present
    assert(reported.contains((0L, 1L)))
    reported.foreach { case ((a, b), ham) =>
      val hof = sketches(a).zip(sketches(b)).count { case (x, y) => x != y }
      assert(ham == hof, s"pair ($a,$b)")
    }
  }

  test("dupClusters: component-min representative, sizes, transitivity") {
    // docs 0,1 identical and 2 near-dup of both → one component {0,1,2}
    // with rep 0 (even when the 1–2 edge is implied only transitively);
    // doc 3 shares nothing → not in any cluster
    val got = DedupOps.dupClusters(litTables(docs = docs), 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == Set(0L, 1L, 2L))
    assert(got.values.forall { case (rep, size) => rep == 0L && size == 3L })
  }

  test("resolveClusters: one keep per cluster, longest text wins, singletons keep") {
    val t0 = litTables(docs = docs)
    val got = DedupOps.resolveClusters(t0, 0.5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3), r.getBoolean(4)))
      .toMap
    // every source doc is labelled
    assert(got.keySet == t0.documents.select("doc_id").collect().map(_.getLong(0)).toSet)
    // exactly one keep per cluster_rep
    val byCluster = got.values.groupBy(_._1)
    byCluster.foreach { case (rep, rows) =>
      assert(rows.count(_._4) == 1, s"cluster $rep keeps != 1")
      // the kept row is the (max text_len, min doc_id) argmax
      val kept = got.filter { case (_, (r, _, _, k)) => r == rep && k }.head
      val best = got.filter { case (_, (r, _, _, _)) => r == rep }
        .minBy { case (id, (_, _, len, _)) => (-len, id) }
      assert(kept._1 == best._1, s"cluster $rep kept ${kept._1}, expected ${best._1}")
    }
    // docs outside any pair-graph component are their own singleton cluster
    val clustered = DedupOps.dupClusters(t0, 0.5).collect().map(_.getLong(0)).toSet
    got.foreach { case (id, (rep, size, _, keep)) =>
      if (!clustered(id)) assert(rep == id && size == 1L && keep, s"singleton $id")
    }
  }

  test("dupClusters agrees with brute-force components on the fixtures") {
    val pairs = DedupOps.minhashDupPairs(t, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val got = DedupOps.dupClusters(t, 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force union-find over the same pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    assert(got.keySet == nodes.toSet)
    nodes.foreach(n => assert(got(n) == find(n), s"node $n"))
  }

  test("streaming minhash pairs == batch minhash pairs (same oracle)") {
    val stream = graft.streaming.DedupStream.minhashPairs(t, 0.3)
    val batch = DedupOps.minhashDupPairs(t, 0.3)
    // set equality, bit-exact including the rounded jaccard doubles
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val (s, b) = (asSet(stream), asSet(batch))
    assert(s.size == stream.count())
    assert(s == b)
  }

  test("windowed streaming minhash: window contract holds and state is bounded") {
    import graft.streaming.{DedupStream, StreamMeter}
    import java.nio.file.{Files, Paths}
    // +1000 s base: event time exactly at epoch 0 is ALWAYS late (stateful
    // ops drop ts <= watermark; initial watermark = 0), so stay clear of it
    def ts(sec: Long) = new java.sql.Timestamp((sec + 1000) * 1000)
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val batches = Seq(
      // batch 1: dup pair (1,2) 50 s apart — inside the 100 s window
      Seq((1L, dup, ts(0)), (2L, dup + " with a tail", ts(50)),
        (100L, "some completely unrelated filler words here", ts(10))),
      // batch 2: lone filler far ahead advances the watermark to 10 000 s
      Seq((101L, "more unrelated filler words to advance time", ts(10000))),
      // batch 3: doc 3 duplicates doc 1's text but arrives 10 100 s later —
      // outside the window, and doc 1's band entries are already evicted
      Seq((3L, dup, ts(10100))))
    // one parquet file per micro-batch (maxFilesPerTrigger 1), planned in
    // modification-time order, so one drain replays the three batches
    val work = Tables.scratchDir("graft_mhw_feed_")
    val feed = Files.createDirectories(Paths.get(work, "feed"))
    val t0 = System.currentTimeMillis() - 60000L
    try {
      batches.zipWithIndex.foreach { case (rows, i) =>
        val staged = s"$work/staged_$i"
        rows.toDF("doc_id", "text", "ts").coalesce(1).write.parquet(staged)
        Tables.listLocalParquetFiles(staged).foreach { f =>
          val to = Files.move(Paths.get(f), feed.resolve(s"b$i.parquet"))
          Files.setLastModifiedTime(to,
            java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
        }
      }
      val docsStream = spark.readStream
        .schema("doc_id LONG, text STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1").parquet(feed.toString)
      val banded = DedupOps.bandedDocs(docsStream, carry = Seq("ts"))
        .withWatermark("ts", "0 seconds")
        .as[DedupStream.TsBandDoc]
      val pairs = StreamMeter.toMemory(
          DedupStream.minhashPairsWindowedOn(banded, 100 * 1000L, 0.3),
          "spec_mhw", org.apache.spark.sql.streaming.OutputMode.Append())
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L)),
        "in-window dup emitted once; cross-window dup (1,3)/(2,3) excluded")

      // bounded state: docs 1/2/100 fanned out 8 band rows each, but after
      // the watermark passed their ts + window only docs 101 and 3 may
      // remain (≤ 16 rows; unbounded variant would hold all 40)
      val m = StreamMeter.snapshot("spec_mhw")
      assert(m.dataBatches == 3, s"one micro-batch per file: $m")
      assert(m.stateRows <= 16, s"state rows=${m.stateRows} not evicted")
    } finally Tables.deleteRecursively(work)
  }

  test("windowed streaming minhash == batch pairs filtered to the id window") {
    val got = graft.streaming.DedupStream.minhashPairsWindowed(t, 0.3, 200)
    val want = DedupOps.minhashDupPairs(t, 0.3)
      .filter($"doc_b" - $"doc_a" <= 200)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(asSet(got) == asSet(want))
  }

  test("embNearDupClusters agrees with union-find over the LSH pairs") {
    val pairs = SimilarityOps.embeddingNearDupLsh(t, 0.35, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val got = SimilarityOps.embNearDupClusters(t, 0.35, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    assert(got.keySet == nodes.toSet)
    nodes.foreach(n => assert(got(n) == find(n), s"node $n"))
  }

  test("semanticResolve: one max-norm keeper per cluster, singletons keep themselves") {
    val rows = SimilarityOps.semanticResolve(t, 0.35, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    // every vector labelled exactly once
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.length == t.embeddings.count())
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (rep, members) =>
      // exactly one keeper, and it is the (norm desc, vec_id asc) argmax
      val keepers = members.filter(_._5)
      assert(keepers.length == 1, s"cluster $rep keeps ${keepers.length}")
      val want = members.minBy(m => (-m._4, m._1))
      assert(keepers.head._1 == want._1, s"cluster $rep wrong keeper")
      // cluster_size column agrees with the actual member count
      members.foreach(m => assert(m._3 == members.length))
    }
    // singleton = its own rep, kept
    byCluster.filter(_._2.length == 1).foreach { case (rep, Array(m)) =>
      assert(m._1 == rep && m._5)
    }
    // agreement with the cluster labelling the resolve is built on
    val clusters = SimilarityOps.embNearDupClusters(t, 0.35, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, rep, _, _, _) =>
      assert(clusters.getOrElse(id, id) == rep)
    }
  }

  test("minhash recall vs exact jaccard on fixtures (threshold 0.5)") {
    val exact = DedupOps.ngramJaccardPairs(t, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sketch = DedupOps.minhashDupPairs(t, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // verification step re-checks true jaccard, so sketch ⊆ exact ...
    assert(sketch.subsetOf(exact))
    // ... and at j≥0.5 with 8 bands × 2 rows recall should be near-total
    if (exact.nonEmpty) assert(sketch.size.toDouble / exact.size >= 0.8)
  }

  private val embs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), "a"),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f), "a"),  // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), "a"),  // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f), "b")) // opposite to 0
    .toDF("vec_id", "embedding", "label")

  test("bruteForceTopK ranks by cosine desc") {
    val got = SimilarityOps.bruteForceTopK(litTables(embs = embs), 0L, 3)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 3L)) // cos: 0.994, 0, -1
  }

  test("embeddingNearDupExact respects label blocking and threshold") {
    val got = SimilarityOps.embeddingNearDupExact(litTables(embs = embs), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L))) // 0-3 blocked by label, 0-2 below threshold
  }

  test("lshTopK reranks with exact cosine inside the probed bucket") {
    // every LSH hit must appear in the exact brute-force ranking with the
    // same cosine (LSH prunes candidates, never changes scores)
    val brute = SimilarityOps.bruteForceTopK(t, 0L, Int.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val lsh = SimilarityOps.lshTopK(t, 0L, 5, 6).collect()
    lsh.foreach(r => assert(brute(r.getLong(0)) == r.getDouble(2)))
  }

  test("ivf ANN: scores are exact cosines; recall@10 vs brute force is reasonable") {
    val brute = SimilarityOps.bruteForceTopK(t, 0L, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val bruteAll = SimilarityOps.bruteForceTopK(t, 0L, Int.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // sf0.001 has only 200 vectors → 16 cells are tiny and noisy; probe
    // half of them here (the sf≥0.01 driver query uses 4/16 where cells
    // hold enough vectors to be meaningful)
    val ivf = SimilarityOps.ivfTopK(t, 0L, 10, 16, 8).collect()
    assert(ivf.length == 10)
    // any vector IVF returns must carry its exact cosine score
    ivf.foreach(r => assert(bruteAll(r.getLong(0)) == r.getDouble(2)))
    val hits = ivf.map(_.getLong(0)).count(brute.contains)
    assert(hits >= 5, s"recall@10 only $hits/10")
  }

  test("ivf probe: partition-pruned scan over the persisted index, stable on reuse") {
    // two calls share one persisted index (build-once TrieMap) — results
    // must be identical, and the probe's cell predicate must prune
    // partitions at planning time, not filter rows after a full scan
    val r1 = SimilarityOps.ivfTopK(t, 0L, 10, 16, 4).collect().toSeq
    val r2 = SimilarityOps.ivfTopK(t, 0L, 10, 16, 4).collect().toSeq
    assert(r1 == r2 && r1.nonEmpty)
    val plan = SimilarityOps.ivfTopK(t, 0L, 10, 16, 4)
      .queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("cell"), s"no cell partition filter in:\n$pf")
    // cell is a partition column, not a data column: it must not appear
    // in the scan's ReadSchema (the whole FileScan prints on one line, so
    // slice the ReadSchema struct out before checking)
    val readSchema = pf.split("ReadSchema: ").last
    assert(!readSchema.contains("cell"),
      s"cell read as a data column: $readSchema")
  }

  test("ivf append: conserves rows, keeps full-probe exactness, lands appends in argmin cells") {
    val (n, unique, probeExact, nearest) =
      SimilarityOps.ivfAppendVerdicts(t, 10, 16)
    assert(n == t.embeddings.count(), "append lost or doubled vectors")
    assert(unique, "vec_id duplicated by the append")
    assert(probeExact, "all-cell probe drifted from brute force after append")
    assert(nearest, "an appended vector is not in its argmin cell")
    // the assignment projection is shuffle-free: ingest must stream
    // through a single Project, never exchange
    val assignPlan = SimilarityOps.ivfAssignProbe(t)
      .queryExecution.executedPlan.toString
    assert(!assignPlan.contains("Exchange"),
      s"IVF assign plans a shuffle:\n$assignPlan")
  }

  test("streamed IVF ingest: >=2 micro-batches, and the stream-built index equals the batch-built one") {
    val row = graft.streaming.AnnIngestStream.ingestGate(t).head()
    assert(row.getBoolean(1) && row.getBoolean(2) && row.getBoolean(3),
      "streamed index broke an append verdict")
    assert(row.getBoolean(4), "ingest did not run as multiple micro-batches")
    assert(row.getLong(0) == t.embeddings.count())
    // same seeded centroids over the same subset ⇒ the micro-batch
    // appends must land every vector in exactly the cell the batch
    // append chose — the unified-model claim, checked row-for-row
    val (streamPath, _) = graft.streaming.AnnIngestStream.ingestedIndexFor(t)
    val streamCells = spark.read.parquet(s"$streamPath/vectors")
      .select(org.apache.spark.sql.functions.col("vec_id").cast("long"),
        org.apache.spark.sql.functions.col("cell").cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batchPath = SimilarityOps.ivfAppendIndexFor(t, 16)
    val batchCells = spark.read.parquet(s"$batchPath/vectors")
      .select(org.apache.spark.sql.functions.col("vec_id").cast("long"),
        org.apache.spark.sql.functions.col("cell").cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(streamCells == batchCells,
      "stream-built and batch-built indexes disagree on a cell assignment")
  }

  test("ivf drift meter: appended index healthy; a dominant cell and an orphaned cell both trip it") {
    val (n, within, noDominant, reachable) =
      SimilarityOps.ivfDriftVerdictsAppended(t, 16)
    assert(n == t.embeddings.count() && within && noDominant && reachable)

    // negative control: hand-built index with 9/10 of the vectors in one
    // cell, plus a cell id that no persisted centroid knows about — the
    // meter must trip BOTH the rebuild trigger and probe-reachability
    val dir = Tables.scratchDir("graft-drift-")
    val skewed = (0L until 9L).map(i => (i, 0, Array(1.0, 0.0), 7)) :+
      (9L, 0, Array(0.0, 1.0), 99)
    skewed.toDF("vec_id", "label", "emb", "cell")
      .write.partitionBy("cell").parquet(s"$dir/vectors")
    Seq((7, Array(1.0, 0.0))).toDF("cell", "centroid")
      .write.parquet(s"$dir/centroids")
    val (n2, within2, noDominant2, reachable2) =
      SimilarityOps.ivfDriftVerdicts(t, dir, 16)
    assert(n2 == 10L && within2)
    assert(!noDominant2, "9-of-10 cell must trip the rebuild trigger")
    assert(!reachable2, "cell 99 has no centroid: must read probe-unreachable")
  }

  test("decontaminate: flags exactly the train docs sharing 3-grams with the eval source") {
    val rows = DedupOps.decontaminate(t, "src15").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getLong(3), r.getDouble(4))))
      .toMap
    // brute-force ground truth from the raw text
    def shingles3(text: String): Set[String] =
      text.split("\\s+").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val docs = t.documents.select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val evalSh = docs.filter(_._2 == "src15").flatMap(d => shingles3(d._3)).toSet
    docs.filter(_._2 != "src15").foreach { case (id, src, text) =>
      val sh = shingles3(text)
      val leaked = sh.count(evalSh.contains)
      if (leaked == 0) {
        assert(!rows.contains(id), s"doc $id flagged with no leaked shingles")
      } else {
        val (gotSrc, nSh, nLeaked, frac) = rows(id)
        assert(gotSrc == src && nSh == sh.size && nLeaked == leaked.toLong,
          s"doc $id: got ($gotSrc, $nSh, $nLeaked), expected ($src, ${sh.size}, $leaked)")
        assert(frac == math.floor(leaked.toDouble / sh.size * 10000 + 0.5) / 10000)
      }
    }
    // eval docs never appear on the train side
    val evalIds = docs.filter(_._2 == "src15").map(_._1).toSet
    assert(rows.keySet.intersect(evalIds).isEmpty)
  }

  test("incremental dedup: admitted digests are novel, distinct, and complete") {
    val admitted = DedupOps.incrementalDedup(t, "src0").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val corpusDigests = t.documents.filter($"source" =!= "src0")
      .select(org.apache.spark.sql.functions.md5($"text")).collect().map(_.getString(0)).toSet
    val batchDigests = t.documents.filter($"source" === "src0")
      .select(org.apache.spark.sql.functions.md5($"text")).collect().map(_.getString(0))
    // novel: nothing admitted exists in the corpus
    assert(admitted.forall(a => !corpusDigests.contains(a._2)))
    // one representative per novel digest, and ALL novel digests admitted
    assert(admitted.map(_._2).distinct.length == admitted.length)
    assert(admitted.map(_._2).toSet == batchDigests.toSet -- corpusDigests)
    // copy counts conserve the batch rows carrying novel digests
    assert(admitted.map(_._3).sum ==
      batchDigests.count(d => !corpusDigests.contains(d)))
  }

  test("incremental dedup: broadcast, bloom and shuffle tiers agree exactly") {
    def rows(maxBroadcast: Long, maxBloom: Long) =
      DedupOps.incrementalDedup(t, "src0", maxBroadcast, maxBloom)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val viaBroadcast = rows(Long.MaxValue, Long.MaxValue)
    val viaBloom     = rows(0L, Long.MaxValue)
    val viaShuffle   = rows(0L, 0L)
    assert(viaBloom == viaBroadcast,
      "bloom prefilter + exact anti-join must admit the same set")
    assert(viaShuffle == viaBroadcast)
    // the bloom split is doing work on this fixture: the prefilter must
    // let some definitely-novel digests bypass the exact join (fpp=1% on a
    // fixture where most batch digests are novel)
    val corpus = t.documents.filter($"source" =!= "src0")
      .select(org.apache.spark.sql.functions.md5($"text").as("digest")).distinct()
    val bf = spark.sparkContext.broadcast(
      corpus.stat.bloomFilter("digest", math.max(corpus.count(), 1L), 0.01))
    val batch = t.documents.filter($"source" === "src0")
      .select(org.apache.spark.sql.functions.md5($"text")).collect().map(_.getString(0))
    val bypass = batch.count(d => !bf.value.mightContainString(d))
    assert(bypass > 0, "bloom prefilter rejected nothing — split is dead code on fixture")
  }

  test("BRP-LSH ANN (MLlib built-in): exact cosines on unit vectors; recall@10") {
    val brute10 = SimilarityOps.bruteForceTopK(t, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val bruteAll = SimilarityOps.bruteForceTopK(t, 0L, Int.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val brp = SimilarityOps.brpLshTopK(t, 0L, 10).collect()
    assert(brp.length == 10)
    // on L2-normalized vectors 1 − d²/2 IS the cosine (within 1e-6 rounding)
    brp.foreach(r => assert(math.abs(bruteAll(r.getLong(0)) - r.getDouble(2)) <= 2e-6))
    val hits = brp.map(_.getLong(0)).count(brute10.contains)
    assert(hits >= 5, s"recall@10 only $hits/10")
  }

  test("canonical pair ordering (doc_a < doc_b) on fixture outputs") {
    SimilarityOps.embeddingNearDupLsh(t, 0.35, 8)
      .collect().foreach(r => assert(r.getLong(0) < r.getLong(1)))
    SimilarityOps.embeddingNearDupExact(t, 0.35)
      .collect().foreach(r => assert(r.getLong(0) < r.getLong(1)))
  }

  test("duplicateSpans: span merging semantics on a hand-built fixture") {
    import spark.implicits._
    val docs = Seq(
      // "w1 w2 w3" duplicated at positions 0 and 7 (gap 7 > 3: two spans)
      (0L, "w1 w2 w3 q1 q2 q3 q4 w1 w2 w3", "sA"),
      (1L, "w1 w2 w3 z1 z2 z3", "sA"),
      // consecutive duplicated positions 0,1,2 merge into one 5-token span
      (2L, "p1 p2 p3 p4 p5", "sB"),
      (3L, "p1 p2 p3 p4 p5 u1", "sB"),
      // duplicated positions 0 and 3: gap == n merges (windows touch)
      (4L, "k1 k2 k3 k4 k5 k6", "sC"),
      // same two 3-grams split by q: gap 4 > 3 stays two spans
      (5L, "k1 k2 k3 q k4 k5 k6", "sC"))
      .toDF("doc_id", "text", "source")
    val got = DedupOps.duplicateSpans(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getDouble(6)))).toMap
    val want = Map(
      0L -> ((10L, 2L, 3L, 6L, 0.6)),
      1L -> ((6L, 1L, 3L, 3L, 0.5)),
      2L -> ((5L, 1L, 5L, 5L, 1.0)),
      3L -> ((6L, 1L, 5L, 5L, 0.8333)),
      4L -> ((6L, 1L, 6L, 6L, 1.0)),
      5L -> ((7L, 2L, 3L, 6L, 0.8571)))
    assert(got == want, s"got $got")
  }

  test("duplicateSpans matches a brute-force ground truth on sf0.001") {
    val got = DedupOps.duplicateSpans(t.documents).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap

    val docs = t.documents.select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def grams(text: String): Array[String] =
      text.split("\\s+").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toArray
    val df = scala.collection.mutable.Map.empty[String, Set[Long]]
    docs.foreach { case (id, _, text) =>
      grams(text).distinct.foreach(g => df(g) = df.getOrElse(g, Set.empty) + id)
    }
    val dupGrams = df.collect { case (g, ids) if ids.size >= 2 => g }.toSet

    var expected = 0
    docs.foreach { case (id, src, text) =>
      val gs  = grams(text)
      val pos = gs.indices.filter(i => dupGrams(gs(i)))
      if (pos.isEmpty) assert(!got.contains(id), s"doc $id has no duplicated grams")
      else {
        expected += 1
        // merge positions whose 3-token windows touch (gap <= 3)
        val spans = pos.tail.foldLeft(List((pos.head, pos.head))) {
          case ((s0, s1) :: rest, p) =>
            if (p - s1 <= 3) (s0, p) :: rest else (p, p) :: (s0, s1) :: rest
          case (Nil, p) => List((p, p))
        }
        val lens = spans.map { case (a, b) => (b - a + 3).toLong }
        val nTok = text.split("\\s+").length.toLong
        val frac = math.floor(lens.sum.toDouble / nTok * 10000 + 0.5) / 10000
        assert(got(id) == ((src, nTok, spans.size.toLong, lens.max, lens.sum, frac)),
          s"doc $id: got ${got(id)}")
      }
    }
    assert(got.size == expected)
    assert(expected > 0, "fixture produced no duplicated spans — test is vacuous")
  }

  test("knn join adaptive bits: bucket width tracks corpus size, work stays linear") {
    // the rule: smallest b in [1,16] with 128*2^b >= n — expected bucket
    // width lands in (64, 128], so intra-bucket pairs grow ~n·128, not n²
    assert(SimilarityOps.adaptiveSignBits(1) == 1)
    assert(SimilarityOps.adaptiveSignBits(256) == 1)
    assert(SimilarityOps.adaptiveSignBits(257) == 2)
    assert(SimilarityOps.adaptiveSignBits(500) == 2)   // sf0.01 corpus
    assert(SimilarityOps.adaptiveSignBits(2000) == 4)  // sf0.1 corpus
    assert(SimilarityOps.adaptiveSignBits(20000) == 8) // sf1 corpus
    assert(SimilarityOps.adaptiveSignBits(Long.MaxValue) == 16) // capped
    // 10x the data can never COARSEN the buckets
    Seq(100L, 1000L, 10000L, 100000L).foreach { n =>
      assert(SimilarityOps.adaptiveSignBits(10 * n) >= SimilarityOps.adaptiveSignBits(n))
    }
    // default (adaptive) mode computes exactly the explicit-bits plan
    val n = t.embeddings.count()
    val adaptive = SimilarityOps.knnJoinLsh(t, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val explicit = SimilarityOps.knnJoinLsh(t, 3, SimilarityOps.adaptiveSignBits(n))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(adaptive == explicit)
  }

  test("knn join: ranks contiguous, scores descending, bucket-exact top-k") {
    val k = 3
    val rows = SimilarityOps.knnJoinLsh(t, k, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (v, rs) =>
      val byRank = rs.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1 to rs.length), s"vec $v ranks not contiguous")
      assert(rs.length <= k, s"vec $v has ${rs.length} > k neighbors")
      val scores = byRank.map(_._3).toSeq
      assert(scores == scores.sorted.reverse, s"vec $v scores not descending")
      assert(!rs.exists(_._2 == v), s"vec $v is its own neighbor")
    }
    // bucket-exact: one vector's reported neighbors == brute-force top-k
    // among SAME-BUCKET peers (recompute buckets + cosines from raw data)
    val raw = t.embeddings.collect().map { r =>
      val emb = r.getSeq[Float](1).map(_.toDouble).toArray
      (r.getLong(0), emb)
    }
    def bucket(e: Array[Double]) = e.take(4).map(x => if (x >= 0) '1' else '0').mkString
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0
      else a.zip(b).map { case (x, y) => x * y }.sum / (na * nb)
    }
    val probe = rows.head._1
    val pe = raw.find(_._1 == probe).get._2
    val peers = raw.filter(x => x._1 != probe && bucket(x._2) == bucket(pe))
    val want = peers.map(x => (r6(cos(pe, x._2)), x._1))
      .sortBy { case (c, id) => (-c, id) }.take(k).map(_._2).toSeq
    val got = rows.filter(_._1 == probe).sortBy(_._4).map(_._2).toSeq
    assert(got == want, s"vec $probe: got $got want $want")
  }

  test("truncated-dims retrieval: prefix cosine matches a driver recompute; flags mark full-dim members") {
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0
      else a.zip(b).map { case (x, y) => x * y }.sum / (na * nb)
    }
    val raw = t.embeddings.collect().map(r =>
      r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    val q = raw(0L)
    val others = raw.toSeq.filter(_._1 != 0L)
    val wantTrunc = others.map { case (id, e) => (r6(cos(e.take(8), q.take(8))), id) }
      .sortBy { case (c, id) => (-c, id) }.take(10)
    val fullTop = others.map { case (id, e) => (r6(cos(e, q)), id) }
      .sortBy { case (c, id) => (-c, id) }.take(10).map(_._2).toSet
    val got = SimilarityOps.truncatedDimsTopK(t).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getBoolean(3)))
    assert(got.map(x => (x._2, x._1)).toSeq == wantTrunc.toSeq)
    got.foreach { case (id, _, flag) => assert(flag == fullTop.contains(id)) }
  }

  test("cluster holdout: no near-dup cluster spans train and holdout; counts conserve the corpus") {
    val assigned = DedupOps.clusterHoldoutAssignments(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(assigned.length == t.documents.count())
    // the leakage guarantee: every rep maps to exactly one split
    val splitsPerRep = assigned.groupBy(_._2).values.map(_.map(_._3).distinct.size)
    assert(splitsPerRep.forall(_ == 1), "a cluster was torn across the split boundary")
    // duplicate PAIRS (the thing document-hash splits leak) stay together
    val pairs = DedupOps.minhashDupPairs(t, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val splitOf = assigned.map(a => a._1 -> a._3).toMap
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(splitOf(a) == splitOf(b), s"near-dups $a/$b split apart") }
    // both splits populated at the fixture scale
    val bySplit = assigned.groupBy(_._3).view.mapValues(_.length).toMap
    assert(bySplit.keySet == Set("train", "holdout") && bySplit.values.forall(_ > 0))
  }
}
