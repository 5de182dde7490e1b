package graft.operators

import graft.SparkTestBase
import graft.core.Tables
import org.apache.spark.sql.functions._

/** Degenerate-input robustness: an empty or near-empty corpus is a real
  * state for a continuously-fed pipeline (first run, a filter that drops
  * everything, a new source with no documents yet) — operators must return
  * empty/well-defined results there, not throw. Covers the families where
  * the edge is reachable: dedup, decontamination, text stats, packing,
  * clustering, and scan-side similarity. (ML/KMeans fits legitimately
  * require non-empty input and are out of scope.)
  */
class DegenerateInputSpec extends SparkTestBase {

  /** One empty-fixture dir per JVM: every batch table written with its real
    * schema and zero rows (events excluded — its NANOS encoding can't be
    * reproduced by a plain write, and no spec here needs it).
    */
  private lazy val emptyDir: String = {
    val dir = Tables.scratchDir("graft_empty_")
    // nanosAsLong keeps this robust to fixture drift: whatever encoding
    // events.ts uses (long nanos or native micros), the empty copy carries
    // the same physical type, which Tables.events dispatches on
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings", "events").foreach { name =>
      spark.read.parquet(s"/root/testdata/sf0.001/$name.parquet")
        .limit(0).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }
  private lazy val et: Tables = Tables(spark, emptyDir)

  test("dedup family returns empty on an empty corpus") {
    assert(DedupOps.exactDupStats(et).count() == 0)
    assert(DedupOps.exactDedup(et).count() == 0)
    assert(DedupOps.minhashDupPairs(et, 0.3).count() == 0)
    assert(DedupOps.simhashDupPairs(et, 6).count() == 0)
    assert(DedupOps.ngramJaccardPairs(et, 0.3).count() == 0)
    assert(DedupOps.incrementalDedup(et, "src0").count() == 0)
    assert(DedupOps.decontaminate(et, "src15").count() == 0)
  }

  test("decontaminate with an unknown eval source flags nothing") {
    // eval side empty but the training side is the full fixture corpus
    assert(DedupOps.decontaminate(t, "no_such_source").count() == 0)
  }

  test("duplicateSpans: empty corpus, sub-n-token docs, and no-duplicate corpus") {
    import spark.implicits._
    assert(DedupOps.duplicateSpans(et.documents).count() == 0)
    // docs too short to yield a single 3-gram must vanish, not throw
    val short = Seq((1L, "one two", "s"), (2L, "", "s"), (3L, "solo", "s"))
      .toDF("doc_id", "text", "source")
    assert(DedupOps.duplicateSpans(short).count() == 0)
    // all-distinct corpus: shingles exist but nothing crosses documents
    val distinctDocs = Seq(
      (1L, "aa bb cc dd", "s"), (2L, "ee ff gg hh", "s"))
      .toDF("doc_id", "text", "source")
    assert(DedupOps.duplicateSpans(distinctDocs).count() == 0)
  }

  test("intake pipeline returns empty on an empty corpus") {
    assert(PipelineOps.intakeDecisions(et).count() == 0)
    assert(PipelineOps.intakeStats(et).count() == 0)
  }

  test("text and packing families return empty on an empty corpus") {
    assert(TextOps.tokenStats(et).count() == 0)
    assert(TextOps.repetitionStats(et).count() == 0)
    assert(TextOps.topTokens(et).count() == 0)
    assert(TextOps.fingerprints(et).count() == 0)
    assert(PackingOps.packConcatChunks(et, 1024).count() == 0)
    assert(PackingOps.sampleTokenBudget(et, 8000).count() == 0)
    // empty corpus: the normalizer sum(v) is NULL, so every budget is
    // NULL and the draw filter rejects everything — empty, not a throw
    assert(PackingOps.sampleMixtureTemperature(et, 8000).count() == 0)
    // both snapshots empty → empty diff
    assert(SnapshotOps.snapshotDiffStats(et).count() == 0)
    // no documents → no bigrams → empty perplexity table
    assert(TextOps.bigramPerplexity(et).count() == 0)
    // empty base + empty changes → empty merged corpus
    assert(SnapshotOps.mergeApplyRoundtrip(et).count() == 0)
  }

  test("round-10 samplers and layout on an empty corpus") {
    assert(PackingOps.weightedSample(et, 100).count() == 0)
    assert(PackingOps.weightedSamplePerGroup(et, 10).count() == 0)
    // empty orders: the bounds frame is one all-null row, the keyed side
    // zero rows — the cross join and the roundtrip write both vanish
    assert(LayoutOps.zorderIndex(et).count() == 0)
    assert(LayoutOps.zorderRoundtrip(et).count() == 0)
  }

  test("round-11 tau sampler and approx layout on an empty corpus") {
    // both paths sketch quantiles, and approxQuantile on zero rows
    // returns EMPTY arrays — the operators must short-circuit, not .head
    assert(PackingOps.weightedSampleTau(et, 100).count() == 0)
    assert(LayoutOps.zorderRoundtripApprox(et).count() == 0)
  }

  test("round-11 multimodal resize and frame sampling on an empty corpus") {
    assert(graft.multimodal.MultimodalOps.resizedAssetStats(et).count() == 0)
    assert(graft.multimodal.MultimodalOps.frameSampleStats(et).count() == 0)
  }

  test("row_ids verdict gate on empty orders: vacuous verdicts, no NPE") {
    // min(row_id) aggregates to null on zero rows; the gate must coalesce
    // it instead of NPE-ing in getLong (code-review find, round 10)
    val r = CoreQueries.rowIdsGate(et).head()
    assert(r.getLong(0) == 0L)
    assert(r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3))
  }

  test("cluster resolution over an empty pair graph is empty") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(GraphOps.clusters(empty).count() == 0)
  }

  test("round-7 gates on an empty corpus: resolve, containment, interval joins") {
    assert(DedupOps.resolveClusters(et).count() == 0)
    assert(DedupOps.ngramContainmentPairs(et, 0.0).count() == 0)
    assert(EventOps.intervalJoinBusyWindows(et).count() == 0)
    // all-singleton corpus: resolve keeps every doc
    val keeps = DedupOps.resolveClusters(t)
      .filter(col("keep")).count()
    assert(keeps > 0 && keeps <= t.documents.count())
  }

  test("scan-side ANN on an empty embedding table is empty") {
    assert(SimilarityOps.bruteForceTopK(et, 0L, 10).count() == 0)
    assert(SimilarityOps.lshTopK(et, 0L, 5, 6).count() == 0)
    assert(SimilarityOps.quantizedTopK(et, 0L, 10).count() == 0)
    assert(SimilarityOps.embeddingNearDupExact(et, 0.5).count() == 0)
    assert(SimilarityOps.embeddingNearDupLsh(et, 0.5, 8).count() == 0)
    assert(SimilarityOps.semanticResolve(et, 0.5, 8).count() == 0)
    assert(SimilarityOps.knnJoinQ8(et, 3).count() == 0)
  }

  test("compaction on an empty corpus: one empty file in, lossless zero rows out") {
    // empty partitions still produce a readable (schema-bearing) part
    // file, so the fragment→compact cycle round-trips zero rows
    val frag = LayoutOps.fragmentedLineitem(et)
    val (dir, n) = LayoutOps.compactWrite(spark, frag, 1024L * 1024)
    assert(n == 1 && spark.read.parquet(dir).count() == 0)
    assert(LayoutOps.compactRoundtrip(et).count() == 0)
  }

  test("round-12 gates on an empty corpus: funnel zeros, empty BM25/search/drift/histograms") {
    // funnel: ZERO per stage (the count(col) contract), never NULLs
    val funnel = EventOps.funnelCounts(et).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(funnel == Map("step1_view" -> 0L, "step2_click" -> 0L,
      "step3_purchase" -> 0L))
    // BM25 / inverted index / hash split / stratified sample: empty
    assert(TextOps.bm25TopK(et).count() == 0)
    assert(IndexOps.indexLookupGate(et).count() == 0)
    assert(CoreQueries.hashSplitGate(et).count() == 0)
    assert(CoreQueries.hashStratifiedSample(et).count() == 0)
    // drift of two empty snapshots: no sources, no rows
    assert(SnapshotOps.sourceDrift(
      et.documents.select("doc_id", "source", "text"),
      et.documents.select("doc_id", "source", "text")).count() == 0)
    // anomalies and cluster histogram: empty, not a throw
    assert(EventOps.hourlyAnomalies(et).count() == 0)
    assert(DedupOps.clusterSizeHistogram(et).count() == 0)
  }

  test("bm25 on a corpus without the query terms returns no rows, not zeros") {
    import spark.implicits._
    val dir = Tables.scratchDir("graft_bm25_miss")
    Seq((1L, "wholly unrelated words", "en", "s", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    assert(TextOps.bm25TopK(Tables(spark, dir)).count() == 0)
  }

  test("drift of a snapshot against itself reports zero deltas and no drift") {
    val a = t.documents.select("doc_id", "source", "text")
    val rows = SnapshotOps.sourceDrift(a, a).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("delta") == 0L && !r.getAs[Boolean]("drifted"))
    }
  }

  test("repetition stats on a single-token document") {
    import spark.implicits._
    val one = Seq((1L, "hello", "en", "srcX", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = Tables.scratchDir("graft_onedoc_")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "embeddings").foreach { name =>
      spark.read.parquet(s"/root/testdata/sf0.001/$name.parquet")
        .limit(0).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    one.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextOps.repetitionStats(Tables(spark, dir)).collect()
    assert(r.length == 1)
    // no bigrams -> dup fraction 0; one token dominates fully -> not kept
    assert(r(0).getLong(2) == 1L && r(0).getDouble(3) == 1.0 &&
      r(0).getDouble(4) == 0.0 && !r(0).getBoolean(5))
  }
}
