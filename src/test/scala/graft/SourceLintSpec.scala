package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint over `src/main/scala`, beside [[PlanLintSpec]]'s plan
  * lint: settled A/B kill switches and hand-rolled temp-dir deletes stay
  * deleted. Every `SPARK_GRAFT_*` name the engine reads must be one of the
  * live knobs below, and the `Files.walk` → reverse-sort → `deleteIfExists`
  * loop exists once, in `Tables.deleteRecursively` — everything else calls
  * it (or `Tables.scratchDir`), so the one copy carries the warning and
  * the missing-path rule. No handler catches `Throwable`: a catch-and-
  * continue site matches `NonFatal` and says on stderr that it fired.
  * Fixture generations are read only inside `graft/core/` (through
  * `GenerationCache`), and the only temp dirs engine code creates by
  * hand are `Tables.scratchDir`'s and the few that delete their own.
  * Every local session starts from `core.LocalSession.builder`, and
  * every fixture table is opened by `core.Tables`. Memory sinks are
  * started and named in one place, `StreamMeter.toMemory`. Each shared
  * oracle derivation (snapshot B/C, the pair-closure walk, the stopword
  * list, the word 3-gram, the 2-place decimal round-sum, the sliding,
  * busy-hour and session windows, the per-language quality inputs, the
  * adaptive sign bits, the md5 split bucket) is written once, as a named
  * fragment in `SparkEntry`. Parquet footers are opened by one sweep and
  * their statistics decoded by one loop, in `ParquetStats`. The
  * `defaultParallelism` width sites stay at their pinned count: new
  * shuffle widths come from `core.ShuffleWidth`. Every counted decision
  * is a `core.Ledger` tally, and `Bench` reads no other object's counter.
  */
class SourceLintSpec extends AnyFunSuite {
  import scala.jdk.CollectionConverters._

  private val liveEnvNames = Set(
    "SPARK_GRAFT_BENCH_CSV", "SPARK_GRAFT_BENCH_ONLY",
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_ONLY",
    "SPARK_GRAFT_SF_DIR")

  /** (path relative to src/main/scala, file text) for every main source. */
  private lazy val sources: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    val stream = java.nio.file.Files.walk(root)
    try stream.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> new String(
        java.nio.file.Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8))
      .toVector
    finally stream.close()
  }

  /** Per-file count of literal `token` in main sources (files with none
    * left out). */
  private def sites(token: String): Map[String, Int] = sources
    .map { case (f, text) =>
      f -> java.util.regex.Pattern.quote(token).r.findAllIn(text).size }
    .filter(_._2 > 0).toMap

  test("main sources are found") {
    assert(sources.exists(_._1 == "graft/core/Tables.scala"))
  }

  test("only the live SPARK_GRAFT_* names appear in main sources") {
    val stray = for {
      (file, text) <- sources
      name <- "SPARK_GRAFT_[A-Z0-9_]+".r.findAllIn(text)
      if !liveEnvNames(name)
    } yield s"$file: $name"
    assert(stray.isEmpty, s"settled or unknown env switches read: ${stray.distinct}")
  }

  test("the recursive walk-delete loop lives only in Tables.deleteRecursively") {
    val walkDelete = """Files\.walk[\s\S]{0,400}?deleteIfExists""".r
    val copies = sources.map { case (f, text) => f -> walkDelete.findAllIn(text).size }
      .filter(_._2 > 0).toMap
    assert(copies == Map("graft/core/Tables.scala" -> 1),
      s"hand-rolled recursive deletes: route through Tables.deleteRecursively ($copies)")
  }

  test("no catch handler matches Throwable") {
    val throwableCase = """case\s+\w+\s*:\s*Throwable\s*=>""".r
    val sites = for {
      (file, text) <- sources
      (line, n) <- text.linesIterator.zipWithIndex
      if throwableCase.findFirstIn(line).isDefined
    } yield s"$file:${n + 1}"
    assert(sites.isEmpty, s"catch NonFatal and warn on stderr instead: $sites")
  }

  test("fixture generation stamps are read only inside graft/core") {
    val sites = for {
      (file, text) <- sources
      if !file.startsWith("graft/core/")
      (line, n) <- text.linesIterator.zipWithIndex
      if line.contains("fixtureStamp(")
    } yield s"$file:${n + 1}"
    assert(sites.isEmpty, s"cache fixture-derived values in a GenerationCache: $sites")
  }

  test("fixture tables are opened only by core.Tables") {
    // a batch or streaming parquet read whose path is `$dir/<table>.parquet`
    // (the path may sit a few lines below `read`/`readStream`), or a write
    // of the nanosAsLong conf that the events schema is inferred under
    val fixturePath = """\$\{?\w+\}?/\{?\w+\}?\.parquet"""".r
    val sites = for {
      (file, text) <- sources
      if !file.startsWith("graft/core/") && !file.startsWith("graft/tools/")
      lines = text.linesIterator.toVector
      (line, n) <- lines.zipWithIndex
      if !line.trim.startsWith("*") && !line.trim.startsWith("//")
      opensFixture = (line.contains(".read") || line.contains("readStream")) &&
        lines.slice(n, n + 6).find(_.contains(".parquet(")).exists(l =>
          fixturePath.findFirstIn(l).isDefined)
      if opensFixture || line.contains("nanosAsLong")
    } yield s"$file:${n + 1}"
    assert(sites.isEmpty, s"read fixture tables through core.Tables: $sites")
  }

  test("local sessions are built only by core.LocalSession") {
    val sites = for {
      (file, text) <- sources
      if file != "graft/core/LocalSession.scala"
      (line, n) <- text.linesIterator.zipWithIndex
      if line.contains("SparkSession.builder")
      if !line.trim.startsWith("*") && !line.trim.startsWith("//")
    } yield s"$file:${n + 1}"
    assert(sites.isEmpty, s"start from core.LocalSession.builder: $sites")
  }

  test("createTempDirectory appears only in scratchDir and self-deleting sites") {
    // Tables.scratchDir, plus dirs their creator deletes and keeps itself:
    // the CDC feed and WAP staging
    val allowed = Map(
      "graft/core/Tables.scala" -> 1,
      "graft/streaming/CdcStream.scala" -> 1,
      "graft/operators/PublishOps.scala" -> 1)
    val counts = sources
      .map { case (f, text) => f -> "createTempDirectory".r.findAllIn(text).size }
      .filter(_._2 > 0).toMap
    val stray = for {
      (file, text) <- sources
      if counts.get(file) != allowed.get(file)
      (line, n) <- text.linesIterator.zipWithIndex
      if line.contains("createTempDirectory")
    } yield s"$file:${n + 1}"
    assert(counts == allowed,
      s"take scratch space via Tables.scratchDir or a GenerationCache.dirs: $stray")
  }

  test("memory sinks are started and named only by StreamMeter.toMemory") {
    val runner = Map("graft/streaming/StreamMeter.scala" -> 1)
    assert(sites("format(\"memory\")") == runner,
      "run memory-sink gates through StreamMeter.toMemory")
    assert(sites(".queryName(") == runner,
      "StreamMeter.toMemory names every sink")
  }

  test("each shared oracle derivation is written once, in SparkEntry") {
    // a second copy of one of these is the same decision stated twice,
    // free to drift; interpolate SparkEntry's named fragment instead
    val fragments = Seq(
      "doc_id % 11 = 0 THEN upper(text)",                         // snapshotBCte
      "doc_id % 9 = 0 THEN text || ' v2'",                        // snapshotBCCtes
      "SELECT w.id, e.dst FROM walk w JOIN edges e ON w.r = e.src", // pairClosureCtes
      "['the','a','an','of','and','to','in','is','it','for']",    // intakeStopwordsSql
      "tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]",                // shingle3Sql
      "AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100",        // decSumRound2Sql
      "date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start",  // slidingWindowsCte
      "h + INTERVAL 100 MINUTE AS w_end",                         // busyWindowsCtes
      "- epoch_ns(lag(ts) OVER w) // 1000",                       // nativeSessionCtes
      "- CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800",    // sessionBreaksCte
      "length(text)::DOUBLE AS nchars",                           // langQualityCtes
      "WHERE 128 * (1 << b) >= n",                                // adaptiveSignBitsCte
      "substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)")               // md5SplitBucketCte
    val copies = fragments.map(frag => frag -> sites(frag))
      .filter(_._2 != Map("graft/SparkEntry.scala" -> 1))
    assert(copies.isEmpty, s"oracle derivations written more than once: $copies")
  }

  test("defaultParallelism call sites do not grow: new widths go through ShuffleWidth") {
    // a ratchet: ROADMAP direction 2 moves these sites onto the one
    // size-derived rule (core.ShuffleWidth, which reads defaultParallelism
    // as AQE's coalescing does); a change that removes a site lowers the
    // pin with it
    val calls = for {
      (file, text) <- sources if file != "graft/core/ShuffleWidth.scala"
      (line, n) <- text.linesIterator.zipWithIndex
      if !line.trim.startsWith("*") && !line.trim.startsWith("//")
      if line.contains(".defaultParallelism")
    } yield s"$file:${n + 1}"
    assert(calls.size == 6, s"size new shuffles with core.ShuffleWidth: $calls")
  }

  test("parquet footers are opened and decoded in one sweep") {
    // ParquetStats.footerSweep is the only caller of openFooterReader and
    // footerStatsTypedRaw the only statistics decoder; Tables.rowGroups
    // counts row groups on the driver and reads no statistics
    val stats = "graft/sources/ParquetStats.scala"
    assert(sites("openFooterReader(") == Map(stats -> 2),
      "open footers through ParquetStats' one sweep (definition + one call)")
    assert(sites(".getStatistics") == Map(stats -> 1),
      "decode footer statistics in footerStatsTypedRaw only")
    assert(sites("ParquetFileReader.open") ==
      Map(stats -> 1, "graft/core/Tables.scala" -> 1),
      "ParquetFileReader.open belongs to openFooterReader and Tables.rowGroups")
  }

  test("counted decisions go through core.Ledger, and Bench reads no other counter") {
    // AtomicLong is left to the four id sequences that name memory sinks,
    // upsert calls, layout writes and bucketed tables; a new counter is
    // one Ledger.add line, which Bench ships per run as query_ledger
    assert(sites("AtomicLong") == Map(
      "graft/core/Ledger.scala" -> 3,
      "graft/streaming/StreamMeter.scala" -> 1,
      "graft/streaming/EventStream.scala" -> 1,
      "graft/operators/LayoutOps.scala" -> 1,
      "graft/sources/BucketedTables.scala" -> 1),
      "count a decision with core.Ledger.add")
    val bench = sources.toMap.apply("graft/Bench.scala")
    val read = Seq("GraphOps.", "GenerationCache.misses", "PricePipeline.modelFitWalls")
      .filter(bench.contains)
    assert(read.isEmpty, s"Bench reads counters outside the ledger: $read")
  }
}
