package graft

import graft.core.{Ledger, LocalSession, QueryProfile, Tables}
import graft.ml.PricePipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and prints per-query seconds as JSON.
  *
  * Each query is materialized through the `noop` sink — `count()` would let
  * Catalyst prune every projection and aggregate down to a row count,
  * benchmarking a different (much cheaper) plan than the one Verify checks.
  * The noop sink executes the full physical plan and discards rows at the
  * writer, so timings reflect real operator cost with zero driver collect.
  *
  * Beyond the query map, two reference workloads from BASELINE.md are
  * timed so the numbers are directly comparable:
  *  - `sample_loading`: CSV read with inferSchema + size estimate + 10%
  *    sample (the reference's most expensive published phase, 22.9–42.6 s
  *    on its cluster; `performance_py/2-cores-6-instances.py:78-104`). The
  *    CSV itself is derived from the parquet fixture once, untimed.
  *  - `ml_fit_*`: fit + 5-metric evaluation for LinearRegression /
  *    DecisionTree / RandomForest on the shared cached feature frame
  *    (BASELINE.md model rows: 53.5 / 38.7 / 35.9 s @100 MB).
  *
  * Every row's runs are profiled by a [[QueryProfile]] registered on the
  * bench's own session: jobs, stages, tasks, task run/CPU/GC time,
  * shuffle, spill, scan bytes and driver gap, shipped per row for the
  * reported run (`query_profile`), and each run's [[Ledger]] delta, the
  * decisions it took (`query_ledger`). The same profile is the tilt signal:
  * a row whose tasks spent most of their run time off the CPU was starved
  * of cores or disk by something else on the host, and is listed in
  * `sf01_row_trips` (suite rows) or `sf1_row_trips` (sf1 leg rows);
  * `host_degraded` applies the rule to the summed task time of every
  * reported run.
  */
object Bench {

  /** One timed run of a row: wall seconds (-1 when the run failed),
    * process CPU as a percent of all cores, stop-the-world GC seconds,
    * and the [[Ledger]] tallies the run added.
    */
  private[graft] final case class Run(wall: Double, cpuPct: Double, gc: Double,
                                      ledger: Map[String, Long])

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Cumulative stop-the-world collection time reported by every GC
    * bean, in seconds — deltas across a timed span attribute that
    * span's GC pauses. Beans that don't track time report -1 and are
    * floored to 0.
    */
  private[graft] def gcTotalSec(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  }

  /** Times `body` as run `run` of row `name`. X2 parity: the span also
    * meters process CPU (the reference wraps every query in
    * psutil.cpu_percent, `performance_py/2-cores-6-instances.py:78-104`),
    * reported as process-CPU ÷ (wall × cores) × 100 — a scheduling-bound
    * query reads low, a parallel scan reads high. A failed run prints its
    * error and records the wall sentinel -1.
    */
  private[graft] def timeRun(profile: QueryProfile, name: String, run: Int)
                            (body: => Unit): Run = {
    val l0 = Ledger.snapshot()
    val g0 = gcTotalSec()
    val c0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    try profile.timed(name, run)(body)
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      return Run(-1.0, -1.0, -1.0, Ledger.delta(l0))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (osBean.getProcessCpuTime - c0) / 1e9
    Run(wall, 100.0 * cpu / (wall * Runtime.getRuntime.availableProcessors()),
      gcTotalSec() - g0, Ledger.delta(l0))
  }

  /** The reported run of a row: the faster of its two, numbered 1 or 2;
    * none when either run failed.
    */
  private[graft] def reported(runs: (Run, Run)): Option[(Run, Int)] = runs match {
    case (a, b) if a.wall < 0 || b.wall < 0 => None
    case (a, b) => Some(if (a.wall <= b.wall) (a, 1) else (b, 2))
  }

  private type Profiles = Map[(String, Int), QueryProfile.Profile]

  /** The profile of a row's reported run; none for a failed row. */
  private def profileOf(row: (String, (Run, Run)), profiles: Profiles)
      : Option[QueryProfile.Profile] =
    reported(row._2).flatMap(r => profiles.get((row._1, r._2)))

  /** Rows whose reported run reads as tilted; failed rows never do. */
  private[graft] def tripsOf(rows: Seq[(String, (Run, Run))], profiles: Profiles)
      : Seq[String] =
    rows.filter(profileOf(_, profiles).exists(_.tilted)).map(_._1)

  /** The host reads as degraded when the summed task time of every
    * reported run reads as tilted.
    */
  private[graft] def hostDegraded(rows: Seq[(String, (Run, Run))],
                                  profiles: Profiles): Boolean = {
    val ps = rows.flatMap(profileOf(_, profiles))
    QueryProfile.tilted(ps.map(_.taskRunS).sum, ps.map(_.taskCpuS).sum,
      ps.map(_.taskGcS).sum)
  }

  /** Both runs of every timed row, in timing order. Two runs per row,
    * report the min: a single pass conflates each query's cost with
    * whatever JIT/GC state the previous queries left behind (measured
    * 55-108 s total swing run-to-run); min-of-2 reports steady-state
    * per-query cost. A failed row reports -1 and lands in
    * failed_queries — a broken query must not look like a fast one.
    */
  private final class Suite(profile: QueryProfile) {
    val rows = scala.collection.mutable.LinkedHashMap[String, (Run, Run)]()

    def timed(name: String)(body: => Unit): Double = {
      val runs = (timeRun(profile, name, 1)(body), timeRun(profile, name, 2)(body))
      rows(name) = runs
      reported(runs).fold(-1.0)(_._1.wall)
    }
  }

  private def json(kvs: Iterable[(String, Any)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private def names(ns: Iterable[String]): String =
    ns.map("\"" + _ + "\"").mkString("[", ",", "]")

  private def r3(x: Double): Double = math.round(x * 1000) / 1000.0

  private def queryRow(spark: SparkSession, dir: String, name: String): Unit = {
    // verdict gates that embed heavy verification (ANN brute-force sweeps,
    // ML re-fits) are benched via their raw production probe (round 9)
    val benched = SparkEntry.benchProbes.getOrElse(name, SparkEntry.queries(name))
    benched(spark, dir).write.format("noop").mode("overwrite").save()
  }

  /** Runs `f` over a header CSV copy of `dir`'s lineitem, written untimed
    * to a scratch dir that is deleted as soon as `f` returns.
    */
  private def withLineitemCsv[T](spark: SparkSession, dir: String)(f: String => T): T = {
    val csv = Tables.scratchDir("graft_bench_csv")
    try {
      Tables(spark, dir).lineitem
        .write.option("header", "true").mode("overwrite").csv(csv)
      f(csv)
    } finally Tables.deleteRecursively(csv)
  }

  /** Runs `f` over the 80/20 split of `dir`'s cached feature frame, built
    * untimed: the reference featurizes once and times each model's fit.
    */
  private def withSplit[T](spark: SparkSession, dir: String)
                          (f: (DataFrame, DataFrame) => T): T = {
    val feat = PricePipeline.featurizedCached(Tables(spark, dir))
    try {
      val Array(train, test) = feat.randomSplit(Array(0.8, 0.2), seed = 42)
      f(train, test)
    } finally { feat.unpersist(); () }
  }

  private def fit(model: String, train: DataFrame, test: DataFrame): Unit =
    PricePipeline.fitEval(model, PricePipeline.regressors.toMap.apply(model), train, test)

  /** One suite pass — every gate query, the reference sample-loading
    * phase, the streaming-overhead row, the three reference ML fits and the
    * sf1 headline leg when available: (suite rows, sf1 rows, process CPU %).
    */
  private def runSuite(spark: SparkSession, sfDir: String,
                       only: Option[Set[String]], suite: Suite)
      : (Seq[(String, Double)], Seq[(String, Double)], Double) = {
    // the warm-ups fed the stream meters; the artifact reports the suite's
    graft.streaming.StreamMeter.reset()
    val cpuT0 = osBean.getProcessCpuTime
    val wallT0 = System.nanoTime()
    def runs(name: String): Boolean = only.forall(_(name))
    import suite.timed

    val queryResults = SparkEntry.queries.keys.toSeq.sorted.filter(runs)
      .map(name => name -> timed(name)(queryRow(spark, sfDir, name)))

    val loadingResults =
      if (!runs("sample_loading")) Seq.empty
      else withLineitemCsv(spark, sfDir) { csv =>
        Seq("sample_loading" -> timed("sample_loading")(sampleLoadingPhase(spark, csv)))
      }

    // Each streaming row pays micro-batch engine init (query start, offset
    // log, state store, memory sink) on top of its data cost. This row times
    // that machinery over a 1-row input through the streaming rows' own
    // runner, StreamMeter.toMemory: data cost ≈ row − streaming_overhead.
    val streamingOverheadResults =
      if (!runs("streaming_overhead")) Seq.empty
      else {
        val oneRowDir = Tables.scratchDir("graft_bench_stream1")
        try {
          spark.range(1).toDF("id").write.mode("overwrite").parquet(oneRowDir)
          Seq("streaming_overhead" -> timed("streaming_overhead") {
            graft.streaming.StreamMeter.toMemory(
              spark.readStream.schema("id LONG").parquet(oneRowDir).groupBy().count(),
              "streaming_overhead", org.apache.spark.sql.streaming.OutputMode.Complete())
            ()
          })
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] streaming_overhead setup failed: ${e.getMessage}")
          Seq.empty
        } finally Tables.deleteRecursively(oneRowDir)
      }

    // filtered PER MODEL: SPARK_GRAFT_BENCH_ONLY=ml_fit_DecisionTree times
    // only that fit; the shared feature frame is built once for the subset
    val mlModels = Seq("LinearRegression", "DecisionTree", "RandomForest")
      .filter(m => runs(s"ml_fit_$m"))
    val mlResults =
      if (mlModels.isEmpty) Seq.empty
      else withSplit(spark, sfDir) { (train, test) =>
        mlModels.map(m => s"ml_fit_$m" -> timed(s"ml_fit_$m")(fit(m, train, test)))
      }

    // sf1 headline leg: when benching sf0.1 and the GenScale'd replica
    // exists (local/sf1, 10×), also time the ten headline rows, data-bound
    // a decade up, through the suite rows' own bodies, in one pass.
    val sf1Dir = "local/sf1"
    val sf1Results =
      if (only.nonEmpty || !sfDir.contains("sf0.1") ||
          !java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sf1Dir))) Seq.empty
      else {
        // warm the replica untimed, so the leg's first timed row does not
        // absorb a cold ~1 GB parquet read and the per-table footer probes
        try {
          val tt = Tables(spark, sf1Dir)
          Seq(tt.lineitem, tt.orders, tt.documents, tt.embeddings)
            .foreach(_.write.format("noop").mode("overwrite").save())
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] sf1 replica warm-up failed: $e") }
        withLineitemCsv(spark, sf1Dir) { csv =>
          withSplit(spark, sf1Dir) { (train, test) =>
            headline.map { n =>
              n -> timed(s"sf1:$n") {
                if (SparkEntry.queries.contains(n)) queryRow(spark, sf1Dir, n)
                else if (n == "sample_loading") sampleLoadingPhase(spark, csv)
                else fit(n.stripPrefix("ml_fit_"), train, test)
              }
            }
          }
        }
      }

    val cpuSec = (osBean.getProcessCpuTime - cpuT0) / 1e9
    val cpuPct = 100.0 * cpuSec /
      ((System.nanoTime() - wallT0) / 1e9 * Runtime.getRuntime.availableProcessors())
    (queryResults ++ loadingResults ++ streamingOverheadResults ++ mlResults,
      sf1Results, cpuPct)
  }

  /** The reference's sample-loading phase body, shared by the suite row
    * and the sf1 leg row: inferSchema load (a full pass) +
    * stringified-sample size estimate + 10% sample materialization —
    * the reference's exact workload shape over a prepared CSV dir.
    */
  private def sampleLoadingPhase(spark: SparkSession, csvDir: String): Unit = {
    val df = spark.read
      .option("header", "true").option("inferSchema", "true").csv(csvDir)
    val sampleRows = df.limit(100).collect()
    val rowBytes =
      if (sampleRows.isEmpty) 0L
      else sampleRows.map(_.mkString(",").length.toLong).sum / sampleRows.length
    val estMb = rowBytes * df.count() / 1e6 // full pass, like the reference
    require(estMb >= 0)
    df.sample(withReplacement = false, 0.1, seed = 42)
      .write.format("noop").mode("overwrite").save()
  }

  private[graft] val headline = Seq(
    "q1_group_count_avg", "q2_median_by_priority", "q2_approx_median",
    "q3_status_share", "sample_loading", "ml_fit_LinearRegression",
    "ml_fit_DecisionTree", "ml_fit_RandomForest",
    "dedup_minhash", "ann_knn_join")

  /** Footer/metadata-only gates: their steady-state wall is (almost) pure
    * per-row harness overhead — plan + submit + a noop write over O(files)
    * footer reads, independent of the data volume. The median of their
    * best walls is reported as `overhead_floor` (round-13 verdict item 6)
    * so a cross-round total delta can be split into "suite grew / host
    * drifted" vs real per-query movement: at sf0.1/local[32] 190+ of the
    * ~250 rows are sub-second and carry mostly this floor.
    */
  private val overheadFloorGates = Seq(
    "stats_metadata_agg", "stats_parquet_footer", "stats_footer_typed",
    "stats_column_sizes", "time_travel_history", "vacuum_orphan_scan")

  /** Comparison-ceiling rows (round-13 verdict item 7): quarantined
    * upper-bound twins kept ONLY to measure what the production path
    * avoids (e.g. MLlib MinHashLSH's OR-amplified candidate blow-up).
    * Tagged in the artifact so a heavy-leg reader can tell a documented
    * ceiling from a production-path regression without BENCH.md open.
    */
  private val ceilingRows = Set("dedup_minhash_mllib")

  /** Fit-variance rows (round-14 verdict item 5): rows whose wall is
    * dominated by iterative ML fits with run-to-run optimizer variance
    * (30.3 → 33.5 → 44.8 s across calibration-green captures for the
    * 9-model table). Tagged like `ceiling_rows` so the cross-round
    * comparison rule can exclude fit variance explicitly; the per-model
    * fit walls ship per run in `query_ledger` (`ml.fit_ms.<model>`) for
    * attribution.
    */
  private val varianceRows = Set("ml_price_metrics_full")

  /** Per-generation workload metadata (round-14 verdict item 4): emitted
    * NEXT TO the timings so a cross-generation band shift — e.g. the
    * sf10 minhash replica's documented 39–53 s band — is attributable
    * from the artifact alone: digest unchanged ⇒ host/noise, digest
    * moved ⇒ content, and the candidate-pair / cluster counts say HOW
    * the content moved. All derivation is untimed. The digest samples
    * each parquet file's name, length, and first/last MiB (fixtures are
    * regenerated as whole files, so any regeneration moves it) — a full
    * content read would cost ~30 s untimed on a 10 GB replica for no
    * extra attribution power.
    */
  private def fixtureDigest(sfDir: String): String =
    try {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val md = java.security.MessageDigest.getInstance("MD5")
      val stream = Files.walk(Paths.get(sfDir))
      val files = try stream.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.toString).toVector.sorted finally stream.close()
      val mib = 1L << 20
      files.foreach { f =>
        val ch = java.nio.channels.FileChannel.open(Paths.get(f))
        try {
          val size = ch.size()
          md.update(f.stripPrefix(sfDir).getBytes("UTF-8"))
          md.update(java.nio.ByteBuffer.allocate(8).putLong(size).array())
          def chunk(from: Long, until: Long): Unit = {
            val buf = java.nio.ByteBuffer.allocate((until - from).toInt)
            while (buf.hasRemaining && ch.read(buf, from + buf.position()) >= 0) ()
            md.update(buf.array(), 0, buf.position())
          }
          chunk(0L, math.min(size, mib)) // the first MiB, then the last past it
          if (size > mib) chunk(math.max(size - mib, mib), size)
        } finally ch.close()
      }
      md.digest().map("%02x".format(_)).mkString.take(16)
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] fixture digest unavailable: $e")
      "unavailable" }

  /** The workload counts behind the band-sensitive rows: corpus volume
    * (docs/chars/ws-tokens/embeddings) always; the minhash candidate-pair
    * and dup-cluster counts only when the dedup family is in scope (they
    * cost roughly one extra untimed minhash pass). -1 = not derived.
    */
  private def workloadJson(spark: SparkSession, sfDir: String,
                           withDedup: Boolean): (String, String) =
    try {
      import org.apache.spark.sql.functions._
      val t = Tables(spark, sfDir)
      val doc = t.documents.agg(
        count(lit(1)),
        sum(length(col("text"))).cast("long"),
        sum(size(split(col("text"), "\\s+"))).cast("long")).head()
      val nEmb = t.embeddings.count()
      val (cand, clus) =
        if (withDedup)
          (graft.operators.DedupOps.minhashCandidatePairs(t).count(),
            graft.operators.DedupOps.dupClusters(t, 0.5)
              .select("cluster_rep").distinct().count())
        else (-1L, -1L)
      // the digest is returned AS A VALUE next to the serialized object
      // (round-15 advice): the compact line used to re-parse it out of
      // this string positionally (split("\"")(3)), which would silently
      // pick up a field NAME if the object's field order ever changed
      val digest = fixtureDigest(sfDir)
      (digest,
        s"""{"fixture_digest":"$digest","n_docs":${doc.getLong(0)},""" +
          s""""doc_chars":${doc.getLong(1)},"doc_ws_tokens":${doc.getLong(2)},""" +
          s""""n_embeddings":$nEmb,"minhash_candidate_pairs":$cand,""" +
          s""""dup_clusters":$clus}""")
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] workload counts unavailable: $e")
      ("unavailable", s"""{"fixture_digest":"unavailable"}""") }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // registered on this session only: no other session reads a profile
    val profile = new QueryProfile
    spark.sparkContext.addSparkListener(profile)

    // Warm up session-level one-time costs (JIT, codegen, parquet reader,
    // JSON parser, streaming engine) so they don't land on whichever query
    // touches them first: round 1 read events_json_stats at 15 s (0.4 s
    // steady) and the first streaming query at 11 s.
    try {
      SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
      import org.apache.spark.sql.functions._
      spark.range(1000).toDF("id")
        .withColumn("s", concat(lit("warm_"), col("id").cast("string")))
        .filter(!lower(col("s")).like("%zz%") && !col("s").contains("qq"))
        .select(upper(col("s")).as("u"), md5(col("s")).as("m"),
          xxhash64(col("s")).as("x"),
          regexp_extract(col("s"), "([0-9]+)", 1).as("r"))
        .write.format("noop").mode("overwrite").save()
      // JSON expression path (from_json + get_json_object codegen/parser init)
      spark.range(1000).toDF("id")
        .withColumn("j", concat(lit("{\"k\":"), col("id").cast("string"), lit("}")))
        .select(
          from_json(col("j"), graft.operators.EventOps.propsSchema).getField("k").as("k1"),
          get_json_object(col("j"), "$.k").cast("int").as("k2"))
        .filter(col("k1") === col("k2"))
        .write.format("noop").mode("overwrite").save()
      // Streaming engine init (micro-batch planner, state store, memory sink)
      graft.streaming.EventStream.dedupCounts(Tables(spark, sfDir))
        .write.format("noop").mode("overwrite").save()
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] engine warm-up failed: $e") }

    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the suite to the named rows,
    // for targeted legs that skip the full suite
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // the probe-benched rows that ran: "which rows in THIS artifact
    // changed meaning", not substitutions for absent queries
    val probeBenched = SparkEntry.queries.keySet
      .intersect(SparkEntry.benchProbes.keySet)
      .filter(n => only.forall(_(n))).toSeq.sorted

    val suite = new Suite(profile)
    val (results, sf1Results, cpuPct) = runSuite(spark, sfDir, only, suite)
    val total = results.map(_._2).filter(_ >= 0).sum
    // X1 (ref estimates dataset MB by stringifying rows — SURVEY §2.12
    // flags that as a full extra scan): parquet footprint from the files.
    // Walk defensively — a bad sfDir must not lose the JSON line after all
    // queries already ran.
    val sfBytes =
      try {
        val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(sfDir))
        try stream.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally stream.close()
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] fixture size walk failed: $e")
        -1L }
    // overhead floor (see overheadFloorGates) and the total net of it
    val resultMap = results.toMap
    val floorWalls = overheadFloorGates.flatMap(resultMap.get).filter(_ >= 0).sorted
    val overheadFloor =
      if (floorWalls.isEmpty) -1.0 else r3(floorWalls(floorWalls.size / 2))
    val trimmedTotal =
      if (overheadFloor < 0) -1.0
      else r3(results.map(_._2).filter(_ >= 0)
        .map(w => math.max(0.0, w - overheadFloor)).sum)
    // workload metadata (round-14 item 4): the candidate-pair / cluster
    // counts attribute the minhash rows, derived only when one ran
    val withDedup = only.forall(_.exists(_.startsWith("dedup_minhash")))
    val (_, workload) = workloadJson(spark, sfDir, withDedup)
    val (sf1Digest, workloadSf1) =
      if (sf1Results.nonEmpty) workloadJson(spark, "local/sf1", withDedup)
      else ("leg_not_run", """{"fixture_digest":"leg_not_run"}""")
    // X3 parity (ref `performance_py/...py:1457-1465`): results as a
    // driver-built table -> header CSV, when a sink path is configured
    sys.env.get("SPARK_GRAFT_BENCH_CSV").foreach { out =>
      import spark.implicits._
      graft.sources.CsvIO.write(
        results.toDF("query", "seconds").orderBy("query"), out)
    }
    // stopping delivers every queued listener event, so the profile is
    // complete from here on
    LocalSession.stop(spark)

    val rows = suite.rows.toSeq
    val profiles = profile.profiles
    val (sf1Rows, suiteRows) = rows.partition(_._1.startsWith("sf1:"))
    val sf01Trips = tripsOf(suiteRows, profiles)
    val sf1Trips = tripsOf(sf1Rows, profiles).map(_.stripPrefix("sf1:"))
    val hostDegradedJson = s""""host_degraded":${hostDegraded(rows, profiles)}"""
    def runsJson(rs: Seq[(String, (Run, Run))]): String =
      json(rs.map { case (n, (a, b)) => n.stripPrefix("sf1:") -> s"[${r3(a.wall)},${r3(b.wall)}]" })
    def perRow(f: (Run, Int) => Any): String =
      json(rows.map { case (n, runs) => n -> reported(runs).fold[Any](-1.0)(r => f(r._1, r._2)) })
    // per row, each ledger key either run moved: {key: [run 1, run 2]}
    val ledgerJson = json(rows.collect { case (n, (a, b)) if (a.ledger ++ b.ledger).nonEmpty =>
      n -> json((a.ledger.keySet ++ b.ledger.keySet).toSeq.sorted.map(k =>
        k -> s"[${a.ledger.getOrElse(k, 0L)},${b.ledger.getOrElse(k, 0L)}]")) })
    val streamMeterJson = json(graft.streaming.StreamMeter.snapshot.toSeq.sortBy(_._1)
      .map { case (k, m) =>
        k -> s"""{"batches":${m.batches},"data_batches":${m.dataBatches},"state_rows":${m.stateRows},"capped":${m.capped},"input_rows":${m.inputRows},"state_partitions":${m.statePartitions}}""" })
    val failedJson = names(rows.collect { case (n, runs) if reported(runs).isEmpty => n })
    val cpuPctR = math.round(cpuPct * 10) / 10.0
    // Two JSON lines, for readers that keep only a ~2 KB tail of stdout:
    //  - line 1 (archival, for bench_runs/): the full record, every row's
    //    seconds, CPU, GC, profile and ledger; too long for the tail.
    //  - line 2 (final, the one parsed): suite total, the headline rows, and
    //    the trips and raw runs of those rows only — it fits the tail.
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","input_bytes":$sfBytes,"cpu_percent":$cpuPctR,$hostDegradedJson,"sf1_row_trips":${names(sf1Trips)},"sf01_row_trips":${names(sf01Trips)},"overhead_floor":$overheadFloor,"trimmed_total":$trimmedTotal,"ceiling_rows":${names(results.map(_._1).filter(ceilingRows).sorted)},"variance_rows":${names(results.map(_._1).filter(varianceRows).sorted)},"workload":$workload,"workload_sf1":$workloadSf1,"streaming_meter":$streamMeterJson,"query_cpu_percent":${perRow((r, _) => math.round(r.cpuPct * 10) / 10.0)},"query_gc_sec":${perRow((r, _) => r3(r.gc))},"query_first_run_s":${json(rows.map { case (n, (a, _)) => n -> r3(a.wall) })},"query_profile":${json(rows.flatMap(r => profileOf(r, profiles).map(r._1 -> _.json)))},"query_ledger":$ledgerJson,"runs_per_query":2,"aggregation":"min","probe_benched":${names(probeBenched)},"failed_queries":$failedJson,"queries_sf1":${json(sf1Results)},"queries_sf1_runs":${runsJson(sf1Rows)},"queries":${json(results)}}""")
    val headQs = json(headline.flatMap(k => resultMap.get(k).map(v => k -> r3(v))))
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir","input_bytes":$sfBytes,"cpu_percent":$cpuPctR,$hostDegradedJson,"sf1_row_trips":${names(sf1Trips)},"sf01_row_trips":${names(sf01Trips.filter(headline.contains))},"overhead_floor":$overheadFloor,"trimmed_total":$trimmedTotal,"workload":$workload,"fixture_digest_sf1":"$sf1Digest","n_queries":${results.size},"runs_per_query":2,"aggregation":"min","failed_queries":$failedJson,"queries_sf1":${json(sf1Results.map { case (k, v) => k -> r3(v) })},"queries_sf1_runs":${runsJson(sf1Rows.filter(r => sf1Trips.contains(r._1.stripPrefix("sf1:"))))},"queries":$headQs}""")
  }
}
