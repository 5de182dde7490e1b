package graft

import graft.core.Tables
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query seconds.
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
  * Round-11: a [[BenchCalibration]] probe runs BEFORE the suite. When it
  * reads degraded (> 1.5× the committed quiet-host reference — the
  * signature that silently inflated the round-10 driver artifact 2–6.5×
  * on untouched code paths), the whole suite re-runs ONCE and the second
  * pass is reported; both JSON lines always carry `calibration_ratio`,
  * `host_degraded` and `suite_rerun` so a contended capture can never
  * again be read at face value.
  *
  * Round-13 (r12 `dedup_minhash` sf1 reconciliation — the driver leg read
  * 17.3 s vs 5.3–6.6 s quiet archives with green SUITE probes): the sf1
  * leg now (a) warms the replica's tables untimed before timing, so a
  * mid-round `local/sf1` regeneration can't land a cold ~1 GB read on a
  * timed row, (b) is bracketed by its OWN calibration probes
  * (`calibration_ratio_sf1_pre/post` — contention arriving during the
  * leg was invisible to probes ~175 s away), and (c) reports both raw
  * runs per row (`queries_sf1_runs`) so cold-vs-contended is readable
  * from the artifact. A `streaming_overhead` row also meters micro-batch
  * engine init over a 1-row input, separating init from data cost for
  * the 14 streaming rows.
  *
  * Round-16 (r15 q1 sf1 reconciliation — the driver leg shipped
  * 12.3–20.0 s vs 0.67–0.69 s same-code quiet archives, with every CPU
  * spin probe green): the sentinel now probes BOTH axes — the spin loop
  * AND a fixed parquet-scan+shuffle bandwidth probe
  * ([[BenchCalibration.measureBandwidth]]) — and the sf1 leg adds a
  * row-level trip wire: any headline row reported above 3× its archived
  * quiet-leg median ([[sf1QuietMedians]]) forces the one leg rerun and
  * lands in `sf1_row_trips`, so a tilted row can never again ship
  * unflagged just because the contention was invisible to the CPU loop.
  *
  * Round-17 (r16 dedup_minhash residue — the row tripped on BOTH passes
  * and the artifact's headline stayed the 79.9 s tilted wall, flagged
  * but not self-adjudicating): a row still tripping after leg selection
  * now gets one targeted post-cool-down re-measure
  * ([[resolveSf1Leg]]) and the artifact ships the re-measure walls
  * (`sf1_row_remeasured`) plus the quiet medians (`sf1_row_quiet_
  * medians` — all rows on the archival line, tripped rows on the
  * compact line, whose raw-runs map is likewise tripped-rows-only to
  * stay inside the driver's ~2 KB stdout tail now that the leg runs
  * all TEN headline rows — sample_loading and the ml_fit trio
  * included, per the round-16 advice that the IO-bound rows had no
  * trip baseline). The medians themselves are a generated committed
  * resource derived from the archived quiet legs, not a hand-kept map.
  * Every reported run additionally meters its stop-the-world GC
  * seconds ([[gcTotalSec]] deltas; `query_gc_sec` on the archival
  * line, `sf1_gc_tripped` on the compact line) — the one in-JVM
  * contention axis neither probe sees, so a row that trips with quiet
  * probes adjudicates between heap pressure and external tilt from
  * the artifact alone.
  */
object Bench {

  /** One full suite pass: every gate query (with verdict gates benched
    * via their raw probes), the reference sample-loading phase, and the
    * three reference ML fits, plus the sf1 headline leg when available.
    */
  private final case class SuiteRun(
      results: Seq[(String, Double)],
      sf1Results: Seq[(String, Double)],
      sf1Runs: Seq[(String, (Double, Double))],
      sf1Calib: BenchCalibration.Probes,
      sf1CalibPost: BenchCalibration.Probes,
      sf1LegRerun: Boolean,
      sf1Probes: Seq[(BenchCalibration.Probes, BenchCalibration.Probes)],
      sf1Trips: Seq[String],
      sf1Remeasured: Seq[(String, (Double, Double))],
      failed: Seq[String],
      queryCpu: Seq[(String, Double)],
      queryGc: Seq[(String, Double)],
      cpuPct: Double)

  /** Cumulative stop-the-world collection time reported by every GC
    * bean, in seconds — deltas across a timed span attribute that
    * span's GC pauses (round-17; see the `queryGc` rationale in
    * [[runSuite]]). Beans that don't track time report -1 and are
    * floored to 0.
    */
  private[graft] def gcTotalSec(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  }

  private def runSuite(spark: SparkSession, sfDir: String,
                       only: Option[Set[String]]): SuiteRun = {
    // per-suite telemetry registries (round-14 items 5/6): a suite rerun
    // resets them, so the reported pass's breakdown ships, not the mix
    graft.ml.PricePipeline.resetModelFitWalls()
    graft.streaming.StreamMeter.reset()
    graft.operators.GraphOps.observedFallbacks.set(0L)
    // X2 (ref wraps every query in psutil.cpu_percent spans): process-CPU
    // time around the suite via the JVM's OS bean
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpuT0 = osBean.getProcessCpuTime
    val wallT0 = System.nanoTime()

    // two runs per query, report the min: a single pass conflates each
    // query's cost with whatever JIT/GC state the previous queries left
    // behind (measured 55-108s total swing run-to-run); min-of-2 reports
    // steady-state per-query cost. A failed run records the sentinel -1
    // and the name lands in failed_queries — a broken query must not look
    // like a fast one (round-1 advice).
    //
    // X2 parity: each timed span also meters process-CPU via the OS bean
    // (the reference wraps every query in psutil.cpu_percent,
    // `performance_py/2-cores-6-instances.py:78-104`). Reported per query
    // as process-CPU ÷ (wall × cores) × 100 for the min-wall run — a
    // scheduling-bound query reads low, a parallel scan reads high.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val queryCpu = scala.collection.mutable.LinkedHashMap[String, Double]()
    // GC attribution (round-17): the r16 dedup_minhash sf1 row tripped
    // the 3x rule on BOTH passes while BOTH probe axes read quiet — a
    // third contention axis neither the CPU spin nor the bandwidth
    // fixture sees. Stop-the-world GC is the one in-JVM axis we can
    // meter directly, so each reported run also ships the GC seconds
    // that accrued during it: a tripped row with gc ≈ the wall gap
    // adjudicates as JVM heap pressure; gc ≈ 0 points outside the JVM
    // (page cache, scheduler, a noisy neighbor).
    val queryGc = scala.collection.mutable.LinkedHashMap[String, Double]()
    // timedBoth exposes both raw wall times alongside the min — the sf1
    // leg records them so a cold-cache first run (r12's 17.3 s driver row
    // vs 5.3-6.6 s quiet archives) is attributable IN the artifact: two
    // slow runs reads as contention/data, one slow + one fast as cold init.
    def timedBoth(name: String)(body: => Unit): (Double, Double, Double) = {
      def once(): (Double, Double, Double) = {
        val g0 = gcTotalSec()
        val c0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        try body
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
          return (-1.0, -1.0, -1.0)
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (osBean.getProcessCpuTime - c0) / 1e9
        (wall, 100.0 * cpu / (wall * Runtime.getRuntime.availableProcessors()),
          gcTotalSec() - g0)
      }
      val (a, b) = (once(), once())
      if (a._1 < 0 || b._1 < 0) {
        queryCpu(name) = -1.0; queryGc(name) = -1.0; (-1.0, a._1, b._1)
      } else {
        val best = if (a._1 <= b._1) a else b
        queryCpu(name) = math.round(best._2 * 10) / 10.0
        queryGc(name) = math.round(best._3 * 1000) / 1000.0
        (best._1, a._1, b._1)
      }
    }
    def timed(name: String)(body: => Unit): Double = timedBoth(name)(body)._1

    // Verdict gates whose query path embeds heavy verification (ANN
    // brute-force sweeps, ML re-fits) are benched via their RAW production
    // probe instead (round-9 advice) — the substituted names land in
    // probe_benched on the archival line so cross-round comparisons know
    // which rows changed meaning in round 10
    val queryResults = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_(name)) }
      .map { case (name, fn) =>
        val benched = SparkEntry.benchProbes.getOrElse(name, fn)
        name -> timed(name) {
          benched(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
      }

    // --- Sample loading (reference phase; see object doc) ---
    // CSV derived from the fixture once, untimed; the timed phase is
    // inferSchema load (a full pass) + stringified-sample size estimate +
    // 10% sample materialization — the reference's exact workload shape.
    val csvDir = java.nio.file.Files.createTempDirectory("graft_bench_csv").toString
    val loadingResults =
      if (only.exists(!_("sample_loading"))) Seq.empty
      else try {
        Tables(spark, sfDir).lineitem
          .write.option("header", "true").mode("overwrite").csv(csvDir)
        Seq("sample_loading" -> timed("sample_loading") {
          sampleLoadingPhase(spark, csvDir)
        })
      } finally Tables.deleteRecursively(csvDir) // never throws: keeps the JSON line

    // --- Streaming-engine overhead probe (round-13) ---
    // Each of the 14 streaming rows pays micro-batch engine init (query
    // start, offset log, state store setup, memory-sink registration) on
    // top of its data cost — ~2-5 s/row at sf1, ~40 s of the suite. This
    // row times the SAME machinery over a 1-row input, so a cross-round
    // delta on a streaming row can be read net of init: data cost ≈
    // row − streaming_overhead. (A shared warm session can't remove the
    // per-query start cost — every writeStream.start() plans its own
    // micro-batch execution — so the honest fix is to meter it.)
    val streamingOverheadResults =
      if (only.exists(!_("streaming_overhead"))) Seq.empty
      else {
        var oneRowDir: String = null
        try {
        oneRowDir = java.nio.file.Files
          .createTempDirectory("graft_bench_stream1").toString
        spark.range(1).toDF("id").write.mode("overwrite").parquet(oneRowDir)
        Seq("streaming_overhead" -> timed("streaming_overhead") {
          val name = s"bench_overhead_${System.nanoTime()}"
          val q = spark.readStream
            .schema(org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("id",
                org.apache.spark.sql.types.LongType))))
            .parquet(oneRowDir)
            .groupBy().count()
            .writeStream.outputMode("complete")
            .queryName(name).format("memory").start()
          q.processAllAvailable()
          q.stop()
          spark.catalog.dropTempView(name)
          ()
        })
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] streaming_overhead setup failed: ${e.getMessage}")
          Seq.empty
        } finally {
          // same best-effort cleanup as sample_loading's csvDir
          if (oneRowDir != null) graft.core.Tables.deleteRecursively(oneRowDir)
        }
      }

    // --- ML fits (reference model rows) ---
    // One cached feature frame, per-model fit+eval timed — matches the
    // reference, which featurizes once and times each model's fit+metrics.
    // filtered PER MODEL: SPARK_GRAFT_BENCH_ONLY=ml_fit_DecisionTree must
    // time (and record) only that fit, per the env var's contract — the
    // shared featurize frame is still built once for whatever subset runs
    val mlModels = Seq("LinearRegression", "DecisionTree", "RandomForest")
      .filter(m => only.forall(_(s"ml_fit_$m")))
    val mlResults = if (mlModels.isEmpty) Seq.empty
    else {
      val t = Tables(spark, sfDir)
      // cached + materialized outside the timings, size-aware partitioning
      val feat = graft.ml.PricePipeline.featurizedCached(t)
      try {
        val Array(train, test) = feat.randomSplit(Array(0.8, 0.2), seed = 42)
        mlModels.map { m =>
          val reg = graft.ml.PricePipeline.regressors.toMap.apply(m)
          s"ml_fit_$m" -> timed(s"ml_fit_$m") {
            graft.ml.PricePipeline.fitEval(m, reg, train, test)
            ()
          }
        }
      } finally { feat.unpersist(); () }
    }

    // sf1 headline leg (round-10): when benching the driver's sf0.1
    // fixture and the GenScale'd sf1 replica exists (local/sf1, 10× —
    // regenerated per round from the current fixtures), ALSO time the
    // headline queries a decade up. At sf0.1/local[32] most rows are
    // overhead-bound (cpu_percent ~13); the sf1 rows are data-bound and
    // the fairer 2×-gate comparison, so the driver artifact carries both.
    // Since round 17 the leg runs ALL TEN headline rows — sample_loading
    // and the three ml_fit rows included (round-16 advice: sample_loading
    // is IO-bound, the exact bandwidth-tilt class the trip wire exists
    // for, and it had no baseline) — via the same workload bodies the
    // suite rows use, so the archived full-sf1 legs stay comparable.
    val sf1Dir = "local/sf1"
    var sf1Results = Seq.empty[(String, Double)]
    var sf1Runs = Seq.empty[(String, (Double, Double))]
    var sf1Calib = BenchCalibration.Probes(-1.0, -1.0)
    var sf1CalibPost = BenchCalibration.Probes(-1.0, -1.0)
    var sf1LegRerun = false
    var sf1Probes = Seq.empty[(BenchCalibration.Probes, BenchCalibration.Probes)]
    var sf1Trips = Seq.empty[String]
    var sf1Remeasured = Seq.empty[(String, (Double, Double))]
    if (only.isEmpty && sfDir.contains("sf0.1") &&
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sf1Dir))) {
      // Warm the replica untimed (round-13, r12 reconciliation): the
      // driver regenerates local/sf1 from the current fixtures
      // mid-round, so without this pass the leg's first timed row
      // absorbs a cold ~1 GB parquet read + per-table footer probes.
      // The timed rows then measure steady-state operator cost, which
      // is what the 2×-gate compares.
      try {
        val tt = Tables(spark, sf1Dir)
        Seq(tt.lineitem, tt.orders, tt.documents, tt.embeddings)
          .foreach(_.write.format("noop").mode("overwrite").save())
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] sf1 replica warm-up failed: $e") }
      // Leg-level calibration (round-13, both axes since round 16): the
      // suite-level probes bracket ~175 s of sf0.1 rows; contention
      // arriving DURING this leg was invisible to them (r12's
      // dedup_minhash sf1 row read 17.3 s vs 5.3-6.6 s quiet archives
      // with green suite probes). These probe pairs bracket the leg
      // alone.
      def legProbe(): BenchCalibration.Probes = BenchCalibration.Probes(
        BenchCalibration.ratio(BenchCalibration.measure()),
        BenchCalibration.measureBandwidth(spark) / BenchCalibration.bwReference)
      def sf1CpuSlice(): Seq[(String, Double)] =
        queryCpu.toSeq.filter(_._1.startsWith("sf1:"))
      def sf1GcSlice(): Seq[(String, Double)] =
        queryGc.toSeq.filter(_._1.startsWith("sf1:"))
      // CSV for the leg's sample_loading row, derived once untimed (the
      // content is deterministic — both passes and any remeasure time
      // the identical workload over identical bytes)
      val sf1Csv = java.nio.file.Files
        .createTempDirectory("graft_bench_sf1csv").toString
      try {
        Tables(spark, sf1Dir).lineitem
          .write.option("header", "true").mode("overwrite").csv(sf1Csv)
        def queryBody(n: String): () => Unit = {
          val benched = SparkEntry.benchProbes
            .getOrElse(n, SparkEntry.queries(n))
          () => benched(spark, sf1Dir).write.format("noop")
            .mode("overwrite").save()
        }
        def runLeg(): LegPass = {
          val pre = legProbe()
          val runs = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
          def time(n: String)(body: => Unit): (String, Double) = {
            val (best, r1, r2) = timedBoth(s"sf1:$n")(body)
            runs(n) = (math.round(r1 * 1000) / 1000.0,
              math.round(r2 * 1000) / 1000.0)
            n -> best
          }
          // the ml_fit rows share one cached feature frame per pass,
          // built untimed — the suite rows' exact setup shape
          val feat = graft.ml.PricePipeline.featurizedCached(Tables(spark, sf1Dir))
          val rows =
            try {
              val Array(train, test) = feat.randomSplit(Array(0.8, 0.2), seed = 42)
              headline.map { n =>
                if (SparkEntry.queries.contains(n)) time(n)(queryBody(n)())
                else if (n == "sample_loading")
                  time(n)(sampleLoadingPhase(spark, sf1Csv))
                else {
                  val m = n.stripPrefix("ml_fit_")
                  val reg = graft.ml.PricePipeline.regressors.toMap.apply(m)
                  time(n) { graft.ml.PricePipeline.fitEval(m, reg, train, test); () }
                }
              }
            } finally { feat.unpersist(); () }
          val post = legProbe()
          LegPass(rows, runs.toSeq, pre.rounded, post.rounded,
            sf1CpuSlice(), sf1GcSlice())
        }
        // Targeted single-row re-measure (round-16 verdict item 1): when
        // a row trips the 3x rule on BOTH leg passes, the old behavior
        // shipped the tilted wall with only a flag; now the row gets ONE
        // more timedBoth after a cool-down (sleep, then wait briefly for
        // the probes to read quiet — bounded, never more than ~40 s) and
        // the reported wall is the min over everything observed.
        val remCpu = scala.collection.mutable.Map[String, Double]()
        val remGc = scala.collection.mutable.Map[String, Double]()
        def remeasureRow(n: String): (Double, Double) = {
          Thread.sleep(5000)
          var waits = 0
          while (waits < 2 && legProbe().anyDegraded) {
            Thread.sleep(15000); waits += 1
          }
          val (_, r1, r2) =
            if (SparkEntry.queries.contains(n)) timedBoth(s"sf1:$n")(queryBody(n)())
            else if (n == "sample_loading")
              timedBoth(s"sf1:$n")(sampleLoadingPhase(spark, sf1Csv))
            else {
              val m = n.stripPrefix("ml_fit_")
              val reg = graft.ml.PricePipeline.regressors.toMap.apply(m)
              val feat = graft.ml.PricePipeline.featurizedCached(Tables(spark, sf1Dir))
              try {
                val Array(train, test) = feat.randomSplit(Array(0.8, 0.2), seed = 42)
                timedBoth(s"sf1:$n") {
                  graft.ml.PricePipeline.fitEval(m, reg, train, test); ()
                }
              } finally { feat.unpersist(); () }
            }
          queryCpu.get(s"sf1:$n").foreach(remCpu(n) = _)
          queryGc.get(s"sf1:$n").foreach(remGc(n) = _)
          (math.round(r1 * 1000) / 1000.0, math.round(r2 * 1000) / 1000.0)
        }
        val outcome = resolveSf1Leg(() => runLeg(), remeasureRow, sf1QuietMedians)
        // the reported per-query CPU must belong to the REPORTED rows —
        // chosen leg first, then any adopted remeasure overrides its row
        outcome.cpu.foreach { case (k, v) => queryCpu(k) = v }
        outcome.gc.foreach { case (k, v) => queryGc(k) = v }
        outcome.adopted.foreach { n =>
          remCpu.get(n).foreach(queryCpu(s"sf1:$n") = _)
          remGc.get(n).foreach(queryGc(s"sf1:$n") = _)
        }
        sf1Results = outcome.rows
        sf1Runs = outcome.runs
        sf1Calib = outcome.pre
        sf1CalibPost = outcome.post
        sf1LegRerun = outcome.rerun
        sf1Probes = outcome.probes
        sf1Trips = outcome.trips
        sf1Remeasured = outcome.remeasured
      } finally graft.core.Tables.deleteRecursively(sf1Csv)
    }

    val results = queryResults ++ loadingResults ++
      streamingOverheadResults ++ mlResults
    val cpuSec = (osBean.getProcessCpuTime - cpuT0) / 1e9
    val cpuPct = 100.0 * cpuSec /
      ((System.nanoTime() - wallT0) / 1e9 * Runtime.getRuntime.availableProcessors())
    SuiteRun(results, sf1Results, sf1Runs,
      sf1Calib, sf1CalibPost,
      sf1LegRerun, sf1Probes, sf1Trips, sf1Remeasured,
      failed.toSeq, queryCpu.toSeq, queryGc.toSeq, cpuPct)
  }

  /** One pass over the sf1 headline leg: the rows (min-of-2 walls), both
    * raw walls per row, the bracketing probe pair, and the pass's own
    * sf1 per-query CPU slice (so the reported pass's CPU ships, not the
    * last pass's).
    */
  private[graft] final case class LegPass(
      rows: Seq[(String, Double)],
      runs: Seq[(String, (Double, Double))],
      pre: BenchCalibration.Probes,
      post: BenchCalibration.Probes,
      cpu: Seq[(String, Double)],
      gc: Seq[(String, Double)])

  /** The resolved sf1 leg after rerun selection and targeted re-measure:
    * `rows` carry the reported walls (min over the chosen pass and any
    * adopted re-measure), `trips` is recomputed over those FINAL walls,
    * `remeasured` ships every re-measure's raw wall pair, and `adopted`
    * names the rows whose reported wall came from the re-measure.
    */
  private[graft] final case class LegOutcome(
      rows: Seq[(String, Double)],
      runs: Seq[(String, (Double, Double))],
      pre: BenchCalibration.Probes,
      post: BenchCalibration.Probes,
      rerun: Boolean,
      probes: Seq[(BenchCalibration.Probes, BenchCalibration.Probes)],
      trips: Seq[String],
      remeasured: Seq[(String, (Double, Double))],
      adopted: Set[String],
      cpu: Seq[(String, Double)],
      gc: Seq[(String, Double)])

  /** Row-level trip wire (round-16 verdict item 1): the r15 driver leg
    * shipped q1 at 12.3-20.0 s (same-code quiet legs: 0.67-0.69 s) with
    * BOTH spin probes green — memory/IO tilt the CPU loop can't see. A
    * headline row whose reported (min-of-2) wall exceeds 3x its archived
    * quiet-leg median is evidence of tilt REGARDLESS of what the probes
    * read.
    */
  private[graft] def tripsOf(rows: Seq[(String, Double)],
                             medians: Map[String, Double]): Seq[String] =
    rows.collect { case (n, best)
      if best >= 0 && medians.get(n).exists(m => best > 3 * m) => n }

  /** The sf1 leg's whole tilt-handling contract in one testable function
    * (round-17; BenchSf1TripSpec drives it with synthetic passes):
    *
    *  1. Run the leg. If either bracketing probe exceeds the leg
    *     thresholds (cpu 1.15 / bw 1.5 — both under their
    *     host_degraded cutoffs; the leg is ten rows and a rerun is
    *     cheap) or any row trips the 3x-median rule, run it ONCE more
    *     and keep the pass with fewer trips (tie: quieter probes).
    *  2. Any row STILL tripping in the chosen pass gets one targeted
    *     re-measure (`remeasureRow` — two more raw walls after a
    *     cool-down) and reports the MIN over everything observed.
    *     Round 16 shipped dedup_minhash sf1 at 79.9 s (flagged) while
    *     same-digest quiet legs ran 9.0-9.6 s — a host that stayed bad
    *     through both passes while both probe axes read quiet; the
    *     targeted third measurement minutes later is the cheapest
    *     honest number, and if it ALSO trips, the row stays flagged
    *     with its quiet median shipped alongside
    *     (`sf1_row_quiet_medians`) so the artifact self-adjudicates.
    *
    * Failed walls (the -1 sentinel) never win the min and never trip.
    */
  private[graft] def resolveSf1Leg(
      runLeg: () => LegPass,
      remeasureRow: String => (Double, Double),
      medians: Map[String, Double]): LegOutcome = {
    def maxProbe(p: LegPass): Double =
      math.max(math.max(p.pre.cpu, p.post.cpu), math.max(p.pre.bw, p.post.bw))
    def tilted(p: LegPass): Boolean =
      math.max(p.pre.cpu, p.post.cpu) > 1.15 ||
        math.max(p.pre.bw, p.post.bw) > 1.5 ||
        tripsOf(p.rows, medians).nonEmpty
    var leg = runLeg()
    var probes = Seq((leg.pre, leg.post))
    var rerun = false
    if (tilted(leg)) {
      rerun = true
      val leg2 = runLeg()
      probes = probes :+ ((leg2.pre, leg2.post))
      val (t1, t2) =
        (tripsOf(leg.rows, medians).size, tripsOf(leg2.rows, medians).size)
      if (t2 < t1 || (t2 == t1 && maxProbe(leg2) < maxProbe(leg))) leg = leg2
    }
    val still = tripsOf(leg.rows, medians)
    val remeasured = still.map(n => n -> remeasureRow(n))
    val remMap = remeasured.toMap
    var adopted = Set.empty[String]
    val finalRows = leg.rows.map { case (n, best) =>
      remMap.get(n) match {
        case Some((r1, r2)) =>
          val remWalls = Seq(r1, r2).filter(_ >= 0)
          if (remWalls.nonEmpty && (best < 0 || remWalls.min < best)) {
            adopted += n; n -> remWalls.min
          } else n -> best
        case None => n -> best
      }
    }
    LegOutcome(finalRows, leg.runs, leg.pre, leg.post, rerun, probes,
      tripsOf(finalRows, medians), remeasured, adopted, leg.cpu, leg.gc)
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

  /** Archived quiet-leg MEDIANS for the sf1 headline rows — the 3×-trip
    * rule's baseline (round-16 verdict item 1). Loaded from the
    * GENERATED resource `graft/sf1_quiet_medians.tsv`, which
    * `scripts/gen_sf1_medians.py` derives from the latest two archived
    * quiet full-sf1 legs (round-16 verdict item 2: the previous
    * hand-edited map drifted — dedup_minhash's quiet band moved
    * 7.0 → 9.3 s across fixture generations while the map said 7.005,
    * leaving the 3× wire at ~2.2× effective). All TEN headline rows
    * carry a median since round 17 (round-16 advice: sample_loading and
    * the ml_fit rows had none). 3× leaves ample room for honest
    * movement — a real regression of that size would be a round
    * headline anyway, and the rule only forces ONE leg rerun, a
    * targeted re-measure, and an artifact flag, never hides a row.
    * Refresh per the script doc when a round's quiet legs shift.
    */
  private[graft] lazy val sf1QuietMedians: Map[String, Double] =
    quietMedianResource("/graft/sf1_quiet_medians.tsv")

  /** Archived quiet MEDIANS for the sf0.1 headline rows (round-18
    * verdict item 7): the sf1 leg has had a 3×-median trip wire since
    * round 16, but the sf0.1 suite rows — the driver's primary
    * round-over-round comparison — had none, so transient host tilt on a
    * row (e.g. r17's agg_incremental_rollup_streamed reading 9.7 s in
    * one leg vs 2.68 s quiet, code byte-identical) could only be
    * adjudicated by re-running by hand. The flag covers HEADLINE rows
    * only — that motivating row is not one, so a recurrence of its tilt
    * is not flagged. The suite FLAGS any
    * sf0.1 headline row above 3× its archived quiet median
    * (`sf01_row_trips` + quiet-median context in both JSON lines) — a
    * flag only, deliberately no extra rerun machinery: the suite-level
    * dual-axis sentinel already forces the one rerun on a degraded
    * host, and the flag makes a row-level tilt readable from the
    * artifact alone. Generated resource, same pipeline as the sf1
    * medians: `scripts/gen_sf1_medians.py --sf01 <quiet legs>`.
    */
  private[graft] lazy val sf01QuietMedians: Map[String, Double] =
    quietMedianResource("/graft/sf01_quiet_medians.tsv")

  private def quietMedianResource(path: String): Map[String, Double] = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"generated resource $path " +
      "is missing from the classpath — rerun scripts/gen_sf1_medians.py")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, v) = l.split("\t")
        n -> v.toDouble
      }.toMap
    finally src.close()
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
    * breakdown ships in `ml_model_fit_secs` for attribution.
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
      val md = java.security.MessageDigest.getInstance("MD5")
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(sfDir))
      val files =
        try {
          import scala.jdk.CollectionConverters._
          stream.iterator().asScala
            .filter(p => java.nio.file.Files.isRegularFile(p))
            .map(_.toString).toVector.sorted
        } finally stream.close()
      files.foreach { f =>
        val p = java.nio.file.Paths.get(f)
        val size = java.nio.file.Files.size(p)
        md.update(f.stripPrefix(sfDir).getBytes("UTF-8"))
        md.update(java.nio.ByteBuffer.allocate(8).putLong(size).array())
        val ch = java.nio.file.Files.newByteChannel(p)
        def readFully(buf: java.nio.ByteBuffer): Unit = {
          var n = 0
          while (buf.hasRemaining && n >= 0) n = ch.read(buf)
        }
        try {
          val head = java.nio.ByteBuffer.allocate(
            math.min(size, 1L << 20).toInt)
          readFully(head); md.update(head.array(), 0, head.position())
          if (size > (1L << 20)) {
            val from = math.max(size - (1L << 20), 1L << 20)
            ch.position(from)
            val tail = java.nio.ByteBuffer.allocate((size - from).toInt)
            readFully(tail); md.update(tail.array(), 0, tail.position())
          }
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
    val spark = graft.core.LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm up session-level one-time costs (JIT, codegen, collation
    // registry, parquet reader init, JSON parser, streaming engine) so they
    // don't land on whichever query alphabetically touches the expression
    // class first. Round-1 driver bench showed events_json_stats at 15 s
    // (vs 0.4 s steady-state) and the first streaming query at 11 s —
    // first-touch init for from_json/get_json_object and the streaming
    // runtime; both paths are exercised here explicitly.
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
      graft.streaming.EventStream
        .dedupCounts(spark, sfDir, s"bench_warm_${System.nanoTime()}")
        .write.format("noop").mode("overwrite").save()
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] engine warm-up failed: $e") }

    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the suite to the named
    // queries — the targeted-scale legs (sf10 dedup/ANN scaling) time a
    // handful of families without paying the full 150-query suite
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // restricted to the rows that actually ran: under SPARK_GRAFT_BENCH_ONLY
    // the field must keep meaning "which rows in THIS artifact changed
    // meaning", not list substitutions for absent queries
    val probeBenchedJson = SparkEntry.queries.keySet
      .intersect(SparkEntry.benchProbes.keySet)
      .filter(n => only.forall(_(n))).toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")

    // --- Contention sentinel (see object doc + BenchCalibration) ---
    // Both axes since round 16: the CPU spin loop AND the fixed
    // scan+shuffle bandwidth probe — r15's driver capture carried 12-20x
    // memory/IO tilt through spin probes reading 1.04 "quiet".
    def dualProbe(): BenchCalibration.Probes = BenchCalibration.Probes(
      BenchCalibration.ratio(BenchCalibration.measure()),
      BenchCalibration.measureBandwidth(spark) / BenchCalibration.bwReference)
    val sentinel = BenchCalibration.withSentinel(
      () => runSuite(spark, sfDir, only), () => dualProbe())
    val run = sentinel.result
    // calibration_ratio keeps its r11 meaning (the CPU headline the
    // driver reads) as the max of the PRE- and POST-suite spin probes;
    // both sides of both axes ship alongside so a mid-run contention
    // arrival — compute OR bandwidth — is visible
    val calibJson = s""""calibration_ratio":${sentinel.ratioMax},""" +
      s""""calibration_ratio_pre":${sentinel.pre.cpu},""" +
      s""""calibration_ratio_post":${sentinel.post.cpu},""" +
      s""""bandwidth_ratio_pre":${sentinel.pre.bw},""" +
      s""""bandwidth_ratio_post":${sentinel.post.bw},""" +
      s""""host_degraded":${sentinel.hostDegraded},""" +
      s""""suite_rerun":${sentinel.suiteRerun}"""

    val results = run.results
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
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
    val failedJson = run.failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qcpu = run.queryCpu.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qgc = run.queryGc.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val sf1Json = run.sf1Results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // leg-level evidence for the sf1 rows: both raw runs per row + the
    // leg-bracketing calibration ratios (-1.0 when the leg didn't run) +
    // the rerun verdict and every leg's probe pair (round-14)
    def runsJsonOf(rs: Seq[(String, (Double, Double))]): String =
      rs.map { case (k, (r1, r2)) => "\"" + k + "\":[" + r1 + "," + r2 + "]" }
        .mkString("{", ",", "}")
    val sf1RunsJson = runsJsonOf(run.sf1Runs)
    // sf1_leg_probes entries are [cpuPre, cpuPost, bwPre, bwPost] per
    // pass since round 16; sf1_row_trips lists reported rows that broke
    // the 3x-quiet-median rule (nonempty ⇒ read those rows as tilted);
    // sf1_row_remeasured ships the targeted post-cool-down re-measure's
    // raw walls for every row that tripped after leg selection (round-16
    // verdict item 1 — the reported wall is min over leg + re-measure)
    val sf1CalibJson = s""""calibration_ratio_sf1_pre":${run.sf1Calib.cpu},""" +
      s""""calibration_ratio_sf1_post":${run.sf1CalibPost.cpu},""" +
      s""""bandwidth_ratio_sf1_pre":${run.sf1Calib.bw},""" +
      s""""bandwidth_ratio_sf1_post":${run.sf1CalibPost.bw},""" +
      s""""sf1_leg_rerun":${run.sf1LegRerun},""" +
      s""""sf1_row_trips":${run.sf1Trips
        .map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""sf1_row_remeasured":${runsJsonOf(run.sf1Remeasured)},""" +
      s""""sf1_leg_probes":${run.sf1Probes
        .map { case (p, q) => s"[${p.cpu},${q.cpu},${p.bw},${q.bw}]" }
        .mkString("[", ",", "]")}"""
    // quiet-median context (round-16 verdict item 1: a tripped headline
    // must be self-adjudicating IN the artifact). The archival line gets
    // every headline median; the compact line — which must fit the
    // driver's ~2 KB stdout tail whole — carries medians and raw runs
    // for the TRIPPED rows only (empty objects on a clean capture).
    def mediansJsonOf(names: Seq[String]): String =
      if (run.sf1Results.isEmpty) "{}"
      else names.flatMap(n => sf1QuietMedians.get(n).map(m =>
        "\"" + n + "\":" + m)).mkString("{", ",", "}")
    val sf1MediansAllJson = mediansJsonOf(run.sf1Results.map(_._1))
    val sf1MediansTrippedJson = mediansJsonOf(run.sf1Trips)
    val sf1RunsTrippedJson =
      runsJsonOf(run.sf1Runs.filter(r => run.sf1Trips.contains(r._1)))
    // GC context for tripped rows (round-17, the third-axis
    // adjudicator): the reported run's stop-the-world GC seconds — a
    // tripped wall that is mostly GC reads as heap pressure; near-zero
    // GC points outside the JVM. Compact line carries tripped rows
    // only; the archival line has the full query_gc_sec map.
    val gcMap = run.queryGc.toMap
    val sf1GcTrippedJson = run.sf1Trips
      .flatMap(n => gcMap.get(s"sf1:$n").map(g => "\"" + n + "\":" + g))
      .mkString("{", ",", "}")
    // overhead floor (see overheadFloorGates doc) + the total with that
    // floor subtracted per row — the "how much of the total is per-row
    // harness cost" readout
    val resultMapAll = results.toMap
    // sf0.1 row tilt flag (round-18 verdict item 7; see sf01QuietMedians):
    // computed only when benching the sf0.1 fixture — the medians are
    // meaningless at other scales — and only over headline rows that ran
    val sf01Trips =
      if (!sfDir.contains("sf0.1")) Seq.empty[String]
      else tripsOf(headline.flatMap(k => resultMapAll.get(k).map(k -> _)),
        sf01QuietMedians)
    val sf01TripsJson = s""""sf01_row_trips":${sf01Trips
      .map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    def sf01MediansJsonOf(names: Seq[String]): String =
      names.flatMap(n => sf01QuietMedians.get(n).map(m => "\"" + n + "\":" + m))
        .mkString("{", ",", "}")
    val floorWalls = overheadFloorGates.flatMap(resultMapAll.get).filter(_ >= 0).sorted
    val overheadFloor =
      if (floorWalls.isEmpty) -1.0
      else math.round(floorWalls(floorWalls.size / 2) * 1000) / 1000.0
    val trimmedTotal =
      if (overheadFloor < 0) -1.0
      else math.round(results.map(_._2).filter(_ >= 0)
        .map(w => math.max(0.0, w - overheadFloor)).sum * 1000) / 1000.0
    val floorJson = s""""overhead_floor":$overheadFloor,""" +
      s""""trimmed_total":$trimmedTotal"""
    val ceilingJson = results.map(_._1).filter(ceilingRows)
      .sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val varianceJson = results.map(_._1).filter(varianceRows)
      .sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // workload metadata (round-14 item 4): full object for the benched
    // fixture; the dedup counts only when the dedup rows actually ran.
    // The sf1 replica gets its own object when the leg ran — dedup_minhash
    // is THE band-sensitive sf1 row.
    // the candidate-pair / cluster counts attribute the MINHASH rows
    // specifically — derive them only when one of those is in scope (a
    // leg restricted to, say, dedup_simhash must not pay an untimed
    // minhash pass + star contraction for fields about rows that never
    // ran — round-15 review finding)
    val withDedup = only.forall(_.exists(_.startsWith("dedup_minhash")))
    val (_, workload) = workloadJson(spark, sfDir, withDedup)
    // the compact line's sf1 digest is the same VALUE the object was
    // built from — never re-parsed out of the serialized string
    val (sf1Digest, workloadSf1) =
      if (run.sf1Results.nonEmpty) workloadJson(spark, "local/sf1", withDedup)
      else ("leg_not_run", """{"fixture_digest":"leg_not_run"}""")
    // per-model fit walls (item 5): the registry is keyed by (model,
    // pool size) so the 3-model gate can't blend into the 9-model row's
    // breakdown; the artifact ships the LARGEST pool that ran (the
    // ml_price_metrics_full attribution this field exists for)
    val mlWallsAll = graft.ml.PricePipeline.modelFitWalls.toSeq
    val mlPool = if (mlWallsAll.isEmpty) 0 else mlWallsAll.map(_._1._2).max
    val mlWallsJson = mlWallsAll.filter(_._1._2 == mlPool)
      .map { case ((m, _), v) => m -> v }.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val streamMeterJson = graft.streaming.StreamMeter.snapshot.toSeq.sortBy(_._1)
      .map { case (k, m) =>
        "\"" + k + s"""":{"batches":${m.batches},"data_batches":${m.dataBatches},"state_rows":${m.stateRows},"capped":${m.capped}}""" }
      .mkString("{", ",", "}")
    // Two JSON lines. The driver keeps only a fixed-size (~2 KB) tail of
    // stdout: round 6 lost the wall times to the CPU map, and round 7's
    // reorder still overflowed the window once the query map passed 150
    // entries, leaving the line start (metric/value) truncated and
    // "parsed": null in the artifact. So:
    //  - line 1 (archival, for bench_runs/): the FULL record with every
    //    per-query second and the CPU map; too long for the tail by design.
    //  - line 2 (FINAL, driver-parsed): a compact record — suite total plus
    //    the headline queries graded against BASELINE.md — guaranteed to
    //    fit the tail window whole.
    val sf01MediansAllJson =
      if (sfDir.contains("sf0.1")) sf01MediansJsonOf(headline) else "{}"
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","input_bytes":$sfBytes,"cpu_percent":${math.round(run.cpuPct * 10) / 10.0},$calibJson,$sf1CalibJson,"sf1_row_quiet_medians":$sf1MediansAllJson,$sf01TripsJson,"sf01_row_quiet_medians":$sf01MediansAllJson,$floorJson,"ceiling_rows":$ceilingJson,"variance_rows":$varianceJson,"workload":$workload,"workload_sf1":$workloadSf1,"ml_model_fit_secs":$mlWallsJson,"streaming_meter":$streamMeterJson,"graph_observed_fallbacks":${graft.operators.GraphOps.observedFallbacks.get},"query_cpu_percent":$qcpu,"query_gc_sec":$qgc,"runs_per_query":2,"aggregation":"min","probe_benched":$probeBenchedJson,"failed_queries":$failedJson,"queries_sf1":$sf1Json,"queries_sf1_runs":$sf1RunsJson,"queries":$qs}""")
    val resultMap = results.toMap
    val headQs = headline.flatMap(k => resultMap.get(k).map(v =>
        "\"" + k + "\":" + math.round(v * 1000) / 1000.0))
      .mkString("{", ",", "}")
    val headSf1 = run.sf1Results.map { case (k, v) =>
      "\"" + k + "\":" + math.round(v * 1000) / 1000.0 }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${math.round(total * 1000) / 1000.0},"unit":"sec","sf":"$sfDir","input_bytes":$sfBytes,"cpu_percent":${math.round(run.cpuPct * 10) / 10.0},$calibJson,$sf1CalibJson,"sf1_row_quiet_medians":$sf1MediansTrippedJson,"sf1_gc_tripped":$sf1GcTrippedJson,$sf01TripsJson,"sf01_row_quiet_medians":${sf01MediansJsonOf(sf01Trips)},$floorJson,"workload":$workload,"fixture_digest_sf1":"$sf1Digest","n_queries":${results.size},"runs_per_query":2,"aggregation":"min","failed_queries":$failedJson,"queries_sf1":$headSf1,"queries_sf1_runs":$sf1RunsTrippedJson,"queries":$headQs}""")

    // X3 parity (ref `performance_py/...py:1457-1465`): results as a
    // driver-built table -> header CSV, when a sink path is configured
    sys.env.get("SPARK_GRAFT_BENCH_CSV").foreach { out =>
      import spark.implicits._
      graft.sources.CsvIO.write(
        results.toDF("query", "seconds").orderBy("query"), out)
    }
    core.LocalSession.stop(spark)
  }
}
