package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Rows-only gates (seeded sampling, engine-specific sketches/ANN/ML)
  * can never be hash-gated against DuckDB
  * — but "rows-only" need not mean "unchecked". [[GateInvariants]]
  * verifies the properties that ARE well-defined for every such gate
  * before its output is written; a violation throws, the query records as
  * failed, and the driver's rows-only row goes red instead of silently
  * green.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = core.LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (comma-separated names); unset = everything,
    // which is what the driver runs
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // ONE execution of the gate plan: collect, then run the magnitude
        // check driver-side and replay the invariants + parquet write
        // from a local frame over the collected rows (gate outputs are
        // small by design; the expensive DAG used to run 2-3×)
        val rows = df.collect()
        GateInvariants.checkMagnitudesRows(name, df.schema, rows)
        val local = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), df.schema)
        GateInvariants.check(name, local, fn, spark, sfDir)
        local.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    core.LocalSession.stop(spark)
  }
}

/** Property checks for EVERY rows-only gate (round-4 verdict item 7,
  * widened from the four sampling gates to the full ◦ set). Each check
  * states an invariant that holds regardless of partition layout or
  * engine-specific randomness:
  *
  *  - `sample_orders` — hash-gated since round 9 (source count + band and
  *    distinct-subset verdicts); the invariant re-runs the raw seeded
  *    sample, recomputes both verdicts independently, requires equality
  *    with the gate's booleans, and keeps the determinism check.
  *  - `split_counts` — hash-gated since round 9 (source count + exact-
  *    partition and train-band verdicts); same independent-recompute
  *    contract over the raw seeded split.
  *  - `sample_stratified` — hash-gated since round 7 (the gate emits
  *    source counts + a 6σ band verdict the oracle expects true); the
  *    invariant recomputes the band INDEPENDENTLY from the raw sampled
  *    and source counts (no trust in the engine's boolean), requires the
  *    gate verdict to match it, and keeps the sampleBy determinism check.
  *  - `row_ids` — hash-gated since round 10 (source count + one-id-per-
  *    row / uniqueness / nonnegativity verdicts; the id values themselves
  *    are partition-dependent by contract); the invariant re-runs the raw
  *    partition-dependent query and recomputes every boolean.
  *  - `agg_approx_distinct` — hash-gated since round 7 (exact count +
  *    6·rsd verdict); the invariant re-derives exact and approx counts
  *    and recomputes the band in plain scala — the gate's boolean must
  *    equal the independent verdict, not merely be true.
  *  - `sketch_cms_topk` — hash-gated since round 9 (exact top-20 keys +
  *    counts + two bound verdicts); the invariant rebuilds the raw CMS
  *    estimates independently, requires each emitted verdict to equal the
  *    recomputation, and keeps the never-under / eps·N / determinism
  *    checks on the recomputed estimates.
  *  - `q2_approx_median_default` — hash-gated since round 9 (exact
  *    per-group counts + a GK-median-in-[P49,P51]-band verdict); the
  *    invariant recomputes both the exact band and the GK value
  *    independently and requires the verdict to match.
  *  - `ann_ivf` / `ann_brp_lsh` — hash-gated since round 9 (verdict
  *    shape); the invariant re-runs the raw index probe and recomputes
  *    k rows / scores descending / score exactness vs the exact cosine /
  *    recall@10 floor, requiring the gate's booleans to match (IVF
  *    probes 4/16 cells, so its floor only catches probing the wrong
  *    cells outright).
  *  - `dedup_minhash_mllib` — hash-gated since round 9 (exact-dup pair
  *    count + LSH-guarantee verdicts); the invariant re-runs the raw
  *    MLlib join and the Jaccard-1.0 pair derivation and requires the
  *    gate row to equal the recomputation.
  *  - `ml_price_metrics` / `ml_price_metrics_full` — hash-gated since
  *    round 9 (model set + metric-identity verdicts: the r2adj == r2
  *    quirk, rmse² ≈ mse, mae ≤ rmse/finite); the invariant RE-FITS the
  *    models and requires each emitted verdict to equal the
  *    recomputation.
  *  - `ml_cv_linear` — hash-gated since round 9 (grid size + verdicts:
  *    expected grid, unique minimal winner, finite metrics); the
  *    invariant re-runs the seeded sweep, recomputes, and checks
  *    determinism.
  *  - `ml_feature_impute` — hash-gated since round 10 (exact source/gap
  *    counts + fill-completeness and surrogate-vs-DECIMAL-exact-mean
  *    band verdicts); the invariant re-fits the Imputer and recomputes
  *    both booleans, the band via the SAME shared predicate
  *    (FeatureEngineering.imputeMeanInBand).
  *  - `ml_feature_onehot` — hash-gated since round 10 (per-category
  *    counts + the StringIndexer index both stated EXACTLY by the
  *    oracle); the invariant recomputes the frequency-desc/alpha-asc
  *    rank WITHOUT StringIndexer and re-fits the transformers for the
  *    vector/round-trip verdicts.
  *  - `multimodal_binary_ingest` — hash-gated since round 9 (the oracle
  *    read_blobs the same files); the invariant still independently
  *    recomputes each file's byte length and md5-of-hex digest from disk
  *    (payload survived the binaryFile source bit-for-bit).
  *
  * 6σ + 10 keeps the statistical bands false-positive-free (≪1e-8 per
  * gate) while still catching a wrong fraction, a double-sample, a
  * drifted sketch, or a lost stratum.
  */
object GateInvariants {
  private type QueryFn = (SparkSession, String) => DataFrame

  /** Every gated numeric value must stay strictly below 2^53 in absolute
    * value — the double-exactness boundary. Round 11's single red row was
    * exactly this failure class: the engine and the oracle agreed on an
    * exact DECIMAL(38,0) whose magnitude crossed 2^53 between SFs, and a
    * float hop in the driver's canonicalization silently rounded one
    * side. This check runs on EVERY gate's output before it is written,
    * over every numeric column (integral, decimal, float/double, and
    * arrays thereof; NaN excluded — it canonicalizes symbolically), so no
    * future gate can reintroduce a value a float-canonicalizing hasher
    * would mangle. One aggregate pass per gate at verify time.
    */
  def checkMagnitudes(name: String, df: DataFrame): Unit =
    checkMagnitudesRows(name, df.schema, df.collect())

  /** Driver-side twin over already-collected rows — what Verify's main
    * loop calls so the gate plan executes exactly once (collect), not
    * once per check plus once for the write.
    */
  def checkMagnitudesRows(name: String,
                          schema: org.apache.spark.sql.types.StructType,
                          rows: Array[org.apache.spark.sql.Row]): Unit = {
    import org.apache.spark.sql.types._
    val bound = 9007199254740992.0 // 2^53
    def chk(column: String, v: Double): Unit =
      require(v.isNaN || math.abs(v) < bound, // NaN canonicalizes symbolically
        s"invariant: gate '$name' column '$column' emits " +
          f"|value| = $v%.0f >= 2^53 — not exactly float-representable; " +
          "bound the gate's arithmetic (mod-2^48 digests, hex strings)")
    def chkAny(column: String, v: Any): Unit = v match {
      case null => ()
      case d: java.math.BigDecimal => chk(column, d.doubleValue)
      case d: scala.math.BigDecimal => chk(column, d.doubleValue)
      case n: java.lang.Number => chk(column, n.doubleValue)
      case _ => ()
    }
    val numericIdx = schema.fields.zipWithIndex.filter { case (f, _) =>
      f.dataType match {
        case FloatType | DoubleType | ByteType | ShortType | IntegerType |
            LongType | _: DecimalType => true
        case ArrayType(FloatType | DoubleType | ByteType | ShortType |
            IntegerType | LongType | _: DecimalType, _) => true
        case _ => false
      }
    }
    if (numericIdx.nonEmpty) rows.foreach { r =>
      numericIdx.foreach { case (f, i) =>
        if (!r.isNullAt(i)) f.dataType match {
          case _: ArrayType =>
            r.getSeq[Any](i).foreach(chkAny(f.name, _))
          case _ => chkAny(f.name, r.get(i))
        }
      }
    }
  }

  /** Verdict-gate comparison for the ANN gates: re-run the RAW index
    * probe, recompute the four verdict facts from its rows, and require
    * the gate's emitted row to match the recomputation exactly plus every
    * contract boolean to hold — output-doctoring and index drift both
    * fail loudly.
    */
  private def annVerdictChecks(df: DataFrame, raw: DataFrame,
                               spark: SparkSession, sfDir: String,
                               k: Int, scoreTol: Double, minHits: Int): Unit = {
    val (n, exact, desc, recall) = operators.SimilarityOps
      .annVerdicts(core.Tables(spark, sfDir), raw, k, scoreTol, minHits)
    require(df.count() == 1, "invariant: verdict gate must emit one row")
    val row = df.head()
    require(row.getLong(0) == n,
      s"invariant: gate n_neighbors ${row.getLong(0)} != recomputed $n")
    require(row.getBoolean(1) == exact && row.getBoolean(2) == desc &&
      row.getBoolean(3) == recall,
      s"invariant: gate verdicts (${row.getBoolean(1)}, ${row.getBoolean(2)}, " +
        s"${row.getBoolean(3)}) disagree with recomputation ($exact, $desc, $recall)")
    require(n == k && exact && desc && recall,
      s"invariant: ANN contract violated (n=$n, exact=$exact, desc=$desc, recall=$recall)")
  }

  def check(name: String, df: DataFrame, fn: QueryFn,
            spark: SparkSession, sfDir: String): Unit = name match {
    case "sample_orders" =>
      // hash-gated verdict shape (n_source, sampled_in_band,
      // sampled_distinct_subset): re-run the RAW seeded sample and
      // recompute every verdict independently — the gate's booleans must
      // equal the recomputation, not merely be true
      val tt = core.Tables(spark, sfDir)
      val orders = tt.orders
      val n = orders.count()
      val s = operators.CoreQueries.sampleOrders(tt)
      val keys = s.select("o_orderkey")
      val got = s.count()
      val indepBand = operators.CoreQueries.binomialBandOk(got, n, 0.1)
      val indepSubset =
        keys.exceptAll(orders.select("o_orderkey")).count() == 0 &&
          keys.distinct().count() == got
      val row = df.head()
      require(df.count() == 1, "invariant: verdict gate must emit one row")
      require(row.getLong(0) == n,
        s"invariant: gate n_source ${row.getLong(0)} != recounted $n")
      require(row.getBoolean(1) == indepBand,
        s"invariant: sampled_in_band ${row.getBoolean(1)} disagrees with " +
          s"independent recomputation $indepBand (sampled=$got, n=$n)")
      require(row.getBoolean(2) == indepSubset,
        s"invariant: sampled_distinct_subset ${row.getBoolean(2)} disagrees " +
          s"with independent recomputation $indepSubset")
      require(indepBand && indepSubset,
        s"invariant: seeded sample violated its contract (band=$indepBand, subset=$indepSubset)")
      val rerun = operators.CoreQueries.sampleOrders(tt).select("o_orderkey")
      require(keys.exceptAll(rerun).count() == 0 &&
        rerun.exceptAll(keys).count() == 0,
        "invariant: seeded sample not deterministic within the session")
    case "split_counts" =>
      // hash-gated verdict shape (n_source, partitions_source,
      // train_in_band): re-run the RAW seeded split, recompute, compare
      val tt = core.Tables(spark, sfDir)
      val n = tt.orders.count()
      val counts = operators.CoreQueries.splitCounts(tt).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      require(counts.keySet == Set("train", "test"),
        s"invariant: raw split keys ${counts.keySet}")
      val indepPartition = counts.values.sum == n && counts.values.forall(_ > 0)
      val indepBand = operators.CoreQueries.binomialBandOk(counts("train"), n, 0.8)
      val row = df.head()
      require(df.count() == 1, "invariant: verdict gate must emit one row")
      require(row.getLong(0) == n,
        s"invariant: gate n_source ${row.getLong(0)} != recounted $n")
      require(row.getBoolean(1) == indepPartition,
        s"invariant: partitions_source ${row.getBoolean(1)} disagrees with " +
          s"independent recomputation $indepPartition ($counts vs $n)")
      require(row.getBoolean(2) == indepBand,
        s"invariant: train_in_band ${row.getBoolean(2)} disagrees with " +
          s"independent recomputation $indepBand ($counts)")
      require(indepPartition && indepBand,
        s"invariant: seeded split violated its contract ($counts of $n)")
      val again = operators.CoreQueries.splitCounts(tt).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      require(again == counts, "invariant: seeded split not deterministic")
    case "sample_stratified" =>
      // the band check is hash-gated (the gate emits the verdict and the
      // oracle expects true) — but the verdict must not be SELF-certified
      // (round-8 verdict #4): recompute the 6σ binomial band here from the
      // raw sampled counts and the independently-counted source strata,
      // and require the engine's boolean to MATCH the recomputation (an
      // inverted or hard-coded comparison engine-side fails loudly), plus
      // be true
      val raw = operators.CoreQueries
        .stratifiedSampleCounts(core.Tables(spark, sfDir)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val source = core.Tables(spark, sfDir).orders
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      df.collect().foreach { r =>
        val (status, nSource, verdict) =
          (r.getString(0), r.getLong(1), r.getBoolean(2))
        require(nSource == source(status),
          s"invariant: gate n_source $nSource != recounted ${source(status)} for '$status'")
        val p = if (status == "P") 0.5 else 0.05
        val sampled = raw.getOrElse(status, 0L)
        val indep = math.abs(sampled - p * nSource) <=
          6.0 * math.sqrt(p * (1 - p) * nSource) + 10.0
        require(verdict == indep,
          s"invariant: engine band verdict $verdict disagrees with the " +
            s"independent recomputation $indep for '$status' " +
            s"(sampled=$sampled, n=$nSource, p=$p)")
        require(indep,
          s"invariant: stratum '$status' sampled count $sampled outside its 6σ band")
      }
      val rawAgain = operators.CoreQueries
        .stratifiedSampleCounts(core.Tables(spark, sfDir)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      require(raw == rawAgain, "invariant: seeded sampleBy not deterministic")
    case "row_ids" =>
      // verdict-gate shape (n_source, one_id_per_row, ids_unique,
      // ids_nonnegative): re-run the RAW partition-dependent query and
      // recompute every boolean independently — the gate's booleans must
      // EQUAL the recomputation and hold (an inverted comparison in the
      // gate would fail here, not pass)
      val n = core.Tables(spark, sfDir).orders.count()
      val facts = operators.CoreQueries.rowIds(core.Tables(spark, sfDir))
        .agg(count(lit(1)), countDistinct(col("row_id")),
          coalesce(min(col("row_id")), lit(0L))) // empty source: see gate
        .head()
      val (onePerRow, unique, nonneg) =
        (facts.getLong(0) == n, facts.getLong(1) == n, facts.getLong(2) >= 0L)
      val g = df.head()
      require(df.count() == 1, "invariant: row_ids gate must emit one row")
      require(g.getLong(0) == n,
        s"invariant: gate n_source ${g.getLong(0)} != recounted $n")
      require(g.getBoolean(1) == onePerRow && g.getBoolean(2) == unique &&
        g.getBoolean(3) == nonneg,
        s"invariant: row_ids gate verdicts disagree with the raw re-run " +
          s"($onePerRow, $unique, $nonneg)")
      require(onePerRow, "invariant: row_ids row count != source count")
      require(unique, "invariant: row ids not unique")
      require(nonneg, "invariant: negative row id")
    case "agg_approx_distinct" =>
      // hash-gated: the gate carries the exact count and a 6·rsd band
      // verdict on the HLL estimate — recomputed HERE from raw values
      // (round-8 verdict #4: trusting the gate's own boolean would let an
      // inverted comparison pass): re-derive exact + approx independently
      // and require the engine's boolean to equal the band computed in
      // plain scala, plus be true
      val indep = core.Tables(spark, sfDir).lineitem
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_exact"),
          approx_count_distinct(col("l_partkey"), 0.02).as("approx"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      df.collect().foreach { r =>
        val (flag, nExact, verdict) =
          (r.getString(0), r.getLong(1), r.getBoolean(2))
        val (exactI, approxI) = indep(flag)
        require(nExact == exactI,
          s"invariant: gate n_exact $nExact != recomputed $exactI for '$flag'")
        val band = math.abs(approxI - exactI).toDouble <=
          math.max(6 * 0.02 * exactI, 10.0)
        require(verdict == band,
          s"invariant: engine 6·rsd verdict $verdict disagrees with the " +
            s"independent recomputation $band for '$flag' " +
            s"(approx=$approxI, exact=$exactI)")
        require(band,
          s"invariant: HLL estimate $approxI for '$flag' outside the " +
            s"6·rsd band of exact $exactI")
      }
    case "q2_approx_median_default" =>
      // hash-gated verdict shape (o_orderpriority, num_orders, in_band):
      // recompute the exact [P49, P51] band AND the GK median
      // independently (raw q2ApproxMedianDefault), require the emitted
      // verdict to equal the recomputation
      val tt = core.Tables(spark, sfDir)
      val bands = tt.orders
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          expr("percentile(o_totalprice, array(0.49, 0.51))").as("band"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Double](2))).toMap
      val gk = operators.CoreQueries.q2ApproxMedianDefault(tt)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      df.collect().foreach { r =>
        val (prio, n, verdict) = (r.getString(0), r.getLong(1), r.getBoolean(2))
        val (exactN, band) = bands(prio)
        val med = gk(prio)
        val indep = med >= band.head && med <= band.last
        require(n == exactN, s"invariant: group count $n != exact $exactN for '$prio'")
        require(verdict == indep,
          s"invariant: in_band verdict $verdict disagrees with the " +
            s"independent recomputation $indep (GK=$med, band=$band) for '$prio'")
        require(indep,
          s"invariant: GK median $med outside exact [P49, P51] = $band for '$prio'")
      }
    case "ann_ivf" =>
      // the gate probes only nprobe=4 of nlist=16 cells — recall is the
      // tunable; the HARD contract is score exactness (minHits=2 just
      // catches probing the wrong cells entirely)
      annVerdictChecks(df,
        operators.SimilarityOps.ivfTopK(core.Tables(spark, sfDir), 0L, 10, 16, 4),
        spark, sfDir, k = 10, scoreTol = 0.0, minHits = 2)
    case "ann_ivf_recall_curve" =>
      // recompute the whole curve from fresh probes and require row-level
      // agreement, plus the contract itself (monotone, floors, exact
      // close at nprobe = nlist)
      val fresh = operators.SimilarityOps
        .ivfRecallCurveRows(core.Tables(spark, sfDir), 10, 16, Seq(1, 2, 4, 8, 16))
      val gateRows = df.orderBy("nprobe").collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3),
          r.getBoolean(4)))
      require(gateRows.toSeq == fresh,
        s"invariant: gate curve ${gateRows.toSeq} != fresh recompute $fresh")
      require(fresh.forall { case (_, n, se, mono, floor) =>
        n == 10L && se && mono && floor },
        s"invariant: IVF curve contract violated: $fresh")
    case "ann_ivf_recall_routed" =>
      // recompute the whole routed-index curve from fresh probes (same
      // cached index — the assignment is deterministic, so a rebuild
      // yields identical cells) and require row-level agreement plus the
      // contract: measured floors at the partial widths, exact close at
      // the full sweep
      val fresh = operators.SimilarityOps.ivfRecallRoutedRows(
        core.Tables(spark, sfDir), 10, 4096,
        Seq(16 -> 2, 64 -> 5, 256 -> 8, 4096 -> 10))
      val gateRows = df.orderBy("nprobe").collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3),
          r.getBoolean(4)))
      require(gateRows.toSeq == fresh,
        s"invariant: gate curve ${gateRows.toSeq} != fresh recompute $fresh")
      require(fresh.forall { case (_, n, se, mono, floor) =>
        n == 10L && se && mono && floor },
        s"invariant: routed-ingest recall contract violated: $fresh")
    case "ann_ivf_recall_routed_hier" =>
      // the deep-hier twin (round-16 verdict item 3): same recompute
      // discipline against the 16384-cell routed index — the index the
      // gate probed is cached per generation, assignment is
      // deterministic, so fresh probes must reproduce the curve exactly
      val fresh = operators.SimilarityOps.ivfRecallRoutedRows(
        core.Tables(spark, sfDir), 10, 16384,
        Seq(16 -> 1, 64 -> 5, 256 -> 7, 1024 -> 8, 16384 -> 10))
      val gateRows = df.orderBy("nprobe").collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3),
          r.getBoolean(4)))
      require(gateRows.toSeq == fresh,
        s"invariant: gate curve ${gateRows.toSeq} != fresh recompute $fresh")
      require(fresh.forall { case (_, n, se, mono, floor) =>
        n == 10L && se && mono && floor },
        s"invariant: deep-hier routed recall contract violated: $fresh")
    case "ann_ivf_drift" =>
      // re-derive the drift verdicts from the appended index directory
      val tt = core.Tables(spark, sfDir)
      val (n, within, noDominant, reachable) =
        operators.SimilarityOps.ivfDriftVerdictsAppended(tt, 16)
      require(df.count() == 1, "invariant: verdict gate must emit one row")
      val row = df.head()
      require(row.getLong(0) == n && n == tt.embeddings.count(),
        s"invariant: drift meter count ${row.getLong(0)} / $n does not " +
          s"conserve the source table (${tt.embeddings.count()})")
      require(row.getBoolean(1) == within && row.getBoolean(2) == noDominant &&
        row.getBoolean(3) == reachable,
        s"invariant: gate verdicts disagree with recompute " +
          s"($within, $noDominant, $reachable)")
      require(within && noDominant && reachable,
        "invariant: IVF drift contract violated")
    case "ann_ivf_ingest_streaming" =>
      // re-derive the four append verdicts from the STREAM-built index
      // directory (cached per generation, so no re-ingest) + the batch
      // count from the ingest history file
      val tt = core.Tables(spark, sfDir)
      val (path, batches) = streaming.AnnIngestStream.ingestedIndexFor(tt)
      val (n, unique, probeExact, nearest) =
        operators.SimilarityOps.ivfAppendVerdictsOf(tt, path, 10, 16)
      require(df.count() == 1, "invariant: verdict gate must emit one row")
      val row = df.head()
      require(row.getLong(0) == n && n == tt.embeddings.count(),
        s"invariant: streamed index count ${row.getLong(0)} / $n does not " +
          s"conserve the source table (${tt.embeddings.count()})")
      require(row.getBoolean(1) == unique && row.getBoolean(2) == probeExact &&
        row.getBoolean(3) == nearest && row.getBoolean(4) == (batches >= 2),
        s"invariant: gate verdicts disagree with recompute " +
          s"($unique, $probeExact, $nearest, batches=$batches)")
      require(unique && probeExact && nearest && batches >= 2,
        s"invariant: streamed IVF ingest contract violated (batches=$batches)")
    case "ann_ivf_assign_hier" =>
      // recompute all four two-level-assignment verdicts (conservation,
      // cell validity, full-sweep identity, pruned-agreement floor) from
      // the quantizer surrogate + source table
      val tt = core.Tables(spark, sfDir)
      val (n, valid, identical, floorMet) =
        operators.SimilarityOps.ivfAssignHierVerdicts(tt, 64, 4, 0.7)
      require(df.count() == 1, "invariant: verdict gate must emit one row")
      val row = df.head()
      require(row.getLong(0) == n && n == tt.embeddings.count(),
        s"invariant: hier assignment count ${row.getLong(0)} / $n does " +
          s"not conserve the source table (${tt.embeddings.count()})")
      require(row.getBoolean(1) == valid && row.getBoolean(2) == identical &&
        row.getBoolean(3) == floorMet,
        s"invariant: gate verdicts disagree with recompute " +
          s"($valid, $identical, $floorMet)")
      require(valid && identical && floorMet,
        "invariant: two-level assignment contract violated")
    case "ann_ivf_append" =>
      // recompute conservation, uniqueness, full-probe exactness and
      // nearest-assignment from the index directory + source table
      val tt = core.Tables(spark, sfDir)
      val (n, unique, probeExact, nearest) =
        operators.SimilarityOps.ivfAppendVerdicts(tt, 10, 16)
      require(df.count() == 1, "invariant: verdict gate must emit one row")
      val row = df.head()
      require(row.getLong(0) == n && n == tt.embeddings.count(),
        s"invariant: index row count ${row.getLong(0)} / $n does not " +
          s"conserve the source table (${tt.embeddings.count()})")
      require(row.getBoolean(1) == unique && row.getBoolean(2) == probeExact &&
        row.getBoolean(3) == nearest,
        s"invariant: gate verdicts disagree with recompute " +
          s"($unique, $probeExact, $nearest)")
      require(unique && probeExact && nearest,
        "invariant: IVF append contract violated")
    case "ann_brp_lsh" =>
      // cos is reconstructed as 1 − d²/2 on unit vectors: 1e-6-rounded twice
      annVerdictChecks(df,
        operators.SimilarityOps.brpLshTopK(core.Tables(spark, sfDir), 0L, 10),
        spark, sfDir, k = 10, scoreTol = 2e-6, minHits = 5)
    case "dedup_minhash_mllib" =>
      // verdict-gate shape (n_exact_dup_pairs, exact_dups_all_found,
      // sims_in_range): re-run the raw MLlib join and the exact-dup pair
      // derivation, recompute all three facts, require equality with the
      // gate row plus the contract itself
      val tt = core.Tables(spark, sfDir)
      val got = operators.DedupOps.minhashDupPairsMllib(tt, 0.7).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val exact = operators.DedupOps.ngramJaccardPairs(tt, 1.0)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val allFound = exact.forall(got.contains)
      val simsInRange = got.values.forall(j => j >= 0.7 - 1e-4 && j <= 1.0)
      require(df.count() == 1, "invariant: verdict gate must emit one row")
      val row = df.head()
      require(row.getLong(0) == exact.length.toLong,
        s"invariant: gate n_exact_dup_pairs ${row.getLong(0)} != recomputed ${exact.length}")
      require(row.getBoolean(1) == allFound && row.getBoolean(2) == simsInRange,
        s"invariant: gate verdicts (${row.getBoolean(1)}, ${row.getBoolean(2)}) " +
          s"disagree with recomputation ($allFound, $simsInRange)")
      require(allFound, "invariant: exact duplicate pair missed (collides in every table)")
      require(simsInRange, "invariant: similarity outside (threshold, 1]")
    case "ml_feature_impute" =>
      // verdict-gate shape (n_source, n_gapped, gapped_all_filled,
      // imputed_mean_in_band): re-derive the counts straight from orders
      // (the gap pattern is a constant modulus), re-fit the Imputer for a
      // fresh surrogate, and recompute both booleans — the band check via
      // the SAME shared predicate the gate used (imputeMeanInBand), on the
      // independently re-fit surrogate
      val tt = core.Tables(spark, sfDir)
      val n = tt.orders.count()
      val nGapped = tt.orders
        .filter(pmod(col("o_orderkey"), lit(10L)) === 0).count()
      val gappy = ml.FeatureEngineering.gappyOrders(tt)
      val model = new org.apache.spark.ml.feature.Imputer().setStrategy("mean")
        .setInputCols(Array("price_gappy")).setOutputCols(Array("price_imputed"))
        .fit(gappy)
      val surrogate = model.surrogateDF.head().getDouble(0)
      val filled = model.transform(gappy)
        .filter(col("price_gappy").isNull &&
          (col("price_imputed").isNull ||
            abs(col("price_imputed") - lit(surrogate)) > lit(1e-9)))
        .count() == 0L
      val inBand = ml.FeatureEngineering.imputeMeanInBand(tt, surrogate)
      require(df.count() == 1, "invariant: verdict gate must emit one row")
      val g = df.head()
      require(g.getLong(0) == n && g.getLong(1) == nGapped,
        s"invariant: gate counts (${g.getLong(0)}, ${g.getLong(1)}) != " +
          s"recounted ($n, $nGapped)")
      require(g.getBoolean(2) == filled && g.getBoolean(3) == inBand,
        s"invariant: impute gate verdicts disagree with the re-fit ($filled, $inBand)")
      require(nGapped > 0, "invariant: gap injection produced no gaps")
      require(filled, "invariant: gapped row not filled with the surrogate")
      require(inBand, "invariant: surrogate outside the exact-mean band")
    case "ml_feature_impute_median" =>
      // median twin: same independent-recompute contract as the mean
      // gate, with the band predicate swapped for the exact-percentile
      // [P49.5, P50.5] containment (shared predicate imputeMedianInBand,
      // evaluated here on an independently re-fit surrogate)
      val tt = core.Tables(spark, sfDir)
      val n = tt.orders.count()
      val nGapped = tt.orders
        .filter(pmod(col("o_orderkey"), lit(10L)) === 0).count()
      val gappy = ml.FeatureEngineering.gappyOrders(tt)
      val model = new org.apache.spark.ml.feature.Imputer().setStrategy("median")
        .setInputCols(Array("price_gappy")).setOutputCols(Array("price_imputed"))
        .fit(gappy)
      val surrogate = model.surrogateDF.head().getDouble(0)
      val filled = model.transform(gappy)
        .filter(col("price_gappy").isNull &&
          (col("price_imputed").isNull ||
            abs(col("price_imputed") - lit(surrogate)) > lit(1e-9)))
        .count() == 0L
      val inBand = ml.FeatureEngineering.imputeMedianInBand(tt, surrogate)
      require(df.count() == 1, "invariant: verdict gate must emit one row")
      val g = df.head()
      require(g.getLong(0) == n && g.getLong(1) == nGapped,
        s"invariant: gate counts (${g.getLong(0)}, ${g.getLong(1)}) != " +
          s"recounted ($n, $nGapped)")
      require(g.getBoolean(2) == filled && g.getBoolean(3) == inBand,
        s"invariant: median-impute gate verdicts disagree with the re-fit " +
          s"($filled, $inBand)")
      require(nGapped > 0, "invariant: gap injection produced no gaps")
      require(filled, "invariant: gapped row not filled with the surrogate")
      require(inBand, "invariant: median surrogate outside the exact [P49.5, P50.5] band")
    case "ml_feature_vector_index" =>
      // verdict-gate shape per l_linenumber value (n_rows, category_index,
      // n_categorical, transform_ok): counts and the ascending-value rank
      // are recomputed here WITHOUT VectorIndexer (plain groupBy + sort —
      // the independent check of the category-map contract on a zero-free
      // column), then the indexer is re-fit and the transform verdict
      // replayed
      val tt = core.Tables(spark, sfDir)
      val counts = tt.lineitem
        .groupBy(col("l_linenumber").cast("long").as("v"))
        .count().collect().map(r => (r.getLong(0), r.getLong(1)))
      val expectedIdx = counts.map(_._1).sorted
        .zipWithIndex.map { case (v, i) => v -> i.toLong }.toMap
      val cmap = counts.toMap
      val rows = df.collect()
      require(rows.length == counts.length,
        s"invariant: gate rows ${rows.length} != ${counts.length} distinct values")
      rows.foreach { r =>
        val v = r.getLong(0)
        require(r.getLong(1) == cmap(v),
          s"invariant: gate count for value $v != recounted ${cmap(v)}")
        require(r.getLong(2) == expectedIdx(v),
          s"invariant: category index ${r.getLong(2)} for $v != ascending rank " +
            s"${expectedIdx(v)}")
        require(r.getLong(3) == 1L,
          s"invariant: n_categorical ${r.getLong(3)} != 1 — l_quantity must stay " +
            "continuous past maxCategories")
      }
      val again = ml.FeatureEngineering.vectorIndexGate(tt).collect()
        .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
      rows.foreach { r =>
        require(r.getBoolean(4) == again(r.getLong(0)),
          s"invariant: transform verdict for ${r.getLong(0)} disagrees with the re-fit")
        require(r.getBoolean(4),
          s"invariant: indexed transform wrong for value ${r.getLong(0)}")
      }
    case "ml_feature_onehot" =>
      // verdict-gate shape per priority (n_orders, priority_index,
      // onehot_size, onehot_ok, roundtrip_ok): counts and the
      // frequency-desc/alpha-asc rank are recomputed here WITHOUT
      // StringIndexer (plain groupBy + sort — the genuinely independent
      // check of the index contract, tie-break included), then the
      // transformers are re-fit and the vector/round-trip booleans
      // recomputed
      val tt = core.Tables(spark, sfDir)
      val counts = tt.orders.na.drop(Seq("o_orderpriority"))
        .groupBy("o_orderpriority").count()
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val expectedIdx = counts.sortBy { case (v, c) => (-c, v) }
        .zipWithIndex.map { case ((v, _), i) => v -> i.toLong }.toMap
      val rows = df.collect()
      require(rows.length == counts.length,
        s"invariant: gate rows ${rows.length} != ${counts.length} categories")
      val cmap = counts.toMap
      rows.foreach { r =>
        val pr = r.getString(0)
        require(r.getLong(1) == cmap(pr),
          s"invariant: gate count for $pr != recounted ${cmap(pr)}")
        require(r.getLong(2) == expectedIdx(pr),
          s"invariant: index ${r.getLong(2)} for $pr != frequency-rank " +
            s"${expectedIdx(pr)} (tie-break: count desc, value asc)")
        require(r.getLong(3) == counts.length - 1L,
          s"invariant: onehot_size ${r.getLong(3)} != ${counts.length - 1}")
      }
      val again = ml.FeatureEngineering.onehotGate(tt).collect()
        .map(r => r.getString(0) -> ((r.getBoolean(4), r.getBoolean(5)))).toMap
      rows.foreach { r =>
        val (ok, rt) = again(r.getString(0))
        require(r.getBoolean(4) == ok && r.getBoolean(5) == rt,
          s"invariant: onehot gate verdicts for ${r.getString(0)} disagree " +
            s"with the re-fit ($ok, $rt)")
        require(ok, s"invariant: encoded vector wrong for ${r.getString(0)}")
        require(rt, s"invariant: IndexToString round-trip failed for ${r.getString(0)}")
      }
    case "ml_cv_linear" =>
      // verdict-gate shape (n_grid_points, grid_expected,
      // winner_unique_minimal, metrics_finite): re-run the RAW seeded
      // sweep, recompute every verdict, require equality with the gate
      // row plus the contract itself; the seeded fold split must also
      // make the re-run identical to itself
      val tt = core.Tables(spark, sfDir)
      val raw = ml.PricePipeline.cvLinearSweep(tt).collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getBoolean(2)))
      val (n, gridOk, winnerOk, finite) = ml.PricePipeline.cvVerdicts(raw)
      require(df.count() == 1, "invariant: verdict gate must emit one row")
      val row = df.head()
      require(row.getLong(0) == n,
        s"invariant: gate n_grid_points ${row.getLong(0)} != recomputed $n")
      require(row.getBoolean(1) == gridOk && row.getBoolean(2) == winnerOk &&
        row.getBoolean(3) == finite,
        s"invariant: gate verdicts disagree with the independent " +
          s"recomputation ($gridOk, $winnerOk, $finite) over $raw")
      require(n == 2 && gridOk && winnerOk && finite,
        s"invariant: CV sweep violated its contract over $raw")
      val again = ml.PricePipeline.cvLinearSweep(tt).collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getBoolean(2)))
      require(again.toSeq == raw.toSeq, "invariant: seeded CV sweep not deterministic")
    case "ml_price_metrics" | "ml_price_metrics_full" =>
      // verdict-gate shape (model, r2adj_eq_r2, rmse2_eq_mse,
      // metrics_sane): re-run the RAW fits, recompute each model's metric
      // identities, require the gate's booleans to equal the
      // recomputation and the contract to hold
      val expectedModels =
        if (name == "ml_price_metrics")
          Seq("LinearRegression", "DecisionTree", "GeneralizedLinear")
        else ml.PricePipeline.regressors.map(_._1) // all nine
      val raw = ml.PricePipeline.metricsTable(
          core.Tables(spark, sfDir), expectedModels)
        .collect().map(r => r.getString(0) -> r).toMap
      require(raw.keySet == expectedModels.toSet,
        s"invariant: raw model set ${raw.keySet} != ${expectedModels.toSet}")
      val rows = df.collect()
      require(rows.map(_.getString(0)).toSet == expectedModels.toSet,
        s"invariant: gate model set ${rows.map(_.getString(0)).toSet} != ${expectedModels.toSet}")
      rows.foreach { g =>
        val r = raw(g.getString(0))
        // evaluate the IDENTICAL predicate definition the gate used, on
        // independently re-fit rows — two inline near-copies of the
        // predicate can disagree on pathological fits (round-9 advice)
        val (quirk, rmseMse, sane) = ml.PricePipeline.metricsVerdicts(Array(r))
        require(g.getBoolean(1) == quirk && g.getBoolean(2) == rmseMse &&
          g.getBoolean(3) == sane,
          s"invariant: gate verdicts for ${g.getString(0)} disagree with the " +
            s"re-fit recomputation ($quirk, $rmseMse, $sane)")
        require(quirk, "invariant: r2adj quirk (== r2) not reproduced")
        require(rmseMse, "invariant: rmse^2 != mse")
        require(sane, "invariant: bad metric")
      }
    case "sketch_cms_topk" =>
      // hash-gated shape: (l_partkey, n_exact, never_under, within_bound).
      // The booleans must equal an INDEPENDENT recomputation (raw CMS
      // estimates rebuilt via sketchCmsEstimates + exact counts re-derived
      // here), never merely be true — round-8 verdict #4's
      // anti-self-certification rule applied to this gate too.
      val li = core.Tables(spark, sfDir).lineitem
      val n = li.count()
      val exact = li.groupBy("l_partkey").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ests = operators.CoreQueries
        .sketchCmsEstimates(core.Tables(spark, sfDir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val rows = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
      require(rows.length == 20, s"invariant: expected 20 keys, got ${rows.length}")
      val slack = 5 * (math.ceil(0.001 * n).toLong + 1)
      rows.foreach { case (pk, ne, neverUnder, withinBound) =>
        require(ne == exact(pk),
          s"invariant: gate n_exact $ne != recounted ${exact(pk)} for key $pk")
        val est = ests(pk)
        require(neverUnder == (est >= ne),
          s"invariant: never_under verdict $neverUnder disagrees with " +
            s"recomputed est=$est vs exact=$ne for key $pk")
        require(withinBound == (est <= ne + slack),
          s"invariant: within_bound verdict $withinBound disagrees with " +
            s"recomputed est=$est vs exact+5(epsN+1)=${ne + slack} for key $pk")
        require(est >= ne,
          s"invariant: CMS under-estimated key $pk: $est < $ne")
        require(est <= ne + slack,
          s"invariant: CMS over-estimated key $pk by ${est - ne} > $slack")
      }
      // The tight eps·N bound is probabilistic per key (confidence 0.99):
      // allow at most one of the 20 keys beyond it, on the independently
      // recomputed estimates
      val bound = math.ceil(0.001 * n).toLong + 1
      val overBound = rows.count { case (pk, ne, _, _) => ests(pk) > ne + bound }
      require(overBound <= 1,
        s"invariant: CMS over-estimated $overBound/20 keys beyond eps*N=$bound " +
          "(bound is probabilistic per key at confidence 0.99; at most 1 miss allowed)")
      val again = fn(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
      require(again.toSeq == rows.toSeq, "invariant: seeded CMS not deterministic")
    case "multimodal_binary_ingest" =>
      // digest = md5 of the UPPERCASE hex rendering of the bytes — the
      // DuckDB-computable form the gate emits (md5(hex(content)))
      val onDisk = new java.io.File(sfDir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          val hexUpper = bytes.map("%02X".format(_)).mkString
          val md5hex = java.security.MessageDigest.getInstance("MD5")
            .digest(hexUpper.getBytes("UTF-8")).map("%02x".format(_)).mkString
          f.getName -> ((f.length(), md5hex))
        }.toMap
      val got = df.collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
      require(got == onDisk,
        "invariant: binaryFile rows disagree with on-disk names/sizes/digests")
    case "stats_pruned_scan" =>
      // skipped_some is oracle-stated `true`; recompute the prune from
      // the stats table with the gate's own bounds arithmetic and require
      // the emitted boolean to match AND hold, plus row-conservation:
      // pruned-scan row count == unpruned filter count
      val tt = core.Tables(spark, sfDir)
      val bounds = tt.orders.agg(
        org.apache.spark.sql.functions.min("o_orderkey").cast("long"),
        org.apache.spark.sql.functions.max("o_orderkey").cast("long")).head()
      val (lo0, hi0) = (bounds.getLong(0), bounds.getLong(1))
      val (lo, hi) = (lo0 + (hi0 - lo0) / 4, lo0 + 3 * (hi0 - lo0) / 4)
      val dir = sources.ParquetStats.rangeClusteredOrdersDir(tt)
      val (pruned, kept, total) =
        sources.ParquetStats.prunedScan(tt, dir, "o_orderkey", lo, hi)
      val indepSkipped = kept < total
      val directN = tt.orders
        .filter(org.apache.spark.sql.functions.col("o_orderkey").between(lo, hi))
        .count()
      require(pruned.count() == directN,
        s"invariant: pruned scan rows ${pruned.count()} != direct filter $directN")
      df.collect().foreach { row =>
        require(row.getAs[Boolean]("skipped_some") == indepSkipped,
          s"invariant: skipped_some ${row.getAs[Boolean]("skipped_some")} " +
            s"disagrees with recomputation $indepSkipped ($kept of $total files)")
      }
      require(indepSkipped,
        s"invariant: zone maps pruned nothing ($kept of $total files read)")
    case "vacuum_orphan_scan" =>
      // found_orphans is oracle-stated `true`; recompute the vacuum
      // partition independently and require it EXACT: manifest and
      // orphans disjoint, their union the whole listing, orphans
      // non-empty, and the emitted boolean equal to the recomputation —
      // a detector that accuses a committed file (the direction that
      // deletes live data) fails here before the hash even runs
      val tt = core.Tables(spark, sfDir)
      val (manifest, orphans) = sources.ParquetStats.vacuumPartition(tt)
      def bucketOf(p: String): Int =
        "bucket=(\\d+)".r.findFirstMatchIn(p).map(_.group(1).toInt).getOrElse(-1)
      require(manifest.toSet.intersect(orphans.toSet).isEmpty,
        "invariant: vacuum accused a manifest-committed file")
      require(orphans.nonEmpty && orphans.forall(bucketOf(_) >= 6),
        "invariant: orphan set wrong (empty, or contains a committed bucket)")
      require(manifest.nonEmpty && manifest.forall(bucketOf(_) < 6),
        "invariant: manifest set wrong (empty, or contains an orphan bucket)")
      df.collect().foreach { row =>
        require(row.getAs[Boolean]("found_orphans"),
          "invariant: found_orphans disagrees with recomputation (non-empty)")
      }
    case "stats_pruned_scan_date" =>
      // same contract as stats_pruned_scan for the TIMESTAMP zone maps:
      // recompute the prune with the gate's own window arithmetic;
      // skipped_some must match AND hold, row conservation must hold
      val tt = core.Tables(spark, sfDir)
      val (lo, hi) = sources.ParquetStats.dateWindow(tt)
      val (pruned, kept, total) = sources.ParquetStats.prunedScanTs(
        tt, s"${sources.ParquetStats.typedLayoutsDir(tt)}/date",
        "o_orderdate", lo, hi)
      val directN = tt.orders.filter(
        org.apache.spark.sql.functions
          .unix_micros(org.apache.spark.sql.functions.col("o_orderdate")
            .cast("timestamp")).between(lo, hi)).count()
      require(pruned.count() == directN,
        s"invariant: date-pruned rows ${pruned.count()} != direct $directN")
      df.collect().foreach { row =>
        require(row.getAs[Boolean]("skipped_some") == (kept < total),
          s"invariant: skipped_some disagrees ($kept of $total files)")
      }
      require(kept < total,
        s"invariant: timestamp zone maps pruned nothing ($kept of $total)")
    case "stats_pruned_scan_string" =>
      val tt = core.Tables(spark, sfDir)
      val (pruned, kept, total) = sources.ParquetStats.prunedScanString(
        tt, s"${sources.ParquetStats.typedLayoutsDir(tt)}/priority",
        "o_orderpriority", sources.ParquetStats.priorityProbe)
      val directN = tt.orders.filter(
        org.apache.spark.sql.functions.col("o_orderpriority") ===
          sources.ParquetStats.priorityProbe).count()
      require(pruned.count() == directN,
        s"invariant: string-pruned rows ${pruned.count()} != direct $directN")
      df.collect().foreach { row =>
        require(row.getAs[Boolean]("skipped_some") == (kept < total),
          s"invariant: skipped_some disagrees ($kept of $total files)")
      }
      require(kept < total,
        s"invariant: UTF8 zone maps pruned nothing ($kept of $total)")
    case "stats_bloom_point_lookup" =>
      val tt = core.Tables(spark, sfDir)
      val key = sources.ParquetStats.bloomProbeKey(tt)
      val (pruned, kept, total) = sources.ParquetStats.bloomPrunedLookup(
        tt, s"${sources.ParquetStats.typedLayoutsDir(tt)}/bloom",
        "o_orderkey", key)
      val directN = tt.orders.filter(
        org.apache.spark.sql.functions.col("o_orderkey") === key).count()
      require(pruned.count() == directN,
        s"invariant: bloom-pruned rows ${pruned.count()} != direct $directN")
      require(directN > 0,
        "invariant: bloom probe key missing from the fixture — the gate " +
          "would pass vacuously on an empty row set")
      df.collect().foreach { row =>
        require(row.getAs[Boolean]("skipped_some") == (kept < total),
          s"invariant: skipped_some disagrees ($kept of $total files)")
      }
      require(kept < total,
        s"invariant: bloom filters pruned nothing ($kept of $total files)")
    case "stats_metadata_agg" =>
      // metadata_only is oracle-stated TRUE; recompute the whole row
      // from a fresh footer sweep and require exact equality — a gate
      // that silently fell back to a data scan (or a footer sweep that
      // drifted from the data) cannot self-certify
      val tt = core.Tables(spark, sfDir)
      val fresh = sources.ParquetStats.metadataAggGate(tt).collect()
        .map(r => r.getAs[String]("column") -> r).toMap
      df.collect().foreach { row =>
        val c = row.getAs[String]("column")
        require(fresh.contains(c), s"invariant: unknown column row '$c'")
        require(row == fresh(c),
          s"invariant: metadata agg row for '$c' not reproducible: " +
            s"$row vs ${fresh(c)}")
        require(row.getAs[Boolean]("metadata_only"),
          s"invariant: metadata-only answer unproven for '$c' — the " +
            "footer stats were incomplete and a scan would be required")
      }
    case "sketch_hll_merge" =>
      // the oracle states the booleans as `true`; recompute both from the
      // RAW DataSketches estimates so the gate can't self-certify: the
      // emitted verdicts must equal the recomputation AND hold
      val tt = core.Tables(spark, sfDir)
      val raw = operators.CoreQueries.sketchHllEstimates(tt.documents, 12).head()
      val nSources = raw.getAs[Long]("n_sources")
      val nExact = raw.getAs[Long]("n_exact")
      val mergedEst = raw.getAs[Long]("merged_est")
      val directEst = raw.getAs[Long]("direct_est")
      def band(est: Long) = math.abs(est - nExact.toDouble) <= nExact * 0.1
      val indepMerged = band(mergedEst)
      val indepDirect = band(directEst)
      require(df.count() == 1, "invariant: verdict gate must emit one row")
      val row = df.head()
      require(row.getAs[Long]("n_sources") == nSources &&
        row.getAs[Long]("n_exact") == nExact,
        s"invariant: gate counts (${row.getAs[Long]("n_sources")}, " +
          s"${row.getAs[Long]("n_exact")}) != recomputed ($nSources, $nExact)")
      require(row.getAs[Boolean]("merged_in_band") == indepMerged,
        s"invariant: merged_in_band ${row.getAs[Boolean]("merged_in_band")} " +
          s"disagrees with recomputation $indepMerged ($mergedEst vs $nExact)")
      require(row.getAs[Boolean]("direct_in_band") == indepDirect,
        s"invariant: direct_in_band ${row.getAs[Boolean]("direct_in_band")} " +
          s"disagrees with recomputation $indepDirect ($directEst vs $nExact)")
      require(indepMerged && indepDirect,
        s"invariant: HLL contract violated (merged=$mergedEst, direct=$directEst, exact=$nExact)")
    case "index_pruned_lookup" =>
      // skipped_some is oracle-stated TRUE; re-run the pruned lookup and
      // require genuine pruning plus agreement with the emitted flag
      val tt = core.Tables(spark, sfDir)
      val (_, kept, total) = operators.IndexOps.prunedIndexLookupRaw(tt, "spark")
      df.collect().foreach { row =>
        require(row.getAs[Boolean]("skipped_some") == (kept < total),
          s"invariant: skipped_some disagrees with recomputation ($kept/$total)")
      }
      require(kept < total,
        s"invariant: token zone maps pruned nothing ($kept of $total files)")
    case "profile_join_size_cms" =>
      // recompute both verdicts from the raw estimate frame — a doctored
      // boolean, a broken sketch, or a wrong exact term all fail here
      val tt = core.Tables(spark, sfDir)
      val raw = operators.ProfileOps.cmsJoinSizeEstimates(tt).head()
      val nL = raw.getAs[Long]("n_left")
      val nR = raw.getAs[Long]("n_right")
      val exact = raw.getAs[Long]("exact_size")
      val est = raw.getAs[Long]("est_size")
      require(df.count() == 1, "invariant: verdict gate must emit one row")
      val row = df.head()
      require(row.getAs[Long]("n_left") == nL &&
        row.getAs[Long]("n_right") == nR &&
        row.getAs[Long]("exact_size") == exact,
        "invariant: gate terms disagree with recomputation")
      val indepUnder = est >= exact
      val indepBound = est.toDouble <= exact.toDouble +
        operators.ProfileOps.cmsJoinSlack(nL, nR, operators.ProfileOps.cmsJoinWidth)
      require(row.getAs[Boolean]("never_under") == indepUnder,
        s"invariant: never_under disagrees ($est vs $exact)")
      require(row.getAs[Boolean]("within_bound") == indepBound,
        s"invariant: within_bound disagrees ($est vs $exact)")
      require(indepUnder && indepBound,
        s"invariant: CMS join-size contract violated (est=$est, exact=$exact)")
    case "sketch_hll_persisted" =>
      // recompute all three verdicts from the raw persisted/live
      // estimates so the gate can't self-certify — a doctored boolean,
      // a truncated sketch table, or a lossy storage hop all fail here
      val tt = core.Tables(spark, sfDir)
      val raw = operators.CoreQueries.sketchHllPersistedEstimates(tt).head()
      val nSources = raw.getAs[Long]("n_sources")
      val nExact = raw.getAs[Long]("n_exact")
      val storedRows = raw.getAs[Long]("stored_rows")
      val storedEst = raw.getAs[Long]("stored_est")
      val liveEst = raw.getAs[Long]("live_est")
      require(df.count() == 1, "invariant: verdict gate must emit one row")
      val row = df.head()
      require(row.getAs[Long]("n_sources") == nSources &&
        row.getAs[Long]("n_exact") == nExact,
        "invariant: gate counts disagree with recomputation")
      require(row.getAs[Boolean]("stored_rows_match") == (storedRows == nSources),
        s"invariant: stored_rows_match disagrees ($storedRows vs $nSources)")
      require(row.getAs[Boolean]("storage_lossless") == (storedEst == liveEst),
        s"invariant: storage_lossless disagrees ($storedEst vs $liveEst)")
      val indepBand = math.abs(storedEst - nExact.toDouble) <= nExact * 0.1
      require(row.getAs[Boolean]("merged_in_band") == indepBand,
        s"invariant: merged_in_band disagrees ($storedEst vs $nExact)")
      require(storedRows == nSources && storedEst == liveEst && indepBand,
        s"invariant: persisted-HLL contract violated (rows=$storedRows/" +
          s"$nSources, stored=$storedEst, live=$liveEst, exact=$nExact)")
    case "ml_quality_classifier" =>
      // re-fit the tree and recompute both verdicts independently — a
      // doctored boolean, a drifted fit, or an inverted comparison fail
      val (n, pos, acc) = ml.QualityClassifier.stats(core.Tables(spark, sfDir))
      require(df.count() == 1, "invariant: verdict gate must emit one row")
      val row = df.head()
      require(row.getAs[Long]("n_docs") == n &&
        row.getAs[Long]("n_weak_pos") == pos,
        s"invariant: gate counts (${row.getAs[Long]("n_docs")}, " +
          s"${row.getAs[Long]("n_weak_pos")}) != recomputed ($n, $pos)")
      require(row.getAs[Boolean]("tree_accuracy_high") == (acc >= 0.98),
        s"invariant: tree_accuracy_high disagrees with re-fit accuracy $acc")
      require(row.getAs[Boolean]("labels_nondegenerate") == (pos > 0 && pos < n),
        s"invariant: labels_nondegenerate disagrees ($pos of $n)")
      require(acc >= 0.98 && pos > 0 && pos < n,
        s"invariant: distillation contract violated (acc=$acc, pos=$pos, n=$n)")
    case "text_bpe_path_parity" =>
      // re-run BOTH training paths and recompute all three facts — a
      // doctored verdict or a silently diverged driver trainer fails here
      val (nVocab, mergesOk, dictsOk) =
        operators.TextOps.bpePathParityVerdicts(core.Tables(spark, sfDir), 12)
      require(df.count() == 1, "invariant: verdict gate must emit one row")
      val row = df.head()
      require(row.getAs[Long]("n_vocab") == nVocab,
        s"invariant: gate n_vocab ${row.getAs[Long]("n_vocab")} != " +
          s"recomputed $nVocab")
      require(row.getAs[Boolean]("merges_identical") == mergesOk &&
        row.getAs[Boolean]("dicts_identical") == dictsOk,
        s"invariant: gate verdicts disagree with recompute ($mergesOk, $dictsOk)")
      require(mergesOk && dictsOk,
        "invariant: driver and reference BPE training paths diverged")
    case "text_bpe_encode_oov" =>
      // the gate exists to prove unseen words are ENCODED, not silently
      // dropped (the round-15 inner-join data-loss finding) — so the
      // held-out vocabulary must actually be exercised: OOV words exist,
      // and every OOV word contributed at least one token (an encoded
      // word can never be empty: merges only shorten a nonempty symbol
      // sequence to ≥ 1 symbol)
      val rows = df.collect()
      require(rows.nonEmpty, "invariant: OOV encode gate emitted no rows")
      val oovWords = rows.map(_.getAs[Long]("n_oov_words")).sum
      require(oovWords > 0,
        "invariant: held-out split produced zero OOV words — the gate is vacuous")
      rows.foreach { r =>
        require(r.getAs[Long]("n_oov_tokens") >= r.getAs[Long]("n_oov_words"),
          s"invariant: OOV words dropped from token counts in lang ${r.get(0)}")
        require(r.getAs[Long]("n_tokens") >= r.getAs[Long]("n_words"),
          s"invariant: encoded token count below word count in lang ${r.get(0)}")
        require(r.getAs[Long]("n_words") >= r.getAs[Long]("n_oov_words"),
          s"invariant: OOV words exceed total words in lang ${r.get(0)}")
      }
    case "text_bpe_encode_oov_replay" =>
      // the replay-regime twin (round-16 verdict item 4) must actually
      // BE in the replay regime: all 66 requested merges learned (the
      // md5 ≤ 'c' split exhausts at a measured 70 — if a fixture drift
      // ever pushes exhaustion below 66, the oracle's fixed 66-step
      // replace chain would replace with NULL pairs and silently corrupt,
      // so fail loudly here instead), and 66 > the 64-merge expression
      // threshold ⇒ the engine took the broadcast mapPartitions replay
      // path, which is the gate's whole point (BpeEncodeOovSpec pins the
      // path equality; PlanShapeSpec pins the plan)
      val tt = core.Tables(spark, sfDir)
      val (_, learned) = operators.TextOps.bpeTrainOovCached(tt, 66, "c")
      require(learned.size == 66,
        s"invariant: replay gate learned ${learned.size} of 66 requested " +
          "merges — training exhausted; the fixture vocabulary drifted " +
          "toward the split's exhaustion point and the oracle chain is " +
          "no longer sound")
      val rows = df.collect()
      require(rows.nonEmpty, "invariant: OOV replay gate emitted no rows")
      val oovWords = rows.map(_.getAs[Long]("n_oov_words")).sum
      require(oovWords > 0,
        "invariant: md5 ≤ 'c' split produced zero OOV words — the gate is vacuous")
      rows.foreach { r =>
        require(r.getAs[Long]("n_oov_tokens") >= r.getAs[Long]("n_oov_words"),
          s"invariant: OOV words dropped from token counts in lang ${r.get(0)}")
        require(r.getAs[Long]("n_tokens") >= r.getAs[Long]("n_words"),
          s"invariant: encoded token count below word count in lang ${r.get(0)}")
      }
    case "dedup_revision_chains" =>
      // the gate exists to run connected components on a HIGH-DIAMETER
      // graph, the shape whose round count star contraction keeps at
      // O(log n). If a fixture reshape shrinks the chains to 20 hops or
      // fewer, the gate would only ever see shallow components — fail
      // loudly instead of silently losing that coverage.
      val maxSize = df.agg(max(col("cluster_size"))).head().getLong(0)
      require(maxSize > 21,
        s"invariant: longest revision chain has $maxSize docs (diameter " +
          s"${maxSize - 1}) — must exceed 20 hops for the gate to stay " +
          "high-diameter")
    case "layout_range_write" =>
      // the gate judged the layout from FOOTERS; recompute every verdict
      // from the DATA (per-file min/max/count via input_file_name) so a
      // wrong footer, a doctored boolean, or a lossy write all fail here
      val tt = core.Tables(spark, sfDir)
      val dir = operators.LayoutOps.rangeLayoutDir(tt)
      val per = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(count(lit(1)).as("n"),
          min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
        .collect()
        .map(r => (r.getAs[Long]("n"), r.getAs[Long]("mn"), r.getAs[Long]("mx")))
        .sortBy(_._2)
      val nFiles = per.length.toLong
      val nRows = per.map(_._1).sum
      val disjoint = per.sliding(2).forall {
        case Array((_, _, pmx), (_, mn, _)) => pmx < mn
        case _ => true
      }
      val balanced = per.forall { case (n, _, _) =>
        n * nFiles <= nRows * 3 && n * nFiles * 3 >= nRows }
      require(df.count() == 1, "invariant: verdict gate must emit one row")
      val row = df.head()
      require(row.getAs[Boolean]("n_files_in_bound") == (nFiles >= 1 && nFiles <= 8),
        s"invariant: n_files_in_bound disagrees with the data ($nFiles files)")
      // STRICTER than the gate's [1, 8] bound (round-13 advice): at the
      // driver SFs o_orderkey is dense and unique, so a single-file
      // collapse can only mean the range write regressed — and with
      // nFiles = 1 the disjoint/balanced/point-lookup checks all pass
      // trivially. The gate keeps the [1, buckets] lower bound for
      // sparse/duplicate-heavy inputs; the fixture invariant does not.
      require(nFiles >= 2 && nFiles <= 8,
        s"invariant: range layout emitted $nFiles files — a driver-SF " +
          "fixture must split into at least 2 (single-file collapse " +
          "makes every other layout check vacuous)")
      require(row.getAs[Long]("n_rows") == nRows,
        s"invariant: footer row count (${row.getAs[Long]("n_rows")}) " +
          s"disagrees with the data ($nRows rows)")
      require(row.getAs[Boolean]("ranges_disjoint") == disjoint,
        s"invariant: ranges_disjoint disagrees with the data recompute $disjoint")
      require(row.getAs[Boolean]("files_balanced") == balanced,
        s"invariant: files_balanced disagrees with the data recompute $balanced")
      require(row.getAs[Boolean]("stats_complete_all"),
        "invariant: range layout wrote a file with incomplete footer stats")
      require(disjoint && balanced && nRows == tt.orders.count(),
        s"invariant: range-layout contract violated (disjoint=$disjoint, " +
          s"balanced=$balanced, rows=$nRows)")
    case _ => ()
  }
}
