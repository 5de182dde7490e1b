package graft.operators

import graft.core.{GenerationCache, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-LAYOUT operators — the write-side lever the read-side plans in
  * PLANS.md assume. At 100 TB the fastest scan is the one that never
  * happens: parquet row-group min/max (zone maps) prune files whose key
  * range can't match, but only if the writer clustered rows so ranges are
  * tight. A single-column `sortWithinPartitions` gives that for ONE
  * column; the 2-D Morton key [[graft.plans.ZOrder2]] (`graft_zorder`)
  * gives bounded ranges on BOTH dimensions at once — the
  * OPTIMIZE/ZORDER-style layout for fact tables probed along multiple
  * axes. `ZOrderSpec` measures the property directly: contiguous chunks
  * of the z-sorted fixture have day-spans AND custkey-spans both bounded,
  * where the custkey-sorted layout leaves day-spans at full width.
  *
  * Two bound variants feed the normalization:
  *  - EXACT min/max ([[zorderIndex]], [[zorderLayoutWrite]]) — one global
  *    agg; keeps the gate hash-checkable because the oracle replays the
  *    identical bounds.
  *  - APPROXIMATE quantile-sketch boundaries ([[zorderLayoutWriteApprox]])
  *    — what a production layout job substitutes: P1/P99 from one
  *    Greenwald–Khanna sketch pass, values clamped into range. Outliers
  *    (one far-future date, one giant custkey) stop stretching the grid —
  *    with exact bounds a single extreme point compresses everyone else
  *    into a corner of the 16-bit range and the curve degenerates toward
  *    a single-column sort; clamped P1/P99 keeps the interior spread even.
  *    The z values are sketch-dependent, so only LOSSLESSNESS is
  *    hash-gated (`layout_zorder_approx_roundtrip` shares the exact
  *    variant's oracle — both state the same probe over the source
  *    table); `ZOrderSpec` measures its per-file zone-map spans beside
  *    the exact-bounds write.
  */
object LayoutOps {

  /** The z-order clustering key for every order: x = o_custkey, y = the
    * epoch day number of o_orderdate, both NORMALIZED to a 16-bit
    * [0, 65535] range before interleaving. Normalization is what makes
    * the curve work: raw dims of different magnitudes put one dim's
    * varying bits entirely above the other's, and the z-sort degenerates
    * to a single-column sort (the spec's layout test catches exactly
    * that regression). The mapping is
    * `floor((v - min) · 65536 / (max - min + 1))` — the dividend is an
    * exact integer in a double and the divisor an integer, so the one
    * correctly-rounded IEEE division (then floor) is bit-identical in
    * any engine: the DuckDB oracle replays the full pipeline including
    * the generated 32-term shift/mask interleave.
    *
    * This is the exact column a layout job would
    * `repartitionByRange(col("z")).sortWithinPartitions("z")` on before
    * writing. Cost: one global min/max agg (4 longs to the driver via a
    * broadcast-joined 1-row frame — the [[JoinOps.aboveAveragePrice]]
    * scalar-subquery shape), then an embarrassingly parallel projection.
    */
  private def norm(v: Column, mn: Column, mx: Column): Column =
    floor((v - mn).cast("double") * lit(65536.0) / (mx - mn + 1).cast("double"))
      .cast("long")

  /** Orders plus raw (x, y) — the two probe dimensions. */
  private def ordersXY(t: Tables): DataFrame =
    t.orders
      .withColumn("x", col("o_custkey"))
      .withColumn("y",
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long"))

  /** Orders plus (x, y, z) under EXACT min/max bounds: every source
    * column survives so the keyed frame is writable as the laid-out
    * table itself. */
  private def ordersWithZ(t: Tables): DataFrame = {
    val d = ordersXY(t)
    val bounds = d.agg(
      min("x").as("mnx"), max("x").as("mxx"),
      min("y").as("mny"), max("y").as("mxy"))
    d.crossJoin(broadcast(bounds))
      .withColumn("z", call_function("graft_zorder",
        norm(col("x"), col("mnx"), col("mxx")),
        norm(col("y"), col("mny"), col("mxy"))))
      .drop("mnx", "mxx", "mny", "mxy")
  }

  /** Orders plus (x, y, z) under APPROXIMATE P1/P99 sketch boundaries,
    * values clamped into range (see the object doc for why production
    * prefers this). The boundaries are two driver-side doubles per dim
    * from ONE approxQuantile pass — they arrive as literals, so the
    * projection needs no bounds join at all.
    */
  private def ordersWithZApprox(t: Tables): DataFrame = {
    val d = ordersXY(t)
    val qs = d.stat.approxQuantile(Array("x", "y"), Array(0.01, 0.99), 1e-3)
    def clampNorm(v: Column, lo: Long, hi: Long): Column =
      floor((greatest(least(v, lit(hi)), lit(lo)) - lit(lo)).cast("double")
        * lit(65536.0) / lit((hi - lo + 1).toDouble)).cast("long")
    // empty table: the sketch has no elements (empty per-column arrays);
    // any bounds produce the same zero rows — use the degenerate [0, 0]
    def bound(col: Int, q: Int): Long =
      if (qs(col).isEmpty) 0L else qs(col)(q).toLong
    d.withColumn("z", call_function("graft_zorder",
      clampNorm(col("x"), bound(0, 0), bound(0, 1)),
      clampNorm(col("y"), bound(1, 0), bound(1, 1))))
  }

  def zorderIndex(t: Tables): DataFrame =
    ordersWithZ(t).select("o_orderkey", "x", "y", "z")

  /** Temp ROOT for layout writes, deleted recursively on JVM exit; every
    * write lands in a FRESH subdirectory under it (round-10 advice: the
    * previous shared per-JVM dir with mode("overwrite") meant a
    * still-deferred reader from an earlier layout write would scan
    * deleted files if a caller interleaved lazily — per-call dirs make
    * every returned frame's files immutable for the JVM's lifetime).
    */
  private lazy val layoutRoot: String = Tables.scratchDir("graft_zorder_")
  private val writeSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private def freshLayoutDir(): String =
    s"$layoutRoot/w${writeSeq.incrementAndGet()}"

  /** The actual layout write: orders range-partitioned AND sorted by z,
    * one parquet file per range — contiguous files are z-curve segments,
    * so every file's min/max zone map bounds BOTH x and y
    * (`ZOrderSpec` reads the written files back individually and
    * measures exactly that). Returns the (per-call) directory. */
  def zorderLayoutWrite(t: Tables, partitions: Int = 8): String = {
    val dir = freshLayoutDir()
    ordersWithZ(t)
      .repartitionByRange(partitions, col("z"))
      .sortWithinPartitions("z")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** The approximate-boundary layout write (see the object doc): same
    * range-partition + sort shape over the clamped-P1/P99 z key. */
  def zorderLayoutWriteApprox(t: Tables, partitions: Int = 8): String = {
    val dir = freshLayoutDir()
    ordersWithZApprox(t)
      .repartitionByRange(partitions, col("z"))
      .sortWithinPartitions("z")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** The canonical two-sided probe (a customer band AND a date band) over
    * a laid-out directory, rolled up per status — shared by both
    * roundtrip gates. */
  private def roundtripProbe(t: Tables, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.{decSum, roundN}
    t.spark.read.parquet(dir)
      .filter(col("o_custkey").between(20, 99) &&
        col("y").between(9500, 10499))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        roundN(decSum(col("o_totalprice")), 2).as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** Gate query: orders → z-laid-out parquet (range-partition + sort by
    * z) → read back → two-sided probe → per-status rollup. The oracle
    * computes the same filter+rollup straight from the source table, so
    * the hash gate proves the whole layout write path is lossless and
    * filter semantics survive the re-clustering; the zone-map tightness
    * that makes the layout worth paying for is the spec's per-file
    * measurement. The write runs eagerly per call (the write IS the
    * operator being gated) into a fresh immutable directory.
    */
  def zorderRoundtrip(t: Tables): DataFrame =
    roundtripProbe(t, zorderLayoutWrite(t))

  /** Losslessness gate for the approximate-boundary write — identical
    * probe, identical oracle: whatever the sketch chose as boundaries,
    * clamping only relocates rows between files; every row survives with
    * its source columns intact. */
  def zorderRoundtripApprox(t: Tables): DataFrame =
    roundtripProbe(t, zorderLayoutWriteApprox(t))

  // ---------------------------------------------------------------------
  // Small-file COMPACTION — the other write-side layout lever. Streaming
  // sinks and over-parallel writers leave directories of KB–MB files; at
  // 100 TB the per-file open/footer/listing overhead (and the NameNode /
  // object-store metadata load) dominates the scan itself. Compaction
  // rewrites a directory into ~targetBytes files, sized from the ACTUAL
  // on-disk listing, not a row-count guess.
  // ---------------------------------------------------------------------

  /** Total parquet bytes under `dir` via the shared RECURSIVE Hadoop FS
    * listing ([[graft.sources.ParquetStats.listParquetSizes]]) — data
    * files only, at any partitioning depth (a Hive-partitioned
    * `dt=.../part-*.parquet` layout keeps its data one level down; a
    * top-level-only listing would size it at zero). */
  private[operators] def parquetBytes(spark: org.apache.spark.sql.SparkSession,
                                      dir: String): Long =
    graft.sources.ParquetStats.listParquetSizes(spark, dir).map(_._2).sum

  /** Compact `srcDir` into `ceil(bytes/targetBytes)` files.
    *
    *  - `sortCol = None`: `coalesce(n)` — a NARROW dependency, zero
    *    shuffle: each output task concatenates whole input files. The
    *    cheap path when the data is already acceptably clustered.
    *  - `sortCol = Some(c)`: `repartitionByRange(n, c).sortWithinPartitions(c)`
    *    — one range shuffle that both compacts AND re-clusters, leaving
    *    per-file min/max zone maps non-overlapping on `c` (measured in
    *    `CompactionSpec`; [[zorderLayoutWrite]] is the 2-D variant of the
    *    same move).
    *
    * Returns (outputDir, plannedFileCount). The planned count derives from
    * the input listing, so a 100× larger input plans 100× the files — the
    * knob that holds output file size flat at any scale.
    */
  def compactWrite(spark: org.apache.spark.sql.SparkSession, srcDir: String,
                   targetBytes: Long, sortCol: Option[String] = None): (String, Int) = {
    val wanted = math.max(1L, (parquetBytes(spark, srcDir) + targetBytes - 1) / targetBytes).toInt
    val dir = freshLayoutDir()
    val src = spark.read.parquet(srcDir)
    val (arranged, planned) = sortCol match {
      case Some(c) =>
        (src.repartitionByRange(wanted, col(c)).sortWithinPartitions(c), wanted)
      case None =>
        // coalesce MERGES, never splits: asking for more partitions than
        // the scan produces is a no-op, so the honest planned count is the
        // min — output files can then exceed targetBytes exactly when the
        // scan's own partitions do (maxPartitionBytes governs; the sorted
        // path shuffles and hits the target regardless)
        val scanParts = src.rdd.getNumPartitions
        val n = math.min(wanted, math.max(1, scanParts))
        (src.coalesce(n), n)
    }
    arranged.write.mode("overwrite").parquet(dir)
    (dir, planned)
  }

  /** A deliberately fragmented copy of lineitem — 64 hash-scattered files,
    * the shape a per-trigger streaming sink or a 64-way-parallel writer
    * leaves behind. Fresh per-call dir like every layout write. */
  def fragmentedLineitem(t: Tables, files: Int = 64): String = {
    val dir = freshLayoutDir()
    // hash-scatter on the key rather than round-robin (round-18): a
    // keyless repartition(n) pays a local sort of its whole input first
    // (spark.sql.execution.sortBeforeRepartition, needed so task retries
    // reproduce the row→partition map); hashing l_orderkey is
    // deterministic without the sort and leaves the same shape — `files`
    // hash-scattered fragments. Which rows land in which fragment is not
    // part of any contract: every consumer (the compaction gates, the
    // specs) treats the dir as an unordered row bag.
    t.lineitem.repartition(files, col("l_orderkey"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** Dynamic partition overwrite — the daily-reprocess primitive: a
    * batch that recomputes SOME partitions replaces exactly those,
    * leaving every other partition's files untouched (Spark's
    * `partitionOverwriteMode=dynamic`; static mode would truncate the
    * whole table first — the classic data-loss foot-gun this gate exists
    * to fence). At 100 TB this is how a backfill lands: rewrite the
    * affected date partitions, never the corpus.
    */
  def dynamicOverwrite(spark: org.apache.spark.sql.SparkSession,
                       dir: String, batch: DataFrame,
                       partitionCol: String): Unit =
    batch.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(dir)

  /** Gate query: orders partitioned by `o_orderkey mod 8`; the batch
    * recomputes partition 3 ONLY, with every price raised by 1. After
    * the overwrite, the per-partition rollup must show partition 3 fully
    * replaced (prices +1, same row count — an append instead of a
    * replace would double it) and the other 7 partitions byte-identical
    * (static mode would have erased them — losing their rows breaks the
    * hash). The oracle restates the end state from the source table with
    * a CASE on the bucket.
    */
  def dynamicOverwriteRoundtrip(t: Tables): DataFrame = {
    import graft.functions.NumericFunctions.{decSum, roundN}
    val dir = freshLayoutDir()
    val src = t.orders
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .withColumn("bucket", (col("o_orderkey") % 8).cast("int"))
    src.write.partitionBy("bucket").mode("overwrite").parquet(dir)
    val batch = src.filter(col("bucket") === 3)
      .withColumn("o_totalprice", col("o_totalprice") + 1)
    dynamicOverwrite(t.spark, dir, batch, "bucket")
    t.spark.read.parquet(dir)
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_orders"),
        roundN(decSum(col("o_totalprice")), 2).as("total_price"),
        min("o_orderkey").cast("long").as("min_key"),
        max("o_orderkey").cast("long").as("max_key"))
      .withColumn("bucket", col("bucket").cast("int"))
      .select("bucket", "n_orders", "total_price", "min_key", "max_key")
      .orderBy("bucket")
  }

  /** Gate query: lineitem → 64-file fragmented dir → compacted (sorted
    * variant, clustered by l_orderkey) → read back → rollup probe. The
    * oracle states the same rollup straight from the source table, so the
    * hash proves the fragment+compact cycle is lossless; the file-count
    * arithmetic and the zero-shuffle coalesce plan are CompactionSpec's
    * measurements (file sizes depend on encoder/compression state, so
    * they are a spec property, not a gate column).
    */
  def compactRoundtrip(t: Tables): DataFrame = {
    import graft.functions.NumericFunctions.{decSum, roundN}
    val frag = fragmentedLineitem(t)
    val (compacted, _) = compactWrite(t.spark, frag,
      targetBytes = 4L * 1024 * 1024, sortCol = Some("l_orderkey"))
    t.spark.read.parquet(compacted)
      .filter(col("l_shipdate") >= "1995-01-01")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        roundN(decSum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ---------------------------------------------------------------------
  // Range-partitioned write (round 12): the single-column clustered
  // layout — `repartitionByRange` + `sortWithinPartitions` — proven
  // non-overlapping from the FOOTERS of the files it wrote.
  // ---------------------------------------------------------------------

  private val rangeCache =
    GenerationCache.dirs[Int]("orders.parquet", "graft_rangelay")

  /** Orders written range-clustered by `o_orderkey`: one balanced range
    * per output file, rows sorted inside each. This is THE layout a
    * key-probed 100 TB fact table wants — every point/range predicate on
    * the cluster key prunes to the one file whose footer range can match.
    * `repartitionByRange` samples boundaries (reservoir per input split),
    * so the exact split points are run-dependent — which is why
    * [[rangeWriteStats]] gates the layout's CONTRACT (disjoint ranges,
    * balanced files, exact row conservation), not the boundary values.
    * Derived once per (fixture generation, buckets) and reused.
    */
  def rangeLayoutDir(t: Tables, buckets: Int = 8): String =
    rangeCache(t.dir, buckets) { dir =>
      t.orders.repartitionByRange(buckets, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite").parquet(dir)
    }

  /** Gate query: write the range-clustered layout, then judge it from
    * parquet FOOTERS alone — one row: (n_files_in_bound, n_rows,
    * ranges_disjoint, files_balanced, stats_complete_all).
    *
    *  - `n_files_in_bound`: 1 ≤ files ≤ `buckets`. The exact count is NOT
    *    part of the contract — `repartitionByRange(buckets, key)` may emit
    *    fewer non-empty partitions on small or duplicate-heavy key
    *    distributions, so the gate asserts the bound (which always holds)
    *    rather than a constant that only holds for dense fixtures.
    *  - `n_rows` comes from footer row counts, never a data scan — the
    *    metadata-count a catalog serves; the oracle's `count(*)` over the
    *    source table makes the hash prove write+footers conserved every
    *    row.
    *  - `ranges_disjoint`: files ordered by footer min; every file's min
    *    must exceed its predecessor's max — the zone-map property that
    *    makes a point lookup touch exactly one file.
    *  - `files_balanced`: every file within [⅓×, 3×] of the mean row
    *    count — range sampling error never concentrates the table into
    *    few files.
    * [[graft.GateInvariants]] recomputes all of it INDEPENDENTLY from the
    * data (per-file min/max/count via `input_file_name`), so the footer
    * claims are cross-checked against the rows, not self-certified.
    */
  def rangeWriteStats(t: Tables, buckets: Int = 8): DataFrame = {
    val dir = rangeLayoutDir(t, buckets)
    val fs = graft.sources.ParquetStats.footerStats(t, dir, Seq("o_orderkey"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("min_value")
    fs.withColumn("prev_max", lag(col("max_value"), 1).over(w))
      .agg(
        (count(lit(1)) >= 1 && count(lit(1)) <= buckets).as("n_files_in_bound"),
        sum(col("n_rows")).cast("long").as("n_rows"),
        (min(when(col("prev_max").isNull ||
          col("prev_max") < col("min_value"), 1).otherwise(0)) === 1)
          .as("ranges_disjoint"),
        // max ≤ 3·mean and min ≥ mean/3, cross-multiplied to stay in
        // exact integer arithmetic (mean = sum/n never materialized)
        (max(col("n_rows")) * count(lit(1)) <= sum(col("n_rows")) * lit(3) &&
          min(col("n_rows")) * count(lit(1)) * lit(3) >= sum(col("n_rows")))
          .as("files_balanced"),
        (min(col("stats_complete").cast("int")) === 1).as("stats_complete_all"))
  }
}
