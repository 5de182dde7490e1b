package graft.sources

import graft.core.{GenerationCache, Tables}
import graft.functions.NumericFunctions.{decSum, roundN}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet footer statistics as a TABLE — the manifest / zone-map
  * primitive behind every file-pruning scan at 100 TB. A parquet footer
  * already carries per-row-group min/max/null-count for every column;
  * collecting those into a stats table costs one FOOTER read per file
  * (a few KB at the file's tail — no data pages are touched), and the
  * resulting table is what a planner consults to skip files whose
  * [min, max] can't match a predicate (the same mechanism
  * [[graft.operators.LayoutOps]]' z-order write exists to sharpen, and
  * the hand-rolled version of Iceberg/Delta manifests).
  *
  * Every footer read is one distributed sweep ([[footerSweep]]): the
  * driver lists file paths (O(#files) strings), executors each open only
  * their partition's footers — a million-file corpus reads a million
  * footers across the cluster, not through the driver. One typed loop
  * decodes the statistics ([[footerStatsTypedRaw]]); [[footerStats]]
  * (INT64) and [[footerStatsTyped]] (every type) are its two
  * projections, and every zone-map pruned scan keeps files by one rule
  * ([[zoneMapScan]]).
  */
object ParquetStats {

  /** (path, bytes) of every parquet data file under `dir`, sorted by
    * path — the one recursive listing, through the Hadoop FS interface
    * (what an object store exposes). Recursion covers hive-partitioned
    * layouts (bucket=N/ subdirs); non-parquet markers (_SUCCESS) filter
    * out. Every footer sweep here and `LayoutOps.parquetBytes` read it.
    */
  private[graft] def listParquetSizes(spark: SparkSession,
                                      dir: String): Seq[(String, Long)] = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(dirPath, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.endsWith(".parquet"))
        buf += s.getPath.toString -> s.getLen
    }
    buf.toSeq.sortBy(_._1)
  }

  /** The paths of [[listParquetSizes]]. */
  private[sources] def listParquetFiles(t: Tables, dir: String): Seq[String] =
    listParquetSizes(t.spark, dir).map(_._1)

  /** The session's Hadoop conf as plain entries, shippable to executors
    * (object-store credentials/endpoints live there; Configuration
    * itself is not serializable and Spark's wrapper is private).
    */
  private def hadoopConfEntries(t: Tables): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    t.spark.sparkContext.hadoopConfiguration.iterator().asScala
      .map(e => e.getKey -> e.getValue).toMap
  }

  /** Executor-side footer open from a shipped conf-entry map. */
  private def openFooterReader(
      p: String, confEntries: Map[String, String])
      : org.apache.parquet.hadoop.ParquetFileReader = {
    val conf = new org.apache.hadoop.conf.Configuration()
    confEntries.foreach { case (k, v) => conf.set(k, v) }
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), conf))
  }

  /** The one per-file footer sweep: list the parquet files under `dir`,
    * ship the Hadoop conf, and run `body` on each file's (path, open
    * footer reader) on the executors — at most 32 partitions, the reader
    * closed whatever `body` does. Every footer consumer here (stats,
    * blooms, column sizes) is a `body`.
    */
  private def footerSweep[T: Encoder](t: Tables, dir: String)(
      body: (String, org.apache.parquet.hadoop.ParquetFileReader) => Seq[T])
      : Dataset[T] = {
    val paths = listParquetFiles(t, dir)
    val confEntries = hadoopConfEntries(t)
    t.spark.createDataset(paths)(Encoders.STRING)
      .repartition(math.min(paths.size, 32).max(1))
      .flatMap { p =>
        val reader = openFooterReader(p, confEntries)
        try body(p, reader) finally reader.close()
      }
  }

  /** One row per (file, INT64 column): rows, null count, min, max,
    * `stats_complete` and `nulls_known` — the INT64 projection of the
    * one footer sweep ([[footerStatsTypedRaw]], whose `min_long`/
    * `max_long` read here as `min_value`/`max_value`).
    */
  def footerStats(t: Tables, fileGlobDir: String,
                  cols: Seq[String]): DataFrame =
    footerStatsTypedRaw(t, fileGlobDir, cols).select(col("file_name"),
      col("file_path"), col("column"), col("n_rows"), col("null_count"),
      col("min_long").as("min_value"), col("max_long").as("max_value"),
      col("stats_complete"), col("nulls_known"))

  /** Gate query: footer stats of the fixture's `documents.parquet` over
    * its INT64 columns, ordered for the hash. The oracle reads the SAME
    * footers through DuckDB's `parquet_metadata()` — two independent
    * parquet implementations must agree byte-for-byte on the zone maps.
    */
  def documentsFooterStats(t: Tables): DataFrame =
    // listing a file path returns that file — only the one footer is
    // opened, not every fixture table's. file_path (a temp-dir absolute
    // path, pruning-internal) stays off the hashed gate surface.
    footerStats(t, s"${t.dir}/documents.parquet", Seq("doc_id", "n_chars"))
      .drop("file_path", "nulls_known")
      .orderBy("file_name", "column")

  /** Manifest-driven scan: consult the INT64 zone maps and hand Spark
    * ONLY the files whose [min, max] can contain `[lo, hi]` rows — files
    * are skipped before they are OPENED (Spark's own row-group pruning
    * still needs a footer read per file; at 100 TB on an object store,
    * not issuing those GETs is the win, and it is exactly what an
    * Iceberg/Delta manifest buys). The result is boundary-independent:
    * pruning only drops files the residual filter would have emptied
    * anyway, so correctness never depends on HOW the data was laid out —
    * only the skip COUNT does (measured in the spec).
    */
  def prunedScan(t: Tables, dir: String, column: String,
                 lo: Long, hi: Long): (DataFrame, Int, Int) =
    zoneMapScan[Long](t, dir, column, "long",
        col(column) >= lo && col(column) <= hi) { (mn, mx) =>
      mx >= lo && mn <= hi
    }

  /** The one zone-map keep rule: a file is kept if its stats are
    * incomplete (a partial min/max says nothing about the stats-less
    * groups), if its min or max is missing, or if `overlaps(min, max)`
    * on the typed `pair` of [[footerStatsTypedRaw]] — "can't prove it
    * can't match" never skips. The driver-side collect is O(#files).
    */
  private def zoneMapScan[A](t: Tables, dir: String, column: String,
                             pair: String, residual: Column)(
      overlaps: (A, A) => Boolean): (DataFrame, Int, Int) = {
    val stats = footerStatsTypedRaw(t, dir, Seq(column)).collect()
    val keep = stats.filter { r =>
      val mn = Option(r.getAs[A](s"min_$pair"))
      val mx = Option(r.getAs[A](s"max_$pair"))
      !r.getAs[Boolean]("stats_complete") ||
        mn.isEmpty || mx.isEmpty || overlaps(mn.get, mx.get)
    }.map(_.getAs[String]("file_path"))
    prunedResidual(t, dir, keep.toIndexedSeq, stats.length, residual)
  }

  /** Shared tail of every pruned scan: read ONLY the kept files, apply
    * the residual filter (pruning is an optimization, never the filter
    * itself — correctness stays layout-independent), report
    * (result, kept, total).
    */
  private def prunedResidual(t: Tables, dir: String, keep: Seq[String],
                             total: Int, residual: Column)
      : (DataFrame, Int, Int) =
    (readOnly(t, dir, keep).filter(residual), keep.length, total)

  /** A read of exactly `files` — or, when none is left, an empty frame
    * with `dir`'s schema. */
  private def readOnly(t: Tables, dir: String, files: Seq[String]): DataFrame =
    if (files.isEmpty) t.spark.read.parquet(dir).filter(lit(false))
    else t.spark.read.parquet(files: _*)

  /** Clustering-depth METER over the stats table — the decision input
    * for "is this column worth re-clustering": `span_sum / global_span`
    * is the expected number of files whose zone map contains a uniform
    * random probe point (≈1 on a range-clustered layout, ≈#files on a
    * shuffled one — both measured in `ParquetStatsSpec`). Emitted as the
    * two exact LONG terms, not the ratio, so the row hash-gates with no
    * floating point; consumes footers only, like everything above.
    */
  def clusteringDepth(t: Tables, dir: String, cols: Seq[String]): DataFrame = {
    val s = footerStats(t, dir, cols)
      .filter(col("stats_complete") && col("min_value").isNotNull)
    s.groupBy("column")
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("max_value") - col("min_value") + 1L).as("span_sum"),
        (max("max_value") - min("min_value") + 1L).as("global_span"))
      .orderBy("column")
  }

  /** Gate query: clustering depth of the fixture's single-file
    * `documents.parquet` — span_sum == global_span by construction (one
    * file), and the oracle recomputes both terms from
    * `parquet_metadata()`'s stats with the same +1-inclusive arithmetic.
    * The clustered-vs-shuffled separation the meter exists for is
    * measured on engine-written dirs in `ParquetStatsSpec`.
    */
  def documentsClusteringDepth(t: Tables): DataFrame =
    clusteringDepth(t, s"${t.dir}/documents.parquet", Seq("doc_id", "n_chars"))

  private val rangeDirCache =
    GenerationCache.dirs[Unit]("orders.parquet", "graft_range_orders")

  /** A 8-file range-clustered copy of `orders` derived once per fixture
    * generation — the layout under which zone maps actually prune
    * (an unclustered layout keeps every file; correctness is identical,
    * only the skip count differs — both measured in `ParquetStatsSpec`).
    */
  def rangeClusteredOrdersDir(t: Tables): String = rangeDirCache(t.dir, ()) { base =>
    t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
      .repartitionByRange(8, col("o_orderkey"))
      .write.mode("overwrite").parquet(base)
  }

  /** The min and max `o_orderkey` as longs — the key span the pruned-scan
    * gate's window, the bucket layouts and the bloom probe key derive
    * from. */
  private[graft] def orderKeyBounds(t: Tables): (Long, Long) = {
    val b = t.orders.agg(
      min("o_orderkey").cast("long"), max("o_orderkey").cast("long")).head()
    (b.getLong(0), b.getLong(1))
  }

  /** Shared tail of the pruned-scan gates: the pruned rows rolled up per
    * `k` (order count and 2-place decimal price sum), with whether
    * pruning skipped any file. */
  private def prunedRollup(k: String, scan: (DataFrame, Int, Int)): DataFrame = {
    val (df, kept, total) = scan
    df.groupBy(k)
      .agg(count(lit(1)).as("n_orders"),
        roundN(decSum(col("o_totalprice")), 2).as("total_price"))
      .withColumn("skipped_some", lit(kept < total))
      .orderBy(k)
  }

  /** Gate query: manifest-pruned scan of the range-clustered orders copy
    * over the middle half of the KEY SPACE (lo/hi from integer min/max
    * arithmetic, so the oracle derives them identically), rolled up per
    * status. The oracle states the same filter+rollup from the source
    * table, so the hash proves pruning dropped no qualifying row and
    * invented none — regardless of which files the zone maps skipped.
    * `skipped_some` (oracle-stated `true`, recomputed by
    * `GateInvariants`) proves pruning actually happened on the fixture;
    * the exact file counts are layout-dependent (empty range partitions
    * write no file) and deliberately not hashed — the spec reports them.
    */
  def prunedScanGate(t: Tables): DataFrame = {
    val (lo0, hi0) = orderKeyBounds(t)
    val lo = lo0 + (hi0 - lo0) / 4
    val hi = lo0 + 3 * (hi0 - lo0) / 4
    prunedRollup("o_orderstatus",
      prunedScan(t, rangeClusteredOrdersDir(t), "o_orderkey", lo, hi))
  }

  // ---------------------------------------------------------------------
  // Typed zone maps — strings, doubles, timestamps (round-11 residue 1).
  // ---------------------------------------------------------------------

  /** Unsigned byte-lexicographic comparison over UTF-8 bytes — parquet's
    * BinaryStatistics ordering for UTF8 columns, and DuckDB's default
    * binary collation for VARCHAR min/max, so cross-row-group aggregation
    * agrees with both independent implementations on non-ASCII data too
    * (String.compareTo's UTF-16 code-unit order would diverge above
    * U+FFFF). Also Spark's string ordering, so driver-side loops that
    * replay a cluster `orderBy` tie-break with it.
    */
  def utf8Less(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** One row per (file, column) with min/max carried in the TYPED column
    * pair matching the parquet physical+logical type — `min_long`/
    * `max_long` for INT32/INT64, `min_double`/`max_double` for
    * FLOAT/DOUBLE, `min_string`/`max_string` for UTF8 binary,
    * `min_ts`/`max_ts` for TIMESTAMP(MICROS) — the other pairs null: the
    * typed projection of the one footer sweep ([[footerStatsTypedRaw]];
    * [[footerStats]] is its INT64 projection). A real manifest prunes on
    * strings, dates and doubles as much as on integer keys. The oracle is
    * DuckDB's `parquet_metadata()` with per-type casts of its VARCHAR
    * stats rendering — two independent parquet stats decoders agreeing
    * per type.
    */
  def footerStatsTyped(t: Tables, fileGlobDir: String,
                       cols: Seq[String]): DataFrame = {
    footerStatsTypedRaw(t, fileGlobDir, cols).select(
      col("file_name"), col("column"), col("n_rows"),
      col("null_count"), col("min_long"), col("max_long"),
      col("min_double"), col("max_double"),
      col("min_string"), col("max_string"),
      timestamp_micros(col("min_ts_us")).as("min_ts"),
      timestamp_micros(col("max_ts_us")).as("max_ts"),
      col("stats_complete"))
  }

  /** The one footer statistics loop: per (file, column), rows and null
    * count summed over the file's row groups, and min/max aggregated in
    * the typed pair over the groups that HAVE stats (a SQL min/max over
    * the metadata rows skips NULLs the same way — the oracle's
    * semantics), timestamp extents as raw epoch micros (what the pruning
    * predicates compare against). `stats_complete` records whether every
    * group contributed a usable min/max — what pruning must consult;
    * `nulls_known` whether every chunk set its null count — what a
    * metadata-only COUNT(col) must consult.
    */
  private[sources] def footerStatsTypedRaw(t: Tables, fileGlobDir: String,
                                           cols: Seq[String]): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val wanted = cols.distinct.sorted
    footerSweep(t, fileGlobDir) { (p, reader) =>
      import scala.jdk.CollectionConverters._
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      import org.apache.parquet.schema.LogicalTypeAnnotation._
      import org.apache.parquet.io.api.Binary
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val fileName = new org.apache.hadoop.fs.Path(p).getName
      wanted.map { c =>
        var rows = 0L; var nulls = 0L
        var mnL: Option[Long] = None; var mxL: Option[Long] = None
        var mnD: Option[Double] = None; var mxD: Option[Double] = None
        var mnS: Option[String] = None; var mxS: Option[String] = None
        var mnT: Option[Long] = None; var mxT: Option[Long] = None
        var complete = true; var nullsKnown = true; var found = false
        blocks.foreach { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == c)
            .foreach { chunk =>
              found = true
              rows += b.getRowCount
              val st = chunk.getStatistics
              if (st != null && st.isNumNullsSet) nulls += st.getNumNulls
              else nullsKnown = false
              if (st == null || !st.hasNonNullValue) complete = false
              else {
                val pt = chunk.getPrimitiveType
                val isTsMicros = pt.getLogicalTypeAnnotation match {
                  case ts: TimestampLogicalTypeAnnotation =>
                    ts.getUnit == TimeUnit.MICROS
                  case _ => false
                }
                pt.getPrimitiveTypeName match {
                  case INT64 | INT32 =>
                    val lo = st.genericGetMin.asInstanceOf[Number].longValue
                    val hi = st.genericGetMax.asInstanceOf[Number].longValue
                    if (isTsMicros) {
                      mnT = Some(mnT.fold(lo)(math.min(_, lo)))
                      mxT = Some(mxT.fold(hi)(math.max(_, hi)))
                    } else {
                      mnL = Some(mnL.fold(lo)(math.min(_, lo)))
                      mxL = Some(mxL.fold(hi)(math.max(_, hi)))
                    }
                  case DOUBLE | FLOAT =>
                    val lo = st.genericGetMin.asInstanceOf[Number].doubleValue
                    val hi = st.genericGetMax.asInstanceOf[Number].doubleValue
                    mnD = Some(mnD.fold(lo)(math.min(_, lo)))
                    mxD = Some(mxD.fold(hi)(math.max(_, hi)))
                  case BINARY =>
                    val lo = st.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8
                    val hi = st.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8
                    mnS = Some(mnS.fold(lo)(m => if (utf8Less(lo, m)) lo else m))
                    mxS = Some(mxS.fold(hi)(m => if (utf8Less(m, hi)) hi else m))
                  case _ => complete = false
                }
              }
            }
        }
        // a file that lacks the column ENTIRELY (schema evolution: an
        // old-generation file before the column existed) must not report
        // stats_complete=true with null min/max — a pruning consumer
        // trusting the flag would treat the file as provably
        // non-matching. complete=true must imply a usable min/max.
        (fileName, p, c, rows, nulls, mnL, mxL, mnD, mxD, mnS, mxS,
          mnT, mxT, complete && found, nullsKnown && found)
      }
    }.toDF("file_name", "file_path", "column", "n_rows", "null_count",
      "min_long", "max_long", "min_double", "max_double",
      "min_string", "max_string", "min_ts_us", "max_ts_us",
      "stats_complete", "nulls_known")
  }

  /** Gate query: typed footer stats of the fixture's `orders.parquet` —
    * an INT64 key, two UTF8 strings, a DOUBLE, and a TIMESTAMP(MICROS)
    * date in one sweep. DuckDB renders every stat as VARCHAR; the oracle
    * casts each per type (BIGINT / DOUBLE round-trips exactly via
    * shortest-round-trip rendering; timestamps via its own MICROS
    * decode), so the hash proves both parquet implementations decode the
    * same typed zone maps.
    */
  def ordersFooterStatsTyped(t: Tables): DataFrame =
    footerStatsTyped(t, s"${t.dir}/orders.parquet",
      Seq("o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice", "o_orderdate"))
      .orderBy("file_name", "column")

  // ---------------------------------------------------------------------
  // Multi-file clustering depth on the oracle surface (round-11 residue 3).
  // ---------------------------------------------------------------------

  private val bucketLayoutCache =
    GenerationCache.dirs[Unit]("orders.parquet", "graft_bucket_layouts")

  /** Two DETERMINISTIC 8-file layouts of `orders`, derived once per
    * fixture generation, whose per-file key spans an oracle can restate
    * from the source table alone (unlike `repartitionByRange`, whose
    * sampled boundaries are engine-internal):
    *
    *  - `range/`: bucket = (key − lo) · 8 div (hi − lo + 1) — contiguous
    *    key ranges, the well-clustered layout (depth ≈ 1 file per probe).
    *  - `scatter/`: bucket = key mod 8 — round-robin interleave, the
    *    worst-case layout (every file spans ~the whole key space,
    *    depth ≈ #files per probe).
    *
    * Each bucket is one hive partition dir holding exactly one file
    * (`repartition(8, bucket)` puts a bucket's rows in one task), so
    * per-FILE footer min/max equals per-BUCKET true min/max — which is
    * what lets the oracle recompute the depth meter exactly.
    */
  def bucketLayoutsDir(t: Tables): String = bucketLayoutCache(t.dir, ()) { base =>
    val (lo, hi) = orderKeyBounds(t)
    val w = hi - lo + 1
    val src = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    src.withColumn("bucket",
        expr(s"CAST((o_orderkey - $lo) * 8 DIV $w AS INT)"))
      .repartition(8, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$base/range")
    src.withColumn("bucket", expr("CAST(o_orderkey % 8 AS INT)"))
      .repartition(8, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$base/scatter")
  }

  /** Gate query: the clustering-depth meter over BOTH deterministic
    * layouts — the separation the meter exists for (range ≈ 1 expected
    * file per uniform probe, scatter ≈ 8) measured on real multi-file
    * dirs AND hash-gated: the oracle recomputes per-bucket min/max from
    * the source table with the same bucket arithmetic, so the match
    * proves the footer-read zone maps equal the true per-file extents on
    * both layouts. (The single-file `stats_clustering_depth` gate pins
    * the degenerate span_sum == global_span case.)
    */
  def bucketedClusteringDepth(t: Tables): DataFrame = {
    val base = bucketLayoutsDir(t)
    clusteringDepth(t, s"$base/range", Seq("o_orderkey"))
      .withColumn("layout", lit("range"))
      .unionByName(
        clusteringDepth(t, s"$base/scatter", Seq("o_orderkey"))
          .withColumn("layout", lit("scatter")))
      .select("layout", "column", "n_files", "span_sum", "global_span")
      .orderBy("layout")
  }

  // ---------------------------------------------------------------------
  // Typed pruning consumers — the scans the typed zone maps exist FOR,
  // plus parquet bloom filters for point lookups where zone maps can't
  // help (scattered high-cardinality keys).
  // ---------------------------------------------------------------------

  private val typedLayoutCache =
    GenerationCache.dirs[Unit]("orders.parquet", "graft_typed_layouts")

  /** Three more deterministic layouts of `orders`, one per typed-pruning
    * gate, each hive-bucketed by a value-derived expression so the file
    * population is oracle-restatable:
    *
    *  - `date/`: bucket = year(o_orderdate) — one file per year, the
    *    time-partitioned corpus every warehouse actually has; a date
    *    window prunes whole years by their timestamp zone maps.
    *  - `priority/`: bucket = leading digit of o_orderpriority — one
    *    file per priority; a string equality probe prunes by the UTF8
    *    zone maps.
    *  - `bloom/`: bucket = o_orderkey mod 8 with a parquet BLOOM FILTER
    *    written on o_orderkey — the mod-scatter makes every file's
    *    [min,max] span ~the whole key space, so zone maps keep all 8
    *    and ONLY the bloom probe can skip; exactly the high-cardinality
    *    point-lookup case manifests can't serve.
    */
  def typedLayoutsDir(t: Tables): String = typedLayoutCache(t.dir, ()) { base =>
    val src = t.orders.select("o_orderkey", "o_orderstatus",
      "o_orderpriority", "o_totalprice", "o_orderdate")
    src.withColumn("bucket", year(col("o_orderdate")))
      .repartition(8, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$base/date")
    src.withColumn("bucket",
        substring(col("o_orderpriority"), 1, 1).cast("int"))
      .repartition(5, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$base/priority")
    src.withColumn("bucket", expr("CAST(o_orderkey % 8 AS INT)"))
      .repartition(8, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite")
      .option("parquet.bloom.filter.enabled#o_orderkey", "true")
      .parquet(s"$base/bloom")
  }

  /** Date-window file pruning over TIMESTAMP(MICROS) zone maps: files
    * whose [min_ts, max_ts] cannot intersect [loMicros, hiMicros] are
    * never opened (the keep rule of [[zoneMapScan]], compared as epoch
    * micros).
    */
  def prunedScanTs(t: Tables, dir: String, column: String,
                   loMicros: Long, hiMicros: Long): (DataFrame, Int, Int) =
    zoneMapScan[Long](t, dir, column, "ts_us",
        unix_micros(col(column).cast("timestamp")).between(loMicros, hiMicros)) {
      (mn, mx) => mx >= loMicros && mn <= hiMicros
    }

  /** String-equality file pruning over UTF8 zone maps: keep a file iff
    * min_string <= value <= max_string in unsigned byte order (parquet's
    * and DuckDB's collation) — or its stats can't prove otherwise (the
    * keep rule of [[zoneMapScan]]).
    */
  def prunedScanString(t: Tables, dir: String, column: String,
                       value: String): (DataFrame, Int, Int) =
    zoneMapScan[String](t, dir, column, "string", col(column) === value) {
      (mn, mx) => !utf8Less(value, mn) && !utf8Less(mx, value)
    }

  /** Point-lookup file pruning via parquet BLOOM FILTERS: each file's
    * bloom for `column` is probed with the key — a negative PROVES the
    * key is absent from the file (blooms have no false negatives), so
    * the file is skipped before any data page is read; a positive or a
    * missing bloom keeps it. The probe rides the footer sweep (executors
    * read footers + bloom pages only); the driver collects O(#files)
    * booleans. This is the skip mechanism for point lookups on SCATTERED
    * high-cardinality keys, where every file's [min,max] spans the probe
    * and zone maps keep everything.
    */
  def bloomPrunedLookup(t: Tables, dir: String, column: String,
                        key: Long): (DataFrame, Int, Int) = {
    val spark = t.spark
    import spark.implicits._
    val flags = footerSweep(t, dir) { (p, reader) =>
      import scala.jdk.CollectionConverters._
      val mightContain = reader.getFooter.getBlocks.asScala.exists { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == column) match {
          case None => true // column absent: can't prove, keep
          case Some(chunk) =>
            val bf = reader.getBloomFilterDataReader(b).readBloomFilter(chunk)
            // no bloom written for this chunk: can't prove, keep
            bf == null || bf.findHash(bf.hash(key))
        }
      }
      Seq((p, mightContain))
    }.collect()
    val keep = flags.filter(_._2).map(_._1)
    prunedResidual(t, dir, keep.toIndexedSeq, flags.length,
      col(column) === key)
  }

  /** The probe window both the date gate and its invariant derive: the
    * middle half of the order-date MICROS span. */
  private[graft] def dateWindow(t: Tables): (Long, Long) = {
    val b = t.orders.agg(
      unix_micros(min(col("o_orderdate")).cast("timestamp")),
      unix_micros(max(col("o_orderdate")).cast("timestamp"))).head()
    val (lo0, hi0) = (b.getLong(0), b.getLong(1))
    (lo0 + (hi0 - lo0) / 4, lo0 + 3 * (hi0 - lo0) / 4)
  }

  /** Gate query: date-window pruned scan over the year-bucketed layout,
    * rolled up per priority — the oracle restates the same epoch-micros
    * window arithmetic and filter from the source table, so the hash
    * proves timestamp zone-map pruning lossless; `skipped_some`
    * (GateInvariants-recomputed) proves whole year-files were skipped
    * unopened.
    */
  def datePrunedScanGate(t: Tables): DataFrame = {
    val (lo, hi) = dateWindow(t)
    prunedRollup("o_orderpriority", prunedScanTs(
      t, s"${typedLayoutsDir(t)}/date", "o_orderdate", lo, hi))
  }

  /** The string probe value: fixed mid-scale priority, present at every
    * SF. */
  private[graft] val priorityProbe = "3-MEDIUM"

  /** Gate query: string-equality pruned scan over the priority-bucketed
    * layout — UTF8 zone maps skip every file whose [min,max] excludes
    * the probe (4 of 5 here), and the per-status rollup hash proves the
    * skip lost nothing.
    */
  def stringPrunedScanGate(t: Tables): DataFrame =
    prunedRollup("o_orderstatus", prunedScanString(
      t, s"${typedLayoutsDir(t)}/priority", "o_orderpriority", priorityProbe))

  /** The lookup key both the bloom gate and its invariant derive: one
    * third into the key span (keys are dense in the fixture, so it
    * exists at every SF — and the oracle derives the same value). */
  private[graft] def bloomProbeKey(t: Tables): Long = {
    val (lo, hi) = orderKeyBounds(t)
    lo + (hi - lo) / 3
  }

  /** Gate query: bloom-pruned point lookup on the mod-scattered layout.
    * Zone maps CANNOT prune here (every file spans the key range —
    * exactly what `stats_clustering_depth_multi` measures for this
    * layout); the bloom probe skips ~7 of 8 files on footer+bloom reads
    * alone. The emitted row is the order itself — any pruning slip
    * (wrong file skipped) loses the row and breaks the hash.
    */
  def bloomLookupGate(t: Tables): DataFrame = {
    val key = bloomProbeKey(t)
    val (df, kept, total) = bloomPrunedLookup(
      t, s"${typedLayoutsDir(t)}/bloom", "o_orderkey", key)
    df.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"))
      .withColumn("skipped_some", lit(kept < total))
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------------
  // Vacuum — orphan-file detection against a manifest (the cleanup half
  // of the manifest story: a failed or abandoned write leaves data files
  // on storage that no manifest references; VACUUM finds and removes
  // them. Getting this WRONG deletes live data, so the gate proves the
  // detector's partition of the listing is exact.)
  // ---------------------------------------------------------------------

  /** Files present on storage but absent from the manifest — the vacuum
    * candidate set. Listing is the same O(#files) driver sweep every
    * manifest consumer here uses; membership is a set probe. At 100 TB
    * the manifest is a table and this is an anti-join of two file
    * listings — never a data read: orphan DETECTION touches no data
    * pages (deletion, the destructive half, is deliberately left to the
    * caller).
    */
  def orphanFiles(t: Tables, dir: String,
                  manifest: Set[String]): Seq[String] =
    listParquetFiles(t, dir).filterNot(manifest.contains)

  /** The deterministic vacuum fixture: the 8-bucket range layout of
    * orders ([[bucketLayoutsDir]]) with a manifest that commits only
    * buckets 0–5 — buckets 6 and 7 play the failed write's leftovers.
    * Returns (committed manifest, detected orphans).
    */
  private[graft] def vacuumPartition(t: Tables): (Seq[String], Seq[String]) = {
    val dir = s"${bucketLayoutsDir(t)}/range"
    val all = listParquetFiles(t, dir)
    def bucketOf(p: String): Int =
      "bucket=(\\d+)".r.findFirstMatchIn(p)
        .map(_.group(1).toInt)
        .getOrElse(sys.error(s"no bucket component in $p"))
    val manifest = all.filter(bucketOf(_) < 6)
    (manifest, orphanFiles(t, dir, manifest.toSet))
  }

  /** Gate query: rollup of the rows inside the DETECTED orphan files.
    * The oracle restates the bucket arithmetic ((key − lo)·8 div span ≥
    * 6) over the source table — a hash match proves the detector's
    * listing partition is exact: every unreferenced file found (a miss
    * loses rows from the rollup), no referenced file accused (a false
    * positive adds rows — the catastrophic direction, since vacuum
    * DELETES its candidates). `found_orphans` is oracle-stated TRUE and
    * [[graft.GateInvariants]] recomputes the partition independently.
    */
  def vacuumOrphanGate(t: Tables): DataFrame = {
    val (_, orphans) = vacuumPartition(t)
    readOnly(t, s"${bucketLayoutsDir(t)}/range", orphans)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        roundN(decSum(col("o_totalprice")), 2).as("total_price"),
        min("o_orderkey").cast("long").as("min_key"),
        max("o_orderkey").cast("long").as("max_key"))
      .withColumn("found_orphans", lit(orphans.nonEmpty))
      .orderBy("o_orderstatus")
  }

  // ---------------------------------------------------------------------
  // Column storage audit — compressed/uncompressed bytes per column from
  // footers alone (the "what is this table's storage actually spent on"
  // report behind encoding and retention decisions; at 100 TB the answer
  // decides which columns get dictionary/ZSTD attention).
  // ---------------------------------------------------------------------

  /** Per-column byte totals across every file under `dir`, summed over
    * row-group column chunks from footer metadata only — the same
    * footer sweep as the stats (executors read footers, never data
    * pages). `compression_x10` is the ratio uncompressed/compressed ×10
    * floored to an exact integer, so the gate carries no floats.
    */
  def columnSizes(t: Tables, dir: String): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    footerSweep(t, dir) { (_, reader) =>
      import scala.jdk.CollectionConverters._
      reader.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
        b.getColumns.asScala.map { c =>
          (c.getPath.toDotString, c.getTotalSize, c.getTotalUncompressedSize)
        }
      }
    }.toDF("column", "compressed", "uncompressed")
      .groupBy("column")
      .agg(
        sum("compressed").cast("long").as("compressed_bytes"),
        sum("uncompressed").cast("long").as("uncompressed_bytes"))
      .withColumn("compression_x10",
        floor(col("uncompressed_bytes") * 10 / col("compressed_bytes"))
          .cast("long"))
      .orderBy("column")
  }
  /** Gate query: the documents table's storage audit, vs DuckDB's
    * `parquet_metadata()` reading the same footers independently.
    */
  def columnSizesGate(t: Tables): DataFrame =
    columnSizes(t, s"${t.dir}/documents.parquet")

  // ---------------------------------------------------------------------
  // Metadata-only aggregation — COUNT/MIN/MAX answered from footers
  // alone, ZERO data pages read (the scan a 100 TB `SELECT count(*),
  // min(k), max(k)` should never need; Spark's own
  // parquet.aggregatePushdown does the same per file — this is the
  // manifest-level version that doesn't even open the files once the
  // stats table exists).
  // ---------------------------------------------------------------------

  /** One row answering count(*) / count-nulls / min / max for `column`
    * over every file under `dir`, from footer statistics only.
    * `metadata_only` reports whether the answer is PROVEN (every file's
    * min/max stats complete AND every chunk's null count set) — when
    * false, a production caller falls back to a data scan; the gate's
    * invariant requires it true on the fixtures, so a silent fallback
    * can't hide. Row counts come from block metadata (always exact);
    * min/max exclude nulls exactly as SQL aggregates do.
    */
  def metadataAgg(t: Tables, dir: String, column: String): DataFrame =
    footerStats(t, dir, Seq(column)).agg(
      sum("n_rows").cast("long").as("n_rows"),
      sum("null_count").cast("long").as("null_count"),
      min("min_value").as("min_value"),
      max("max_value").as("max_value"),
      (min(col("stats_complete").cast("int")) === 1 &&
        min(col("nulls_known").cast("int")) === 1).as("metadata_only"))

  /** Gate query: metadata-only aggregates for two single-file fixture
    * columns and the multi-file range layout, against an oracle running
    * the DIRECT data aggregates — the hash proves the footer-derived
    * answers equal a full scan's on every column, and `metadata_only`
    * (oracle-stated TRUE, GateInvariants-recomputed) proves no scan was
    * needed.
    */
  def metadataAggGate(t: Tables): DataFrame = {
    def one(label: String, dir: String, c: String): DataFrame =
      metadataAgg(t, dir, c).withColumn("column", lit(label))
    one("documents.doc_id", s"${t.dir}/documents.parquet", "doc_id")
      .unionByName(one("documents.n_chars",
        s"${t.dir}/documents.parquet", "n_chars"))
      .unionByName(one("orders_range.o_orderkey",
        s"${bucketLayoutsDir(t)}/range", "o_orderkey"))
      .select("column", "n_rows", "null_count", "min_value", "max_value",
        "metadata_only")
      .orderBy("column")
  }
}
