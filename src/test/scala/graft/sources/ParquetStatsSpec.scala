package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class ParquetStatsSpec extends SparkTestBase {
  import spark.implicits._

  test("fixture footer stats match a full data scan (rows, nulls, min, max)") {
    val stats = ParquetStats.documentsFooterStats(t).collect()
      .map(r => r.getString(1) -> r).toMap
    assert(stats.keySet == Set("doc_id", "n_chars"))
    val direct = t.documents.agg(
      count(lit(1)), min("doc_id"), max("doc_id"),
      min("n_chars"), max("n_chars")).head()
    Seq("doc_id", "n_chars").foreach { c =>
      assert(stats(c).getAs[Long]("n_rows") == direct.getLong(0))
      assert(stats(c).getAs[Long]("null_count") == 0L)
      assert(stats(c).getAs[Boolean]("stats_complete"))
    }
    assert(stats("doc_id").getAs[Long]("min_value") == direct.getLong(1))
    assert(stats("doc_id").getAs[Long]("max_value") == direct.getLong(2))
    assert(stats("n_chars").getAs[Long]("min_value") == direct.getLong(3))
    assert(stats("n_chars").getAs[Long]("max_value") == direct.getLong(4))
  }

  test("multi-file engine-written dir: per-file footer stats == per-file data scan") {
    // ground truth per physical file via input_file_name(), the zone maps
    // a min/max-pruned scan would actually consult
    val dir = graft.core.Tables.scratchDir("graft_stats_multi")
    t.documents.select("doc_id", "n_chars")
      .repartitionByRange(4, col("doc_id"))
      .write.mode("overwrite").parquet(dir)
    val stats = ParquetStats.footerStats(t, dir, Seq("doc_id"))
      .select("file_name", "n_rows", "min_value", "max_value")
    val direct = spark.read.parquet(dir)
      .withColumn("file_name",
        element_at(split(input_file_name(), "/"), -1))
      .groupBy("file_name")
      .agg(count(lit(1)).as("n_rows"),
        min("doc_id").as("min_value"), max("doc_id").as("max_value"))
    assert(stats.exceptAll(direct).isEmpty && direct.exceptAll(stats).isEmpty,
      s"footer stats ${stats.collect().toSeq} != scan ${direct.collect().toSeq}")
    // range partitioning => per-file doc_id spans must not overlap
    val spans = stats.orderBy("min_value")
      .select("min_value", "max_value").as[(Long, Long)].collect()
    spans.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2,
        s"zone maps overlap: $hi >= $lo2")
      case _ =>
    }
  }

  test("manifest pruning: lossless vs the unpruned filter, and files actually skipped") {
    val dir = ParquetStats.rangeClusteredOrdersDir(t)
    val bounds = t.orders.agg(
      min("o_orderkey").cast("long"), max("o_orderkey").cast("long")).head()
    val (lo0, hi0) = (bounds.getLong(0), bounds.getLong(1))
    val (lo, hi) = (lo0 + (hi0 - lo0) / 4, lo0 + 3 * (hi0 - lo0) / 4)
    val (pruned, kept, total) =
      ParquetStats.prunedScan(t, dir, "o_orderkey", lo, hi)
    val direct = spark.read.parquet(dir)
      .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
    assert(pruned.exceptAll(direct).isEmpty && direct.exceptAll(pruned).isEmpty)
    assert(kept < total, s"no file skipped ($kept of $total)")
    info(s"read $kept of $total files for the middle-half key range")
  }

  test("manifest pruning: an out-of-range probe reads zero files and returns nothing") {
    val dir = ParquetStats.rangeClusteredOrdersDir(t)
    val maxKey = t.orders.agg(max("o_orderkey").cast("long")).head().getLong(0)
    val (pruned, kept, total) =
      ParquetStats.prunedScan(t, dir, "o_orderkey", maxKey + 1000, maxKey + 2000)
    assert(kept == 0, s"out-of-range probe read $kept of $total files")
    assert(pruned.count() == 0)
  }

  test("pruning keeps files whose stats are missing (can't-skip fallback)") {
    // hand-build a stats row with null min/max and run the keep predicate
    // indirectly: a dir whose column has all-null values yields null
    // min/max in footers and must NOT be skipped
    val dir = graft.core.Tables.scratchDir("graft_stats_noskip")
    import spark.implicits._
    Seq[(java.lang.Long, String)]((null, "a"), (null, "b"))
      .toDF("v", "k").coalesce(1).write.mode("overwrite").parquet(dir)
    val (pruned, kept, total) = ParquetStats.prunedScan(t, dir, "v", 0L, 10L)
    assert(total == 1 && kept == 1,
      s"stats-less file was skipped ($kept of $total)")
    assert(pruned.count() == 0)
    val row = ParquetStats.footerStats(t, dir, Seq("v")).head()
    assert(!row.getAs[Boolean]("stats_complete"),
      "all-null chunk should mark the file's stats incomplete")
  }

  test("timestamp pruning keeps files whose stats are missing (can't-skip fallback)") {
    val dir = graft.core.Tables.scratchDir("graft_stats_noskip_ts")
    Seq[(java.sql.Timestamp, String)]((null, "a"), (null, "b"))
      .toDF("ts", "k").coalesce(1).write.mode("overwrite").parquet(dir)
    val (pruned, kept, total) = ParquetStats.prunedScanTs(t, dir, "ts", 0L, 10L)
    assert(total == 1 && kept == 1,
      s"stats-less file was skipped ($kept of $total)")
    assert(pruned.count() == 0)
  }

  test("string pruning keeps files whose stats are missing (can't-skip fallback)") {
    val dir = graft.core.Tables.scratchDir("graft_stats_noskip_str")
    Seq[(String, String)]((null, "a"), (null, "b"))
      .toDF("s", "k").coalesce(1).write.mode("overwrite").parquet(dir)
    val (pruned, kept, total) = ParquetStats.prunedScanString(t, dir, "s", "x")
    assert(total == 1 && kept == 1,
      s"stats-less file was skipped ($kept of $total)")
    assert(pruned.count() == 0)
  }

  test("clustering depth separates a range-clustered layout from a shuffled one") {
    val clustered = ParquetStats.rangeClusteredOrdersDir(t)
    val shuffled = graft.core.Tables.scratchDir("graft_shuffled_orders")
    t.orders.select("o_orderkey", "o_orderstatus")
      .repartition(8)   // hash-ish round-robin: every file spans ~everything
      .write.mode("overwrite").parquet(shuffled)
    def depth(dir: String): Double = {
      val r = ParquetStats.clusteringDepth(t, dir, Seq("o_orderkey")).head()
      r.getAs[Long]("span_sum").toDouble / r.getAs[Long]("global_span")
    }
    val (dc, ds) = (depth(clustered), depth(shuffled))
    info(f"clustered depth $dc%.2f vs shuffled $ds%.2f")
    assert(dc < 1.5, f"range-clustered depth $dc%.2f should be ~1")
    assert(ds > 4.0, f"shuffled depth $ds%.2f should approach the file count")
  }

  test("clustering depth on the single-file fixture: span_sum == global_span") {
    ParquetStats.documentsClusteringDepth(t).collect().foreach { r =>
      assert(r.getAs[Long]("n_files") == 1L)
      assert(r.getAs[Long]("span_sum") == r.getAs[Long]("global_span"))
    }
  }

  test("a file lacking the requested column reports stats_complete=false, never a trusted empty row") {
    // schema-evolution reality: old-generation files predate the column.
    // complete=true must imply a usable min/max — a pruning consumer
    // trusting the flag on a column-less file would skip rows it never
    // proved absent (round-11 advice)
    val dir = graft.core.Tables.scratchDir("graft_stats_absent")
    Seq((1L, "a"), (2L, "b")).toDF("v", "k")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val row = ParquetStats.footerStats(t, dir, Seq("nope")).head()
    assert(row.getAs[Long]("n_rows") == 0L)
    assert(!row.getAs[Boolean]("stats_complete"),
      "column absent from every row group must not read stats_complete=true")
  }

  test("utf8Less is UTF-8 byte order: a supplementary character sorts after a BMP one") {
    val bmp = "\uFF5E"        // UTF-8 EF BD 9E
    val supp = "\uD83D\uDE00" // U+1F600, UTF-8 F0 9F 98 80
    assert(supp.compareTo(bmp) < 0, "UTF-16 order is the one that differs")
    assert(ParquetStats.utf8Less(bmp, supp) && !ParquetStats.utf8Less(supp, bmp))
    assert(ParquetStats.utf8Less("a", "ab") && !ParquetStats.utf8Less("a", "a"))
  }

  test("typed footer stats match a full data scan for string, double and timestamp columns") {
    val stats = ParquetStats.ordersFooterStatsTyped(t).collect()
      .map(r => r.getString(1) -> r).toMap
    assert(stats.keySet == Set("o_orderkey", "o_orderstatus",
      "o_orderpriority", "o_totalprice", "o_orderdate"))
    val d = t.orders.agg(
      min("o_orderkey"), max("o_orderkey"),
      min("o_orderstatus"), max("o_orderstatus"),
      min("o_totalprice"), max("o_totalprice"),
      min("o_orderdate"), max("o_orderdate")).head()
    stats.values.foreach(r => assert(r.getAs[Boolean]("stats_complete")))
    assert(stats("o_orderkey").getAs[Long]("min_long") == d.getLong(0))
    assert(stats("o_orderkey").getAs[Long]("max_long") == d.getLong(1))
    assert(stats("o_orderstatus").getAs[String]("min_string") == d.getString(2))
    assert(stats("o_orderstatus").getAs[String]("max_string") == d.getString(3))
    assert(stats("o_totalprice").getAs[Double]("min_double") == d.getDouble(4))
    assert(stats("o_totalprice").getAs[Double]("max_double") == d.getDouble(5))
    // fixture timestamps are NTZ, the stats column is UTC-session LTZ —
    // compare the wall-clock rendering both types share
    val fmt = "yyyy-MM-dd HH:mm:ss"
    val tsStats = ParquetStats.ordersFooterStatsTyped(t)
      .filter(col("column") === "o_orderdate")
      .select(date_format(col("min_ts"), fmt), date_format(col("max_ts"), fmt))
      .head()
    val tsDirect = t.orders.agg(
      date_format(min("o_orderdate"), fmt),
      date_format(max("o_orderdate"), fmt)).head()
    assert(tsStats.getString(0) == tsDirect.getString(0))
    assert(tsStats.getString(1) == tsDirect.getString(1))
    // untyped pairs stay null on a typed column
    assert(stats("o_totalprice").isNullAt(stats("o_totalprice").fieldIndex("min_long")))
    assert(stats("o_orderkey").isNullAt(stats("o_orderkey").fieldIndex("min_string")))
  }

  test("deterministic bucket layouts: one file per bucket, and the depth meter separates them on the gate surface") {
    val base = ParquetStats.bucketLayoutsDir(t)
    // one file per hive bucket dir — the invariant that makes per-file
    // footer extents equal per-bucket true extents (what the oracle
    // recomputes)
    Seq("range", "scatter").foreach { l =>
      val buckets = new java.io.File(s"$base/$l").listFiles()
        .filter(_.getName.startsWith("bucket="))
      assert(buckets.length == 8, s"$l: expected 8 bucket dirs")
      buckets.foreach { b =>
        val n = b.listFiles().count(_.getName.endsWith(".parquet"))
        assert(n == 1, s"$l/${b.getName}: expected 1 file, got $n")
      }
    }
    val rows = ParquetStats.bucketedClusteringDepth(t).collect()
      .map(r => r.getAs[String]("layout") -> r).toMap
    def ratio(l: String): Double =
      rows(l).getAs[Long]("span_sum").toDouble / rows(l).getAs[Long]("global_span")
    info(f"range depth ${ratio("range")}%.2f vs scatter ${ratio("scatter")}%.2f")
    assert(rows("range").getAs[Long]("n_files") == 8L)
    assert(rows("scatter").getAs[Long]("n_files") == 8L)
    assert(ratio("range") < 1.5)
    assert(ratio("scatter") > 6.0)
    // the oracle's recomputation from the source table, replayed in
    // Spark: per-bucket min/max spans must equal the footer-read spans
    val b = t.orders.agg(min("o_orderkey").cast("long"),
      max("o_orderkey").cast("long")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    def spanOf(bucketExpr: org.apache.spark.sql.Column): (Long, Long) = {
      val f = t.orders.groupBy(bucketExpr.as("b"))
        .agg(min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
        .agg(sum(col("mx") - col("mn") + 1L),
          (max("mx") - min("mn") + 1L)).head()
      (f.getLong(0), f.getLong(1))
    }
    val (rs, rg) = spanOf(expr(s"CAST((o_orderkey - $lo) * 8 DIV ${hi - lo + 1} AS INT)"))
    assert(rows("range").getAs[Long]("span_sum") == rs)
    assert(rows("range").getAs[Long]("global_span") == rg)
    val (ss, sg) = spanOf(expr("CAST(o_orderkey % 8 AS INT)"))
    assert(rows("scatter").getAs[Long]("span_sum") == ss)
    assert(rows("scatter").getAs[Long]("global_span") == sg)
  }

  test("typed pruning: date window skips whole year-files, losslessly") {
    val (lo, hi) = ParquetStats.dateWindow(t)
    val (df, kept, total) = ParquetStats.prunedScanTs(
      t, s"${ParquetStats.typedLayoutsDir(t)}/date", "o_orderdate", lo, hi)
    val direct = t.orders.filter(
      unix_micros(col("o_orderdate").cast("timestamp")).between(lo, hi)).count()
    info(s"date prune kept $kept of $total year-files")
    assert(kept < total, "middle-half window should skip outer years")
    assert(kept > 0 && df.count() == direct)
  }

  test("typed pruning: string equality keeps exactly the probe's priority file") {
    val (df, kept, total) = ParquetStats.prunedScanString(
      t, s"${ParquetStats.typedLayoutsDir(t)}/priority",
      "o_orderpriority", ParquetStats.priorityProbe)
    assert(total == 5 && kept == 1,
      s"one-priority-per-file layout should keep 1 of 5, kept $kept of $total")
    val direct = t.orders
      .filter(col("o_orderpriority") === ParquetStats.priorityProbe).count()
    assert(df.count() == direct)
  }

  test("bloom pruning: point lookup skips scattered files zone maps cannot, and never loses the row") {
    val key = ParquetStats.bloomProbeKey(t)
    val dir = s"${ParquetStats.typedLayoutsDir(t)}/bloom"
    // zone maps are useless on this layout: every file's [min,max]
    // contains the key
    val (_, zmKept, zmTotal) = ParquetStats.prunedScan(t, dir, "o_orderkey", key, key)
    assert(zmKept == zmTotal, "mod-scatter should defeat min/max pruning")
    // the bloom probe skips almost everything (FPR may keep an extra
    // file or two; a false NEGATIVE would lose the row and fail below)
    val (df, kept, total) = ParquetStats.bloomPrunedLookup(t, dir, "o_orderkey", key)
    info(s"bloom kept $kept of $total files (zone maps kept $zmKept)")
    assert(total == 8 && kept < total)
    val rows = df.select("o_orderkey").collect().map(_.getLong(0))
    assert(rows.toSeq == Seq(key))
    // a key OUTSIDE the domain: blooms reject every file, zero reads
    val (miss, keptMiss, _) =
      ParquetStats.bloomPrunedLookup(t, dir, "o_orderkey", Long.MaxValue - 7)
    assert(keptMiss == 0 && miss.count() == 0,
      s"absent key should open no files, opened $keptMiss")
  }

  test("metadata-only aggregation equals a full scan and proves itself metadata_only") {
    // multi-file layout: sums/mins/maxes must aggregate ACROSS files
    val dir = s"${ParquetStats.bucketLayoutsDir(t)}/range"
    val r = ParquetStats.metadataAgg(t, dir, "o_orderkey").head()
    val d = spark.read.parquet(dir).agg(
      count(lit(1)), min("o_orderkey").cast("long"),
      max("o_orderkey").cast("long")).head()
    assert(r.getAs[Long]("n_rows") == d.getLong(0))
    assert(r.getAs[Long]("null_count") == 0L)
    assert(r.getAs[Long]("min_value") == d.getLong(1))
    assert(r.getAs[Long]("max_value") == d.getLong(2))
    assert(r.getAs[Boolean]("metadata_only"),
      "complete stats over every file must prove the answer scan-free")
  }

  test("vacuum: orphan detection partitions the listing exactly, and the orphan rows equal the bucket filter") {
    val (manifest, orphans) = ParquetStats.vacuumPartition(t)
    def bucketOf(p: String): Int =
      "bucket=(\\d+)".r.findFirstMatchIn(p).map(_.group(1).toInt).getOrElse(-1)
    // both directions of the partition: no committed file accused (a
    // false positive would vacuum live data), no leftover missed
    assert(manifest.nonEmpty && manifest.forall(bucketOf(_) < 6))
    assert(orphans.nonEmpty && orphans.forall(bucketOf(_) >= 6))
    assert(manifest.toSet.intersect(orphans.toSet).isEmpty)
    // the rows INSIDE the detected orphans are exactly the two
    // uncommitted buckets' rows
    val got = spark.read.parquet(orphans: _*)
      .select("o_orderkey").as[Long].collect().toSet
    val bounds = t.orders.agg(
      min("o_orderkey").cast("long"), max("o_orderkey").cast("long")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val expected = t.orders.select(col("o_orderkey").cast("long")).as[Long]
      .collect().filter(k => (k - lo) * 8 / (hi - lo + 1) >= 6).toSet
    assert(got == expected)
  }

  test("vacuum: a fully committed manifest yields zero orphans") {
    val dir = s"${ParquetStats.bucketLayoutsDir(t)}/range"
    val all = ParquetStats.footerStats(t, dir, Seq("o_orderkey"))
      .select("file_path").as[String].collect().toSet
    assert(ParquetStats.orphanFiles(t, dir, all).isEmpty)
  }

  test("metadata-only aggregation: nulls excluded from min/max, counted exactly") {
    val dir = graft.core.Tables.scratchDir("graft_meta_nulls")
    Seq[(java.lang.Long, String)]((5L, "a"), (null, "b"), (9L, "c"))
      .toDF("v", "k").repartition(2).write.mode("overwrite").parquet(dir)
    val r = ParquetStats.metadataAgg(t, dir, "v").head()
    assert(r.getAs[Long]("n_rows") == 3L)
    assert(r.getAs[Long]("null_count") == 1L)
    assert(r.getAs[Long]("min_value") == 5L)
    assert(r.getAs[Long]("max_value") == 9L)
  }

  test("metadata-only aggregation refuses to certify when any file's stats are unusable") {
    // an all-null chunk has no min/max → stats_complete=false for that
    // file → the DIR-level answer must NOT claim metadata_only (a
    // production caller falls back to a data scan)
    val dir = graft.core.Tables.scratchDir("graft_meta_incomplete")
    Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"))
      .toDF("v", "k").coalesce(1).write.parquet(s"$dir/p1")
    Seq[(java.lang.Long, String)]((null, "c"), (null, "d"))
      .toDF("v", "k").coalesce(1).write.parquet(s"$dir/p2")
    // flatten the two files into one dir
    val out = graft.core.Tables.scratchDir("graft_meta_incomplete_flat")
    Seq("p1", "p2").foreach { p =>
      new java.io.File(s"$dir/$p").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(s"$out/${p}_${f.getName}"))
        }
    }
    val r = ParquetStats.metadataAgg(t, out, "v").head()
    assert(!r.getAs[Boolean]("metadata_only"),
      "a stats-less file must demote the dir-level answer to unproven")
    // the provable parts are still right
    assert(r.getAs[Long]("n_rows") == 4L)
    assert(r.getAs[Long]("min_value") == 1L)
    assert(r.getAs[Long]("max_value") == 2L)
  }

  test("column sizes: every schema column audited, byte totals consistent") {
    val rows = ParquetStats.columnSizesGate(t).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == t.documents.columns.toSet)
    rows.values.foreach { r =>
      val c = r.getAs[Long]("compressed_bytes")
      val u = r.getAs[Long]("uncompressed_bytes")
      assert(c > 0 && u > 0)
      assert(r.getAs[Long]("compression_x10") ==
        math.floor(u.toDouble * 10 / c).toLong)
    }
    // the audit totals cover the file: sum of compressed column bytes is
    // within the physical file size (footer/header overhead on top)
    val root = new java.io.File(s"${t.dir}/documents.parquet")
    val fileBytes =
      if (root.isFile) root.length
      else root.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.length).sum
    val sumCompressed = rows.values.map(_.getAs[Long]("compressed_bytes")).sum
    assert(sumCompressed <= fileBytes,
      s"column bytes $sumCompressed exceed file bytes $fileBytes")
    assert(sumCompressed * 10 >= fileBytes * 8,
      "column chunks should account for the bulk of the file")
  }

  test("null counts surface in the stats table") {
    val dir = graft.core.Tables.scratchDir("graft_stats_nulls")
    Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (3L, "c"), (null, "d"))
      .toDF("v", "k").coalesce(1).write.mode("overwrite").parquet(dir)
    val row = ParquetStats.footerStats(t, dir, Seq("v")).head()
    assert(row.getAs[Long]("n_rows") == 4L)
    assert(row.getAs[Long]("null_count") == 2L)
    assert(row.getAs[Long]("min_value") == 1L)
    assert(row.getAs[Long]("max_value") == 3L)
  }
}
