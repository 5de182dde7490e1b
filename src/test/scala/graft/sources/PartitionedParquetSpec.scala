package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PartitionedParquetSpec extends SparkTestBase {

  test("partition filter prunes directories at planning time") {
    val dir = graft.core.Tables.scratchDir("graft_part_spec_")
    PartitionedParquet.writePartitioned(
      t.orders.withColumn("order_year", year(col("o_orderdate"))),
      dir, "order_year")

    val years = t.orders.select(year(col("o_orderdate"))).distinct().count()
    assert(years > 1, "fixture must span multiple years for pruning to mean anything")

    val pruned = spark.read.parquet(dir).filter(col("order_year") === 1997)
    val plan = pruned.queryExecution.executedPlan.toString
    // the year predicate must be a PartitionFilter (directory pruning),
    // NOT a data filter evaluated per row after a full scan
    val pfLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pfLine.contains("order_year"), s"no partition filter in:\n$pfLine")

    // values survive the round trip exactly
    val direct = t.orders.filter(year(col("o_orderdate")) === 1997)
      .select("o_orderkey", "o_totalprice")
    val roundtrip = pruned.select("o_orderkey", "o_totalprice")
    assert(roundtrip.count() == direct.count())
    assert(roundtrip.exceptAll(direct).count() == 0)
  }

  // --- partition-spec evolution (round 12) ---

  test("spec evolution: union read conserves the corpus exactly") {
    val union = PartitionedParquet.specUnionRead(t)
    assert(union.count() == t.orders.count())
    val direct = t.orders.select("o_orderkey", "o_totalprice")
    assert(union.select("o_orderkey", "o_totalprice")
      .exceptAll(direct).count() == 0)
  }

  test("spec evolution: cross-boundary filter prunes dirs in BOTH specs, month only in spec2") {
    val pruned = PartitionedParquet.specUnionRead(t)
      .filter(col("order_year").between(1997, 1998) &&
        col("order_month").isin(1, 2, 3))
    // the files each scan ACTUALLY selects after planning-time pruning
    // (df.inputFiles ignores partition pruning — it lists the relation)
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 2, "one scan per spec root")
    val files = scans.flatMap(_.selectedPartitions.toPartitionArray
      .map(_.filePath.toString))
    assert(files.nonEmpty)
    // year pruning holds in both scans
    assert(files.forall(f => f.contains("order_year=1997") || f.contains("order_year=1998")),
      s"year pruning leaked: ${files.filterNot(f => f.contains("order_year=1997") || f.contains("order_year=1998")).take(3).mkString(", ")}")
    // month pruning holds in spec2 (where month is a partition column)
    val spec2 = files.filter(_.contains("/spec2/"))
    assert(spec2.nonEmpty, "the 1998 side must come from spec2")
    assert(spec2.forall(f => (1 to 3).exists(m => f.contains(s"order_month=$m"))),
      "spec2 files outside months 1-3 must be pruned at planning time")
    // spec1 files carry no month dirs at all — the filter runs post-scan there
    val spec1 = files.filter(_.contains("/spec1/"))
    assert(spec1.nonEmpty && spec1.forall(!_.contains("order_month=")))
    // and the pruned read returns exactly the directly-computed rows
    val direct = t.orders
      .filter(year(col("o_orderdate")).between(1997, 1998) &&
        month(col("o_orderdate")).isin(1, 2, 3)).count()
    assert(pruned.count() == direct)
  }

  test("dynamic partition pruning: the fact scan carries a runtime filter and reads only kept years") {
    val joined = PartitionedParquet.dppPrunedJoin(t)
    joined.collect() // finalize the adaptive plan so DPP has executed
    val finalPlan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    assert(finalPlan.toString.contains("dynamicpruning"),
      s"fact scan lost its DPP filter:\n${finalPlan.toString.take(2000)}")
    // AQE query stages are leaf nodes to collect(); recurse into them
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      val here = p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case _ => Seq.empty
      }
      here ++ p.children.flatMap(scans) ++ p.subqueries.flatMap(scans)
    }
    val factScans = scans(finalPlan)
      .filter(_.metadata.get("Location").exists(_.contains("fact")))
    assert(factScans.nonEmpty, "no fact-side parquet scan in the final plan")
    // the scan's own metric: partitions actually read after the runtime
    // filter — 2 kept years out of the 7 the fixture spans
    val partitionsRead = factScans.map(_.metrics("numPartitions").value).sum
    assert(partitionsRead == 2,
      s"DPP should read exactly the 2 kept year dirs, read $partitionsRead")
  }

  test("spec evolution: one mixed-depth listing is refused — per-spec roots are mandatory") {
    val base = PartitionedParquet.evolvedSpecLayout(t)
    // reading both trees through ONE recursive listing must fail: Spark's
    // partition discovery detects conflicting directory depths. This is
    // the behavior that motivates the per-spec-read union.
    val mixed = scala.util.Try(
      spark.read.parquet(s"$base/spec1", s"$base/spec2").count())
    assert(mixed.isFailure,
      "a single listing over two partition specs must not silently succeed")
  }
}
