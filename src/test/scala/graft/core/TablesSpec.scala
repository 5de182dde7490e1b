package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.functions.lit

/** [[Tables]] as the one fixture reader: reads carry the schema cached per
  * fixture generation, and the row-group count behind the scan rebalance
  * says when it cannot measure a layout.
  */
class TablesSpec extends SparkTestBase {

  test("a second read of a fixture table starts no Spark job") {
    // first reads of this generation: at most one inference job each
    t.documents; t.events
    val again = Tables(spark, t.dir)
    assert(jobsStartedBy { again.documents; () } == 0)
    assert(jobsStartedBy { again.events; () } == 0)
    // the cached schema is the one Spark infers
    assert(again.documents.schema ==
      spark.read.parquet(s"${t.dir}/documents.parquet").schema)
  }

  test("scanUnits assumes a parallel hive-partitioned layout, warns with its path, and adds no exchange") {
    val dir = Tables.scratchDir("graft_hive_docs_")
    t.documents.limit(50).withColumn("src", lit("a")).coalesce(1)
      .write.partitionBy("src").parquet(s"$dir/documents.parquet")
    val hive = Tables(spark, dir)
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    val before = Ledger.snapshot()
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val units =
      try hive.scanUnits("documents")
      finally System.setErr(saved)
    assert(units == Int.MaxValue)
    assert(Ledger.delta(before).get("tables.scan_units_fallback").contains(1L))
    assert(err.toString("UTF-8").linesIterator.exists(l =>
      l.contains("Tables.scanUnits") && l.contains(s"$dir/documents.parquet")),
      s"no scanUnits warning naming the path in: $err")
    val plan = hive.documentsBalanced.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"rebalance fired on an unmeasured layout:\n$plan")
  }
}
