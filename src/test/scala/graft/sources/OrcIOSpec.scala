package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

class OrcIOSpec extends SparkTestBase {

  test("ORC roundtrip is lossless for strings (incl. unicode), longs, and nulls") {
    import spark.implicits._
    val rows = Seq(
      (1L, "plain words", 11L),
      (2L, "unicode é中文 ñ ß", 15L),
      (3L, null.asInstanceOf[String], 0L),
      (4L, "repeated repeated repeated", 26L))
      .toDF("doc_id", "text", "n_chars")
    val dir = graft.core.Tables.scratchDir("graft_orc_spec_")
    try {
      OrcIO.write(rows, dir)
      val back = OrcIO.read(spark, dir)
      // ORC embeds the schema — read-back names/types must match without
      // hints (nullability always widens to true on file read-back)
      assert(back.schema.map(f => (f.name, f.dataType)) ==
        rows.schema.map(f => (f.name, f.dataType)))
      val got = back.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val want = rows.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == want)
    } finally {
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally stream.close()
    }
  }

  test("ORC scans get predicate pushdown and column pruning like parquet") {
    val dir = graft.core.Tables.scratchDir("graft_orc_plan_")
    try {
      OrcIO.write(t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice"), dir)
      val p = OrcIO.read(spark, dir)
        .filter(col("o_totalprice") > 100000.0)
        .select("o_orderkey")
        .queryExecution.executedPlan.toString
      // the scaladoc's claim, proven: filters reach the ORC scan node and
      // the scan reads only the referenced columns
      assert(p.contains("PushedFilters") && p.contains("GreaterThan(o_totalprice,100000.0)"), p)
      val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(readSchema.contains("o_orderkey") && !readSchema.contains("o_orderstatus"),
        readSchema)
    } finally {
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(pp => { java.nio.file.Files.deleteIfExists(pp); () })
      finally stream.close()
    }
  }

  test("orcRoundtrip gate equals the same rollup on the source table") {
    import graft.functions.TextFunctions.tokens
    val viaOrc = OrcIO.orcRoundtrip(t).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val direct = t.documents
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast(LongType)).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("lang", "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(viaOrc.toSeq == direct.toSeq)
  }
}
