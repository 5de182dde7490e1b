package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

class JsonIOSpec extends SparkTestBase {

  private val schema = StructType(Nil)
    .add("doc_id", LongType).add("text", "string")

  test("JSON roundtrip is lossless, including escape-heavy text") {
    import spark.implicits._
    val nasty = Seq(
      (1L, """plain words"""),
      (2L, "quotes \" and \\ backslashes \\\" mixed"),
      (3L, "newline\nand\ttab and unicode é中文"),
      (4L, "{\"looks\":\"like json\"}"),
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val dir = graft.core.Tables.scratchDir("graft_json_spec_")
    try {
      JsonIO.write(nasty, dir)
      val back = JsonIO.read(spark, dir, schema)
      assert(back.schema == schema)
      val got = back.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val want = nasty.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == want)
    } finally {
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally stream.close()
    }
  }

  test("jsonRoundtrip gate equals the same rollup on the source table") {
    import graft.functions.TextFunctions.tokens
    val viaJson = JsonIO.jsonRoundtrip(t).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val direct = t.documents
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast(LongType)).as("total_tokens"))
      .orderBy("lang", "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(viaJson.toSeq == direct.toSeq)
  }
}
