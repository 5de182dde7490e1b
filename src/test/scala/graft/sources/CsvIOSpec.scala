package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class CsvIOSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpDir(): String =
    graft.core.Tables.scratchDir("graft-csv-")

  test("csv roundtrip: write orders sample, read back inferred") {
    val dir = s"${tmpDir()}/orders_csv"
    val src = t.orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey").limit(100)
    CsvIO.write(src, dir)
    val back = CsvIO.readInferred(spark, dir)
    assert(back.count() == 100)
    // inference picks the narrowest integral type that fits the sample
    assert(Set[Any](IntegerType, LongType).contains(back.schema("o_orderkey").dataType))
    assert(back.schema("o_totalprice").dataType == DoubleType)
    val a = src.agg(sum("o_totalprice")).head().getDouble(0)
    val b = back.agg(sum("o_totalprice")).head().getDouble(0)
    assert(math.abs(a - b) < 1e-6)
  }

  test("dirty csv: all-strings read + try_cast pipeline nulls junk rows") {
    val dir = s"${tmpDir()}/dirty_csv"
    // a dirty file: one clean row, one junk-numeric row (the reference's
    // real-world shape — SURVEY §1.2: inference poisoned to all-strings)
    Seq(("1", "100.5", "ok"), ("2", "not-a-number", "junk"), ("3", "", "empty"))
      .toDF("id", "price", "note").coalesce(1).write
      .option("header", "true").mode("overwrite").csv(dir)

    val raw = CsvIO.readAllStrings(spark, dir, Seq("id", "price", "note"))
    assert(raw.schema.fields.forall(_.dataType == StringType))

    val cast = CsvIO.castPipeline(raw,
      Map("id" -> IntegerType, "price" -> DoubleType))
    assert(cast.schema("price").dataType == DoubleType)
    val rows = cast.orderBy("id").collect()
    assert(rows(0).getDouble(1) == 100.5)
    assert(rows(1).isNullAt(1)) // junk → null, not an ANSI error
    assert(rows(2).isNullAt(1))
  }

  test("csv column roundtrip equals the same rollup computed without CSV") {
    import graft.functions.NumericFunctions.{decSum, roundN}
    val viaCsv = CsvIO.csvColumnRoundtrip(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val direct = t.orders
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        roundN(decSum(col("o_totalprice")), 2).as("total_price"))
      .orderBy("o_orderstatus")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(viaCsv.toSeq == direct.toSeq)
    assert(viaCsv.nonEmpty)
  }

  test("string-numeric comparison works on all-strings frames (ref semantics)") {
    val dir = s"${tmpDir()}/cmp_csv"
    Seq(("5", "2500"), ("6", "999")).toDF("id", "price")
      .coalesce(1).write.option("header", "true").mode("overwrite").csv(dir)
    val raw = CsvIO.readAllStrings(spark, dir, Seq("id", "price"))
    // the reference filters string columns against int literals
    // (`data-viz&cleaning.py:130`) relying on implicit coercion
    assert(raw.filter(col("price") >= 2000).count() == 1)
  }
}
