package graft.sources

import graft.core.Tables
import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** JSON-lines source/sink (§2.1 format extension) — the interchange format
  * most raw training-data drops arrive in. The sink is one JSON object per
  * line (splittable, appendable); the source takes an EXPLICIT schema:
  * at 100 TB, `spark.read.json` without one runs a full inference pass
  * over the data before the real scan — same trap as CSV inferSchema
  * (see [[CsvIO]]), so the scale path is schema-first.
  */
object JsonIO {

  def write(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** One per-JVM temp dir for the roundtrip gate (same discipline as
    * [[PartitionedParquet.partitionedRoundtrip]]: overwrite-in-place so
    * Verify + Bench's min-of-2 never leak copies; deleted on exit).
    */
  private lazy val roundtripDir: String = Tables.scratchDir("graft_json_")

  /** Gate query: documents → JSON lines → schema-first read-back →
    * per-(lang, source) token rollup. The oracle computes the same rollup
    * straight from the parquet source, so the hash gate proves the whole
    * write→escape→parse path preserves every document bit-for-bit (the
    * text column carries whatever characters the corpus has — JSON string
    * escaping fidelity is exactly what is being checked).
    */
  def jsonRoundtrip(t: Tables): DataFrame = {
    val dir = roundtripDir
    write(t.documents.select("doc_id", "lang", "source", "text"), dir)
    val schema = StructType(Nil)
      .add("doc_id", LongType).add("lang", "string")
      .add("source", "string").add("text", "string")
    read(t.spark, dir, schema)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast(LongType)).as("total_tokens"))
      .orderBy("lang", "source")
  }
}
