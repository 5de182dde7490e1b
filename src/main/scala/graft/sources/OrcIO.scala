package graft.sources

import graft.core.Tables
import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** ORC source/sink (§2.1 format extension) — the other columnar format a
  * lake ingests besides parquet (Hive-lineage pipelines emit it). Spark's
  * native vectorized ORC reader gives the same scan-level services as
  * parquet — predicate pushdown into stripe/row-group indexes, column
  * pruning, splittable stripes — so at 100 TB an ORC-resident corpus scans
  * with the same plan shape as a parquet one; no format-specific operator
  * code is needed downstream of the read.
  */
object OrcIO {

  def write(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** ORC embeds its schema per file (like parquet, unlike JSON/CSV), so the
    * read-back needs no schema-first discipline — the footer is authoritative.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** One per-JVM temp dir for the roundtrip gate (same discipline as
    * [[JsonIO.roundtripDir]]: overwrite-in-place so Verify + Bench's
    * min-of-2 never leak copies; deleted on exit).
    */
  private lazy val roundtripDir: String = Tables.scratchDir("graft_orc_")

  /** Gate query: documents → ORC → read-back → per-(lang, source) rollup.
    * The oracle computes the same rollup straight from the parquet source,
    * so the hash gate proves the write→encode→decode path preserves both
    * the string column (dictionary/direct encodings) and the integer
    * column (RLE) bit-for-bit.
    */
  def orcRoundtrip(t: Tables): DataFrame = {
    val dir = roundtripDir
    write(t.documents.select("doc_id", "lang", "source", "text", "n_chars"), dir)
    read(t.spark, dir)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast(LongType)).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("lang", "source")
  }
}
