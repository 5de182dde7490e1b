package graft.sources

import graft.core.{GenerationCache, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema evolution on a file corpus — the ingest reality at 100 TB: a
  * directory written over months, where early files lack columns later
  * files carry. Spark reads such a directory two ways:
  *
  *  - `mergeSchema=true`: the reader unions every file footer's schema.
  *    Correct, but each footer is fetched and merged at planning time —
  *    on a million-file corpus that is a million object-store reads
  *    before the first task launches.
  *  - schema-first: the caller states the union schema; files missing a
  *    column yield nulls. Zero extra planning I/O — the production path,
  *    with mergeSchema the discovery tool you run once to LEARN the
  *    union. `SchemaEvolutionSpec` proves both reads row-identical.
  *
  * The fixture derivation writes generation 1 (doc_id ≡ 0 mod 2) WITHOUT
  * `lang`/`n_chars` and generation 2 with the full schema into one
  * directory, so "column added mid-corpus" is physically real on disk.
  */
object SchemaEvolution {

  private val dirCache =
    GenerationCache.dirs[Unit]("documents.parquet", "graft_evolved")

  /** Two-generation parquet dir derived once per fixture generation. */
  def evolvedDir(t: Tables): String = dirCache(t.dir, ()) { base =>
    val docs = t.documents.select("doc_id", "source", "text", "lang", "n_chars")
    docs.filter(col("doc_id") % 2 === 0)
      .select("doc_id", "source", "text")
      .write.mode("append").parquet(base)
    docs.filter(col("doc_id") % 2 === 1)
      .write.mode("append").parquet(base)
  }

  /** The union schema a schema-first reader states (what one
    * `mergeSchema` discovery run would have learned). */
  val unionSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("n_chars", LongType)))

  /** Footer-merging read — correct, planning-time cost per file. */
  def mergedRead(t: Tables): DataFrame =
    t.spark.read.option("mergeSchema", "true").parquet(evolvedDir(t))

  /** Schema-first read — the production path: stated union schema,
    * missing columns read as null, no footer sweep. */
  def schemaFirstRead(t: Tables): DataFrame =
    t.spark.read.schema(unionSchema).parquet(evolvedDir(t))

  /** Gate query: write the two-generation dir, read it back schema-first,
    * and roll up per source — generation-2 row count via the evolved
    * column's null-ness, char totals with the old generation's missing
    * `n_chars` backfilled from the text itself. The oracle states the
    * same rollup from the source table (generation membership is
    * doc_id mod 2), so the hash proves no row, column value, or null
    * was invented or lost across the evolution boundary.
    */
  def evolutionRollup(t: Tables): DataFrame =
    schemaFirstRead(t)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("lang")).as("n_evolved"),
        sum(coalesce(col("n_chars"), length(col("text")).cast("long")))
          .as("total_chars"))
      .orderBy("source")

  // ---------------------------------------------------------------------
  // Type-widening evolution — the OTHER schema change a months-old corpus
  // hits (round-11 residue 2): early files wrote a column NARROW
  // (int32 counters, float scores), later files wide (int64, double).
  // ---------------------------------------------------------------------

  private val widenCache =
    GenerationCache.dirs[Unit]("documents.parquet", "graft_widened")

  /** Two-generation dir where generation 1 (doc_id ≡ 0 mod 2) stores
    * `n_chars` as INT32 and `score` as FLOAT, generation 2 as INT64 /
    * DOUBLE — same column names, widened physical types. `score` is
    * n_chars · 0.5, exactly representable in BOTH float and double for
    * any fixture length (< 2²³), so the widened read's values are
    * restatable by the oracle without float-rounding hazards.
    */
  def widenedDir(t: Tables): String = widenCache(t.dir, ()) { base =>
    val docs = t.documents
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("score", col("n_chars").cast("double") * 0.5)
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("source"),
        col("n_chars").cast("int").as("n_chars"),
        col("score").cast("float").as("score"))
      .write.mode("append").parquet(base)
    docs.filter(col("doc_id") % 2 === 1)
      .write.mode("append").parquet(base)
  }

  /** The WIDE schema a schema-first reader states over [[widenedDir]]:
    * Spark's vectorized parquet reader up-converts INT32→LONG and
    * FLOAT→DOUBLE per file at scan time (a lossless promotion — no
    * planning-time footer sweep, no rewrite of the old files). Note
    * `mergeSchema=true` CANNOT serve this corpus: `StructType.merge`
    * refuses int-vs-long on the same field name, which is exactly why
    * the stated-schema path is the production read
    * (`SchemaEvolutionSpec` pins both behaviors).
    */
  val widenedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("score", DoubleType)))

  def widenedRead(t: Tables): DataFrame =
    t.spark.read.schema(widenedSchema).parquet(widenedDir(t))

  /** Gate query: roll up the widened read per source — row counts, the
    * int-widened char sum as one LONG, and the float-widened score
    * extremes as DOUBLEs. The oracle restates all of it from the source
    * table (generation membership is value-invariant here: the narrow
    * cast is lossless by construction), so the hash proves the widened
    * scan neither shifted a value nor dropped a row across the
    * type-evolution boundary.
    */
  def wideningRollup(t: Tables): DataFrame =
    widenedRead(t)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"))
      .orderBy("source")
}
