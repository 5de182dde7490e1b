package graft.operators

import graft.core.{GenerationCache, Tables}
import graft.functions.NumericFunctions.roundN
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable quantile summaries from DETERMINISTIC hash samples — the
  * quantile member of the persistable-sketch tier beside the KMV and HLL
  * distinct-count sketches ([[CoreQueries.sketchKmvMerge]] /
  * `sketchHllPersisted`).
  *
  * The sketch is a fixed-rate hash sample: a row belongs iff the first
  * hex nibble of md5(doc_id) falls in the lowest quarter of the alphabet
  * — a pure per-row predicate, so per-shard samples are EXACTLY mergeable
  * (the union of shard samples IS the global sample, a set identity, not
  * an approximation — the same theorem class as KMV's bottom-k merge).
  * Unlike GK/t-digest summaries, whose merged state is order- and
  * implementation-dependent, the hash sample is bit-reproducible on any
  * engine — which is what lets the whole gate HASH-gate: DuckDB restates
  * the predicate and the interpolated quantiles exactly, estimates
  * included (the HLL gates can only gate in-band booleans).
  *
  * Scale shape at 100 TB: each shard writes its own sample rows next to
  * its data files (a few % of the rows, ids+value columns only — never
  * text); corpus-wide quantiles are answered from the stored sample
  * table, no rescan. Accuracy is the standard sample-quantile bound
  * (O(1/√(p·N)) quantile error at rate p), measured in the spec and
  * claimed in-band by the gate with both sides deriving the verdict from
  * the same restated values.
  */
object QuantileOps {

  /** The sample membership predicate: first md5 hex nibble in '0'..'3'
    * (rate p = 4/16 = 1/4). Hex-digit string comparison is identical in
    * Spark and DuckDB; md5 of the decimal-rendered id is the
    * engine-independent randomness source every hash-sampling operator
    * in this repo uses ([[CoreQueries.hashStratifiedSample]]).
    */
  private[operators] def inSample(id: org.apache.spark.sql.Column) =
    substring(md5(id.cast("string")), 1, 1) <= "3"

  /** The sample itself — ids and the summarized value column only (the
    * rows a shard would persist beside its data files). */
  def hashSample(docs: DataFrame): DataFrame =
    docs.filter(inSample(col("doc_id")))
      .select("source", "doc_id", "n_chars")

  private val sampleDirCache =
    GenerationCache.dirs[Unit]("documents.parquet", "graft_quantile_sample")

  /** The persisted sample table, written ONCE per fixture generation,
    * partitioned by source — the production layout where every shard
    * materializes its own sample independently and merging is just
    * reading the directory (no coordination, no rescan).
    */
  def quantileSampleTableDir(t: Tables): String =
    sampleDirCache(t.dir, ()) { dir =>
      hashSample(t.documents)
        .write.partitionBy("source").mode("overwrite").parquet(dir)
    }

  /** Gate query: quantiles of `n_chars` from the STORED merged sample vs
    * the exact corpus quantiles, one row. Every column hash-gates — the
    * oracle restates the predicate, the interpolated quantiles (the
    * shared `floor(x·10⁴ + 0.5)/10⁴` rounding), and derives
    * `p50_in_band` (|sample − exact| ≤ 20% · exact) from its OWN
    * restated values, so a drifted sample, a lossy storage hop, or a
    * divergent interpolation all fail the hash on the values themselves,
    * not just the verdict.
    */
  def quantileSketchGate(t: Tables): DataFrame = {
    val stored = t.spark.read.parquet(quantileSampleTableDir(t))
    val s = stored.agg(
      count(lit(1)).as("n_sample"),
      roundN(percentile(col("n_chars"), lit(0.25)), 4).as("s_p25"),
      roundN(percentile(col("n_chars"), lit(0.5)), 4).as("s_p50"),
      roundN(percentile(col("n_chars"), lit(0.75)), 4).as("s_p75"))
    val e = t.documents.agg(
      count(lit(1)).as("n_total"),
      roundN(percentile(col("n_chars"), lit(0.25)), 4).as("e_p25"),
      roundN(percentile(col("n_chars"), lit(0.5)), 4).as("e_p50"),
      roundN(percentile(col("n_chars"), lit(0.75)), 4).as("e_p75"))
    e.crossJoin(broadcast(s)).select(
      col("n_total"), col("n_sample"),
      col("s_p25"), col("s_p50"), col("s_p75"),
      col("e_p25"), col("e_p50"), col("e_p75"),
      (abs(col("s_p50") - col("e_p50")) <= col("e_p50") * 0.2)
        .as("p50_in_band"))
  }

  /** Gate query: per-source quantiles from the stored per-shard sample
    * files — the grouped consumer (a per-source length profile without
    * touching the corpus). Groups whose sample is empty simply don't
    * appear, exactly as the oracle's GROUP BY over the restated
    * predicate behaves.
    */
  def quantileBySourceGate(t: Tables): DataFrame =
    t.spark.read.parquet(quantileSampleTableDir(t))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_sample"),
        roundN(percentile(col("n_chars"), lit(0.5)), 4).as("s_p50"),
        min("n_chars").cast("long").as("s_min"),
        max("n_chars").cast("long").as("s_max"))
      .orderBy("source")
}
