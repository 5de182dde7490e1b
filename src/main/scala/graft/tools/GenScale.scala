package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic fixture scale-up for the scaling bench (round-5 verdict
  * item 1): `GenScale <srcDir> <outDir> <factor>` writes a factor-×
  * replica of the TESTDATA.md star schema by unioning `factor` key-shifted
  * copies of every fact table. The driver's testdata is read-only, so the
  * scaled fixture lands inside the repo (gitignored) — same schema, same
  * per-copy distributions, strictly larger joins/aggregations.
  *
  * Scaling rules (TPC-H-style):
  *  - `region`/`nation` are fixed dimensions — copied once;
  *  - `customer`/`supplier`/`part`/`orders`/`lineitem` replicate with all
  *    primary/foreign keys shifted by copy × (max key + 1), so referential
  *    integrity holds per copy and key cardinalities scale linearly;
  *  - `events` replicates with shifted event/user ids and UNCHANGED
  *    timestamps — arrival RATE grows by the factor over the same time
  *    span, which is how a stream actually scales (windows get heavier,
  *    the window count stays fixed);
  *  - `documents` shifts doc ids and suffixes every token with the copy
  *    tag (copy 0 keeps the original text), keeping each copy's internal
  *    duplicate/near-dup structure intact while making cross-copy
  *    vocabularies disjoint — without this every doc would gain factor−1
  *    exact near-dups and the dedup workloads would blow up
  *    quadratically in the factor, measuring the data's duplicate
  *    structure rather than operator scaling. `n_chars` is recomputed to
  *    stay consistent with the mutated text;
  *  - `embeddings` shifts vec ids and ROTATES the vector by the copy
  *    index — norms and per-copy geometry are exactly preserved while
  *    cross-copy cosines fall to noise (same reasoning as the text tag).
  */
object GenScale {

  private def strideOf(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1

  /** k key-shifted copies of `documents`, copies 1..k-1 with every token
    * suffixed by the copy tag (vocabularies disjoint across copies — the
    * per-copy dedup structure is preserved, cross-copy near-dups are not
    * introduced; see object doc). Reach large factors in ONE run, never by
    * chaining: run-1 copy i re-tagged by run-2 copy 0 and run-1 copy 0
    * re-tagged by run-2 copy i both yield the `_ci` suffix — exact
    * cross-copy duplicates the single-run tags can't produce. Exposed for
    * the scaling spec.
    */
  def replicateDocuments(documents: DataFrame, k: Int): DataFrame = {
    val dk = strideOf(documents, "doc_id")
    (0 until k).map { i =>
      val tagged =
        if (i == 0) documents
        else documents.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1_c" + i))
      tagged
        .withColumn("doc_id", col("doc_id") + i * dk)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_.unionByName(_))
  }

  /** k key-shifted copies of `embeddings`, copy i's vector rotated by
    * i mod dim and SIGN-FLIPPED for i >= dim — norms and per-copy geometry
    * exactly preserved, cross-copy cosines at noise (the flipped twin of
    * the same rotation sits at cosine exactly −1: anti-similar for every
    * cosine-top-k / Euclidean family, so no cross-copy near-dups appear).
    * Requires k <= 2·dim: past that the (rotation, sign) pair repeats and
    * cross-copy exact duplicates return. Do NOT reach larger factors by
    * chaining runs — rotation i then j composes to i+j, so distinct copy
    * pairs with equal sums collide into exact duplicates; run once from
    * the smallest fixture instead. Exposed for the scaling spec.
    */
  def replicateEmbeddings(embeddings: DataFrame, k: Int): DataFrame = {
    val vk = strideOf(embeddings, "vec_id")
    val dim = embeddings.select(size(col("embedding"))).head().getInt(0)
    require(k <= 2 * dim,
      s"factor $k exceeds 2·dim (dim=$dim): (rotation, sign) pairs would " +
        "repeat (cross-copy exact dups) — use factor <= 2*dim, in ONE run")
    (0 until k).map { i =>
      val r = i % dim
      val rotated =
        if (r == 0) col("embedding")
        else concat(
          slice(col("embedding"), lit(r + 1), size(col("embedding")) - r),
          slice(col("embedding"), lit(1), lit(r)))
      val vec = if (i < dim) rotated else transform(rotated, x => -x)
      embeddings
        .withColumn("vec_id", col("vec_id") + i * vk)
        .withColumn("embedding", vec)
    }.reduce(_.unionByName(_))
  }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorStr) = args
    val k = factorStr.toInt
    require(k >= 1, "factor must be >= 1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // fixed dimensions: one copy
    write(read("region"), "region")
    write(read("nation"), "nation")

    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1

    def replicated(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => f(df, i)).reduce(_.unionByName(_))

    val customer = read("customer")
    val supplier = read("supplier")
    val part     = read("part")
    val orders   = read("orders")
    val lineitem = read("lineitem")
    val ck = stride(customer, "c_custkey")
    val sk = stride(supplier, "s_suppkey")
    val pk = stride(part, "p_partkey")
    val ok = stride(orders, "o_orderkey")

    write(replicated(customer) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + i * ck)
    }, "customer")
    write(replicated(supplier) { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + i * sk)
    }, "supplier")
    write(replicated(part) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + i * pk)
    }, "part")
    write(replicated(orders) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + i * ok)
        .withColumn("o_custkey", col("o_custkey") + i * ck)
    }, "orders")
    write(replicated(lineitem) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + i * ok)
        .withColumn("l_partkey", col("l_partkey") + i * pk)
        .withColumn("l_suppkey", col("l_suppkey") + i * sk)
    }, "lineitem")

    // events: ts round-trips in whatever encoding the source fixture uses
    // (raw long nanos under nanosAsLong, or native TIMESTAMP(MICROS)) —
    // every form reads identically through the adaptive dispatch in
    // Tables.events / EventStream
    val events = read("events")
    val ek = stride(events, "event_id")
    val uk = stride(events, "user_id")
    write(replicated(events) { (df, i) =>
      df.withColumn("event_id", col("event_id") + i * ek)
        .withColumn("user_id", col("user_id") + i * uk)
    }, "events")

    write(replicateDocuments(read("documents"), k), "documents")
    write(replicateEmbeddings(read("embeddings"), k), "embeddings")

    spark.stop()
  }
}
