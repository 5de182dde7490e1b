package graft.ml

import graft.core.Tables
import graft.functions.NumericFunctions.roundN
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TF-IDF + cosine-similarity recommender — the engine twin of the
  * reference's `notebook_to_py/recomendation-system.py` (SURVEY.md §2.10
  * M13–M14), over `documents`.
  *
  * Pipeline shape is the reference's: RegexTokenizer(\W) →
  * StopWordsRemover → CountVectorizer → IDF(minDocFreq) → Normalizer(p=2).
  * The scoring difference is deliberate: the reference drops to a Python RDD
  * (`recomendation-system.py:168-170` — every row pickled across the
  * JVM/Python boundary); here the dot product is the codegen'd `graft_dot`
  * Catalyst expression and top-k is `orderBy(desc).limit(k)` →
  * TakeOrderedAndProject, so only k rows per partition are ever collected.
  */
object Recommender {

  /** The reference's TF-IDF stages over the text column `input`, ending
    * in the L2-normalized `features_norm`; the intermediate columns are
    * `words`, `filtered`, `tf` and `tfidf`. Shared by [[tfidfVectors]]
    * and the vehicles recommender.
    */
  def tfidfPipeline(input: String): Pipeline =
    new Pipeline().setStages(Array(
      new RegexTokenizer().setInputCol(input).setOutputCol("words").setPattern("\\W"),
      new StopWordsRemover().setInputCol("words").setOutputCol("filtered"),
      new CountVectorizer().setInputCol("filtered").setOutputCol("tf")
        .setVocabSize(1 << 16).setMinDF(1.0),
      new IDF().setInputCol("tf").setOutputCol("tfidf").setMinDocFreq(5),
      new Normalizer().setInputCol("tfidf").setOutputCol("features_norm").setP(2.0)))

  /** Fit the TF-IDF pipeline and return normalized document vectors. */
  def tfidfVectors(t: Tables): DataFrame = {
    val docs = t.documentsBalanced.select("doc_id", "text", "lang", "source")
    tfidfPipeline("text").fit(docs).transform(docs)
      .select("doc_id", "lang", "source", "features_norm")
  }

  /** Top-k most similar documents to `queryDocId` by TF-IDF cosine.
    * Normalized vectors ⇒ cosine == dot. The query vector rides along as a
    * broadcast 1-row frame (no driver collect of the corpus).
    *
    * Scoring is `vector_to_array` + the codegen'd `graft_dot` expression
    * (graft.plans.VectorExpressions), keeping the hot loop inside
    * whole-stage codegen. The fixture corpus draws from a ~29-word
    * vocabulary, so the "sparse" TF-IDF vectors are effectively dense and
    * densifying costs nothing; with vocabularies of 10⁵+ and nnz ≈ doc
    * length, use [[similarDocsSparse]] — the codegen'd O(nnz) sorted-merge
    * `graft_sparse_dot` over the `unwrap_udt` (indices, values) arrays.
    * Measured A/B (SparseDotSpec: 2,000 cached rows × 16 query vectors,
    * min of 3): at a synthetic 65,536-dim / nnz=32 corpus, sparse scores
    * in ~0.21 s wall vs ~1.9 s dense (9.2×); with a single query vector
    * the ~150 ms fixed job overhead dominates both and the wall ratio
    * collapses toward 1×, so the practical crossover is wherever the
    * dense read volume (rows × dim) outgrows job overhead — a few
    * thousand dims at fixture row counts, lower as the corpus grows.
    * Both produce bit-identical scores (the dense loop's extra terms are
    * exact +0.0s).
    */
  def similarDocs(t: Tables, queryDocId: Long = 0L, k: Int = 5): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    val vecs = tfidfVectors(t)
    val q = vecs.filter(col("doc_id") === queryDocId)
      .select(vector_to_array(col("features_norm")).as("q_arr"))
    vecs.filter(col("doc_id") =!= queryDocId)
      .crossJoin(broadcast(q))
      .withColumn("score", roundN(
        call_function("graft_dot",
          vector_to_array(col("features_norm")), col("q_arr")), 6))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
      .select("doc_id", "lang", "source", "score")
  }

  /** [[similarDocs]] with sparse scoring: the MLlib vector is opened with
    * `unwrap_udt` (type 0 = sparse with indices, 1 = dense — indices then
    * synthesized as 0..n-1) and scored by the O(nnz) sorted-merge
    * `graft_sparse_dot`, never materializing the |vocab|-wide dense array.
    * Same results as [[similarDocs]] bit-exactly (spec-pinned); the right
    * variant at production vocabulary sizes.
    */
  /** Ascending-index column for an `unwrap_udt`-opened MLlib vector: sparse
    * (type 0) vectors carry their own indices; dense (type 1) vectors get
    * 0..n−1 synthesized. The 0-nnz dense edge needs the explicit guard —
    * `sequence(0, size−1)` on an EMPTY values array is `sequence(0, -1)` =
    * `[0, -1]` (descending), a length-mismatched (indices, values) pair
    * that `graft_sparse_dot` maps to null instead of the correct 0.0.
    * Unreachable from CountVectorizer output (an all-stopword doc comes out
    * as a 0-nnz SPARSE vector), but the guard makes the function total.
    */
  private[graft] def sparseIdx(u: Column): Column =
    when(u.getField("type") === 0, u.getField("indices"))
      .otherwise(when(size(u.getField("values")) === 0, array().cast("array<int>"))
        .otherwise(sequence(lit(0), size(u.getField("values")) - 1)))

  def similarDocsSparse(t: Tables, queryDocId: Long = 0L, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.functions.unwrap_udt
    val vecs = tfidfVectors(t)
    val u = unwrap_udt(col("features_norm"))
    val sparse = vecs.select(
      col("doc_id"), col("lang"), col("source"),
      sparseIdx(u).as("sv_idx"),
      u.getField("values").as("sv_val"))
    val q = sparse.filter(col("doc_id") === queryDocId)
      .select(col("sv_idx").as("q_idx"), col("sv_val").as("q_val"))
    sparse.filter(col("doc_id") =!= queryDocId)
      .crossJoin(broadcast(q))
      .withColumn("score", roundN(
        call_function("graft_sparse_dot",
          col("sv_idx"), col("sv_val"), col("q_idx"), col("q_val")), 6))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
      .select("doc_id", "lang", "source", "score")
  }
}
