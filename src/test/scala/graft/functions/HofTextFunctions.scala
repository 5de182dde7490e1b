package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The higher-order-function formulations that [[TextFunctions]]' compiled
  * kernels replaced, kept in the tests as the oracle the kernels must
  * match value for value and type for type. Each is the `zip_with` /
  * `filter` / `transform` chain the engine evaluated before, unchanged.
  */
object HofTextFunctions {

  def tokens(text: Column): Column = split(text, "\\s+")

  /** The token array zipped with its own shifted suffixes, null-padded
    * tails filtered out.
    */
  def shingles(text: Column, n: Int): Column = {
    val tk = tokens(text)
    val joined = (2 to n).foldLeft(tk)((acc, k) =>
      zip_with(acc, slice(tk, lit(k), size(tk)), (a, b) =>
        when(a.isNull || b.isNull, lit(null)).otherwise(concat(a, lit(" "), b))))
    filter(joined, s => s.isNotNull)
  }

  def shingleSet(text: Column, n: Int): Column = array_distinct(shingles(text, n))

  def shingleHashSet(text: Column, n: Int): Column =
    array_distinct(transform(shingles(text, n), s => xxhash64(s)))

  def hashEach(strings: Column): Column = transform(strings, s => xxhash64(s))

  def md5MinhashSignature(shingleTexts: Column, k: Int): Column =
    transform(
      sequence(lit(0), lit(k - 1)),
      j => array_min(transform(shingleTexts, s =>
        md5(concat(j.cast("string"), lit(":"), s)))))

  def md5BandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => concat_ws(
        "_",
        b.cast("string"),
        md5(concat_ws(",", slice(sig, b * rows + 1, lit(rows))))))

  def stopwordRatio(text: Column): Column = {
    val tk = tokens(text)
    val hits = size(filter(tk, t => t.isin(TextFunctions.stopwords.map(x => x: Any): _*)))
    when(size(tk) === 0, 0.0).otherwise(hits.cast("double") / size(tk).cast("double"))
  }
}
