package graft.functions

import org.apache.spark.sql.Column
import graft.functions.NumericFunctions.roundN
import graft.plans.{CountInSet, HashEach, Md5BandKeys, Md5MinhashSignature, ShingleHashes, Shingles}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Column-level text primitives used by the text-analysis and dedup
  * operators — no UDFs, no Python workers (the reference's per-row Python
  * UDF boundary, SURVEY.md §2.9, is exactly what we're designing out).
  *
  * Shingles, shingle hashes, the md5 MinHash signature, band keys and
  * the stopword count are compiled kernels ([[graft.plans.TextKernels]]):
  * one plain loop per row, called from whole-stage generated code. The
  * rest are built-in `org.apache.spark.sql.functions` expressions. The
  * higher-order functions left here (`simhashBits`, `rollingHash`,
  * `minShingleFingerprint`) are CodegenFallback: their lambdas run
  * interpreted, element by element.
  */
object TextFunctions {

  /** A kernel expression over a column, resolvable in any session. */
  private def kernel(c: Column)(e: Expression => Expression): Column =
    ColumnBridge.column(e(ColumnBridge.expression(c)))

  /** Whitespace tokens. The synthetic corpus is single-space word soup;
    * `\s+` keeps it robust to real text.
    */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** Word n-gram shingles as space-joined strings, in text order (a doc
    * with fewer than n tokens yields an empty array). One kernel pass per
    * row: tokenize once, then join each window of n tokens. The element
    * type is nullable for n > 1 (never null in fact), as the `zip_with`
    * formulation typed it.
    */
  def shingles(text: Column, n: Int): Column = kernel(text)(Shingles(_, n, distinct = false))

  /** Distinct shingle set (for Jaccard), first occurrences in order. */
  def shingleSet(text: Column, n: Int): Column = kernel(text)(Shingles(_, n, distinct = true))

  /** Cheap scan-side equivalent of `size(shingleSet(text, n)) > 0` /
    * `size(shingleHashSet(text, n)) > 0` (round-18, guide §1.2 "per-task
    * work" + §7.2 duplicated subtrees): a filter phrased over the shingle
    * ARRAY gets predicate-pushed below the scan-rebalance exchange, where
    * it re-evaluates the whole shingle pipeline ON THE SCAN TASK — the
    * exact serial pass the rebalance exists to avoid — while the
    * projection above the exchange computes it again. The shingle count
    * is `max(0, n_tokens − (n−1))` by construction (one per window of n
    * tokens, and a distinct set of a non-empty array is non-empty), so
    * "any shingle survives" is precisely "at least n whitespace tokens"
    * — one `split` at the scan instead of the full shingle/hash kernel.
    * Null text: under non-ANSI `size(tokens(null))` is −1, so `-1 >= n`
    * is false and the row drops — identical to `size(null shingle
    * array) > 0`.
    */
  def hasShingles(text: Column, n: Int): Column = size(tokens(text)) >= n

  /** Distinct shingles hashed to 64-bit keys. Set operations (Jaccard,
    * minhash) are invariant under the hashing modulo collisions (~n²/2⁶⁴ —
    * negligible), and every downstream shuffle carries 8-byte longs instead
    * of shingle text: at 100 TB the explode/self-join traffic shrinks ~3×
    * and comparisons become integer equality.
    */
  def shingleHashSet(text: Column, n: Int): Column = kernel(text)(ShingleHashes(_, n))

  /** `xxhash64` of each string in an array (a null element hashes to
    * the seed, 42, as `xxhash64(null)` does).
    */
  def hashEach(strings: Column): Column = kernel(strings)(HashEach(_))

  /** Exact Jaccard similarity of two pre-deduplicated shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(a) + size(b) - inter
    when(union === 0, 0.0).otherwise(inter.cast("double") / union.cast("double"))
  }

  /** MinHash signature: k permutations approximated by re-hashing each
    * shingle with the permutation index — `md5(j || ':' || s)` — and
    * taking the per-permutation min. md5 is bit-identical in the DuckDB
    * oracle, so queries built on this signature are hash-checkable
    * end-to-end; the min is a lexicographic min over lowercase-hex
    * strings, identically ordered in both engines (pure ASCII, binary
    * collation). O(k·|shingles|) hashing — ~2× an xxhash64-based variant
    * (round 1 used one; traded for oracle checkability in round 2). The
    * kernel compares raw digests and hex-encodes only the k winners; an
    * entry with no shingle to hash (empty or null input) is null.
    */
  def md5MinhashSignature(shingleTexts: Column, k: Int): Column =
    kernel(shingleTexts)(Md5MinhashSignature(_, k))

  /** LSH band keys from a minhash signature: md5 of each r-row band with
    * the band index prefixed (`b || '_' || md5(sig[b·r+1] || ',' ...)`).
    * Equal band key ⇒ candidate pair. bands·rows must equal the signature
    * length. Null entries are skipped, as `concat_ws` skips them.
    */
  def md5BandKeys(sig: Column, bands: Int, rows: Int): Column =
    kernel(sig)(Md5BandKeys(_, bands, rows))

  /** Bit i (0-based, MSB-first per hex digit) of an md5 hex string: decode
    * the nibble at position i/4 via its index in "0123456789abcdef" (the
    * DuckDB mirror is `(strpos('0123456789abcdef', substr(h,p,1))-1 >> k)
    * & 1` — md5 hex is the cross-engine-stable 64-bit hash source; see
    * round-2 oracle work). `i` may be a column (HOF lambda) — positions are
    * computed with column arithmetic via `call_function`.
    */
  private def md5Bit(h: Column, i: Column): Column = {
    val pos = (i / lit(4)).cast("int") + 1          // hex char (1-based)
    val k   = lit(3) - pmod(i, lit(4))              // bit within the nibble
    val v   = conv(call_function("substr", h, pos, lit(1)), 16, 10).cast("int")
    call_function("shiftright", v, k).bitwiseAND(lit(1))
  }

  /** 64-bit SimHash over tokens as a 64-char '0'/'1' string: per-bit
    * majority vote of token md5 bits. One pass: fold token hashes into a
    * 64-long vector of signed bit sums (zip_with), then collapse signs
    * into the bitstring. The string representation (rather than packing
    * into a long) keeps the value bit-identical and directly comparable in
    * the DuckDB oracle. All native expressions.
    */
  def simhashBits(text: Column): Column = {
    val hs = transform(tokens(text), t => md5(t))
    val bitIdx = sequence(lit(0), lit(63))
    val sums = aggregate(
      hs,
      array_repeat(lit(0L), 64),
      (acc, h) =>
        zip_with(
          acc,
          transform(bitIdx, i => (md5Bit(h, i) * 2 - 1).cast("long")),
          (a, b) => a + b))
    array_join(transform(sums, s => when(s > 0, "1").otherwise("0")), "")
  }

  /** Hamming distance between two equal-length '0'/'1' bitstrings: a sum
    * of 64 static character comparisons — codegen-friendly (no lambda).
    */
  def hammingBits(a: Column, b: Column, n: Int = 64): Column =
    (1 to n).map(i =>
      when(substring(a, i, 1) =!= substring(b, i, 1), 1).otherwise(0))
      .reduce(_ + _)
      .cast("int")

  /** Deterministic document fingerprint: minimum md5 over word shingles —
    * a 1-permutation MinHash. md5 is bit-identical in DuckDB, so this one
    * IS oracle-checkable, unlike the xxhash64-seeded signature.
    */
  def minShingleFingerprint(text: Column, n: Int): Column =
    array_min(transform(shingles(text, n), s => md5(s)))

  /** Rolling order-sensitive content hash: a left fold chaining each token
    * into an md5 state — `h_i = md5(h_{i-1} || '|' || token_i)` seeded with
    * the first token (a hash-chain fingerprint; reordering any two tokens
    * changes the result, unlike the min-fingerprint). md5 makes it
    * bit-identical in the DuckDB oracle:
    * `list_reduce(tokens, (acc, t) -> md5(acc || '|' || t))` — the
    * first-element seed mirrors list_reduce's no-initial-value semantics.
    * (Round 1 used a 40-bit xxhash64 polynomial ring — order-sensitive too
    * but not oracle-expressible; same per-token O(1) work either way.)
    */
  def rollingHash(text: Column): Column = {
    val tk = tokens(text)
    aggregate(
      slice(tk, lit(2), size(tk)),
      element_at(tk, 1),
      (acc, t) => md5(concat(acc, lit("|"), t)))
  }

  /** Keyword-list categorizer as a native when-chain — the engine twin of
    * the reference's `categorize_description` Python UDF (SURVEY §2.9 U1,
    * ref `data-understanding.py:131-147`): first-match-wins over substring
    * keyword groups, null-safe default. Native expressions keep it inside
    * whole-stage codegen; the reference pays a Python worker per row.
    * Keyword groups are parameters; defaults fit the fixture vocabulary.
    */
  def keywordCategory(
      text: Column,
      groups: Seq[(String, Seq[String])] = Seq(
        "streaming"  -> Seq("stream", "window", "watermark"),
        "relational" -> Seq("join", "merge", "hash")),
      default: String = "scalar"): Column = {
    val lowered = lower(text)
    groups.foldLeft(when(text.isNull, default)) { case (chain, (cat, kws)) =>
      chain.when(kws.map(k => lowered.contains(k)).reduce(_ || _), cat)
    }.otherwise(default)
  }

  /** The reference's dealer categorizer with its exact keyword lists
    * (ref `notebook_to_py/data-understanding.py:131-147`): null → 'Private
    * party', online keywords → 'Online dealership', physical keywords →
    * 'Physical dealership', else 'Private party'.
    *
    * Preserved quirk: the reference checks `'carMax' in description.lower()`
    * — a capital-M needle against lowered text, so that keyword can never
    * match. Reproduced as-is (observable-behavior parity, SURVEY §7.3).
    */
  def dealerCategory(description: Column): Column =
    keywordCategory(
      description,
      Seq(
        "Online dealership" -> Seq("carvana", "vroom", "shift", "carMax"),
        "Physical dealership" -> Seq("finance", "call", "guaranteed",
          "inspection", "test drive", "call us today", "auction",
          "visit our", "automotive")),
      default = "Private party")

  // --- language-ID heuristic (charset/diacritic based) ---------------------

  /** Character-class language guess: CJK ⇒ zh; else diacritic classes for
    * de/es/fr; else en. Deterministic, regex-only, and expressible in the
    * DuckDB oracle with the same regexes.
    */
  def langIdGuess(text: Column): Column =
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(text.rlike("[äöüß]"), "de")
      .when(text.rlike("[ñ¡¿]"), "es")
      .when(text.rlike("[àâçèêëîïôùûœ]"), "fr")
      .otherwise("en")

  /** Stopword ratio: fraction of tokens in a fixed English stopword list. */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")

  def stopwordRatio(text: Column): Column = {
    val tk = tokens(text)
    // null text: size(null) is −1 under non-ANSI, so the ratio is
    // (−1)/(−1) = 1.0; the coalesce keeps that quirk of the original
    // size(filter(tokens, isin)) formulation
    val hits = coalesce(kernel(tk)(CountInSet(_, stopwords)), size(tk))
    when(size(tk) === 0, 0.0).otherwise(hits.cast("double") / size(tk).cast("double"))
  }

  /** BPE-ish subword token count: letter runs, digit runs, single
    * punctuation — the standard pre-tokenizer shape.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Composite quality score in [0,1]: rewards mid-length docs, healthy
    * stopword share and moderate average word length. Pure arithmetic —
    * portable to the SQL oracle.
    */
  def qualityScore(text: Column): Column = {
    val tk       = tokens(text)
    val nTokens  = size(tk).cast("double")
    val nChars   = length(text).cast("double")
    val avgWord  = when(nTokens === 0, 0.0).otherwise(nChars / nTokens)
    val lenScore = least(nTokens / 50.0, lit(1.0))
    val swScore  = least(stopwordRatio(text) * 5.0, lit(1.0))
    val wlScore  = when(avgWord >= 3 && avgWord <= 10, 1.0).otherwise(0.5)
    roundN((lenScore + swScore + wlScore) / 3.0, 4)
  }
}
