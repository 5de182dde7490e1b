package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The frozen-tokenizer OOV encode (round-16 verdict item 2): a trained
  * merge table must encode words it never saw by replaying the merges
  * rank by rank — not drop them via the dict inner join. Pinned here:
  *
  *  - the REPLAY THEOREM: applying the learned merges in rank order to a
  *    word that WAS in training reproduces its final dict seq exactly,
  *    for every trained word — dict-join and merge-replay are one
  *    function;
  *  - path parity: the codegen expression chain and the broadcast
  *    mapPartitions replay agree word-for-word (the two regimes of
  *    [[TextOps.bpeEncodeExprThreshold]]);
  *  - the gate's contract: the held-out split yields OOV words and every
  *    one of them contributes tokens.
  */
class BpeEncodeOovSpec extends SparkTestBase {

  private def trained(n: Int) = {
    val d0 = TextOps.bpeDict0(t)
      .filter(substring(md5(col("w")), 1, 1) <= "7")
    TextOps.bpeTrainOnDriver(spark, d0, n)
  }

  test("replay theorem: rank-ordered merge application reproduces every trained word's dict seq") {
    val (dict, learned) = trained(5)
    val merges = learned.map(m => (m._2, m._3)).toArray
    val rows = dict.select("w", "seq").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val replay = TextOps.bpeApplyMerges(r.getString(0), merges)
      assert(replay == r.getString(1),
        s"word '${r.getString(0)}': replay '$replay' != dict '${r.getString(1)}'")
    }
  }

  test("expression and broadcast-replay encode paths agree word-for-word") {
    import spark.implicits._
    val (_, learned) = trained(5)
    val merges = learned.map(m => (m._2, m._3))
    // the full corpus vocabulary, held-out words included
    val words = TextOps.bpeDict0(t).select("w")
    val viaExpr = words
      .select(col("w"), TextOps.bpeEncodeSeqColumn(col("w"), merges).as("seq"))
      .as[(String, String)].collect().toMap
    val viaReplay = TextOps.bpeEncodeWordsReplay(words, merges)
      .as[(String, String)].collect().toMap
    assert(viaExpr == viaReplay)
  }

  test("OOV gate: held-out words are encoded, not dropped, and totals reconcile with the seen-only encode") {
    val rows = TextOps.bpeEncodeOov(t).collect()
    assert(rows.nonEmpty)
    val oovWords = rows.map(_.getAs[Long]("n_oov_words")).sum
    val oovToks = rows.map(_.getAs[Long]("n_oov_tokens")).sum
    assert(oovWords > 0, "fixture split must hold out some vocabulary")
    assert(oovToks >= oovWords, "every OOV word encodes to >= 1 token")
    // totals cover the WHOLE corpus: n_words must equal the corpus
    // whitespace-word count per language (nothing inner-joined away)
    val want = t.documents
      .select(col("lang"), explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_words") == want(r.getString(0)),
        s"lang ${r.getString(0)}: OOV encode lost corpus words")
    }
  }

  test("above the expression threshold the gate routes through the broadcast replay with identical output") {
    // same merges, both regimes forced via the threshold route inside
    // bpeEncodeOov's structure: compare the gate (expr regime at 5
    // merges) against a hand-assembled replay-regime aggregation
    import spark.implicits._
    val (dict, learned) = trained(5)
    val merges = learned.map(m => (m._2, m._3))
    val enc = dict.select(col("w"), size(split(col("seq"), " ")).as("n_toks"))
    val lw = t.documents
      .select(col("lang"), explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("lang", "w").agg(count(lit(1)).as("freq"))
    val joined = lw.join(enc, Seq("w"), "left")
    val oovEnc = TextOps.bpeEncodeWordsReplay(
        joined.filter(col("n_toks").isNull).select("w").distinct(), merges)
      .select(col("w"), size(split(col("seq"), " ")).as("n_toks_oov"))
    val replayRows = joined.join(oovEnc, Seq("w"), "left")
      .withColumn("n_tok_all", coalesce(col("n_toks"), col("n_toks_oov")))
      .withColumn("oov", col("n_toks").isNull)
      .groupBy("lang")
      .agg(
        sum(col("freq")).cast("long").as("n_words"),
        sum(when(col("oov"), col("freq")).otherwise(lit(0L)))
          .cast("long").as("n_oov_words"),
        sum(col("freq") * col("n_tok_all")).cast("long").as("n_tokens"),
        sum(when(col("oov"), col("freq") * col("n_tok_all")).otherwise(lit(0L)))
          .cast("long").as("n_oov_tokens"))
      .orderBy("lang")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    val gateRows = TextOps.bpeEncodeOov(t)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(gateRows == replayRows)
  }
}
