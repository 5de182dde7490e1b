package graft

import graft.functions.TextFunctions._
import graft.operators.DedupOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style invariants over ScalaCheck-generated corpora
  * (SURVEY §5.2 item 4). Data is generated once per suite and evaluated
  * wholesale in a handful of Spark jobs — per-sample jobs would make the
  * suite minutes long for no extra coverage.
  */
class PropertiesSpec extends SparkTestBase {
  import spark.implicits._

  private val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa")
  private val docGen = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, wordGen))
    .map(_.mkString(" "))

  private def sample(n: Int): Seq[String] = {
    val params = Gen.Parameters.default
    (0 until n).flatMap(i => docGen.apply(params, Seed(i.toLong)))
  }

  private lazy val corpus = sample(80).zipWithIndex
    .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text").cache()

  test("jaccard: j(a,a)=1 on non-empty shingle sets; 0 ≤ j ≤ 1; symmetric") {
    val sh = corpus.select(col("doc_id"), shingleSet(col("text"), 2).as("sh"))
      .filter(size(col("sh")) > 0)
    val self = sh.select(jaccard(col("sh"), col("sh")).as("j"))
    assert(self.filter(col("j") =!= 1.0).count() == 0)

    val pairs = sh.as("a").crossJoin(sh.as("b"))
      .select(
        jaccard(col("a.sh"), col("b.sh")).as("jab"),
        jaccard(col("b.sh"), col("a.sh")).as("jba"))
    assert(pairs.filter(col("jab") < 0 || col("jab") > 1).count() == 0)
    assert(pairs.filter(col("jab") =!= col("jba")).count() == 0)
  }

  test("simhash: hamming(a,a)=0 and hamming ≤ 64 on all pairs") {
    val hs = corpus.select(simhashBits(col("text")).as("h"))
    val pairs = hs.as("a").crossJoin(hs.as("b"))
      .select(hammingBits(col("a.h"), col("b.h")).as("d"))
    assert(pairs.filter(col("d") < 0 || col("d") > 64).count() == 0)
    assert(hs.select(hammingBits(col("h"), col("h")).as("d"))
      .filter(col("d") =!= 0).count() == 0)
  }

  test("exact dedup is idempotent and never increases distinct texts") {
    val t2 = graft.core.Tables(spark, writeDocs(corpus))
    val once = DedupOps.exactDedup(t2)
    assert(once.count() == corpus.select("text").distinct().count())
  }

  test("filter algebra: chained == conjunction == SQL where, on generated numerics") {
    val nums = sample(200).indices.map(i => (i.toLong, (i * 37 % 101).toDouble))
      .toDF("k", "v")
    val a = nums.filter(col("v") >= 20).filter(col("v") <= 80).count()
    val b = nums.filter(col("v") >= 20 && col("v") <= 80).count()
    nums.createOrReplaceTempView("props_nums")
    val c = spark.sql("SELECT count(*) FROM props_nums WHERE v >= 20 AND v <= 80")
      .head().getLong(0)
    assert(a == b && b == c)
  }

  test("tau-threshold weighted sample equals top-k at every k regime") {
    // k far below, around, at, and past the corpus size — the sketch
    // headroom, the escalation loop, and the degenerate full-corpus case
    // must all reproduce the TakeOrderedAndProject sample exactly
    val n = t.documents.count().toInt
    Seq(1, 3, n / 2, n, n + 7).foreach { k =>
      val a = graft.operators.PackingOps.weightedSampleTau(t, k)
        .collect().map(_.toSeq).toSeq
      val b = graft.operators.PackingOps.weightedSample(t, k)
        .collect().map(_.toSeq).toSeq
      assert(a == b, s"tau path diverged from top-k at k=$k")
    }
  }

  test("union counts add; except removes at most the subtrahend") {
    val xs = sample(100).indices.map(_.toLong).toDF("x")
    val lo = xs.filter(col("x") < 30)
    val hi = xs.filter(col("x") >= 30)
    assert(lo.unionAll(hi).count() == xs.count())
    assert(xs.except(lo).count() >= xs.distinct().count() - lo.distinct().count())
  }

  private def writeDocs(df: org.apache.spark.sql.DataFrame): String = {
    val dir = graft.core.Tables.scratchDir("graft-prop-")
    df.withColumn("lang", lit("en")).withColumn("source", lit("gen"))
      .withColumn("n_chars", length(col("text")))
      .write.parquet(s"$dir/documents.parquet")
    dir
  }
}
