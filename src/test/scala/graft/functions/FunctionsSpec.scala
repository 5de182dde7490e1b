package graft.functions

import graft.SparkTestBase
import graft.functions.NumericFunctions.roundN
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.functions.HofVectorFunctions.l2NormHof
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("roundN is half-up and stable on decimal-string-ambiguous doubles") {
    // 8285.425 is really 8285.42499999...; Spark's round() gives .43 (string
    // rounding) while the binary value rounds down — roundN pins the binary
    // behavior so the DuckDB oracle can reproduce it exactly.
    val df = Seq(8285.425, 2.5, 2.675, -1.005, 0.0).toDF("x")
      .select(roundN(col("x"), 2).as("r"))
    assert(df.as[Double].collect().toSeq == Seq(8285.42, 2.5, 2.68, -1.0, 0.0))
  }

  test("tokens and shingles") {
    val df = Seq("a b c d", "x y", "").toDF("text")
      .select(shingles(col("text"), 3).as("sh"))
    val got = df.as[Seq[String]].collect().toSeq
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1).isEmpty) // fewer than n tokens
  }

  test("jaccard of shingle sets") {
    val df = Seq(("a b c d", "b c d e")).toDF("x", "y")
      .select(jaccard(shingleSet(col("x"), 2), shingleSet(col("y"), 2)).as("j"))
    // x: {a b, b c, c d}; y: {b c, c d, d e}; inter=2 union=4
    assert(df.as[Double].head() == 0.5)
  }

  test("simhashBits: identical texts collide, different texts differ") {
    val df = Seq("the quick brown fox", "the quick brown fox", "entirely other words here")
      .toDF("text").select(simhashBits(col("text")).as("h"))
    val hs = df.as[String].collect()
    assert(hs.forall(_.matches("[01]{64}")))
    assert(hs(0) == hs(1))
    assert(hs(0) != hs(2))
  }

  test("hammingBits") {
    val df = Seq(("0" * 61 + "111", "0" * 64)).toDF("a", "b")
      .select(hammingBits(col("a"), col("b")).as("d"))
    assert(df.as[Int].head() == 3)
    val same = Seq(("10" * 32, "10" * 32)).toDF("a", "b")
      .select(hammingBits(col("a"), col("b")).as("d"))
    assert(same.as[Int].head() == 0)
  }

  test("rollingHash is order-sensitive and seeds with the first token") {
    val df = Seq("a b c", "c b a").toDF("text").select(rollingHash(col("text")).as("h"))
    val hs = df.as[String].collect()
    assert(hs(0) != hs(1))
    // chain: md5(md5(a|b)|c), mirroring DuckDB list_reduce semantics
    def md5s(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(hs(0) == md5s(md5s("a|b") + "|c"))
    // single-token doc: the token itself (list_reduce no-init semantics)
    val one = Seq("solo").toDF("text").select(rollingHash(col("text")).as("h"))
    assert(one.as[String].head() == "solo")
  }

  test("langIdGuess charset heuristic") {
    val df = Seq("plain english", "straße über", "mañana ¡hola!", "être français", "中文文本")
      .toDF("text").select(langIdGuess(col("text")).as("l"))
    assert(df.as[String].collect().toSeq == Seq("en", "de", "es", "fr", "zh"))
  }

  test("stopwordRatio and qualityScore bounds") {
    val df = Seq("the cat sat on the mat", "", "zzz qqq vvv").toDF("text")
      .select(stopwordRatio(col("text")).as("sw"), qualityScore(col("text")).as("q"))
    val rows = df.collect()
    assert(math.abs(rows(0).getDouble(0) - 2.0 / 6.0) < 1e-12)
    assert(rows(1).getDouble(0) == 0.0)
    rows.foreach(r => assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
  }

  test("bpeishTokenCount splits letter runs, digit runs, punctuation") {
    val df = Seq("abc123, def!").toDF("text").select(bpeishTokenCount(col("text")).as("n"))
    // abc | 123 | , | def | ! = 5
    assert(df.as[Int].head() == 5)
  }

  test("dot / l2Norm / cosine on known vectors") {
    val df = Seq((Seq(1.0, 2.0, 2.0), Seq(2.0, 4.0, 4.0)), (Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)))
      .toDF("a", "b")
      .select(dot(col("a"), col("b")).as("d"), l2Norm(col("a")).as("n"), cosine(col("a"), col("b")).as("c"))
    val rows = df.collect()
    assert(rows(0).getDouble(0) == 18.0)
    assert(rows(0).getDouble(1) == 3.0)
    assert(math.abs(rows(0).getDouble(2) - 1.0) < 1e-12) // parallel vectors
    assert(rows(1).getDouble(2) == 0.0)                  // orthogonal
  }

  test("codegen graft_dot/graft_l2norm match the HOF formulations incl. null semantics") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),   // plain
      (Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)),        // length mismatch → null
      (Seq(0.1, -0.7, 0.33), Seq(1e300, 2.0, -3.5))) // magnitudes
      .toDF("a", "b")
      .select(
        dot(col("a"), col("b")).as("fast"),
        dotHof(col("a"), col("b")).as("hof"),
        l2Norm(col("a")).as("nfast"),
        l2NormHof(col("a")).as("nhof"))
    df.collect().foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1)) // bit-identical
      assert(r.getDouble(2) == r.getDouble(3))
    }
    // and the expression really is codegen'd, not CodegenFallback (use a
    // non-foldable source — a literal frame constant-folds to a LocalTableScan)
    val plan = spark.range(10)
      .select(array(col("id").cast("double")).as("a"))
      .select(dot(col("a"), col("a")).as("d"))
      .queryExecution.executedPlan.toString
    // '*(n)' prefixes mark whole-stage-codegen'd operators in treeString;
    // a CodegenFallback expression would force a plain (unstarred) Project
    assert(plan.contains("*(1) Project [graft_dot"))
    // composition regression: a dot and two norms in ONE projection share
    // the generated method — duplicate codegen locals would fail janino
    // and silently fall back to interpreted
    val composed = spark.range(10)
      .select(array(col("id").cast("double"), lit(2.0)).as("a"),
        array(lit(3.0), col("id").cast("double")).as("b"))
      .select((dot(col("a"), col("b")) / (l2Norm(col("a")) * l2Norm(col("b")))).as("cos"))
    val cplan = composed.queryExecution.executedPlan.toString
    assert(cplan.contains("*(1) Project"))
    assert(composed.collect().length == 10)
  }

  test("cosine is 0 (not NaN) on zero vectors") {
    val df = Seq((Seq(0.0, 0.0), Seq(1.0, 1.0))).toDF("a", "b")
      .select(cosine(col("a"), col("b")).as("c"))
    assert(df.as[Double].head() == 0.0)
  }

  test("signBucket uses sign of leading dims") {
    val df = Seq(Seq(1.0, -2.0, 3.0, -4.0)).toDF("v")
      .select(signBucket(col("v"), 4).as("b"))
    assert(df.as[String].head() == "1010")
  }

  test("keywordCategory: native when-chain matches an equivalent Scala UDF (U1)") {
    val cats = Seq("streaming" -> Seq("stream", "window", "watermark"),
      "relational" -> Seq("join", "merge", "hash"))
    val refUdf = udf((s: String) =>
      if (s == null) "scalar"
      else cats.collectFirst {
        case (c, kws) if kws.exists(s.toLowerCase.contains) => c
      }.getOrElse("scalar"))
    val df = Seq("big stream of rows", "hash join plan", "plain scan", null)
      .toDF("text")
      .select(keywordCategory(col("text")).as("native"), refUdf(col("text")).as("viaUdf"))
    df.collect().foreach(r => assert(r.getString(0) == r.getString(1)))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("streaming", "relational", "scalar", "scalar"))
  }

  test("minShingleFingerprint matches min of md5 shingles") {
    val df = Seq("a b c d").toDF("text")
      .select(minShingleFingerprint(col("text"), 3).as("fp"),
        transform(shingles(col("text"), 3), s => md5(s)).as("all"))
    val r = df.head()
    assert(r.getString(0) == r.getSeq[String](1).min)
  }
}
