package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The compiled text kernels against the higher-order-function chains
  * they replaced ([[HofTextFunctions]]): equal values on edge cases and on
  * every fixture document, equal Spark types, in generated and in
  * interpreted evaluation.
  */
class TextExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  private val K = TextFunctions
  private val H = HofTextFunctions

  /** (name, kernel column, reference column) for shingle width n. */
  private def cases(text: Column, n: Int): Seq[(String, Column, Column)] = {
    val kSig = K.md5MinhashSignature(K.shingleSet(text, n), 16)
    val hSig = H.md5MinhashSignature(H.shingleSet(text, n), 16)
    Seq(
      ("shingles", K.shingles(text, n), H.shingles(text, n)),
      ("shingleSet", K.shingleSet(text, n), H.shingleSet(text, n)),
      ("shingleHashSet", K.shingleHashSet(text, n), H.shingleHashSet(text, n)),
      ("hashEach", K.hashEach(K.shingles(text, n)), H.hashEach(H.shingles(text, n))),
      ("signature", kSig, hSig),
      ("bandKeys", K.md5BandKeys(kSig, 8, 2), H.md5BandKeys(hSig, 8, 2)),
      ("stopwordRatio", K.stopwordRatio(text), H.stopwordRatio(text))
    ).map { case (name, k, h) => (s"${name}_$n", k, h) }
  }

  private def select(df: DataFrame, cs: Seq[(String, Column, Column)]): DataFrame =
    df.select(cs.flatMap { case (name, k, h) => Seq(k.as(s"k_$name"), h.as(s"h_$name")) }: _*)

  private def assertSameTypes(df: DataFrame, cs: Seq[(String, Column, Column)]): Unit =
    cs.foreach { case (name, _, _) =>
      val (k, h) = (df.schema(s"k_$name"), df.schema(s"h_$name"))
      assert(k.dataType == h.dataType && k.nullable == h.nullable,
        s"$name: kernel ${k.dataType} nullable=${k.nullable}, chain ${h.dataType} nullable=${h.nullable}")
    }

  private def assertSameRows(df: DataFrame, cs: Seq[(String, Column, Column)], what: String): Unit =
    df.collect().foreach { r =>
      cs.indices.foreach { i =>
        assert(r.get(2 * i) == r.get(2 * i + 1),
          s"$what, ${cs(i)._1}: kernel ${r.get(2 * i)} vs chain ${r.get(2 * i + 1)}")
      }
    }

  /** Runs `body` with whole-stage generated code (no fallback to the
    * interpreter on a compile error), then fully interpreted.
    */
  private def inBothEvaluators(body: String => Unit): Unit =
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach { case (mode, wholeStage) =>
      val keys = Seq("spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> wholeStage,
        "spark.sql.codegen.fallback" -> "false")
      val prev = keys.map { case (key, _) => key -> spark.conf.getOption(key) }
      keys.foreach { case (key, v) => spark.conf.set(key, v) }
      try body(mode)
      finally prev.foreach {
        case (key, Some(v)) => spark.conf.set(key, v)
        case (key, None) => spark.conf.unset(key)
      }
    }

  private val edgeTexts: Seq[String] = Seq(
    null, "", " ", "\t\n", "a", "a b", "a b c", "a b c d e",
    " a b c", "a b c ", "  a  b   c  ", "a\tb\nc\r\nd e",
    "a b a b a b a b", "the cat and the cat and the cat",
    "é ü 中文 日本語 😀 ß", "naïve café  déjà vu über",
    "of the and to in is it for a an the")

  test("kernels equal the higher-order chains on edge-case texts, n = 1, 2, 3") {
    // repartition: keeps the projection above an exchange, so it is not
    // folded into a local relation at optimization time
    val docs = edgeTexts.toDF("text").repartition(3)
    inBothEvaluators { mode =>
      (1 to 3).foreach { n =>
        val cs = cases(col("text"), n)
        assertSameRows(select(docs, cs), cs, s"$mode, n=$n")
      }
    }
  }

  test("array kernels equal the chains on null, empty and null-bearing arrays") {
    val arrays = Seq[Seq[String]](null, Seq(), Seq(null), Seq(null, null),
      Seq("a", null, "b"), Seq("x y z", "é 中", ""), Seq.fill(3)("same"))
      .toDF("arr").repartition(2)
    val cs = Seq(
      ("hashEach", K.hashEach(col("arr")), H.hashEach(col("arr"))),
      ("signature", K.md5MinhashSignature(col("arr"), 4), H.md5MinhashSignature(col("arr"), 4)),
      ("bandKeys", K.md5BandKeys(col("arr"), 2, 2), H.md5BandKeys(col("arr"), 2, 2)),
      ("bandKeysPastEnd", K.md5BandKeys(col("arr"), 3, 2), H.md5BandKeys(col("arr"), 3, 2)))
    inBothEvaluators { mode =>
      val df = select(arrays, cs)
      assertSameTypes(df, cs)
      assertSameRows(df, cs, mode)
    }
  }

  test("kernels equal the chains on every sf0.001 document") {
    val docs = t.documents
    val all = (1 to 3).flatMap(n => cases(col("text"), n))
    val mismatches = docs.select(all.map { case (name, k, h) =>
      sum(when(k <=> h, 0).otherwise(1)).as(name)
    } :+ count(lit(1)).as("docs"): _*).head()
    assert(mismatches.getAs[Long]("docs") > 0)
    all.foreach { case (name, _, _) =>
      assert(mismatches.getAs[Long](name) == 0L, s"$name differs on ${mismatches.getAs[Long](name)} docs")
    }
  }

  test("kernels keep the chains' Spark types, containsNull included, n = 1, 2, 3") {
    val docs = edgeTexts.toDF("text")
    (1 to 3).foreach { n =>
      val cs = cases(col("text"), n)
      assertSameTypes(select(docs, cs), cs)
      // a non-nullable text column keeps the same nullability too
      val lit1 = cases(lit("a b c"), n)
      assertSameTypes(select(docs, lit1), lit1)
    }
    // n = 1: no zip_with, so the shingle elements are non-null
    assert(edgeTexts.toDF("text").select(K.shingles(col("text"), 1)).schema.head.dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, containsNull = false))
  }

  test("stopwordRatio(null) stays 1.0: size(null) is -1 under non-ANSI") {
    val r = Seq[String](null, "", "the cat").toDF("text").repartition(2)
      .select(col("text"), K.stopwordRatio(col("text")).as("r")).collect()
      .map(row => Option(row.getString(0)) -> row.getDouble(1)).toMap
    assert(r == Map(None -> 1.0, Some("") -> 0.0, Some("the cat") -> 0.5))
  }

  test("the signature on 16 concurrent partitions equals the one-partition result") {
    // four executor threads hash concurrently; each must use its own digest
    def sigs(df: DataFrame): Seq[Row] =
      df.select(col("doc_id"), K.md5MinhashSignature(K.shingleSet(col("text"), 3), 16).as("sig"))
        .orderBy("doc_id").collect().toSeq
    val docs = t.documents
    val one = sigs(docs.repartition(1))
    val many = sigs(docs.repartition(16))
    assert(one.nonEmpty && one == many)
  }
}
