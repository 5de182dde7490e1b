package graft

import graft.core.Tables
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM — Spark startup
  * is ~5 s, so per-suite sessions would dominate the run.
  */
object TestSpark {
  lazy val spark: SparkSession = graft.core.LocalSession.builder("4")
    .appName("graft-tests")
    .config("spark.sql.warehouse.dir",
      Tables.scratchDir("graft-warehouse-"))
    .getOrCreate()

  lazy val sf0001: Tables = Tables(spark, "/root/testdata/sf0.001")
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  lazy val t: Tables = TestSpark.sf0001

  /** The `Input [...]` column list of every Exchange node in `df`'s
    * formatted plan — the shared parser behind the "this shuffle carries
    * digests/codes, never text/arrays" assertions.
    */
  def exchangeInputs(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .split("""\(\d+\) Exchange""").toSeq.drop(1)
      .map(_.linesIterator.find(_.trim.startsWith("Input")).getOrElse(""))
}
