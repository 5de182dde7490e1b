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

  /** Spark jobs started while `body` runs. A sentinel job submitted after
    * `body` marks the end: listener events arrive in order, so once the
    * sentinel's end is delivered every earlier job start has been counted.
    */
  def jobsStartedBy(body: => Unit): Int = observe(body)._1

  /** (jobs started, stages completed) while `body` runs; see
    * [[jobsStartedBy]] for how the end is marked.
    */
  def observe(body: => Unit): (Int, Seq[org.apache.spark.scheduler.StageInfo]) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val key = "graft.test.sentinel"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var sentinelId = -1
    @volatile var sentinelStages = Set.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) != null)) {
          sentinelStages = e.stageIds.toSet
          sentinelId = e.jobId
        } else { jobs.incrementAndGet(); () }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (!sentinelStages.contains(e.stageInfo.stageId)) { stages.add(e.stageInfo); () }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelId) done.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(key, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "sentinel job end not delivered within 60 s")
      (jobs.get(), stages.toArray(Array.empty[StageInfo]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

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
