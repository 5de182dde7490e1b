package graft.tools

/** Writes `explain("formatted")` for named [[graft.SparkEntry.queries]]
  * entries to one text file per query — the before/after plan evidence
  * behind the optimization-round notes (plans/r17/). Usage:
  *
  * `sbt 'runMain graft.tools.PlanDump <outDir> <suffix> <name>[,<name>…] [sfDir]'`
  *
  * For streaming gates, additionally set `SPARK_GRAFT_STREAM_PLAN=1` so
  * StreamMeter captures the micro-batch plan (it is opt-in — the capture
  * costs milliseconds inside the gates' timed drains, which the bench
  * must not pay).
  *
  * Each query lands at `<outDir>/<name>_<suffix>.txt`. The session mirrors
  * Bench's (extensions, UTC, ANSI off, shuffle partitions = cores) so the
  * dumped plan is the one the bench times, not a differently-configured
  * twin. Queries whose construction runs driver-side gates (ML verdicts,
  * graph loops) execute those untimed — this tool documents plan shape,
  * not wall time.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <names> [sfDir]")
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val fn = graft.SparkEntry.benchProbes
        .getOrElse(n, graft.SparkEntry.queries(n))
      val df = fn(spark, sfDir)
      // streaming gates: the stream side (state-store operators, state
      // exchange partition counts) only exists in the drained query's
      // own executed plan, which StreamMeter captures at drain time —
      // constructing `df` above already ran the stream. The batch plan
      // of the drained sink is appended after it for completeness.
      val streamPlan = graft.streaming.StreamMeter.lastPlan(n)
        .map(p => s"== Streaming micro-batch plan (StreamMeter capture) ==\n$p\n")
        .getOrElse("")
      val plan = streamPlan + df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
