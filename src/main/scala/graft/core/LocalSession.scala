package graft.core

import org.apache.spark.sql.SparkSession

/** The one local-session policy of the engine's mains (Verify, Bench, the
  * tools) and the test session, so the settings cannot drift between them.
  * Callers add their own settings and call `getOrCreate()`.
  */
object LocalSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // per-fit pools share cores fairly (PricePipeline.metricsTable);
      // single-pool queries behave as FIFO
      .config("spark.scheduler.mode", "FAIR")
      // reference dirty-CSV semantics: bad casts -> null (SURVEY 1.2/7.3)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")

  /** Stops `spark` after its state-store maintenance task. That task
    * outlives `spark.stop()` otherwise, and its next run fails with
    * "SparkEnv not active, cannot do maintenance on StateStores".
    */
  def stop(spark: SparkSession): Unit = {
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()
  }
}
