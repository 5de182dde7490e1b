package graft.core

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-row task-time profile of a benchmark: a listener that sums, for
  * each timed (row, run) span, the Spark work that span caused.
  *
  * A job belongs to the span open when the job started. The caller times
  * one span at a time, so this also covers jobs started on pool and stream
  * threads, which carry no job group. A stage belongs to the first job
  * that listed it: a stage an adaptive plan or a cached shuffle reuses
  * counts once, where it ran. Listener callbacks arrive on the bus thread
  * and every access is synchronized; read [[profiles]] only after the
  * session stopped, since stopping delivers every event still queued.
  */
final class QueryProfile extends SparkListener {
  import QueryProfile.Profile

  private final class Span(val key: (String, Int), val startMs: Long) {
    var endMs = Long.MaxValue
  }
  private final class StageRec {
    var submitMs, completeMs = -1L
    var tasks, maxRunMs, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, fetchWaitMs,
        spill, input = 0L
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Seq[Int])]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]

  /** Runs `body` as run `run` of row `row`. */
  def timed[T](row: String, run: Int)(body: => T): T = {
    val s = new Span((row, run), System.currentTimeMillis())
    synchronized { spans += s }
    try body finally synchronized { s.endMs = System.currentTimeMillis() }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += ((e.time, e.stageIds))
  }

  private def stage(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt), new StageRec)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId, e.stageInfo.attemptNumber()).submitMs =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId, e.stageInfo.attemptNumber()).completeMs =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = stage(e.stageId, e.stageAttemptId)
    r.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      r.maxRunMs = math.max(r.maxRunMs, m.executorRunTime)
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      r.spill += m.diskBytesSpilled
      r.input += m.inputMetrics.bytesRead
    }
  }

  /** The profile of every (row, run) span, keyed by both. */
  def profiles: Map[(String, Int), Profile] = synchronized {
    // the span open at time t; spans never overlap, except at the one
    // millisecond where the next starts, which takes the job
    def owner(t: Long): Option[Span] =
      spans.findLast(s => s.startMs <= t && t <= s.endMs)
    val jobSpans = jobs.toSeq.map { case (t, ids) => (owner(t), ids) }
    val stageSpan = mutable.Map.empty[Int, Option[Span]]
    jobSpans.foreach { case (s, ids) => ids.foreach(stageSpan.getOrElseUpdate(_, s)) }
    val stagesOf = stages.toSeq.groupBy { case ((id, _), _) => stageSpan.get(id).flatten }
    spans.map { s =>
      val st = stagesOf.getOrElse(Some(s), Nil).map(_._2)
      val wallMs = s.endMs - s.startMs
      val busyMs = unionMs(st.filter(_.submitMs >= 0).map(r =>
        (math.max(r.submitMs, s.startMs),
          math.min(if (r.completeMs >= 0) r.completeMs else s.endMs, s.endMs))))
      s.key -> Profile(
        jobs = jobSpans.count(_._1.contains(s)),
        stages = st.count(_.submitMs >= 0),
        tasks = st.map(_.tasks).sum,
        maxTaskS = st.map(_.maxRunMs).maxOption.getOrElse(0L) / 1e3,
        taskRunS = st.map(_.runMs).sum / 1e3,
        taskCpuS = st.map(_.cpuNs).sum / 1e9,
        taskGcS = st.map(_.gcMs).sum / 1e3,
        shuffleReadBytes = st.map(_.shuffleRead).sum,
        shuffleWriteBytes = st.map(_.shuffleWrite).sum,
        fetchWaitS = st.map(_.fetchWaitMs).sum / 1e3,
        spillBytes = st.map(_.spill).sum,
        inputBytes = st.map(_.input).sum,
        driverGapS = math.max(0L, wallMs - busyMs) / 1e3)
    }.toMap
  }

  /** Union length of [a, b] intervals, in their unit. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }
}

object QueryProfile {

  /** What one span's Spark work added up to. Times are seconds; task
    * times are summed over tasks, so they exceed the wall when tasks run
    * in parallel.
    */
  final case class Profile(
      jobs: Int, stages: Int, tasks: Long, maxTaskS: Double,
      taskRunS: Double, taskCpuS: Double, taskGcS: Double,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, fetchWaitS: Double,
      spillBytes: Long, inputBytes: Long, driverGapS: Double) {

    def tilted: Boolean = QueryProfile.tilted(taskRunS, taskCpuS, taskGcS)

    def json: String = {
      def r3(x: Double) = math.round(x * 1000) / 1000.0
      Seq("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
        "max_task_s" -> r3(maxTaskS), "task_run_s" -> r3(taskRunS),
        "task_cpu_s" -> r3(taskCpuS), "task_gc_s" -> r3(taskGcS),
        "off_cpu_share" -> r3(offCpuShare(taskRunS, taskCpuS, taskGcS)),
        "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
        "fetch_wait_s" -> r3(fetchWaitS), "spill_bytes" -> spillBytes,
        "input_bytes" -> inputBytes, "driver_gap_s" -> r3(driverGapS))
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    }
  }

  /** Share of task run time spent neither on the CPU nor in GC pauses:
    * waiting for a core, for the disk or for a lock.
    */
  def offCpuShare(taskRunS: Double, taskCpuS: Double, taskGcS: Double): Double =
    if (taskRunS <= 0) 0.0 else (taskRunS - taskCpuS - taskGcS) / taskRunS

  /** Off-CPU share above which a row reads as tilted. On quiet sf0.1
    * legs at local[4] on a 4-core host, rows over [[minTaskRunS]] read
    * 0.08–0.29 and the suite's sum 0.20–0.24; four competing busy
    * processes lifted the headline rows to 0.49–0.62 and their sum to
    * 0.54–0.55. 0.375 sits between the two and is exact in binary.
    */
  val maxOffCpuShare: Double = 0.375

  /** Task run seconds a row needs before its share counts. On the same
    * quiet legs the small rows' shares scatter: ML fits with 2–3 s of
    * task time read up to 0.34, and the streaming rows 0.36–0.81 with at
    * most 5.3 s. 8 s keeps every one of them out on a quiet host with
    * room to spare, while a starved host stretches task time past it
    * (sample_loading 6.3 → 10.0 s).
    */
  val minTaskRunS: Double = 8.0

  /** A host or row reads as tilted when its tasks spent more than
    * [[maxOffCpuShare]] of their run time off the CPU, over more than
    * [[minTaskRunS]] of task time.
    */
  def tilted(taskRunS: Double, taskCpuS: Double, taskGcS: Double): Boolean =
    taskRunS > minTaskRunS && offCpuShare(taskRunS, taskCpuS, taskGcS) > maxOffCpuShare
}
