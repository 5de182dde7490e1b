package perfbench

import java.util.{LinkedHashMap => JMap}

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Attributes Spark jobs, Spark stages and task metrics to the benchmark's
  * spans. A job belongs to the span id it carries in its local properties;
  * a job started on a thread that did not inherit them (a program's own
  * thread pool) belongs to the span open when it started, since one caller
  * runs the stages one after another. A Spark stage belongs to the first job
  * that ran it. Listener callbacks arrive on the listener-bus thread; every
  * access is synchronized, and [[report]] runs only after [[awaitSpanJobEnd]]
  * has seen the last job of the pass, so the bus has delivered everything
  * before it.
  */
final class Tracer extends SparkListener {
  final class JobRec(val id: Int, val span: String, val startMs: Long, val stageIds: Seq[Int],
                     val callSite: String) {
    var endMs = -1L
  }
  final class StageRec(val id: Int) {
    var submitMs = -1L
    var completeMs = -1L
    var tasks = 0
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).map(_.getProperty(Harness.SpanProperty)).orNull
    // the result stage is created last, so it has the highest id; its
    // details are the job's call stack
    val callSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time, e.stageIds, callSite)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    notifyAll()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    notifyAll()
  }

  private def stageRec(stageId: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((stageId, attempt), new StageRec(stageId))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageRec(e.stageInfo.stageId, e.stageInfo.attemptNumber()).submitMs =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val r = stageRec(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    if (r.submitMs < 0) r.submitMs = e.stageInfo.submissionTime.getOrElse(-1L)
    r.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = stageRec(e.stageId, e.stageAttemptId)
    r.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.spillBytes += m.diskBytesSpilled
    }
  }

  /** Wait until a job started inside a span named `name` has ended. The bus
    * delivers events in order, so every earlier event has arrived too. */
  def awaitSpanJobEnd(name: String, timeoutMs: Long): Unit = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = jobs.values.exists(j => j.span != null && j.span.startsWith(name + "#") && j.endMs >= 0)
    while (!done && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    require(done, s"trace: no job end seen for span $name within ${timeoutMs}ms")
  }

  /** Union length (ms) of intervals clipped to [lo, hi]. */
  private def unionMs(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }

  /** One reported stage: a named set of wall intervals and the jobs run in
    * them. */
  private case class Reported(name: String, intervals: Seq[(Long, Long, Double)], jobIds: Set[Int])

  /** Per-stage counters plus the raw spans. A span named in `splits` is
    * reported as its two phases instead of as itself. */
  def report(run: Run, splits: Seq[Tracer.Split]): JMap[String, Any] = synchronized {
    val spanById = run.spans.map(s => s.id -> s).toMap
    def owner(j: JobRec): Option[run.Span] =
      Option(j.span).flatMap(spanById.get)
        .orElse(run.spans.find(s => s.startMs <= j.startMs && j.startMs <= s.endMs))
    val jobSpan = jobs.values.flatMap(j => owner(j).map(j.id -> _)).toMap
    val problems = mutable.ArrayBuffer.empty[String]
    val unattributed = jobs.keys.filterNot(jobSpan.contains)
    if (unattributed.nonEmpty)
      problems += s"jobs ${unattributed.take(10).mkString(",")} not attributed to a stage span"

    val units = run.spans.groupBy(_.name).toSeq.flatMap { case (name, ss) =>
      def jobsOf(s: run.Span) = jobSpan.collect { case (j, sp) if sp.id == s.id => j }.toSet
      splits.find(_.span == name) match {
        case None =>
          Seq(Reported(name, ss.map(s => (s.startMs, s.endMs, s.wallS)).toSeq, ss.flatMap(jobsOf).toSet))
        case Some(split) =>
          val parts = ss.toSeq.map { s =>
            val js = jobsOf(s)
            val marks = js.filter(j => split.inSecond(jobs(j).callSite)).map(jobs(_).startMs)
            val cut = if (marks.isEmpty) s.endMs else math.max(s.startMs, marks.min)
            val (second, first) = js.partition(jobs(_).startMs >= cut)
            if (first.isEmpty || second.isEmpty)
              problems += s"span ${s.id}: ${first.size} jobs for ${split.first}, ${second.size} for ${split.second}"
            ((s.startMs, cut, (cut - s.startMs) / 1e3), first, (cut, s.endMs, (s.endMs - cut) / 1e3), second)
          }
          Seq(Reported(split.first, parts.map(_._1), parts.flatMap(_._2).toSet),
            Reported(split.second, parts.map(_._3), parts.flatMap(_._4).toSet))
      }
    }

    val out = new JMap[String, Any]()
    out.put("problems", Harness.jlist(problems))
    val stageMetrics = new JMap[String, Any]()
    units.foreach { u =>
      val st = stages.values.filter(r => stageJob.get(r.id).exists(u.jobIds) && r.submitMs >= 0)
      val busyMs = u.intervals.map { case (lo, hi, _) =>
        unionMs(st.map(r => (r.submitMs, if (r.completeMs >= 0) r.completeMs else hi)), lo, hi)
      }.sum
      val wall = u.intervals.map(_._3).sum
      stageMetrics.put(u.name, Harness.jmap(
        "s" -> wall,
        "jobs" -> u.jobIds.size,
        "tasks" -> st.map(_.tasks).sum,
        "driver_gap_s" -> math.max(0.0, wall - busyMs / 1e3),
        "exec_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
        "gc_s" -> st.map(_.gcMs).sum / 1e3,
        "shuffle_mb" -> st.map(_.shuffleWriteBytes).sum / 1e6,
        "spill_mb" -> st.map(_.spillBytes).sum / 1e6))
    }
    out.put("stages", stageMetrics)
    out.put("spill_mb", stages.values.map(_.spillBytes).sum / 1e6)
    // raw spans: run -> stage span -> Spark job -> Spark stage
    out.put("spans", Harness.jlist(run.spans.map(s => Harness.jmap(
      "id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "jobs" -> Harness.jlist(jobs.values.filter(j => jobSpan.get(j.id).exists(_.id == s.id)).map(j =>
        Harness.jmap(
          "job" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "call_site" -> j.callSite.linesIterator.find(_.contains("graft.")).orNull,
          "stages" -> Harness.jlist(stages.values.filter(r => stageJob.get(r.id).contains(j.id))
            .map(r => Harness.jmap("stage" -> r.id, "submit_ms" -> r.submitMs,
              "complete_ms" -> r.completeMs, "tasks" -> r.tasks, "cpu_s" -> r.cpuNs / 1e9,
              "gc_s" -> r.gcMs / 1e3, "shuffle_mb" -> r.shuffleWriteBytes / 1e6))))))))))
    out
  }
}

object Tracer {
  /** Reports the span `span`, which wraps one call into the program, as two
    * phases in time: `second` starts with the span's first job whose call
    * stack satisfies `inSecond` and holds every job from then on; `first`
    * holds the jobs before it. A split that leaves either phase without jobs
    * is a trace problem. */
  final case class Split(span: String, first: String, second: String, inSecond: String => Boolean)
}
