package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.util.{LinkedHashMap => JMap, ArrayList => JList}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{Row, SparkSession}

/** One pass of one workload in a fresh JVM.
  *
  *   Harness <workload> <dataDir> <workDir> <job.json> <out.json> <trace 0|1>
  *
  * Builds the session, then runs the workload's stages once, calling the
  * program's public functions stage by stage. Every stage runs inside a
  * span. With trace 1 a [[Tracer]] is registered and attributes Spark jobs,
  * stages and task metrics to the spans; with trace 0 no listener is
  * installed. Outputs the checks need are gathered after the timed pass,
  * and the result goes to `out.json`.
  */
object Harness {
  val SpanProperty = "perfbench.span"

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, jobPath, outPath, traceArg) = args
    val mapper = new ObjectMapper()
    val job = mapper.readTree(new File(jobPath))
    val nproc = Runtime.getRuntime.availableProcessors
    val trace = traceArg == "1"
    // a traced pass classifies jobs by their call site (Tracer.Split), which
    // needs the stack down to the program's frames; Spark keeps 20 by default
    if (trace) System.setProperty("spark.callstack.depth", "200")
    // semantics and deployment settings only: no tuning, so tuning done in
    // program code is what the benchmark measures
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    // the injected functions resolve only once the extensions are applied
    require(spark.catalog.functionExists("graft_dot"), "GraftExtensions not installed")
    val readyEpochS = {
      val now = java.time.Instant.now()
      now.getEpochSecond + now.getNano / 1e9
    }
    val out = new JMap[String, Any]()
    out.put("ready_epoch_s", readyEpochS)
    out.put("env", env(spark, nproc))
    locally {
      val tracer = if (trace) Some(new Tracer) else None
      tracer.foreach(spark.sparkContext.addSparkListener)
      val run = new Run(spark)
      val outputs = new JMap[String, Any]()
      val cpu = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val heap = new HeapPeak
      val cpu0 = cpu.getProcessCpuTime
      val t0 = System.nanoTime()
      val checks = workload match {
        case "vehicles" => Workloads.vehicles(run, dataDir, job, outputs)
        case "intake"   => Workloads.intake(run, dataDir, trace, outputs)
      }
      val runS = (System.nanoTime() - t0) / 1e9
      val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
      val heapPeakBytes = heap.stop()
      // output checks run after the timed pass, inside their own span
      run.span("check")(checks())
      out.put("run_s", runS)
      out.put("cpu_s", cpuS)
      out.put("heap_peak_mb", heapPeakBytes / 1e6)
      out.put("gc_count", heap.collections)
      out.put("ops", run.ops)
      out.put("outputs", outputs)
      tracer.foreach { tr =>
        run.span("drain") { spark.range(1).count() }
        tr.awaitSpanJobEnd("drain", 60000L)
        out.put("trace", tr.report(run, Workloads.splits))
      }
    }
    spark.stop()
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(outPath), out)
  }

  private def env(spark: SparkSession, nproc: Int): JMap[String, Any] = {
    val m = jmap(
      "nproc" -> nproc,
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6)
    Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes", "spark.scheduler.mode",
      "spark.sql.ansi.enabled", "spark.sql.session.timeZone", "spark.sql.extensions")
      .foreach(k => m.put(k, spark.conf.getOption(k)
        .orElse(spark.sparkContext.getConf.getOption(k)).getOrElse("<default>")))
    m
  }

  def jlist(xs: Iterable[Any]): JList[Any] = { val l = new JList[Any](); xs.foreach(l.add); l }
  def jmap(kvs: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any](); kvs.foreach { case (k, v) => m.put(k, v) }; m
  }
  def rowList(rows: Array[Row]): JList[Any] =
    jlist(rows.map(r => jlist(r.toSeq.map {
      case d: java.math.BigDecimal => d.toString
      case x => x
    })))
}

/** Spans and operations of one pass. A span is one interval of a named
  * stage; the Spark local property [[Harness.SpanProperty]] carries the span
  * id to every job started inside it (including broadcast and subquery jobs,
  * which inherit the caller's local properties). */
final class Run(val spark: SparkSession) {
  case class Span(id: String, name: String, startMs: Long, endMs: Long, wallS: Double)
  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = new JList[Any]()
  private var seq = 0

  def span[T](name: String)(body: => T): T = {
    seq += 1
    val id = s"$name#$seq"
    val sc = spark.sparkContext
    sc.setLocalProperty(Harness.SpanProperty, id)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      spans += Span(id, name, startMs, System.currentTimeMillis(), wall)
      sc.setLocalProperty(Harness.SpanProperty, null)
    }
  }

  /** One operation: timed, and recorded as failed if it throws. */
  def op[T](name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val (res, err) =
      try (Some(body), null)
      catch { case NonFatal(e) => (None, s"${e.getClass.getName}: ${e.getMessage}") }
    ops.add(Harness.jmap("op" -> name, "ms" -> (System.nanoTime() - t0) / 1e6, "error" -> err))
    System.err.println(s"[perfbench] $name ${(System.nanoTime() - t0) / 1e6} ms" +
      (if (err != null) s" failed: $err" else ""))
    res
  }

  /** A stage span holding one operation. */
  def stage[T](name: String)(body: => T): Option[T] = span(name)(op(name)(body))
}

/** Peak heap occupancy after a collection: the largest heap usage any
  * garbage collection leaves behind between construction and [[stop]], read
  * from the collectors' notifications. The pass runs under the JVM's own
  * collection schedule; nothing is forced. */
final class HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def count() = collectors.map(_.getCollectionCount).sum
  private val countAtStart = count()
  private var seen = 0L
  private var peak = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapPeak.this.synchronized { seen += 1; peak = math.max(peak, used); HeapPeak.this.notifyAll() }
      }
  }
  collectors.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def collections: Long = synchronized(seen)

  /** Stop listening, once every collection of the pass has been delivered
    * (notifications arrive on their own thread); returns the peak in bytes. */
  def stop(): Long = {
    val target = count() - countAtStart
    val deadline = System.currentTimeMillis() + 5000L
    synchronized {
      while (seen < target && System.currentTimeMillis() < deadline) wait(100L)
    }
    collectors.foreach(_.asInstanceOf[NotificationEmitter].removeNotificationListener(listener))
    synchronized(peak)
  }
}
