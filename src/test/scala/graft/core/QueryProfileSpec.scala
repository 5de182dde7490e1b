package graft.core

import graft.{Bench, SparkEntry, SparkTestBase}
import org.apache.spark.sql.functions._

/** [[QueryProfile]], the bench's per-row task-time profile, and the tilt
  * rule [[Bench]] reads from it: the profile of a known plan is pinned,
  * sleeping tasks read off-CPU and busy ones do not, the rule is strict at
  * both constants, failed rows never trip, and `host_degraded` sums task
  * time over rows. Also the per-run [[Ledger]] delta Bench ships beside
  * each row.
  */
class QueryProfileSpec extends SparkTestBase {
  import QueryProfile.{Profile, maxOffCpuShare, minTaskRunS, offCpuShare}

  /** The profile of `body` timed as one span; the sentinel job that
    * [[observe]] runs after it delivers every event of `body` first.
    */
  private def profileOf(body: => Unit): Profile = {
    val p = new QueryProfile
    spark.sparkContext.addSparkListener(p)
    try observe(p.timed("row", 1)(body)) finally spark.sparkContext.removeSparkListener(p)
    p.profiles(("row", 1))
  }

  private def prof(run: Double, cpu: Double, gc: Double = 0.0): Profile =
    Profile(1, 1, 1, run, run, cpu, gc, 0L, 0L, 0.0, 0L, 0L, 0.0)

  private def ok(wall: Double) = Bench.Run(wall, 50.0, 0.0, Map.empty)
  private val failed = Bench.Run(-1.0, -1.0, -1.0, Map.empty)

  test("a 4-slice range through a groupBy into the noop sink has a pinned profile") {
    val p = profileOf {
      spark.range(0, 10000, 1, 4).groupBy(col("id") % 10).count()
        .write.format("noop").mode("overwrite").save()
    }
    // the map stage runs as its own job with 4 tasks; the result job
    // skips it and reads the coalesced shuffle with one task
    assert((p.jobs, p.stages, p.tasks) == (2, 2, 5L))
    assert(p.shuffleWriteBytes > 0 && p.shuffleReadBytes == p.shuffleWriteBytes)
    assert(p.spillBytes == 0L && p.inputBytes == 0L)
    assert(p.taskRunS >= p.maxTaskS && p.driverGapS >= 0.0)
  }

  /** Per-task milliseconds so that `slices` tasks sum past the floor. */
  private def taskMs(slices: Int): Long = (minTaskRunS * 1000 / slices).toLong + 300

  test("sleeping tasks read off-CPU and trip; busy tasks do not") {
    val ms = taskMs(2)
    val sleeping = profileOf {
      spark.sparkContext.parallelize(1 to 2, 2)
        .mapPartitions { it => Thread.sleep(ms); it }.count(); ()
    }
    assert(sleeping.taskRunS > minTaskRunS)
    assert(offCpuShare(sleeping.taskRunS, sleeping.taskCpuS, sleeping.taskGcS) > 0.9)
    assert(sleeping.tilted)
    val busy = profileOf {
      spark.sparkContext.parallelize(1 to 2, 2).mapPartitions { it =>
        val end = System.nanoTime() + ms * 1000000L
        var x = 0L
        while (System.nanoTime() < end) x += 1
        Iterator(x) ++ it
      }.count(); ()
    }
    assert(busy.taskRunS > minTaskRunS)
    assert(offCpuShare(busy.taskRunS, busy.taskCpuS, busy.taskGcS) < maxOffCpuShare)
    assert(!busy.tilted)
  }

  test("the rule is strictly above the share and the seconds floor") {
    val run = 8 * minTaskRunS
    val atShare = prof(run, run * (1 - maxOffCpuShare))
    assert(offCpuShare(atShare.taskRunS, atShare.taskCpuS, 0.0) == maxOffCpuShare)
    assert(!atShare.tilted)
    assert(prof(run, run * (1 - maxOffCpuShare) * 0.99).tilted)
    // GC pauses are the JVM's own, not the host's: they never count
    assert(!prof(run, 0.0, run).tilted)
    assert(!prof(minTaskRunS, 0.0).tilted)
  }

  test("rows below the floor and failed rows never trip") {
    val profiles = Map(
      ("small", 1) -> prof(minTaskRunS, 0.0),
      ("broken", 1) -> prof(run = 8 * minTaskRunS, cpu = 0.0),
      ("tilted", 2) -> prof(run = 8 * minTaskRunS, cpu = 0.0))
    val rows = Seq(
      "small" -> (ok(1.0), ok(2.0)),
      "broken" -> (ok(1.0), failed),
      "tilted" -> (ok(2.0), ok(1.0)))
    assert(Bench.tripsOf(rows, profiles) == Seq("tilted"))
    // the reported run is the faster one: run 1 of "tilted" has no profile
    assert(Bench.tripsOf(Seq("tilted" -> (ok(1.0), ok(2.0))), profiles).isEmpty)
  }

  test("host_degraded applies the rule to the summed task time") {
    val r = minTaskRunS
    // no row is over the floor alone; together they are
    val small = Map(("a", 1) -> prof(0.75 * r, 0.0), ("b", 1) -> prof(0.75 * r, 0.0))
    val rows = Seq("a" -> (ok(1.0), ok(2.0)), "b" -> (ok(1.0), ok(2.0)))
    assert(Bench.tripsOf(rows, small).isEmpty && Bench.hostDegraded(rows, small))
    // one tilted row in a busy suite does not tilt the host
    val one = Map(("a", 1) -> prof(2 * r, 0.0), ("b", 1) -> prof(40 * r, 40 * r))
    assert(Bench.tripsOf(rows, one) == Seq("a") && !Bench.hostDegraded(rows, one))
  }

  test("gcTotalSec is non-negative and never decreases") {
    val g0 = Bench.gcTotalSec()
    assert(g0 >= 0.0)
    // provoke collection work; explicit gc may be a no-op on some JVMs,
    // so the assertion is monotonicity, not a strict increase
    var junk: Array[Byte] = null
    (1 to 50).foreach { _ => junk = new Array[Byte](4 << 20) }
    require(junk != null)
    System.gc()
    assert(Bench.gcTotalSec() >= g0, "cumulative GC time must not go backwards")
  }

  test("a cache-backed row builds on run 1 and reads on run 2; a plain row builds nothing") {
    // a private fixture copy: no other suite has warmed its caches
    val dir = Tables.scratchDir("graft_profile_cache_")
    val src = java.nio.file.Paths.get(t.dir)
    val stream = java.nio.file.Files.walk(src)
    try stream.forEach { p =>
      val to = java.nio.file.Paths.get(dir).resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(p, to)
    } finally stream.close()
    val profile = new QueryProfile
    def row(n: String) = SparkEntry.queries(n)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    def misses(n: String) = (1 to 2).map(run =>
      Bench.timeRun(profile, n, run)(row(n)).ledger.getOrElse("generation_cache.miss", 0L))
    val bpe = misses("text_bpe_merges")
    assert(bpe(0) >= 1 && bpe(1) == 0, s"text_bpe_merges misses $bpe")
    // opening a table caches its schema once per fixture: open it first
    row("q1_group_count_avg")
    assert(misses("q1_group_count_avg") == Seq(0L, 0L))
  }

  test("a tally added on a pool thread inside the span counts in that run") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val run = Bench.timeRun(new QueryProfile, "pooled", 1) {
        (1 to 2).map(_ => pool.submit(new Runnable {
          def run(): Unit = Ledger.add("spec.pooled", 3L)
        })).foreach(_.get())
      }
      assert(run.ledger == Map("spec.pooled" -> 6L))
      assert(Bench.timeRun(new QueryProfile, "pooled", 2)(()).ledger.isEmpty)
    } finally pool.shutdown()
  }
}
