package graft.core

import java.util.concurrent.atomic.AtomicLong

/** The run ledger: one process-wide map of named tallies, one name per
  * decision the engine takes without failing — a cache miss, a fallback,
  * a route, a rebalance — so a silent decision is visible from the bench
  * artifact alone (after BigDebug, SIGMOD 2017). Names are dotted, owner
  * first: `graph.observed_fallback`, `tables.rebalance.fired`.
  *
  * There is no reset: a reader takes a [[snapshot]] before a span and its
  * [[delta]] after it. A tally added on any thread before the delta is
  * taken, a pool thread the span awaited included, counts in that span.
  */
object Ledger {
  private val tallies = scala.collection.concurrent.TrieMap.empty[String, AtomicLong]

  def add(name: String, n: Long = 1L): Unit = {
    tallies.getOrElseUpdate(name, new AtomicLong).addAndGet(n)
    ()
  }

  def snapshot(): Map[String, Long] = tallies.map { case (k, v) => k -> v.get }.toMap

  /** The tallies that moved since `before` was taken, nonzero ones only. */
  def delta(before: Map[String, Long]): Map[String, Long] =
    snapshot().map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }.filter(_._2 != 0)
}
