package graft.streaming

import graft.core.Tables
import graft.operators.DedupOps
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection: the MinHash+LSH band join as a
  * STATEFUL streaming operator — the "is this incoming document a near-dup
  * of anything already ingested" primitive of a continuously-fed training
  * corpus.
  *
  * Shape: the SAME Column pipeline as the batch operator
  * ([[DedupOps.bandedDocs]] — Spark's unified batch/stream model) fans
  * each document out to its 8 LSH band keys; `flatMapGroupsWithState`
  * keyed by band keeps the (doc_id, shingle-set) of every document seen in
  * that band and emits a verified pair the moment a new arrival collides
  * with a stored one. Exact same candidate generation as the batch
  * self-join, so over a finite replay the emitted pair set EQUALS the
  * batch result and shares its oracle — regardless of how the stream is
  * micro-batched (a pair collides whenever the later document arrives, in
  * whichever batch). The replay source is [[Tables.documentsStream]]:
  * the batch table's cached schema and scan rebalance.
  *
  * Scale notes: state per band key is the band's collision bucket — the
  * same quantity that bounds the batch join's bucket sizes; shingle sets
  * are stored as 64-bit longs, never text. On an unbounded stream you
  * would evict state with an event-time watermark (dedup against a
  * trailing window) or back the state store with RocksDB; the fixture
  * replay needs neither, and the bounded-state variant is exercised by
  * [[EventStream.dedupCounts]].
  */
object DedupStream {

  case class BandDoc(doc_id: Long, band: String, sh: Array[Long])
  case class TsBandDoc(doc_id: Long, band: String, sh: Array[Long],
                       ts: java.sql.Timestamp)
  case class PairOut(doc_a: Long, doc_b: Long, jaccard: Double)

  /** Bit-identical twin of the batch Column formulation
    * (`roundN(jaccard(a, b), 4)`): intersection over pre-deduplicated
    * long sets, one IEEE division, floor(x·10⁴+0.5)/10⁴.
    */
  private def jaccardRounded(a: Array[Long], b: Array[Long]): Double = {
    val sa = a.toSet
    var inter = 0
    b.foreach(x => if (sa(x)) inter += 1)
    val union = a.length + b.length - inter
    val j = if (union == 0) 0.0 else inter.toDouble / union.toDouble
    math.floor(j * 10000.0 + 0.5) / 10000.0
  }

  def minhashPairs(t: Tables, minJaccard: Double = 0.3): DataFrame = {
    import t.spark.implicits._
    val out = DedupOps.bandedDocs(t.documentsStream).as[BandDoc]
      .groupByKey(_.band)
      .flatMapGroupsWithState[List[(Long, Array[Long])], PairOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, it, state) =>
          var seen = state.getOption.getOrElse(Nil)
          val pairs = scala.collection.mutable.ListBuffer.empty[PairOut]
          it.foreach { d =>
            seen.foreach { case (oid, osh) =>
              if (oid != d.doc_id) {
                val j = jaccardRounded(d.sh, osh)
                if (j >= minJaccard)
                  pairs += PairOut(
                    math.min(oid, d.doc_id), math.max(oid, d.doc_id), j)
              }
            }
            seen = (d.doc_id, d.sh) :: seen
          }
          state.update(seen)
          pairs.iterator
      }
    // a pair may collide in several bands (and across micro-batches);
    // jaccard is identical for every emission of the pair
    StreamMeter.toMemory(out, "dedup_minhash_streaming", OutputMode.Append())
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Trailing-window near-dup pairs with BOUNDED state — the
    * unbounded-stream variant [[minhashPairs]] deliberately lacks (it keeps
    * every document per band forever, exact over a finite replay).
    *
    * Contract: a pair (a, b) is emitted iff the docs land in a shared LSH
    * band, |event_time(a) − event_time(b)| ≤ `window`, and true Jaccard ≥
    * `minJaccard`. The window predicate is checked EXPLICITLY per pair, so
    * the emitted set is deterministic regardless of how the stream is
    * micro-batched; watermark eviction is purely the state bound.
    *
    * Eviction: per band, entries with ts < watermark − window are dropped
    * on every invocation — no in-watermark arrival (Spark drops inputs
    * below the watermark before a stateful operator) can be within
    * `window` of them anymore. A band silent past its newest entry + window
    * gets an event-time timeout and drops its whole bucket. State per band
    * is therefore O(arrival rate × (window + watermark delay)) — the
    * trailing window a continuously-fed corpus needs, with RocksDB as the
    * state store at real scale (RocksDbStateSpec replays this operator
    * under RocksDBStateStoreProvider and proves the identical pair set).
    */
  def minhashPairsWindowedOn(banded: Dataset[TsBandDoc], windowMs: Long,
                             minJaccard: Double): Dataset[PairOut] = {
    import banded.sparkSession.implicits._
    banded
      .groupByKey(_.band)
      .flatMapGroupsWithState[List[(Long, Array[Long], Long)], PairOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_, it, state) =>
          if (state.hasTimedOut) {
            // watermark passed newest entry + window: bucket unreachable
            state.remove()
            Iterator.empty
          } else {
            val evictBelow = state.getCurrentWatermarkMs() - windowMs
            var seen = state.getOption.getOrElse(Nil)
              .filter(_._3 >= evictBelow)
            val pairs = scala.collection.mutable.ListBuffer.empty[PairOut]
            it.toSeq.sortBy(d => (d.ts.getTime, d.doc_id)).foreach { d =>
              val ms = d.ts.getTime
              seen.foreach { case (oid, osh, oms) =>
                if (oid != d.doc_id && math.abs(ms - oms) <= windowMs) {
                  val j = jaccardRounded(d.sh, osh)
                  if (j >= minJaccard)
                    pairs += PairOut(
                      math.min(oid, d.doc_id), math.max(oid, d.doc_id), j)
                }
              }
              seen = (d.doc_id, d.sh, ms) :: seen
            }
            if (seen.isEmpty) state.remove()
            else {
              state.update(seen)
              state.setTimeoutTimestamp(
                math.max(seen.map(_._3).max + windowMs,
                  state.getCurrentWatermarkMs() + 1))
            }
            pairs.iterator
          }
      }
  }

  /** Gate query: trailing-window dedup over the documents replay with a
    * DETERMINISTIC event time — ts = timestamp_seconds(doc_id + 86400),
    * i.e. one document ingested per second in id order. That makes the
    * window contract oracle-expressible: the emitted pairs are exactly the
    * batch MinHash pairs with doc_b − doc_a ≤ windowSec, which the DuckDB
    * oracle states directly (and which excludes about half the full pair
    * set at windowSec=200 — the gate exercises the window, not just the
    * join). The +86400 shift keeps doc 0 off epoch 0: stateful operators
    * drop rows with ts <= watermark as late, and the initial watermark IS
    * 0, so an event time of exactly 1970-01-01T00:00:00 is always late.
    */
  def minhashPairsWindowed(t: Tables, minJaccard: Double = 0.3,
                           windowSec: Long = 200): DataFrame = {
    import t.spark.implicits._
    val docs = t.documentsStream
      .withColumn("ts", timestamp_seconds(col("doc_id") + 86400L))
    val banded = DedupOps.bandedDocs(docs, carry = Seq("ts"))
      .withWatermark("ts", "1 hour")
      .as[TsBandDoc]
    StreamMeter.toMemory(minhashPairsWindowedOn(banded, windowSec * 1000, minJaccard),
      "dedup_minhash_windowed", OutputMode.Append())
      .dropDuplicates("doc_a", "doc_b")
  }
}
