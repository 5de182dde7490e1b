package graft.streaming

import graft.SparkTestBase
import graft.operators.SnapshotOps

/** Streaming maintenance of the per-source rollup ([[CdcStream]]): the
  * streamed view must land on the same rows as the batch two-hop
  * refresh AND a direct rollup of the second-hop snapshot.
  */
class CdcStreamSpec extends SparkTestBase {

  test("streamed CDC maintenance equals the batch multi-hop refresh, row for row") {
    // the batch gate is itself proven equal to a direct rollup of the
    // second-hop snapshot in SnapshotOpsSpec, so transitively the
    // streamed view lands on the stated truth
    val streamed = CdcStream.streamedRollupGate(t)
    val batch = SnapshotOps.incrementalRollupMultiGate(t)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
    assert(streamed.count() > 0)
    // both published batches drain through the meter under the gate name
    assert(StreamMeter.snapshot.get("agg_incremental_rollup_streamed")
      .map(_.dataBatches).contains(2))
  }
}
