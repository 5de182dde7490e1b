package graft.streaming

import graft.SparkTestBase
import graft.operators.DedupOps

/** The scale story for streaming state names RocksDB as the at-volume
  * backend (DedupStream scaladoc); this spec executes that claim instead
  * of narrating it: the windowed minhash replay must produce the
  * IDENTICAL pair set under RocksDBStateStoreProvider as under the
  * default HDFS-backed in-memory provider.
  */
class RocksDbStateSpec extends SparkTestBase {
  import spark.implicits._

  private def windowedPairs(): Set[(Long, Long, Double)] =
    DedupStream.minhashPairsWindowed(t, 0.3, 200)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("windowed minhash pair set is identical under RocksDB state store") {
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(confKey)
    val default = windowedPairs()
    try {
      spark.conf.set(confKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val rocks = windowedPairs()
      assert(rocks == default,
        s"provider changed the emitted pairs: only-default=${default -- rocks}, only-rocks=${rocks -- default}")
      // and both equal the batch oracle twin, window-filtered — the same
      // contract the gate query pins
      val batch = DedupOps.minhashDupPairs(t, 0.3)
        .filter($"doc_b" - $"doc_a" <= 200)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rocks == batch)
    } finally {
      saved match {
        case Some(v) => spark.conf.set(confKey, v)
        case None    => spark.conf.unset(confKey)
      }
    }
  }
}
