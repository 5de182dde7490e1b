package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** BPE training (round-14 verdict item 3) runs DRIVER-side at every
  * merge count: after the one distributed dictionary pass, the merge
  * rounds replay over the collected |vocab|-bounded dictionary with
  * pair-count deltas. The cluster loop — one Spark job per merge — is
  * kept as the reference.
  *
  * Pinned here: the two loops are semantically IDENTICAL — same merges
  * in the same order with the same counts, and the same final dictionary
  * state — on the real fixture corpus, at the gated and the larger merge
  * counts, including the cluster loop's string-level replace quirk and
  * its UTF-8 tie-break.
  */
class BpeTrainPathSpec extends SparkTestBase {

  // the PRODUCTION dictionary pass — an inline copy would silently
  // drift from what training actually consumes
  private def dict0 = TextOps.bpeDict0(t)

  private def dictMap(df: org.apache.spark.sql.DataFrame): Map[String, (String, Long)] =
    df.select("w", "seq", "freq").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap

  test("driver-side merge training replays the cluster loop merge-for-merge and dict-for-dict") {
    val n = 12 // the parity gate's count
    val d0 = dict0
    val (clusterDict, clusterMerges) = TextOps.bpeTrainOnCluster(d0, n)
    val (driverDict, driverMerges) = TextOps.bpeTrainOnDriver(spark, d0, n)
    assert(driverMerges == clusterMerges,
      s"merge tables diverge:\n cluster=$clusterMerges\n driver =$driverMerges")
    assert(dictMap(driverDict) == dictMap(clusterDict),
      "final dictionaries diverge")
  }

  test("at the gated merge count the driver loop matches the cluster loop, merges and dict") {
    val n = 4 // the text_bpe_* gates run at 5
    val d0 = dict0
    val (clusterDict, clusterMerges) = TextOps.bpeTrainOnCluster(d0, n)
    val (driverDict, driverMerges) = TextOps.bpeTrainOnDriver(spark, d0, n)
    assert(driverMerges == clusterMerges)
    assert(dictMap(driverDict) == dictMap(clusterDict),
      "final dictionaries diverge")
    // and the public entry at the gated count yields the reference result
    assert(TextOps.bpeMerges(t, n).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq == clusterMerges)
  }

  test("driver path stops cleanly when the dictionary runs out of mergeable pairs") {
    import spark.implicits._
    val tiny = Seq(("ab", "a b", 3L), ("cd", "c d", 2L))
      .toDF("w", "seq", "freq").localCheckpoint(true)
    // only 2 distinct pairs exist; asking for 10 merges must learn
    // exactly 2 and leave every word single-symbol
    val (dict, merges) = TextOps.bpeTrainOnDriver(spark, tiny, 10)
    assert(merges.map(m => (m._1, m._2, m._3, m._4)) ==
      Seq((1, "a b", "ab", 3L), (2, "c d", "cd", 2L)))
    assert(dictMap(dict) == Map("ab" -> ("ab", 3L), "cd" -> ("cd", 2L)))
  }
}
