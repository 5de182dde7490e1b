package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** The one size-derived shuffle width rule: ⌈bytes ÷ target⌉ partitions,
  * never fewer than a floor and never more than the session's configured
  * `spark.sql.shuffle.partitions`, so a production session with a large
  * input keeps its own setting. After Shark's partial DAG execution
  * (SIGMOD 2013), which picks partitioning from observed output sizes:
  * callers pass a size they have observed.
  *
  * [[forBytes]] takes its target from the session's AQE coalescing confs,
  * as `CoalesceShufflePartitions` does: the advisory size, lowered so the
  * input fills the minimum partition count (`minPartitionNum` if set,
  * else `defaultParallelism` while `parallelismFirst` is on, as it is by
  * default), and never below `minPartitionSize`. So under default confs
  * an input of at most `minPartitionSize` (1 MB) gets width 1, the count
  * AQE would coalesce its exchange to. Unlike an AQE-coalesced exchange,
  * a width from this rule is also the MAP side's partition count.
  */
object ShuffleWidth {

  // ceiling division that cannot overflow at a = Long.MaxValue
  private def ceilDiv(a: Long, b: Long): Long =
    if (a <= 0L) 0L else (a - 1) / math.max(1L, b) + 1

  /** clamp(⌈bytes ÷ target⌉, floor, the session's configured width). */
  def forTarget(spark: SparkSession, bytes: Long, target: Long, floor: Int): Int =
    math.min(spark.sessionState.conf.numShufflePartitions.toLong,
      math.max(floor.toLong, ceilDiv(bytes, target))).toInt

  /** [[forTarget]] at the partition size AQE coalesces `bytes` toward. */
  def forBytes(spark: SparkSession, bytes: Long): Int = {
    val conf = spark.sessionState.conf
    val minPartitions = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
      .getOrElse(if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        spark.sparkContext.defaultParallelism else 1)
    val target = math.max(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE),
      math.min(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
        ceilDiv(bytes, minPartitions)))
    forTarget(spark, bytes, target, 1)
  }
}
