package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** Shared sizing guard for the measured-size broadcast pattern the
  * iterative graph/dedup loops use (opt guide §3.1): a loop-built
  * (checkpointed) frame carries no stats, so the planner would default
  * every per-round join to a sort-merge reshuffle of the big side; the
  * ops measure the small side ONCE (a bounded count amortized over all
  * rounds) and broadcast it only while the estimate fits the session
  * `autoBroadcastJoinThreshold` — past it the shuffled plan is kept
  * byte-for-byte, so cluster-scale posture is unchanged.
  */
private[graft] object BroadcastGuard {
  /** Conservative bytes/row for frames of a few longs (node ids,
    * counts). Spark's own broadcast estimate for a 2-long row is ~28 B;
    * 64 leaves ~2x headroom for object overhead in the built relation. */
  val RowBytesNarrow = 64L

  /** Frames carrying a short string column (labels) on top of the
    * longs — the modularity/label shapes. */
  val RowBytesLabeled = 96L

  /** The session broadcast threshold in bytes, as the planner reads
    * it: Spark's typed conf value, so unit-suffixed strings ("10MB")
    * parse and -1 keeps meaning "broadcast disabled". A malformed
    * value never gets here — the session refuses it at `conf.set`. */
  def thresholdBytes(spark: SparkSession): Long =
    castToImpl(spark).sessionState.conf.autoBroadcastJoinThreshold

  /** The most rows at `rowBytes` each whose bytes stay strictly under
    * the session threshold (-1: broadcast off): one byte stricter than
    * the planner's `canBroadcastBySize` (<=), so a tie of this guessed
    * estimate keeps the shuffled plan. */
  def maxRows(spark: SparkSession, rowBytes: Long): Long = {
    val t = thresholdBytes(spark)
    if (t > 0L) (t - 1L) / rowBytes else -1L
  }

  /** True when `rows` rows at `rowBytes` each fit: `rows <= maxRows`. */
  def fits(spark: SparkSession, rows: Long, rowBytes: Long): Boolean =
    rows <= maxRows(spark, rowBytes)
}
