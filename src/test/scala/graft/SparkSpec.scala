package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one JVM-wide session (getOrCreate),
  * small core count to keep test startup fast.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sfTiny = "/root/testdata/sf0.001"
  val sfSmall = "/root/testdata/sf0.01"

  /** Runs `f` with spark.sql.autoBroadcastJoinThreshold set to `v`
    * (-1 disables broadcasting), restoring the old value afterwards. */
  def withThreshold[A](v: String)(f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, v)
    try f finally spark.conf.set(key, old)
  }

  /** Runs `f` on the session default and with broadcasting disabled,
    * the two sides of every `BroadcastGuard`. */
  def onBothPaths(f: => Unit): Unit = {
    withClue("[default threshold] ")(f)
    withClue("[threshold -1] ")(withThreshold("-1")(f))
  }

  /** Persisted RDDs `f` leaves behind in the session. */
  def persistedBy(f: => Any): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    f
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  /** Pin hygiene: `op` must leave persisted exactly the local-checkpoint
    * pins its result's analyzed plan reads, and those must still be
    * readable. */
  def assertLeavesOnlyResultPins(name: String)(op: => DataFrame): Unit = {
    var out: DataFrame = null
    val added = persistedBy { out = op }
    val reads = out.queryExecution.analyzed
      .collect { case l: LogicalRDD => l.rdd.id }.toSet
    assert(added == reads, s"$name: added $added, result reads $reads")
    assert(out.count() >= 0L, name)
  }
}

object SparkSpec {
  lazy val spark: SparkSession = {
    // derby metastore files go to tmp, not the source tree
    System.setProperty("derby.system.home",
      s"${System.getProperty("java.io.tmpdir")}/graft-derby")
    Engine.session(appName = "graft-test", cores = "4", shufflePartitions = 4)
  }
}
