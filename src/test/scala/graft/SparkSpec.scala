package graft

import org.apache.spark.sql.SparkSession
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
}

object SparkSpec {
  lazy val spark: SparkSession = {
    // derby metastore files go to tmp, not the source tree
    System.setProperty("derby.system.home",
      s"${System.getProperty("java.io.tmpdir")}/graft-derby")
    Engine.session(appName = "graft-test", cores = "4", shufflePartitions = 4)
  }
}
