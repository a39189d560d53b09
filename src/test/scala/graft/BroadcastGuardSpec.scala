package graft

import graft.ops.BroadcastGuard

/** Focused spec for the r18 shared broadcast-size guard (ADVICE r17):
  * the 14 iterative-op guard sites used to `.toLong` the raw session
  * value of spark.sql.autoBroadcastJoinThreshold, which throws on the
  * unit-suffixed byte strings Spark itself accepts ("10MB", "10m").
  */
class BroadcastGuardSpec extends SparkSpec {

  test("numeric threshold parses and bounds the estimate strictly") {
    withThreshold((1L << 20).toString) {
      assert(BroadcastGuard.thresholdBytes(spark) === (1L << 20))
      // 16384 rows x 64 B == 1 MiB exactly -> NOT under the threshold
      assert(!BroadcastGuard.fits(spark, 16384L, BroadcastGuard.RowBytesNarrow))
      assert(BroadcastGuard.fits(spark, 16383L, BroadcastGuard.RowBytesNarrow))
    }
  }

  test("unit-suffixed thresholds no longer throw (the r17 ADVICE bug)") {
    withThreshold("10MB") {
      assert(BroadcastGuard.thresholdBytes(spark) === 10L * 1024 * 1024)
      assert(BroadcastGuard.fits(spark, 1000L, BroadcastGuard.RowBytesLabeled))
    }
    withThreshold("10m") {
      assert(BroadcastGuard.thresholdBytes(spark) === 10L * 1024 * 1024)
    }
  }

  test("disabled threshold (-1) means never broadcast") {
    withThreshold("-1") {
      assert(!BroadcastGuard.fits(spark, 1L, BroadcastGuard.RowBytesNarrow))
    }
  }

  test("a malformed value is refused at set and the threshold is kept") {
    withThreshold((1L << 20).toString) {
      intercept[IllegalArgumentException] {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "not-a-size")
      }
      assert(BroadcastGuard.thresholdBytes(spark) === (1L << 20))
    }
  }
}
