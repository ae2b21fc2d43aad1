package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class GraftSessionSpec extends AnyFunSuite with SparkTestSession {

  test("withConf restores a set key, unsets a key that had no value, " +
    "restores on throw and unwinds nested scopes") {
    val set = "spark.sql.shuffle.partitions"
    // null default: no value until someone sets it
    val unset = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(set)
    assert(before.isDefined)
    assert(spark.conf.getOption(unset) === None)
    def state = (spark.conf.getOption(set), spark.conf.getOption(unset))

    val out = GraftSession.withConf(spark, set -> "3", unset -> "-1") {
      assert(state === (Some("3"), Some("-1")))
      42
    }
    assert(out === 42)
    assert(state === (before, None))

    intercept[IllegalStateException] {
      GraftSession.withConf(spark, set -> "5", unset -> "-1") {
        throw new IllegalStateException("boom")
      }
    }
    assert(state === (before, None))

    GraftSession.withConf(spark, set -> "6", unset -> "1048576") {
      GraftSession.withConf(spark, set -> "7", unset -> "-1") {
        assert(state === (Some("7"), Some("-1")))
      }
      assert(state === (Some("6"), Some("1048576")))
      intercept[IllegalStateException] {
        GraftSession.withConf(spark, set -> "8") { throw new IllegalStateException("inner") }
      }
      assert(state === (Some("6"), Some("1048576")))
    }
    assert(state === (before, None))
  }
}
