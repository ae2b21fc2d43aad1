package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** [[RuntimeFilters.withBloomPruning]]: forces the shuffle-join regime
  * and asserts Spark injects a bloom filter of the selective dim keys
  * into the fact scan side — at 100 TB the difference between
  * shuffling the whole fact table and the ~matching fraction.
  */
class RuntimeFilterSpec extends AnyFunSuite with SparkTestSession {

  test("selective shuffle join injects a bloom filter on the fact side") {
    val d = "/root/testdata/sf0.001"
    // test tables are tiny; threshold "0" drops the size gate so the
    // rule fires (production keeps the default 10GB gate)
    val plan = RuntimeFilters.withBloomPruning(spark,
        applicationSideScanSizeThreshold = "0") {
      val li = spark.read.parquet(s"$d/lineitem.parquet")
      val p = spark.read.parquet(s"$d/part.parquet").filter(col("p_size") === 1)
      val j = li.join(p, col("l_partkey") === col("p_partkey"))
      assert(j.count() > 0)
      j.queryExecution.executedPlan.toString.toLowerCase
    }
    assert(plan.contains("bloom"), s"expected a runtime bloom filter; plan:\n$plan")
  }

  test("session confs are restored after the scope, even on throw") {
    val key = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    // the scope sets this one to -1, so a scope that never restores
    // leaves it changed
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    val thresholdBefore = spark.conf.getOption(threshold)
    assert(!thresholdBefore.contains("-1"), "the scope's value must differ from the session's")
    intercept[RuntimeException] {
      RuntimeFilters.withBloomPruning(spark) { throw new RuntimeException("boom") }
    }
    assert(spark.conf.getOption(key) === before)
    assert(spark.conf.getOption(threshold) === thresholdBefore)
  }
}
