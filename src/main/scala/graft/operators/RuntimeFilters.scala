package graft.operators

import org.apache.spark.sql.SparkSession

/** Scoped enabling of runtime bloom-filter join pruning (builder brief
  * "push down and prune"): when a selective dimension joins a fact
  * over a SHUFFLE join (filter side too big to broadcast — broadcast
  * joins already prune and correctly skip bloom injection), Spark can
  * inject a bloom filter of the dim keys into the fact scan side,
  * dropping non-matching fact rows BEFORE the exchange. At 100 TB this
  * is the difference between shuffling the whole fact table and
  * shuffling the ~matching fraction.
  *
  * Packaged as a conf scope rather than a plan rewrite because the
  * injection itself is Catalyst's `InjectRuntimeFilter` rule — the
  * operator's job is turning it on deliberately (it's gated by
  * thresholds tuned for clusters) and restoring the session state
  * afterwards, so one tuned query doesn't leak config into the next.
  */
object RuntimeFilters {

  /** Run `body` with bloom-filter pruning forced into the shuffle-join
    * regime (static and AQE auto-broadcast off) through
    * [[graft.core.GraftSession.withConf]], which restores every
    * touched conf on exit (also on throw). The body must execute
    * inside the scope (`localCheckpoint`/`collect`): a lazily-run
    * plan would compile after the confs were restored.
    *
    * `applicationSideScanSizeThreshold` gates injection by fact-scan
    * size (default 10GB — right for clusters); pass "0" to force the
    * rule on small local data, or leave the default in production so
    * tiny scans don't pay the bloom build.
    */
  def withBloomPruning[A](spark: SparkSession,
                          applicationSideScanSizeThreshold: String = "10GB")(body: => A): A =
    graft.core.GraftSession.withConf(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        applicationSideScanSizeThreshold)(body)
}
