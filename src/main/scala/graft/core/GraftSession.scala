package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the reference's session knobs (hha.py:259–268): AQE on,
  * skew-join handling on, partition coalescing on — but sized for the
  * local[32] test harness (shuffle partitions = cores, not 200).
  * On a real cluster these carry over unchanged; only master/memory
  * sizing differs.
  */
object GraftSession {

  /** Local session for tests and CLIs. */
  def local(appName: String = "graft",
            cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = configure(SparkSession.builder(), shufflePartitions = cores.toInt)
      .master(s"local[$cores]")
      .appName(appName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply graft defaults to any builder (cluster deploys reuse this). */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Some testdata generations ship events.ts as TIMESTAMP(NANOS),
      // which Spark 4 refuses by default; read those as Long nanoseconds
      // (exact). Newer generations ship TIMESTAMP(µs) — Tables.normalizeTs
      // canonicalizes both encodings to Long nanos at the scan boundary.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Size of Spark's generated-class cache (static; Spark's default
    * is 100). One steady incremental-dedup maintenance batch (40 adds,
    * 20 deletes and a compaction: perfbench's dedup_maintain, seed 12,
    * 2 cores) uses more distinct generated classes than 100, so the LRU
    * missed on nearly every lookup and each batch recompiled its code.
    * Compiles per steady batch by cache size: 100 → ~160, 150 → ~105,
    * 175 → ~72, 200 → 0–10, 250 → 0–10 (the same residue: classes new
    * to that batch's data, not evictions). The working set is thus
    * between 175 and 200 classes; 256 leaves a quarter of headroom for
    * batches that plan more (a component computed past the driver
    * union-find ceiling). A cached class holds ~30 KB of heap, so the
    * cache costs ~7.5 MB at this size against ~3 MB at the default.
    */
  val CodegenCacheEntries = 256

  /** Run `body` with the session confs `kvs` set, then restore each
    * key to its value before the scope, also when `body` (or setting a
    * rejected value) throws. A key that had no value (`getOption` is
    * None, e.g. the null-default
    * `spark.sql.adaptive.autoBroadcastJoinThreshold`) is unset again.
    * The body must execute inside the scope (`localCheckpoint`,
    * `collect`, a write): a lazily returned plan would be planned
    * after the restore. Scopes nest; the inner one restores the outer
    * one's values. The one conf scope of `src/main` (`tools/gate.sh`
    * fails on `conf.unset(` anywhere else).
    */
  def withConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
