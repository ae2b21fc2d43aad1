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
}
