package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted Count-Min column statistics powering sketch-driven join
  * planning ([[graft.plans.SketchBroadcastRule]]).
  *
  * The problem at 100 TB: Spark's size-only stats see a FILE SIZE per
  * relation, so `dim.filter(col === lit)` keeps the whole table's
  * size estimate and a post-filter-tiny side is sort-merge-joined —
  * the full fact shuffle the broadcast exists to avoid. CBO's column
  * histograms fix this but need ANALYZE TABLE over catalog tables;
  * path-read parquet has no catalog. This module is the sketch
  * answer: a one-scan Count-Min relation per (table, column) — d·w
  * counters regardless of table size, built with map-side combine
  * ([[CmSketch.sketch]]) — persisted next to the data and loaded
  * driver-side (≤ d·min(w, distinct) rows, a few KB for dimension
  * attributes). A point query `min_d cnt[d, h_d(v)]` upper-bounds the
  * post-filter cardinality DETERMINISTICALLY (collisions only add),
  * so "estimate says small" is safe evidence for a broadcast hint:
  * the true filtered side can only be SMALLER than what the planner
  * budgeted for.
  *
  * Registration is explicit, session-global, and keyed by canonical
  * table path + column; queries that register stats for a scoped
  * demonstration should [[unregister]] in a finally so the hint
  * surface of unrelated plans is untouched.
  */
object SketchStats {

  /** Driver-side stats for one (table path, column): the Count-Min
    * counters plus the planning knobs the rule needs. `thresholdBytes`
    * is per-registration user intent ("broadcast filtered scans of
    * THIS table when the sketch says under X"), deliberately
    * independent of `spark.sql.autoBroadcastJoinThreshold` so the
    * rule still acts when static auto-broadcast is disabled.
    */
  final case class ColumnStats(counters: Map[(Long, Long), Long],
                               depths: Int, width: Long,
                               avgRowBytes: Long, thresholdBytes: Long)

  private val registry = TrieMap.empty[(String, String), ColumnStats]

  /** Canonical key for a table path: scheme stripped, no trailing
    * slash — `file:/x/y/` and `/x/y` are the same table.
    */
  def canonPath(p: String): String = {
    val raw = new org.apache.hadoop.fs.Path(p).toUri.getPath
    if (raw.length > 1 && raw.endsWith("/")) raw.dropRight(1) else raw
  }

  def isEmpty: Boolean = registry.isEmpty

  /** One-scan build of the stats relation for `key`, persisted at
    * `statsDir`. Rows are (d, w, cnt, depths, width) — the layout
    * params ride along so [[register]] never needs them re-supplied.
    * Output rows ≤ depths·min(width, distinct(key)): tiny for
    * dimension attributes, ≤ d·w ≈ a few MB worst case.
    */
  def build(df: DataFrame, key: Column, statsDir: String,
            depths: Int = CmSketch.Depths, width: Long = 8192L): Unit =
    CmSketch.sketch(df, key, "cnt", depths, width)
      .withColumn("depths", lit(depths.toLong))
      .withColumn("width", lit(width))
      .repartition(1)
      .write.mode("overwrite").parquet(statsDir)

  /** Load a persisted stats relation and register it for
    * `tablePath`/`column`. The collect is bounded by the build layout
    * (d·w rows max), not the table.
    */
  def register(spark: SparkSession, statsDir: String, tablePath: String,
               column: String, avgRowBytes: Long,
               thresholdBytes: Long = 10L << 20): Unit = {
    val rows = spark.read.parquet(statsDir)
      .select("d", "w", "cnt", "depths", "width").collect()
    require(rows.nonEmpty, s"empty sketch-stats relation at $statsDir")
    val counters = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    registry.put((canonPath(tablePath), column),
      ColumnStats(counters, rows.head.getLong(3).toInt, rows.head.getLong(4),
        avgRowBytes, thresholdBytes))
  }

  def unregister(tablePath: String, column: String): Unit =
    registry.remove((canonPath(tablePath), column))

  def clear(): Unit = registry.clear()

  def lookup(tablePath: String, column: String): Option[ColumnStats] =
    registry.get((canonPath(tablePath), column))

  /** Σ over `values` of the Count-Min point query min_d cnt[d, h_d(v)]
    * — a deterministic UPPER bound on the rows matching
    * `column IN values` (absent counters are exact zeros: the value
    * never hashed there). None when (table, column) has no stats.
    */
  def estimateRows(tablePath: String, column: String,
                   values: Seq[String]): Option[Long] =
    lookup(tablePath, column).map { st =>
      values.map { v =>
        (0 until st.depths).map { d =>
          st.counters.getOrElse((d.toLong, bucket(d, v, st.width)), 0L)
        }.min
      }.sum
    }

  /** Driver-side mirror of the build hash: bucket of value `v` at
    * depth `d` must equal [[CmSketch.bucketsArray]]'s
    * `pmod(hash60("cm<d>:" + cast(v as string)), width)` exactly —
    * [[graft.llm.TextFunctions.hash60]] is the first 15 hex chars of
    * md5 read base-16, always non-negative (60 bits).
    */
  def bucket(d: Int, v: String, width: Long): Long = {
    val md = MessageDigest.getInstance("MD5")
      .digest((s"cm$d:" + v).getBytes(StandardCharsets.UTF_8))
    val hex = md.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16) % width
  }

  /** Scoped disabling of static auto-broadcast (both planner and AQE
    * thresholds) through [[graft.core.GraftSession.withConf]], which
    * restores the session confs on exit — the harness for
    * demonstrating that a broadcast in the plan is the RULE's doing,
    * not file-size stats. The body must execute inside the scope
    * (q57's `localCheckpoint` pattern, or a `collect`): a lazily-run
    * plan would compile after the confs were restored.
    */
  def withStaticBroadcastOff[A](spark: SparkSession)(body: => A): A =
    graft.core.GraftSession.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")(body)
}
