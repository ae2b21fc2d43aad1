package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The reference's hourly-file discovery (`ReadData`, hha.py:278–313):
  * file `<dir>/<prefix><floor(now/3600)*3600 - i*3600>` for
  * i ∈ [0, numberFiles), each probed for existence via the Hadoop
  * FileSystem API (works for hdfs:// and file:// alike), silently
  * skipping absent hours; `None` when nothing is readable (the
  * reference returns False and skips the iteration).
  *
  * The clock is injected — the reference's direct `time.time()`
  * (hha.py:295) makes its windows untestable (SURVEY.md §7 risks).
  *
  * Scale: explicit path lists mean Catalyst never globs the whole
  * directory — the read is pruned to ≤ numberFiles hours no matter
  * how much history the directory holds. A date-partitioned layout
  * (`hour=`) with partition pruning is the evolution path; both keep
  * scans proportional to the window, not the retention.
  */
final class HourlyParquetSource(
    spark: SparkSession,
    dir: String,
    prefix: String = "level_",
    clock: () => Long = () => System.currentTimeMillis() / 1000) {

  private val fs: FileSystem =
    new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Hour-floored candidate paths, newest first (hha.py:293–297). */
  def candidatePaths(numberFiles: Int): Seq[String] = {
    val roundHour = clock() / 3600 * 3600
    (0 until numberFiles).map(i => s"$dir/$prefix${roundHour - i * 3600L}")
  }

  /** Existing files among the candidates (hha.py:299–301). */
  def existingPaths(numberFiles: Int): Seq[String] =
    candidatePaths(numberFiles).filter(p => fs.exists(new HPath(p)))

  /** Read the last `numberFiles` hourly files as one frame in the
    * reference schema, with no inference job. Columns match by name: a
    * file may order them differently or carry more, and a reference
    * column a file lacks reads as null (as inference did for every file
    * but the one it read). `None` when no hour path holds a data file.
    */
  def read(numberFiles: Int): Option[DataFrame] = {
    val paths = existingPaths(numberFiles)
    if (paths.isEmpty) None
    else
      try Some(spark.read.schema(HourlyParquetSource.ReferenceSchema).parquet(paths: _*))
        .filter(_.inputFiles.nonEmpty)
      catch { case _: org.apache.spark.sql.AnalysisException => None }
  }
}

object HourlyParquetSource {

  /** The reference's histogram record (SURVEY.md §1.1), in the types
    * the spike pass reads.
    */
  val ReferenceSchema: StructType = StructType.fromDDL(
    "timestamp BIGINT, subagent_id BIGINT, num_protocol INT, " +
      "CountPkt BIGINT, type_proto INT, dst_ip BIGINT")
}
