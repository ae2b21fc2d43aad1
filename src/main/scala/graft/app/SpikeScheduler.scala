package graft.app

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftSqlShims.boundLong
import graft.reference.{Alert, AlertDedup, SpikeDetector, SpikeParams}
import graft.sources.HourlyParquetSource

/** Batch scheduler loop — the reference's `main` (hha.py:315–327)
  * wired to the Spark-native operators: each pass reads the last two
  * hourly files, runs the spike pipeline over the open-ended windows
  * (current: ts > now−90; previous: ts < now−300 — the `endTime`s
  * are dead in the reference and stay dead here), collects the alert
  * frame, and pushes it through TTL dedup → watch-list → rule sink.
  *
  * A steady pass is plan-invariant: bound window parameters
  * ([[SpikeScheduler.detect]]) and a named read schema mean it compiles
  * no class and runs no schema-inference job.
  *
  * Clock and iteration count are injectable (the reference's
  * `while True` + `time.time()` is untestable as written).
  */
final class SpikeScheduler(
    source: HourlyParquetSource,
    config: HhaConfig,
    watchlist: WatchlistProvider,
    sink: RuleSink,
    clock: () => Long = () => System.currentTimeMillis() / 1000,
    sleeper: Long => Unit = ms => Thread.sleep(ms)) {

  val dedup = new AlertDedup(config.limitDetectTimeSec.toLong)

  /** One analysis pass (hha.py:318–325 + FiltrDataByInterval).
    * Returns the alerts that fired, for observability/tests.
    */
  def runOnce(): Seq[Alert] = {
    val now = clock()
    source.read(numberFiles = 2) match {
      case None => Seq.empty // unreadable hour — skip (hha.py:138–139)
      case Some(hist) =>
        dedup.process(SpikeScheduler.detect(hist, now, config.spikeParams),
          watchlist.contains, now)
          .map { a => sink.emit(a); a }
    }
  }

  /** The loop: run, sleep `sleepInterval`, repeat (hha.py:317–327). */
  def run(iterations: Long = Long.MaxValue): Unit = {
    var i = 0L
    while (i < iterations) {
      runOnce()
      i += 1
      if (i < iterations) sleeper(config.sleepInterval * 1000L)
    }
  }
}

object SpikeScheduler {

  /** The pass body shared by the scheduler and the streaming mode: the
    * fused single-scan plan (detectFused; detect() remains the
    * reference-shaped plan for parity) over `hist` at clock `now`,
    * collected as alerts. The bounds now−90 and now−300 are bound
    * parameters, not literals, so the generated code is the same on
    * every pass. Alert sets are post-aggregation small; collect is the
    * reference's sink shape (hha.py:231) and stays cheap.
    */
  def detect(hist: DataFrame, now: Long, params: SpikeParams): Seq[Alert] =
    SpikeDetector.detectFused(
      hist,
      currentPredicate = col("timestamp") > boundLong(now - 90L),
      previousPredicate = col("timestamp") < boundLong(now - 300L),
      params = params)
      .collect().toSeq.map { r =>
        Alert(r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))
      }
}
