package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.app.{HhaConfig, RuleSink, SpikeScheduler, WatchlistProvider}
import graft.reference.AlertDedup

/** The histogram record as a typed streaming row (column names match
  * the batch pipeline's expectations).
  */
final case class HistRow(
    timestamp: Long, subagent_id: Long, num_protocol: Int,
    CountPkt: Long, type_proto: Int, dst_ip: Long)

/** Structured Streaming mode of the spike engine (SURVEY.md §7 step 6)
  * — the reference's sleep-loop (hha.py:315–327) replaced by a real
  * streaming query, sharing ALL operators and the alert layer with
  * the batch path.
  *
  * Two building blocks:
  *   - [[windowedAggregate]]: the event-time analogue of
  *     `SpikeDetector.aggregateWindow` — tumbling windows + watermark,
  *     so late data is bounded state, not a re-read (the reference's
  *     2-hour re-read slack becomes the watermark delay);
  *   - [[start]]: a `foreachBatch` sink running the scheduler's pass
  *     body (`SpikeScheduler.detect`) + TTL-dedup/watch-list/rule
  *     layer per micro-batch snapshot. Suited to sources that deliver
  *     analysis-complete snapshots (e.g. the hourly files).
  *     Streaming-native per-key TTL state lives in [[StreamingAlertDedup]].
  */
object StreamingSpike {

  /** Tumbling event-time truncating-avg aggregate with watermark.
    * Scale: identical shuffle shape to the batch aggregate (hash on
    * window+keys with partial aggregation); the watermark bounds
    * state to (delay / windowSec + 1) open windows per key.
    */
  def windowedAggregate(hist: DataFrame, windowSec: Long,
                        watermarkDelaySec: Long): DataFrame =
    hist
      .withColumn("event_time", col("timestamp").cast("timestamp"))
      .withWatermark("event_time", s"$watermarkDelaySec seconds")
      .groupBy(window(col("event_time"), s"$windowSec seconds"),
        col("num_protocol"), col("type_proto"), col("dst_ip"))
      .agg(avg("CountPkt").cast("int").as("sum_val"))
      .select(
        col("window.start").cast("long").as("window_start"),
        col("num_protocol"), col("type_proto"), col("sum_val"), col("dst_ip"))

  /** Start the streaming spike query: every micro-batch runs the batch
    * detector over the snapshot and feeds the shared alert layer.
    */
  def start(
      hist: DataFrame,
      config: HhaConfig,
      watchlist: WatchlistProvider,
      sink: RuleSink,
      clock: () => Long = () => System.currentTimeMillis() / 1000,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      checkpointDir: Option[String] = None): StreamingQuery = {
    val dedup = new AlertDedup(config.limitDetectTimeSec.toLong)
    val writer: DataStreamWriter[Row] = hist.writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val now = clock()
          dedup.process(SpikeScheduler.detect(batch, now, config.spikeParams),
            watchlist.contains, now).foreach(sink.emit)
        }
        ()
      }
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d)).start()
  }
}
