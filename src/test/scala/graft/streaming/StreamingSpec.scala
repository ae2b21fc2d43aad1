package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkTestSession
import graft.app.{CollectingRuleSink, HhaConfig, StaticWatchlist}
import graft.reference.Alert

class StreamingSpec extends AnyFunSuite with SparkTestSession {

  test("windowed aggregate: tumbling event-time windows close at the watermark " +
    "and apply the truncating avg") {
    val s = spark; import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[HistRow]
    val q = StreamingSpike.windowedAggregate(in.toDF(), windowSec = 100L,
        watermarkDelaySec = 0L)
      .writeStream.format("memory").queryName("winagg").outputMode("append").start()
    try {
      // two rows in window [0,100): avg(2,3) truncates to 2
      in.addData(HistRow(10L, 1L, 65, 2L, 11, 42L), HistRow(20L, 1L, 65, 3L, 11, 42L))
      q.processAllAvailable()
      in.addData(HistRow(500L, 1L, 65, 7L, 11, 42L)) // advances max event time
      q.processAllAvailable()
      in.addData(HistRow(600L, 1L, 65, 9L, 11, 42L)) // watermark passes 100
      q.processAllAvailable()
      // watermark reached 600: windows [0,100) and [500,600) are both
      // closed; [600,700) stays open
      val rows = s.table("winagg").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(3)))
      assert(rows.toSet === Set((0L, 65, 2), (500L, 65, 7)))
    } finally q.stop()
  }

  test("stream-stream left outer: matches emit immediately, unmatched lefts " +
    "null-pad only after the watermark closes their horizon") {
    val s = spark; import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val inL = MemoryStream[(Long, Long, Long)]
    val inR = MemoryStream[(Long, Long, Long)]
    val l = inL.toDF().toDF("l_event", "user_id", "l_sec")
      .withColumn("l_ts", timestamp_seconds(col("l_sec")))
      .withWatermark("l_ts", "10 seconds")
    val r = inR.toDF().toDF("r_event", "r_user", "r_sec")
      .withColumn("r_ts", timestamp_seconds(col("r_sec")))
      .withWatermark("r_ts", "10 seconds")
    val q = l.join(r,
        col("user_id") === col("r_user") &&
          col("r_ts") > col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select("l_event", "user_id", "l_sec", "r_event", "r_sec")
      .writeStream.format("memory").queryName("lo_join")
      .outputMode("append").start()
    try {
      // user 1: match in-bound; user 2: right exists but out of bound;
      // user 3: no right at all
      inL.addData((10L, 1L, 1000L), (20L, 2L, 1000L), (30L, 3L, 1000L))
      inR.addData((11L, 1L, 1500L), (21L, 2L, 9000L))
      q.processAllAvailable()
      // the inner match is out already; no null rows can exist yet —
      // the unmatched lefts' horizons (l_ts + 1h) are ahead of the
      // watermark, so the engine must still be holding them
      val early = s.table("lo_join").collect()
      assert(early.map(_.getLong(0)).toSet === Set(10L))
      // sentinel far past every horizon; one extra batch lets the
      // eviction pass run with the advanced watermark
      inL.addData((-2L, -1L, 100000L)); inR.addData((-3L, -1L, 100000L))
      q.processAllAvailable()
      inL.addData((-2L, -1L, 100001L)); inR.addData((-3L, -1L, 100001L))
      q.processAllAvailable()
      val rows = s.table("lo_join").filter(col("l_event") >= 0).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      assert(rows === Set((10L, 11L), (20L, -1L), (30L, -1L)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState TTL dedup: per-key state across micro-batches") {
    val s = spark; import s.implicits._
    implicit val ctx = s.sqlContext
    val a = Alert(65, 11, 174, 174327451L)
    val in = MemoryStream[AlertEvent]
    val q = StreamingAlertDedup.dedup(in.toDS(), ttlSec = 300L)
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      in.addData(AlertEvent(a, 1000L), AlertEvent(a, 1100L)) // same batch: one fires
      q.processAllAvailable()
      in.addData(AlertEvent(a, 1200L)) // within TTL: suppressed
      q.processAllAvailable()
      in.addData(AlertEvent(a, 1300L)) // exactly at TTL: fires
      q.processAllAvailable()
      assert(s.table("dedup").count() === 2)
    } finally q.stop()
  }

  test("streaming-native detector: windows close at the watermark, consecutive " +
    "windows compared under reference spike semantics") {
    val s = spark; import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[HistRow]
    val q = StreamingDetect.detect(in.toDF(), windowSec = 100L, watermarkDelaySec = 0L)
      .writeStream.format("memory").queryName("sdetect").outputMode("append").start()
    try {
      // window [0,100): avg 174 — new key, 174 < 3*2500 -> silent
      in.addData(HistRow(10L, 1L, 65, 174L, 11, 42L))
      q.processAllAvailable()
      // window [100,200): avg(960,962)=961; prev 174 -> 961/174 > 3 -> alert
      in.addData(HistRow(110L, 1L, 65, 960L, 11, 42L), HistRow(120L, 1L, 65, 962L, 11, 42L))
      q.processAllAvailable()
      // advance the watermark past 200 so [100,200) closes
      in.addData(HistRow(500L, 1L, 65, 10L, 11, 42L))
      q.processAllAvailable()
      in.addData(HistRow(600L, 1L, 65, 10L, 11, 42L))
      q.processAllAvailable()
      val alerts = s.table("sdetect").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(3), r.getLong(4)))
      assert(alerts.toSeq === Seq((100L, 65, 174, 42L)))
    } finally q.stop()
  }

  test("foreachBatch pipeline: micro-batch snapshot through detector + alert layer") {
    val s = spark; import s.implicits._
    implicit val ctx = s.sqlContext
    val now = 10000L
    val spikingIp = 3232235777L
    val in = MemoryStream[HistRow]
    val sink = new CollectingRuleSink
    val q = StreamingSpike.start(in.toDF(), HhaConfig(),
      new StaticWatchlist(Set(spikingIp)), sink, clock = () => now)
    try {
      in.addData(
        HistRow(now - 10L, 1L, 65, 961L, 11, spikingIp),  // current window
        HistRow(now - 400L, 1L, 65, 174L, 11, spikingIp)) // previous window
      q.processAllAvailable()
      assert(sink.alerts.map(a => (a.numProtocol, a.dstIp, a.baseline)) ===
        Seq((65, spikingIp, 174)))
      // same snapshot again: TTL-suppressed by the shared dedup state
      in.addData(
        HistRow(now - 10L, 1L, 65, 961L, 11, spikingIp),
        HistRow(now - 400L, 1L, 65, 174L, 11, spikingIp))
      q.processAllAvailable()
      assert(sink.alerts.size === 1)
    } finally q.stop()
  }

  // Pins the merge rule st07's DuckDB oracle mirrors: an event at
  // EXACTLY prev session end (last event + gap) still merges; one
  // second past it starts a new session. If an engine upgrade ever
  // flips the boundary to exclusive, this fails before the oracle does.
  test("session_window: event at exactly session end merges; past it splits") {
    val s = spark; import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val gap = 1800L
    val in = MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("k", "sec")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"))
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), s"$gap seconds"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("k"), unix_timestamp(col("session_window.start")).as("st"),
        unix_timestamp(col("session_window.end")).as("en"), col("n"))
      .writeStream.format("memory").queryName("sesswin").outputMode("append").start()
    try {
      // k=1: 0, 1799 (merges), 3599 = exactly 1799+gap (still merges),
      //      5400 = one past 3599+gap (new session)
      in.addData((1L, 0L), (1L, 1799L), (1L, 3599L), (1L, 5400L))
      q.processAllAvailable()
      in.addData((-1L, 1000000L)) // sentinel: close everything real
      q.processAllAvailable()
      in.addData((-1L, 2000000L))
      q.processAllAvailable()
      val rows = s.table("sesswin").filter(col("k") >= 0).orderBy("st").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq === Seq((1L, 0L, 5399L, 3L), (1L, 5400L, 7200L, 1L)))
    } finally q.stop()
  }

  test("dynamic-gap session_window: a purchase holds the session open where " +
      "a view would have closed it") {
    val s = spark; import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val in = MemoryStream[(Long, Long, String)]
    val gap = when(col("t") === "purchase", lit("7200 seconds"))
      .otherwise(lit("1800 seconds"))
    val q = in.toDF().toDF("k", "sec", "t")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("t"))
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), gap), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("k"), unix_timestamp(col("session_window.start")).as("st"),
        unix_timestamp(col("session_window.end")).as("en"), col("n"))
      .writeStream.format("memory").queryName("dynsess").outputMode("append").start()
    try {
      // k=1: view@0 then view@3600 — 1800 s gap expired, two sessions.
      // k=2: purchase@0 then view@3600 — the purchase's 7200 s window
      //      spans the same silence, one session; the view extends the
      //      end only to 5400 < 7200, so end stays 7200.
      in.addData((1L, 0L, "view"), (1L, 3600L, "view"),
        (2L, 0L, "purchase"), (2L, 3600L, "view"))
      q.processAllAvailable()
      in.addData((-1L, 1000000L, "view")) // sentinel: close real sessions
      q.processAllAvailable()
      in.addData((-1L, 2000000L, "view"))
      q.processAllAvailable()
      val rows = s.table("dynsess").filter(col("k") >= 0).orderBy("k", "st")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq === Seq(
        (1L, 0L, 1800L, 1L), (1L, 3600L, 5400L, 1L),
        (2L, 0L, 7200L, 2L)))
    } finally q.stop()
  }

  test("st05 and st10 run through the feed harness and leave the session " +
    "confs as they found them") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.streaming.stateStore.providerClass")
    def confs = keys.map(k => k -> spark.conf.getOption(k))
    for (name <- Seq("st05_streaming_dedup_ttl", "st10_transform_with_state")) {
      val before = confs
      val rows = graft.queries.StreamingQueries.all(name)(
        spark, "/root/testdata/sf0.001").collect()
      assert(rows.nonEmpty, s"$name returned no rows")
      assert(confs === before, s"$name leaked a session conf")
    }
  }
}
