package graft.app

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}
import graft.SparkTestSession
import graft.reference.{Alert, SpikeDetector}
import graft.sources.HourlyParquetSource

/** End-to-end smoke (SURVEY.md §7 step 6): hourly files on disk →
  * HourlyParquetSource discovery → SpikeDetector → AlertDedup →
  * watch-list → sink, with an injected clock.
  */
class SpikeSchedulerSpec extends AnyFunSuite with SparkTestSession {

  private val Now = 720000L // hour boundary x200
  private val spikingIp = 3232235777L // 192.168.1.1

  private def writeHourlyFiles(dir: String): Unit = {
    val curHour = Now / 3600 * 3600
    // previous-hour file: baseline traffic (ts < Now-300)
    histDf(
      (Now - 400L, 1L, 65, 174L, 11, spikingIp),
      (Now - 400L, 1L, 70, 500L, 31, 174327451L))
      .coalesce(1).write.parquet(s"$dir/level_${curHour - 3600}")
    // current-hour file: the spike + steady key. ts sits slightly
    // ahead of Now so the open-ended `ts > now-90` window still
    // covers these rows on the test's later (TTL-expiry) passes.
    histDf(
      (Now + 305L, 1L, 65, 961L, 11, spikingIp),
      (Now + 305L, 1L, 70, 505L, 31, 174327451L))
      .coalesce(1).write.parquet(s"$dir/level_$curHour")
  }

  test("hourly source: filename arithmetic + existence probing (hha.py:286-301)") {
    val dir = Files.createTempDirectory("hours").toString
    writeHourlyFiles(dir)
    val src = new HourlyParquetSource(spark, dir, clock = () => Now)
    val curHour = Now / 3600 * 3600
    assert(src.candidatePaths(2) ===
      Seq(s"$dir/level_$curHour", s"$dir/level_${curHour - 3600}"))
    assert(src.existingPaths(3).size === 2) // 3rd hour file doesn't exist
    assert(src.read(2).get.count() === 4)
    assert(new HourlyParquetSource(spark, dir, clock = () => Now + 86400L)
      .read(2).isEmpty) // a day later: no files for those hours
  }

  test("scheduler pass: spike detected, watch-list filtered, TTL suppressed " +
    "on the next pass") {
    val dir = Files.createTempDirectory("hours2").toString
    writeHourlyFiles(dir)
    var now = Now
    val sink = new CollectingRuleSink
    val sched = new SpikeScheduler(
      new HourlyParquetSource(spark, dir, clock = () => now),
      HhaConfig(),
      new StaticWatchlist(Set(spikingIp)), // the /24 net addr is NOT watched
      sink,
      clock = () => now,
      sleeper = _ => ())

    val first = sched.runOnce()
    assert(first.map(a => (a.numProtocol, a.dstIp, a.baseline)) ===
      Seq((65, spikingIp, 174)))

    now += 10 // second pass within TTL: same spike, suppressed
    assert(sched.runOnce() === Seq.empty)

    now += HhaConfig().limitDetectTimeSec // past TTL: fires again
    assert(sched.runOnce().size === 1)
    assert(sink.alerts.size === 2)
  }

  test("a steady pass compiles no classes: the window bounds are bound " +
    "parameters, not literals") {
    val dir = Files.createTempDirectory("hours-codegen").toString
    writeHourlyFiles(dir)
    var now = Now
    val sched = new SpikeScheduler(
      new HourlyParquetSource(spark, dir, clock = () => now),
      HhaConfig(), new StaticWatchlist(Set(spikingIp)), new CollectingRuleSink,
      clock = () => now, sleeper = _ => ())
    // eight passes at advancing clocks: each moves both window bounds,
    // which as long literals would be inlined into new generated code
    val compiles = (1 to 8).map { _ =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      sched.runOnce()
      now += 10
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    assert(compiles.drop(3).forall(_ == 0L),
      s"classes compiled per pass: ${compiles.mkString(", ")}")
  }

  test("bound window parameters give the literal predicates' answers, rows " +
    "exactly on the strict bounds included, with and without codegen") {
    val now = Now + 1200L
    val (ipA, ipB, ipC) = (3232235777L, 3232236033L, 3232236289L)
    val dir = Files.createTempDirectory("hours-bounds").toString
    histDf(
      (now - 90L, 1L, 65, 5000L, 11, ipA), // on the current bound: out
      (now - 89L, 1L, 65, 961L, 11, ipA),
      (now - 300L, 1L, 65, 10L, 11, ipA), // on the previous bound: out
      (now - 301L, 1L, 65, 174L, 11, ipA),
      (now - 90L, 1L, 70, 9000L, 31, ipB), // its only row: no current value
      (now - 300L, 1L, 6, 100L, 11, ipC), // its only previous row: a new key
      (now - 10L, 1L, 6, 8000L, 11, ipC))
      .coalesce(1).write.parquet(s"$dir/level_${now / 3600 * 3600}")
    val hist = new HourlyParquetSource(spark, dir, clock = () => now).read(2).get
    def ordered(as: Seq[Alert]) = as.sortBy(a => (a.numProtocol, a.typeProto, a.baseline, a.dstIp))
    def literal() = SpikeDetector.detectFused(hist,
      currentPredicate = col("timestamp") > lit(now - 90L),
      previousPredicate = col("timestamp") < lit(now - 300L),
      params = HhaConfig().spikeParams)
      .collect().toSeq.map(r => Alert(r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    def check(): Unit = {
      val expected = literal()
      assert(expected.filter(a => Set(ipA, ipB, ipC)(a.dstIp)).toSet ===
        Set(Alert(65, 11, 174, ipA), Alert(6, 11, 2500, ipC)))
      assert(ordered(SpikeScheduler.detect(hist, now, HhaConfig().spikeParams)) ===
        ordered(expected))
      val sched = new SpikeScheduler(
        new HourlyParquetSource(spark, dir, clock = () => now), HhaConfig(),
        new StaticWatchlist(expected.map(_.dstIp).toSet), new CollectingRuleSink,
        clock = () => now, sleeper = _ => ())
      assert(ordered(sched.runOnce()) === ordered(expected))
    }
    check()
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; check() }
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("hourly source: an hour path with no data file reads as None") {
    val dir = Files.createTempDirectory("hours-empty").toString
    val curHour = Now / 3600 * 3600
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/level_$curHour"))
    Files.createFile(java.nio.file.Paths.get(s"$dir/level_$curHour/_SUCCESS"))
    val src = new HourlyParquetSource(spark, dir, clock = () => Now)
    assert(src.existingPaths(2) === Seq(s"$dir/level_$curHour"))
    assert(src.read(2).isEmpty)
    val sched = new SpikeScheduler(src, HhaConfig(), new StaticWatchlist(Set.empty),
      new CollectingRuleSink, clock = () => Now, sleeper = _ => ())
    assert(sched.runOnce() === Seq.empty)
  }

  test("hourly source: columns are read by name, in any order, beside extra " +
    "columns; a missing one reads as null") {
    val curHour = Now / 3600 * 3600
    val rows = histDf((Now + 1L, 1L, 65, 174L, 11, spikingIp),
      (Now + 2L, 2L, 70, 500L, 31, 174327451L))
    val plain = Files.createTempDirectory("hours-plain").toString
    rows.coalesce(1).write.parquet(s"$plain/level_$curHour")
    val shuffled = Files.createTempDirectory("hours-shuffled").toString
    rows.select(col("dst_ip"), lit("x").as("extra"), col("CountPkt"),
        col("type_proto"), col("timestamp"), col("num_protocol"), col("subagent_id"))
      .coalesce(1).write.parquet(s"$shuffled/level_$curHour")
    val narrow = Files.createTempDirectory("hours-narrow").toString
    rows.drop("subagent_id").coalesce(1).write.parquet(s"$narrow/level_$curHour")
    def read(dir: String) = new HourlyParquetSource(spark, dir, clock = () => Now).read(2).get
    val expected = read(plain)
    assert(expected.columns.toSeq ===
      HourlyParquetSource.ReferenceSchema.fieldNames.toSeq)
    assert(read(shuffled).schema === expected.schema)
    assert(read(shuffled).collect().toSet === expected.collect().toSet)
    assert(read(narrow).collect().toSet ===
      expected.withColumn("subagent_id", lit(null).cast("bigint")).collect().toSet)
  }

  test("scheduler skips cleanly when no hour files exist (hha.py:138-139)") {
    val empty = Files.createTempDirectory("nohours").toString
    val sched = new SpikeScheduler(
      new HourlyParquetSource(spark, empty, clock = () => Now),
      HhaConfig(), new StaticWatchlist(Set.empty), new CollectingRuleSink,
      clock = () => Now, sleeper = _ => ())
    assert(sched.runOnce() === Seq.empty)
  }
}
