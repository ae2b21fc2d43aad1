package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.app.{FileWatchlist, HhaConfig, LogRuleSink, SpikeScheduler, WatchlistProvider}
import graft.reference.{Alert, AlertDedup, SpikeDetector}
import graft.sources.HourlyParquetSource

/** A rule sink that renders the reference's log line for each alert
  * (hha.py:239–241) and keeps only a count.
  */
final class CountingSink {
  var emits = 0L
  val sink = new LogRuleSink(_ => emits += 1)
}

/** A watch-list provider wrapped to count and time `contains`. */
final class TimedWatchlist(inner: WatchlistProvider) extends WatchlistProvider {
  var calls = 0L
  var nanos = 0L
  def current: Set[Long] = inner.current
  override def contains(ip: Long): Boolean = {
    val t0 = System.nanoTime()
    val r = inner.contains(ip)
    nanos += System.nanoTime() - t0
    calls += 1
    r
  }
}

/** The program as a deployment wires it (Main.scala): hour source,
  * file watch-list, log sink and scheduler, on a simulated clock that
  * the benchmark advances by `sleepInterval` per pass.
  */
final class SpikeRig(spark: SparkSession, dir: Path, cfg: HhaConfig, start: Long) {
  var now: Long = start
  val source = new HourlyParquetSource(spark, dir.toString, clock = () => now)
  val watch = new FileWatchlist(dir.resolve("watchlist.txt"))
  val sink = new CountingSink
  val sched = new SpikeScheduler(source, cfg, watch, sink.sink,
    clock = () => now, sleeper = _ => ())
}

/** Per-pass facts the traced pass collects beside its spans. */
final case class PassFacts(found: Int, collected: Int, passed: Int,
                           tracked: Int, watchCalls: Long, emits: Long, compiles: Long,
                           fileBytes: Long = 0)

/** `SpikeScheduler.runOnce` decomposed into the same public calls, in
  * the same order, each inside a span. It keeps its own dedup state
  * and sink, so it can run beside an untraced scheduler on the same
  * inputs and be compared with it pass by pass. One call more than
  * `runOnce` makes: `existingPaths` is called on its own to time
  * discovery and count the hour files (read() repeats that probe).
  */
final class TracedPass(spark: SparkSession, rig: SpikeRig, dir: Path,
                       cfg: HhaConfig, tr: Tracer) {
  private val source = new HourlyParquetSource(spark, dir.toString, clock = () => rig.now)
  private val dedup = new AlertDedup(cfg.limitDetectTimeSec.toLong)
  private val watch = new TimedWatchlist(rig.watch)
  private val sink = new CountingSink

  def runOnce(): (Seq[Alert], PassFacts) = {
    val (alerts, f, paths) = pass()
    // on-disk bytes of the hour files read: Spark's task input metrics
    // count only the Parquet footer reads here, not the column chunks
    val bytes = paths.map { p =>
      Using.resource(Files.walk(Paths.get(p)))(_.iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum)
    }.sum
    (alerts, f.copy(fileBytes = bytes))
  }

  private def pass(): (Seq[Alert], PassFacts, Seq[String]) = tr.span("app.pass") {
    val now = rig.now
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val paths = tr.span("sources.discover")(source.existingPaths(numberFiles = 2))
    val calls0 = watch.calls
    val emits0 = sink.emits
    tr.span("sources.open")(source.read(numberFiles = 2)) match {
      case None => (Seq.empty, PassFacts(paths.size, 0, 0, dedup.trackedKeys, 0, 0, 0), paths)
      case Some(hist) =>
        val out = tr.span("reference.detect_plan")(SpikeDetector.detectFused(
          hist,
          currentPredicate = col("timestamp") > now - 90L,
          previousPredicate = col("timestamp") < now - 300L,
          params = cfg.spikeParams))
        val alerts = tr.span("reference.execute")(out.collect().toSeq.map { r =>
          Alert(r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))
        })
        val passed = tr.span("reference.dedup") {
          watch.nanos = 0
          val r = dedup.process(alerts, watch.contains, now)
          tr.aggregateChild("app.watchlist", watch.nanos)
          r
        }
        tr.span("app.sink")(passed.foreach(sink.sink.emit))
        (passed, PassFacts(paths.size, alerts.size, passed.size, dedup.trackedKeys,
          watch.calls - calls0, sink.emits - emits0,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0), paths)
    }
  }
}

object SpikeBench {

  /** Warm-up passes per set-up: with fewer than about six passes in
    * all before the timed loop, its first passes are still markedly
    * slower than later ones.
    */
  private val WarmupPasses = 2

  /** Set-ups per run, setup_s being their median: the first pays JVM
    * class loading and JIT, later ones do not.
    */
  private val Setups = 3

  def run(a: Args, rep: Report, layer: mutable.Map[String, Double]): Unit = {
    val cfg = HhaConfig(sleepInterval = a.int("sleep_interval_s"),
      limitDetectTimeSec = a.int("limit_detect_time_s"))
    val start = a.long("hour0") + a.long("clock_start_offset_s")
    val refreshEvery = a.int("refresh_every_passes")
    val rowCounts = ModelData.rowCounts(a.data)

    // set-up, several times: session, input registration, warm-up passes
    val setupS = ArrayBuffer.empty[Double]
    val sessionS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var rig: SpikeRig = null
    val nows = ArrayBuffer.empty[Long]
    val digests = ArrayBuffer.empty[Option[Digest]]
    for (_ <- 1 to Setups) {
      if (spark != null) spark.stop()
      nows.clear(); digests.clear()
      val t0 = System.nanoTime()
      spark = Main.session(a.cores)
      sessionS += (System.nanoTime() - t0) / 1e9
      rig = new SpikeRig(spark, a.data, cfg, start)
      for (_ <- 1 to WarmupPasses) {
        nows += rig.now
        digests += Some(Digest.of(rig.sched.runOnce()))
        rig.now += cfg.sleepInterval
      }
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val selfTestOk = selfTest(spark, a.data.resolve("selftest"), rep)

    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val traced = tracer.map { tr =>
      val tp = new TracedPass(spark, rig, a.data, cfg, tr)
      // bring the traced pipeline's dedup state level with the twin's
      var t = start
      for (_ <- 1 to WarmupPasses) {
        val saved = rig.now
        rig.now = t; tp.runOnce(); rig.now = saved; t += cfg.sleepInterval
      }
      tp
    }

    // timed region: a closed loop of passes, one caller
    val walls = ArrayBuffer.empty[Double]
    val tracedWalls = ArrayBuffer.empty[Double]
    val facts = mutable.LinkedHashMap.empty[Long, PassFacts]
    var rows = 0L
    var twinMismatch = 0
    var thrown = 0
    val deadline = System.nanoTime() + a.timedNanos
    var pass = 0L
    while (System.nanoTime() < deadline) {
      val now = rig.now
      def untraced(): Option[Seq[Alert]] = {
        val t0 = System.nanoTime()
        val r = try Some(rig.sched.runOnce()) catch {
          case e: Exception => rep.line(s"pass $pass threw: $e"); None
        }
        walls += (System.nanoTime() - t0) / 1e9
        r
      }
      val (out, twin) = traced match {
        case None => (untraced(), None)
        case Some(tp) =>
          tracer.get.unit = pass
          def tracedRun() = {
            val t0 = System.nanoTime()
            val r = try Some(tp.runOnce()) catch {
              case e: Exception => rep.line(s"traced pass $pass threw: $e"); None
            }
            tracedWalls += (System.nanoTime() - t0) / 1e9
            r
          }
          // alternate which side goes first
          if (pass % 2 == 0) { val u = untraced(); (u, tracedRun()) }
          else { val t = tracedRun(); (untraced(), t) }
      }
      if (out.isEmpty) thrown += 1
      nows += now
      digests += out.map(Digest.of)
      rows += ModelData.hoursRead(now).flatMap(rowCounts.get).sum
      twin.foreach { case (alerts, f) =>
        facts(pass) = f
        if (!out.contains(alerts)) {
          twinMismatch += 1
          rep.line(s"pass $pass: traced alerts differ from runOnce")
        }
      }
      if (traced.isDefined && twin.isEmpty) twinMismatch += 1
      rig.now += cfg.sleepInterval
      pass += 1
      // off the pass path, as Main's refresh daemon is
      if (pass % refreshEvery == 0) tracer match {
        case Some(tr) => tr.unit = pass - 1; tr.span("app.watchlist_refresh")(rig.watch.refresh())
        case None => rig.watch.refresh()
      }
    }
    val heap = Main.retainedHeapMb()

    // output check against the independent model, every pass in order;
    // the model's copy of the rows is loaded only now, so the heap
    // figure covers the program and Spark alone
    val sim = new SpikeModel(ModelData.load(a.data), cfg.quotientAmplification.toDouble,
      cfg.limitNewData, cfg.limitNewDataNet, cfg.limitDetectTimeSec.toLong,
      ModelData.watchlist(a.data.resolve("watchlist.txt")))
    var modelMismatch = 0
    var modelAlerts = 0L
    nows.indices.foreach { i =>
      val expect = sim.pass(nows(i))
      modelAlerts += expect.size
      if (digests(i).exists(_ != Digest.of(expect))) {
        modelMismatch += 1
        if (modelMismatch <= 5)
          rep.line(s"pass $i (now=${nows(i)}): emitted ${digests(i).map(_.count)} alerts, " +
            s"model ${expect.size}, contents differ")
      }
    }
    rep.attempted = nows.size
    rep.failed = thrown + modelMismatch + twinMismatch
    rep.checksOk = selfTestOk
    val n = walls.size
    val wallSum = walls.sum
    rep.line(f"${a.workload}: ${nows.size} passes checked against the model " +
      f"($WarmupPasses warm-up + $n timed), $modelAlerts alerts emitted, " +
      f"$modelMismatch model mismatches, $thrown thrown, $twinMismatch traced/untraced mismatches")
    rep.line(f"failed_ratio = ${rep.failed}/${rep.attempted} = ${rep.failed.toDouble / rep.attempted}%.4f")
    rep.line(f"pass_p50_s = ${Stats.median(walls)}%.4f (n=$n), pass_p75_s = " +
      f"${Stats.pct(walls, 0.75)}%.4f (n=$n, ${Stats.beyond(walls, 0.75)} beyond), pass_p90_s = " +
      f"${Stats.pct(walls, 0.9)}%.4f (n=$n, ${Stats.beyond(walls, 0.9)} beyond)")
    rep.line("pass walls (s): " + walls.map(w => f"$w%.3f").mkString(" "))
    rep.line(f"rows_per_s = $rows rows / $wallSum%.3f s pass wall = ${rows / wallSum}%.0f")
    rep.line(f"setup_s = median of ${setupS.map(x => f"$x%.3f").mkString(", ")} " +
      f"(session ${sessionS.map(x => f"$x%.3f").mkString(", ")})")
    rep.line(f"retained_heap_mb = $heap%.1f")
    if (!a.trace) {
      rep.metric("setup_s", Stats.median(setupS), "s")
      rep.metric("step_p50_s", Stats.median(walls), "s")
      rep.metric("step_tail_s", Stats.pct(walls, 0.75), "s")
      rep.metric("work_per_s", rows / wallSum, "1/s")
      rep.metric("retained_heap_mb", heap, "MB")
    }
    tracer.foreach { tr =>
      tr.drain()
      tr.writeSpans(a.spans)
      layerMetrics(tr, facts, walls.toSeq, tracedWalls.toSeq, a.cores, layer, rep)
      layer("core.session_s") = Stats.median(sessionS)
    }
  }

  private def layerMetrics(tr: Tracer, facts: mutable.Map[Long, PassFacts], untracedWalls: Seq[Double],
                           tracedWalls: Seq[Double], cores: Int,
                           layer: mutable.Map[String, Double], rep: Report): Unit = {
    val self = tr.selfSeconds
    val byUnit = tr.spans.groupBy(_.unit)
    val per = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    def put(k: String, v: Double): Unit = per.getOrElseUpdate(k, ArrayBuffer.empty) += v
    // only passes whose traced side ran first in its pair, so it paid
    // the same per-pass costs (new clock literals compile new code) as
    // an untraced pass does
    val firsts = facts.filter(_._1 % 2 == 1)
    firsts.foreach { case (u, f) =>
      val spans = byUnit.getOrElse(u, ArrayBuffer.empty)
      val root = spans.find(_.name == "app.pass")
      root.foreach { r =>
        val exec = tr.workIn(u, "reference.execute")
        val open = tr.workIn(u, "sources.open")
        val refW = tr.workIn(u, "reference.detect_plan", "reference.execute")
        val execS = tr.secondsIn(u, "reference.execute")
        val scanRows = exec.inputRows + open.inputRows
        put("sources.discover_s", tr.secondsIn(u, "sources.discover"))
        put("sources.files_found", f.found)
        put("sources.open_s", tr.secondsIn(u, "sources.open"))
        put("sources.scan_rows", scanRows)
        put("sources.scan_bytes", f.fileBytes)
        put("reference.detect_plan_s", tr.secondsIn(u, "reference.detect_plan"))
        put("reference.execute_s", execS)
        put("reference.jobs", refW.jobs)
        put("reference.stages", refW.stages)
        put("reference.tasks", refW.tasks)
        put("reference.task_busy_s", exec.taskMs / 1000.0)
        put("execute_core_s", execS * cores)
        put("reference.busy_share", if (execS > 0) exec.taskMs / 1000.0 / (execS * cores) else 0)
        put("reference.task_skew", exec.aggregateStageSkew)
        put("reference.shuffle_write_bytes", exec.shuffleWriteBytes)
        put("reference.shuffle_read_bytes", exec.shuffleReadBytes)
        put("reference.partial_agg_ratio",
          if (scanRows > 0) exec.shuffleWriteRecords.toDouble / scanRows else 0)
        put("reference.spill_bytes", exec.spillBytes)
        put("reference.codegen_compiles", f.compiles)
        put("reference.result_rows", f.collected)
        put("reference.result_bytes", exec.resultBytes)
        put("reference.dedup_s", tr.secondsIn(u, "reference.dedup"))
        put("reference.dedup_in", f.collected)
        put("reference.dedup_out", f.passed)
        if (f.collected > 0) put("reference.dedup_pass_ratio", f.passed.toDouble / f.collected)
        put("reference.tracked_keys", f.tracked)
        put("app.watchlist_calls", f.watchCalls)
        put("app.watchlist_s", tr.secondsIn(u, "app.watchlist"))
        put("app.sink_emits", f.emits)
        put("app.sink_s", tr.secondsIn(u, "app.sink"))
        put("app.pass_self_s", self(r.id))
        val tree = spans.filter(_.name != "app.watchlist_refresh")
        Seq("sources", "reference", "app").foreach { l =>
          put(s"self.${l}_s", tree.filter(_.name.startsWith(l + ".")).map(s => self(s.id)).sum)
        }
        put("trace.child_share", (r.seconds - self(r.id)) / r.seconds)
        put("shuffle_write_records", exec.shuffleWriteRecords)
      }
    }
    per.foreach { case (k, v) => layer(k) = Stats.median(v) }
    layer("app.watchlist_refresh_s") =
      Stats.median(tr.spans.filter(_.name == "app.watchlist_refresh").map(_.seconds))
    val (u50, t50) = Stats.firstRunMedians(untracedWalls, tracedWalls)
    layer("trace.untraced_p50_s") = u50
    layer("trace.traced_p50_s") = t50
    layer("trace.overhead_s") = t50 - u50
    rep.line(f"traced: ${facts.size} passes; pass_p50_s traced $t50%.4f vs untraced $u50%.4f, " +
      f"each over the passes it ran first in its pair: tracing overhead ${t50 - u50}%.4f s; " +
      f"per-layer medians over the ${firsts.size} passes the traced side ran first")
    rep.line(f"self time per layer (median s/pass): " + Seq("sources", "reference", "app")
      .map(l => f"$l ${layer(s"self.${l}_s")}%.4f").mkString(", ") +
      f"; child spans cover ${layer("trace.child_share") * 100}%.1f%% of the pass wall")
    rep.line(f"reference.partial_agg_ratio = ${layer("shuffle_write_records")}%.0f shuffle records / " +
      f"${layer("sources.scan_rows")}%.0f rows scanned (medians); reference.dedup_pass_ratio = " +
      f"${layer("reference.dedup_out")}%.0f out / ${layer("reference.dedup_in")}%.0f in (medians over " +
      f"${per.get("reference.dedup_pass_ratio").map(_.size).getOrElse(0)} passes with alerts)")
    rep.line(f"reference.busy_share = ${layer("reference.task_busy_s")}%.3f task-s / " +
      f"${layer("execute_core_s")}%.3f core-s of reference.execute (medians, $cores cores)")
    layer.remove("shuffle_write_records")
    layer.remove("execute_core_s")
  }

  /** Model self-test on the generator's hand-built hour pair: the real
    * scheduler's alerts over three passes must equal the model's, and
    * must differ from each deliberately wrong model and from a
    * deliberately corrupted copy of themselves.
    */
  def selfTest(spark: SparkSession, dir: Path, rep: Report): Boolean = {
    val data = ModelData.load(dir)
    val watch = ModelData.watchlist(dir.resolve("watchlist.txt"))
    val cfg = HhaConfig()
    val now0 = data.hours.keys.max + 1800
    val clocks = Seq(now0, now0 + 150, now0 + 300)
    val rig = new SpikeRig(spark, dir, cfg, now0)
    val got = clocks.map { t => rig.now = t; rig.sched.runOnce() }
    def modelRun(m: Mutation) = {
      val sim = new SpikeModel(data, cfg.quotientAmplification.toDouble, cfg.limitNewData,
        cfg.limitNewDataNet, cfg.limitDetectTimeSec.toLong, watch, m)
      clocks.map(sim.pass)
    }
    def same(x: Seq[Seq[Alert]], y: Seq[Seq[Alert]]) =
      x.map(Digest.of(_)) == y.map(Digest.of(_))
    val correct = same(got, modelRun(Mutation()))
    val mutants = Seq(
      "clamp off" -> Mutation(clampOff = true),
      "rounded avg" -> Mutation(roundAvg = true),
      "weighted /24 roll-up" -> Mutation(weightedNet = true),
      "TTL sweep with >" -> Mutation(ttlStrict = true),
      "no watch-list gate" -> Mutation(noWatchGate = true))
    val caught = mutants.map { case (n, m) => n -> !same(got, modelRun(m)) }
    val wrongAlert = got.map(p => p.headOption.map(x => x.copy(baseline = x.baseline + 1) +: p.tail)
      .getOrElse(p))
    val injected = !same(wrongAlert, modelRun(Mutation()))
    val ok = correct && caught.forall(_._2) && injected && got.exists(_.nonEmpty)
    rep.line(s"model self-test: program = model ${if (correct) "yes" else "NO"} " +
      s"(${got.map(_.size).mkString("/")} alerts); mutants caught: " +
      caught.map { case (n, c) => s"$n ${if (c) "yes" else "NO"}" }.mkString(", ") +
      s"; injected wrong alert caught ${if (injected) "yes" else "NO"}")
    ok
  }
}
