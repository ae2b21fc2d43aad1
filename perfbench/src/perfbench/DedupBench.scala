package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.llm.{Dedup, LabelStore}

/** One CDC batch of the schedule: ids added, then ids tombstoned
  * (some of them not added yet — a later batch adds those).
  */
final case class CdcBatch(adds: Seq[Long], dels: Seq[Long])

/** Incremental dedup maintenance in the shape of st30's per-batch body,
  * driven through the public `Dedup` and `LabelStore` verbs: the label
  * table lives in a LabelStore, the doc-level signatures and the
  * signature-distinct band index are kept as checkpointed frames.
  * `span` wraps each call into a layer (identity when untraced).
  */
final class DedupPipeline(spark: SparkSession, corpus: DataFrame, root: Path,
                          baseMax: Long, compactEvery: Int, span: DedupPipeline.Span) {
  import spark.implicits._

  val store: String = root.resolve("store").toString
  private var sigs: DataFrame = _
  private var index: DataFrame = _
  var batches = 0
  /** The last add batch's candidate pairs (lazy; traced runs count them). */
  var lastPairs: Option[DataFrame] = None

  /** The base corpus build: clusters, signatures and index, persisted
    * like st30's fixture, then the store created over the labels.
    */
  def build(): Unit = {
    val base = corpus.filter(col("doc_id") <= baseMax)
    Dedup.connectedComponents(
        Dedup.minhashCandidates(base, "text", "doc_id"), "doc_a", "doc_b")
      .write.parquet(root.resolve("labels").toString)
    val s = Dedup.docSigs(base, "text", "doc_id").localCheckpoint(true)
    s.write.parquet(root.resolve("sigs").toString)
    Dedup.bandIndexDistinctFromSigs(s, "doc_id").write.parquet(root.resolve("index").toString)
    LabelStore.create(spark, store, spark.read.parquet(root.resolve("labels").toString))
    sigs = spark.read.parquet(root.resolve("sigs").toString)
    index = spark.read.parquet(root.resolve("index").toString)
  }

  def apply(b: CdcBatch): Unit = {
    lastPairs = None
    if (b.adds.nonEmpty) {
      val adds = corpus.filter(col("doc_id").isin(b.adds: _*))
      val addSigs = span("llm.sigs")(Dedup.docSigs(adds, "text", "doc_id").localCheckpoint(true))
      val probe = span("llm.probe")(Dedup.incrementalCandidatesFromSigs(addSigs, index, "doc_id")
        .select(col("new_id").as("doc_a"), col("old_id").as("doc_b")))
      val delta = span("llm.candidates")(probe.unionByName(
        Dedup.candidatesFromSigs(addSigs, "doc_id", materialize = false, assumeUnique = true)
          .select("doc_a", "doc_b")))
      lastPairs = Some(delta)
      val current = span("llm.store_read")(LabelStore.read(spark, store))
      val (chg, dropped) = span("llm.components")(Dedup.incrementalComponentsDelta(
        current, delta, "doc_a", "doc_b", materialize = false))
      span("llm.store_append")(LabelStore.appendDelta(spark, store, chg, dropped))
      sigs = span("llm.sigs")(sigs.unionByName(addSigs).localCheckpoint(true))
      index = span("llm.index_fold")(Dedup.foldIndexDistinct(index,
        Dedup.bandIndexDistinctFromSigs(addSigs, "doc_id"), "doc_id").localCheckpoint(true))
    }
    if (b.dels.nonEmpty) {
      val dels = b.dels.toDF("doc_id")
      span("llm.store_append")(LabelStore.appendDelete(spark, store, sigs, dels, "doc_id"))
      index = span("llm.index_fold")(
        Dedup.deleteFromIndexDistinct(index, sigs, dels, "doc_id").localCheckpoint(true))
      sigs = span("llm.sigs")(sigs.join(dels, Seq("doc_id"), "left_anti").localCheckpoint(true))
    }
    batches += 1
    if (batches % compactEvery == 0) {
      peakSeqs = storeSeqs
      peakBytes = storeBytes
      span("llm.store_compact")(LabelStore.compact(spark, store))
    }
  }

  /** Outstanding delta batches and bytes on disk of the store, as they
    * stood before the last compaction.
    */
  var peakSeqs = 0
  var peakBytes = 0L

  private def storeSeqs: Int = {
    val d = Path.of(store, "delta")
    if (!Files.exists(d)) 0
    else Using.resource(Files.list(d))(_.iterator().asScala.count(_.getFileName.toString.startsWith("seq=")))
  }
  private def storeBytes: Long =
    Using.resource(Files.walk(Path.of(store)))(
      _.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum)
}

object DedupPipeline {
  trait Span { def apply[T](name: String)(body: => T): T }
  val Untraced: Span = new Span { def apply[T](name: String)(body: => T): T = body }
}

object DedupBench {

  /** After the base build and one batch, the next batch (C1-compiled
    * JVM) is no slower than later ones.
    */
  private val WarmupBatches = 1

  def run(a: Args, rep: Report, layer: mutable.Map[String, Double]): Unit = {
    val lines = Files.readAllLines(a.data.resolve("schedule.txt")).asScala.toSeq
    val baseMax = lines.head.stripPrefix("base=").toLong
    val schedule = lines.tail.filter(_.nonEmpty).map { l =>
      val Array(ad, de) = l.split(";", -1)
      def ids(s: String) = s.split("=", 2)(1).split(",").filter(_.nonEmpty).map(_.toLong).toSeq
      CdcBatch(ids(ad), ids(de))
    }
    val groups = Files.readAllLines(a.data.resolve("exact_groups.txt")).asScala
      .filter(_.nonEmpty).map(_.split(",").map(_.toLong).toSeq).toSeq
    val compactEvery = a.int("compact_every_batches")
    val work = a.work

    // set-up, once: a set-up costs several batches, so the run's time
    // goes to timed batches instead. Session, input registration, base
    // build, warm-up batches.
    val t0 = System.nanoTime()
    val spark = Main.session(a.cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val corpus = spark.read.parquet(a.data.resolve("corpus").toString)
    val main = new DedupPipeline(spark, corpus, work.resolve("main"), baseMax,
      compactEvery, DedupPipeline.Untraced)
    val tb = System.nanoTime()
    main.build()
    val baseS = (System.nanoTime() - tb) / 1e9
    schedule.take(WarmupBatches).foreach(main.apply)
    val setupS = (System.nanoTime() - t0) / 1e9

    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val traced = tracer.map { tr =>
      val p = new DedupPipeline(spark, corpus, work.resolve("traced"), baseMax,
        compactEvery, new DedupPipeline.Span {
          def apply[T](name: String)(body: => T): T = tr.span(name)(body)
        })
      p.build()
      schedule.take(WarmupBatches).foreach(p.apply)
      p
    }

    // timed region: a closed loop of maintenance batches, one caller
    val walls = ArrayBuffer.empty[Double]
    val tracedWalls = ArrayBuffer.empty[Double]
    val pairs = ArrayBuffer.empty[(Long, Long)]
    val perBatch = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    def put(k: String, v: Double): Unit = perBatch.getOrElseUpdate(k, ArrayBuffer.empty) += v
    var docs = 0L
    var thrown = 0
    var next = WarmupBatches
    val deadline = System.nanoTime() + a.timedNanos
    while (System.nanoTime() < deadline && next < schedule.size) {
      val b = schedule(next)
      def untraced(): Unit = {
        val t0 = System.nanoTime()
        try main.apply(b) catch {
          case e: Exception => thrown += 1; rep.line(s"batch $next threw: $e")
        }
        walls += (System.nanoTime() - t0) / 1e9
      }
      (traced, tracer) match {
        case (Some(p), Some(tr)) =>
          val u = next.toLong
          tr.unit = u
          def tracedRun(): Unit = {
            val t0 = System.nanoTime()
            try tr.span("llm.batch")(p.apply(b)) catch {
              case e: Exception => thrown += 1; rep.line(s"traced batch $next threw: $e")
            }
            tracedWalls += (System.nanoTime() - t0) / 1e9
          }
          if (next % 2 == 0) { untraced(); tracedRun() } else { tracedRun(); untraced() }
          // off the clock: the batch's candidate pairs and the store's size
          tr.unit = -1
          p.lastPairs.foreach { d =>
            val ps = d.collect().map(r => (r.getLong(0), r.getLong(1)))
            pairs ++= ps
            put("llm.candidate_pairs", ps.length)
          }
          put("llm.store_seqs", p.peakSeqs)
          put("llm.store_bytes", p.peakBytes.toDouble)
        case _ => untraced()
      }
      docs += b.adds.size + b.dels.size
      next += 1
    }
    val heap = Main.retainedHeapMb()
    val timed = next - WarmupBatches

    // output check: the final label table against the from-scratch
    // clustering of the final live set (st30's oracle definition), and
    // every live planted exact-duplicate group in one cluster
    val live = mutable.Set.empty[Long] ++= (1L to baseMax)
    schedule.take(next).foreach { b => live ++= b.adds; live --= b.dels }
    val liveDf = { val s = spark; import s.implicits._; live.toSeq.toDF("doc_id") }
    val expected = Dedup.connectedComponents(
        Dedup.minhashCandidates(corpus.join(liveDf, Seq("doc_id")), "text", "doc_id"),
        "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def check(name: String, p: DedupPipeline): Boolean = {
      val got = LabelStore.read(spark, p.store).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val liveGroups = groups.map(_.filter(live)).filter(_.size > 1)
      val split = liveGroups.count(g => g.map(got.get).distinct.size != 1 || !got.contains(g.head))
      val equal = got == expected
      rep.line(s"$name: final LabelStore.read ${if (equal) "equals" else "DIFFERS FROM"} " +
        s"from-scratch clustering of ${live.size} live docs (${got.size} vs ${expected.size} " +
        s"labelled rows); planted exact groups live ${liveGroups.size}, split $split")
      equal && split == 0
    }
    val okMain = check("dedup check", main)
    val okTraced = traced.forall(p => check("dedup check (traced pipeline)", p))

    rep.attempted = timed + WarmupBatches + 1
    rep.failed = thrown + (if (okMain && okTraced) 0 else 1)
    val n = walls.size
    val wallSum = walls.sum
    rep.line(f"${a.workload}: $WarmupBatches warm-up + $timed timed batches " +
      f"(${walls.size} untraced), $docs docs added or deleted, $thrown thrown")
    rep.line(f"failed_ratio = ${rep.failed}/${rep.attempted} = ${rep.failed.toDouble / rep.attempted}%.4f " +
      "(batches plus the final check)")
    rep.line(f"batch_p50_s = ${Stats.median(walls)}%.4f (n=$n), batch_p75_s = " +
      f"${Stats.pct(walls, 0.75)}%.4f (n=$n, ${Stats.beyond(walls, 0.75)} beyond)")
    rep.line("batch walls (s): " + walls.map(w => f"$w%.3f").mkString(" "))
    rep.line(f"docs_per_s = $docs docs / $wallSum%.3f s batch wall = ${docs / wallSum}%.1f")
    rep.line(f"setup_s = $setupS%.3f (session $sessionS%.3f, base build $baseS%.3f, " +
      f"$WarmupBatches warm-up batches)")
    rep.line(f"retained_heap_mb = $heap%.1f")
    if (!a.trace) {
      rep.metric("setup_s", setupS, "s")
      rep.metric("step_p50_s", Stats.median(walls), "s")
      rep.metric("step_tail_s", Stats.pct(walls, 0.75), "s")
      rep.metric("work_per_s", docs / wallSum, "1/s")
      rep.metric("retained_heap_mb", heap, "MB")
    }
    for (tr <- tracer; p <- traced) {
      tr.drain()
      tr.writeSpans(a.spans)
      val self = tr.selfSeconds
      val names = Seq("llm.sigs", "llm.probe", "llm.candidates", "llm.components",
        "llm.index_fold", "llm.store_append", "llm.store_read")
      (WarmupBatches until next).foreach { b =>
        val u = b.toLong
        names.foreach(nm => put(nm + "_s", tr.secondsIn(u, nm)))
        val c = tr.spans.filter(s => s.unit == u && s.name == "llm.store_compact")
        if (c.nonEmpty) put("llm.store_compact_s", c.map(_.seconds).sum)
        val all = tr.spans.filter(_.unit == u)
        val w = new Work
        all.foreach(s => w += tr.workOf(s.id))
        put("llm.jobs_per_batch", w.jobs)
        put("llm.stages_per_batch", w.stages)
        put("llm.tasks_per_batch", w.tasks)
        put("llm.shuffle_write_bytes", w.shuffleWriteBytes)
        put("self.llm_s", all.map(s => self(s.id)).sum)
        all.find(_.name == "llm.batch").foreach { r =>
          put("trace.child_share", (r.seconds - self(r.id)) / r.seconds)
        }
      }
      perBatch.foreach { case (k, v) => layer(k) = Stats.median(v) }
      val labels = LabelStore.read(spark, p.store).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val inOne = pairs.count { case (x, y) => labels.get(x).exists(l => labels.get(y).contains(l)) }
      layer("llm.candidate_yield") = if (pairs.isEmpty) 0.0 else inOne.toDouble / pairs.size
      layer("llm.base_build_s") = baseS
      layer("core.session_s") = sessionS
      // few batches fit a run, so both sides' medians use every batch
      // (the two alternate which goes first)
      val u50 = Stats.median(walls)
      val t50 = Stats.median(tracedWalls)
      layer("trace.untraced_p50_s") = u50
      layer("trace.traced_p50_s") = t50
      layer("trace.overhead_s") = t50 - u50
      rep.line(f"traced: ${tracedWalls.size} batches; batch_p50_s traced $t50%.4f vs untraced " +
        f"$u50%.4f (n=${walls.size}): tracing overhead ${t50 - u50}%.4f s; child spans cover " +
        f"${layer("trace.child_share") * 100}%.1f%% of the batch wall")
      rep.line(f"llm.candidate_yield = $inOne pairs in one final cluster / ${pairs.size} " +
        f"candidate pairs; llm.store_compact_s median over " +
        f"${perBatch.get("llm.store_compact_s").map(_.size).getOrElse(0)} compacting batches")
    }
  }
}
