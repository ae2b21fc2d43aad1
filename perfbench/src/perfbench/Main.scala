package perfbench

import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM (the Python runner builds it):
  *
  *   perfbench.Main --data <generated dir> --work <scratch dir> --seconds <n>
  *                  --trace <0|1> --cores <n> --out <result.json> --spans <spans.jsonl>
  *
  * The workload's parameters come from `<data>/params.json`, which the
  * generator writes beside the inputs.
  */
final case class Args(data: Path, work: Path, seconds: Int, trace: Boolean, cores: Int,
                      out: Path, spans: Path, params: JsonNode) {
  def workload: String = params.get("workload").asText
  def int(k: String): Int = params.get(k).asInt
  def long(k: String): Long = params.get(k).asLong
  def timedNanos: Long = seconds * 1000000000L
}

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = Paths.get(m("data"))
    Args(data, Paths.get(m("work")), m("seconds").toInt, m("trace") == "1", m("cores").toInt,
      Paths.get(m("out")), Paths.get(m("spans")),
      new ObjectMapper().readTree(data.resolve("params.json").toFile))
  }
}

object Main {

  /** Per-layer metrics with their units: those every workload measures,
    * those of the spike layers and those of the dedup layers.
    */
  val SharedLayer: Seq[(String, String)] = Seq(
    "core.session_s" -> "s",
    "trace.untraced_p50_s" -> "s", "trace.traced_p50_s" -> "s",
    "trace.overhead_s" -> "s", "trace.child_share" -> "ratio")

  val SpikeLayer: Seq[(String, String)] = Seq(
    "sources.discover_s" -> "s", "sources.files_found" -> "count",
    "sources.open_s" -> "s",
    "sources.scan_rows" -> "count", "sources.scan_bytes" -> "bytes",
    "reference.detect_plan_s" -> "s", "reference.execute_s" -> "s",
    "reference.jobs" -> "count", "reference.stages" -> "count",
    "reference.tasks" -> "count", "reference.task_busy_s" -> "s",
    "reference.busy_share" -> "ratio", "reference.task_skew" -> "ratio",
    "reference.shuffle_write_bytes" -> "bytes",
    "reference.shuffle_read_bytes" -> "bytes",
    "reference.partial_agg_ratio" -> "ratio", "reference.spill_bytes" -> "bytes",
    "reference.codegen_compiles" -> "count", "reference.result_rows" -> "count", "reference.result_bytes" -> "bytes",
    "reference.dedup_s" -> "s", "reference.dedup_in" -> "count",
    "reference.dedup_out" -> "count", "reference.dedup_pass_ratio" -> "ratio",
    "reference.tracked_keys" -> "count",
    "app.watchlist_calls" -> "count", "app.watchlist_s" -> "s",
    "app.sink_emits" -> "count", "app.sink_s" -> "s",
    "app.pass_self_s" -> "s", "app.watchlist_refresh_s" -> "s",
    "self.sources_s" -> "s", "self.reference_s" -> "s", "self.app_s" -> "s")

  val DedupLayer: Seq[(String, String)] = Seq(
    "llm.sigs_s" -> "s", "llm.probe_s" -> "s", "llm.candidates_s" -> "s",
    "llm.components_s" -> "s", "llm.index_fold_s" -> "s",
    "llm.store_append_s" -> "s", "llm.store_read_s" -> "s",
    "llm.store_compact_s" -> "s",
    "llm.jobs_per_batch" -> "count", "llm.stages_per_batch" -> "count",
    "llm.tasks_per_batch" -> "count",
    "llm.candidate_pairs" -> "count", "llm.candidate_yield" -> "ratio",
    "llm.store_seqs" -> "count", "llm.store_bytes" -> "bytes",
    "llm.shuffle_write_bytes" -> "bytes", "llm.base_build_s" -> "s",
    "self.llm_s" -> "s")

  /** A traced run reports every per-layer metric, as the result format
    * asks. Those of the workload's own layers must all have been
    * measured (a missing one fails the run); those of the layers the
    * workload never calls are 0, the time and work spent there.
    */
  def reportLayers(spike: Boolean, layer: collection.Map[String, Double], rep: Report): Unit = {
    val (own, idle) = if (spike) (SpikeLayer, DedupLayer) else (DedupLayer, SpikeLayer)
    (SharedLayer ++ own).foreach { case (n, u) =>
      rep.metric(n, layer.getOrElse(n, sys.error(s"per-layer metric $n was not measured")), u)
    }
    idle.foreach { case (n, u) => rep.metric(n, 0.0, u) }
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val rep = new Report
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    try {
      val spike = a.params.get("kind").asText == "spike"
      if (spike) SpikeBench.run(a, rep, layer) else DedupBench.run(a, rep, layer)
      if (a.trace) reportLayers(spike, layer, rep)
    } catch {
      case t: Throwable =>
        rep.checksOk = false
        rep.failed = math.max(rep.failed, 1)
        rep.attempted = math.max(rep.attempted, rep.failed)
        rep.line(s"run aborted: $t")
        t.printStackTrace()
    } finally SparkSession.getActiveSession.foreach(_.stop())
    Files.writeString(a.out, rep.toJson)
  }

  def session(cores: Int): SparkSession =
    graft.core.GraftSession.local("perfbench", cores.toString)

  /** Driver heap in use after forced full collections, in MB. Collects
    * until the figure stops falling (at most 10 times): Spark's
    * ContextCleaner frees the blocks of unreferenced checkpoints only
    * after a collection has found them, on its own thread.
    */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used(): Double = {
      System.gc()
      Thread.sleep(100)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }
    var last = used()
    var cur = math.min(last, used())
    var n = 2
    while (n < 10 && last - cur > 0.5) {
      last = cur
      cur = math.min(cur, used())
      n += 1
    }
    cur
  }
}
