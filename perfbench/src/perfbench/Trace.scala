package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `unit` is the pass or batch id the
  * span belongs to (-1: not part of any measured pass or batch).
  */
final case class Span(id: Long, name: String, parent: Long, unit: Long,
                      start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work attributed to one span: everything executed by jobs
  * that started while the span was the innermost open one.
  */
final class Work {
  var jobs, stages, tasks = 0L
  var taskMs, inputRows, inputBytes = 0L
  var shuffleWriteBytes, shuffleWriteRecords = 0L
  var shuffleReadBytes, shuffleReadRecords = 0L
  var spillBytes, resultBytes = 0L
  /** Per stage: task run times (ms) and shuffle records read. */
  val stageTaskMs = mutable.Map.empty[Int, ArrayBuffer[Long]]
  val stageShuffleRead = mutable.Map.empty[Int, Long]

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; inputRows += o.inputRows; inputBytes += o.inputBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes
    shuffleReadRecords += o.shuffleReadRecords
    spillBytes += o.spillBytes; resultBytes += o.resultBytes
    o.stageTaskMs.foreach { case (k, v) =>
      stageTaskMs.getOrElseUpdate(k, ArrayBuffer.empty) ++= v }
    o.stageShuffleRead.foreach { case (k, v) =>
      stageShuffleRead(k) = stageShuffleRead.getOrElse(k, 0L) + v }
  }

  /** Max ÷ median task time of the stage that read the most shuffle
    * records (the final aggregation); 0 when no stage read a shuffle.
    */
  def aggregateStageSkew: Double =
    if (stageShuffleRead.isEmpty) 0.0
    else {
      val st = stageShuffleRead.maxBy(_._2)._1
      val ts = stageTaskMs.getOrElse(st, ArrayBuffer.empty[Long]).map(_.toDouble)
      val med = Stats.median(ts)
      if (ts.isEmpty || med <= 0) 1.0 else ts.max / med
    }
}

/** In-memory span recorder plus a SparkListener that attributes Spark
  * work to the span open when each job started. The open span's id
  * rides the SparkContext local property [[Tracer.Key]], which Spark
  * copies into every job and stage submitted from this thread.
  * Spans are kept in memory and written once, at the end of the run.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer.Key

  val spans = ArrayBuffer.empty[Span]
  private var open: List[Long] = Nil
  private var nextId = 1L
  var unit = -1L

  private val work = mutable.Map.empty[Long, Work]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val drainJobs = mutable.Set.empty[Int]
  private val drained = new AtomicLong(0)

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0L)
    open = id :: open
    sc.setLocalProperty(Key, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Key, open.headOption.map(_.toString).orNull)
      spans += Span(id, name, parent, unit, t0, t1)
    }
  }

  /** A child of the innermost open span whose duration is a sum of
    * many short calls (e.g. watch-list lookups made from inside the
    * dedup call): recorded as one span of that summed length.
    */
  def aggregateChild(name: String, nanos: Long): Unit = {
    val id = nextId
    nextId += 1
    val now = System.nanoTime()
    spans += Span(id, name, open.headOption.getOrElse(0L), unit, now - nanos, now)
  }

  private def spanOf(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(pp => Option(pp.getProperty(Key)))
      .flatMap(_.toLongOption)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty(Key) == Tracer.Drain))
      drainJobs += e.jobId
    else spanOf(e.properties).foreach { id =>
      work.getOrElseUpdate(id, new Work).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (drainJobs.remove(e.jobId)) drained.incrementAndGet()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).foreach { id =>
      stageSpan(e.stageInfo.stageId) = id
      work.getOrElseUpdate(id, new Work).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val w = work.getOrElseUpdate(id, new Work)
      w.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.taskMs += m.executorRunTime
        w.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
        w.inputRows += m.inputMetrics.recordsRead
        w.inputBytes += m.inputMetrics.bytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        w.stageShuffleRead(e.stageId) =
          w.stageShuffleRead.getOrElse(e.stageId, 0L) + m.shuffleReadMetrics.recordsRead
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.resultBytes += m.resultSize
      }
    }
  }

  /** Block until the listener has seen every event posted so far: a
    * one-task marker job goes through the same ordered listener queue,
    * so once its end is seen everything before it has been handled.
    */
  def drain(): Unit = {
    val target = drained.get() + 1
    sc.setLocalProperty(Key, Tracer.Drain)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Key, open.headOption.map(_.toString).orNull)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (drained.get() < target && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def workOf(spanId: Long): Work = synchronized {
    work.getOrElse(spanId, new Work)
  }

  /** Work of every span named `name` in unit `u`, summed. */
  def workIn(u: Long, names: String*): Work = {
    val w = new Work
    spans.iterator.filter(s => s.unit == u && names.contains(s.name))
      .foreach(s => w += workOf(s.id))
    w
  }

  def secondsIn(u: Long, name: String): Double =
    spans.iterator.filter(s => s.unit == u && s.name == name).map(_.seconds).sum

  /** Self time of every span: its duration minus its children's. */
  def selfSeconds: Map[Long, Double] = {
    val child = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    spans.foreach(s => child(s.parent) += s.end - s.start)
    spans.iterator.map(s => s.id -> (s.end - s.start - child(s.id)) / 1e9).toMap
  }

  /** The spans as JSON lines, written once when the run ends. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val om = new ObjectMapper
    val t0 = spans.iterator.map(_.start).minOption.getOrElse(0L)
    val out = spans.iterator.map { s =>
      val w = workOf(s.id)
      val o = om.createObjectNode()
      o.put("id", s.id).put("name", s.name).put("parent", s.parent).put("unit", s.unit)
        .put("start_us", (s.start - t0) / 1000).put("end_us", (s.end - t0) / 1000)
        .put("jobs", w.jobs).put("stages", w.stages).put("tasks", w.tasks)
        .put("task_ms", w.taskMs).put("input_rows", w.inputRows)
        .put("input_bytes", w.inputBytes).put("shuffle_write_bytes", w.shuffleWriteBytes)
        .put("shuffle_read_bytes", w.shuffleReadBytes).put("spill_bytes", w.spillBytes)
        .put("result_bytes", w.resultBytes)
      om.writeValueAsString(o)
    }.mkString("", "\n", "\n")
    java.nio.file.Files.writeString(path, out)
  }
}

object Tracer {
  val Key = "perfbench.span"
  private val Drain = "drain"
}
