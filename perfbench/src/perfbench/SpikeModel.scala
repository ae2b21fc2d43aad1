package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using
import graft.reference.Alert

/** One generated hour's rows, read from the generator's raw copy
  * (`rows/<hour>.bin`: row count, then six little-endian int64
  * columns in schema order) — not from the Parquet the program reads.
  * `key` indexes a dictionary of (num_protocol, type_proto, dst_ip)
  * shared by all hours of a dataset.
  */
final class HourRows(val ts: Array[Long], val cnt: Array[Long], val key: Array[Int])

/** The dataset as the model sees it: hours present, key dictionary. */
final class ModelData(val hours: Map[Long, HourRows], val keyNp: Array[Int],
                      val keyTp: Array[Int], val keyIp: Array[Long]) {
  def readHours(now: Long): Seq[HourRows] = ModelData.hoursRead(now).flatMap(hours.get)
}

object ModelData {

  /** The reference's discovery: this hour and the previous one, each
    * read only if it exists (hha.py:293–301).
    */
  def hoursRead(now: Long): Seq[Long] = {
    val h = now / 3600 * 3600
    Seq(h, h - 3600)
  }

  /** Row count of every hour, from the raw copies' headers alone, so
    * the timed loop can count rows read without holding the rows.
    */
  def rowCounts(dir: Path): Map[Long, Long] =
    Using.resource(Files.list(dir.resolve("rows")))(_.iterator().asScala.toList).map { f =>
      val n = Using.resource(Files.newInputStream(f)) { in =>
        ByteBuffer.wrap(in.readNBytes(8)).order(ByteOrder.LITTLE_ENDIAN).getLong()
      }
      f.getFileName.toString.stripSuffix(".bin").toLong -> n
    }.toMap

  def load(dir: Path): ModelData = {
    val dict = mutable.LinkedHashMap.empty[(Int, Int, Long), Int]
    val files = Using.resource(Files.list(dir.resolve("rows")))(_.iterator().asScala.toList)
    val hours = files.map { f =>
      val buf = ByteBuffer.wrap(Files.readAllBytes(f)).order(ByteOrder.LITTLE_ENDIAN)
      val n = buf.getLong().toInt
      def col(): Array[Long] = Array.fill(n)(buf.getLong())
      val ts = col(); col() /* subagent_id */
      val np = col(); val cnt = col(); val tp = col(); val ip = col()
      val key = Array.tabulate(n) { i =>
        dict.getOrElseUpdate((np(i).toInt, tp(i).toInt, ip(i)), dict.size)
      }
      f.getFileName.toString.stripSuffix(".bin").toLong -> new HourRows(ts, cnt, key)
    }.toMap
    val ks = dict.keys.toArray
    new ModelData(hours, ks.map(_._1), ks.map(_._2), ks.map(_._3))
  }

  /** The reference's watch-list file format: one dotted quad per line,
    * `#` comment lines and blanks skipped.
    */
  def watchlist(path: Path): Set[Long] =
    Files.readAllLines(path).asScala.iterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('.').map(_.toLong).foldLeft(0L)((a, b) => (a << 8) | b))
      .toSet
}

/** Deliberate departures from the reference, used only by the
  * self-test to show the model comparison catches each of them.
  */
final case class Mutation(clampOff: Boolean = false, roundAvg: Boolean = false,
                          weightedNet: Boolean = false, ttlStrict: Boolean = false,
                          noWatchGate: Boolean = false)

/** Plain-Scala model of the reference pass: `FiltrDataByInterval`
  * (hha.py:132–219) plus the `GlobalRowList` TTL dedup and watch-list
  * gate (hha.py:231–244), computed row by row with no Spark:
  *   - windows: current `ts > now−90`, previous `ts < now−300`;
  *   - per-key averages truncated toward zero (`avg(...).cast(int)`);
  *   - /24 roll-up = average of the per-key truncated averages;
  *   - baseline clamp `prev/cur > q` to the limit, which the per-IP
  *     branch applies only when `prev > limit` (asymmetric);
  *   - missing baselines filled with the limit (`na.fill(limit)`);
  *   - alert when `cur / baseline > q`, carrying the baseline;
  *   - both branches in one list (positional union);
  *   - TTL sweep before the batch (`now − stamp >= ttl` expires),
  *     then untracked and watched alerts pass and are stamped.
  */
final class SpikeModel(data: ModelData, q: Double, limitIp: Int, limitNet: Int,
                       ttl: Long, watch: Set[Long], m: Mutation = Mutation()) {

  private val seen = mutable.Map.empty[(Int, Int, Long), Long]

  private def avgInt(sum: Double, n: Long): Int =
    if (m.roundAvg) math.round(sum / n).toInt else (sum / n).toInt

  /** Alerts the detector fires at `now`, before dedup. */
  def detect(now: Long): Seq[Alert] = {
    val nk = data.keyIp.length
    val curS = new Array[Long](nk); val curN = new Array[Long](nk)
    val prevS = new Array[Long](nk); val prevN = new Array[Long](nk)
    for (h <- data.readHours(now)) {
      var i = 0
      while (i < h.ts.length) {
        val k = h.key(i)
        if (h.ts(i) > now - 90) { curS(k) += h.cnt(i); curN(k) += 1 }
        else if (h.ts(i) < now - 300) { prevS(k) += h.cnt(i); prevN(k) += 1 }
        i += 1
      }
    }
    val out = mutable.ArrayBuffer.empty[Alert]
    def fire(np: Int, tp: Int, dst: Long, cur: Int, prev: Option[Int],
             limit: Int, needPrevAboveLimit: Boolean): Unit = {
      val clamp = prev.exists(p => !m.clampOff && p.toDouble / cur > q &&
        (!needPrevAboveLimit || p > limit))
      val base = if (clamp) limit else prev.getOrElse(limit)
      if (cur.toDouble / base > q) out += Alert(np, tp, base, dst)
    }
    // per-/24 accumulators of the per-key averages (or raw partials)
    val net = mutable.Map.empty[(Int, Int, Long), Array[Double]]
    var k = 0
    while (k < nk) {
      if (curN(k) > 0 || prevN(k) > 0) {
        val np = data.keyNp(k); val tp = data.keyTp(k); val ip = data.keyIp(k)
        val cur = if (curN(k) > 0) Some(avgInt(curS(k).toDouble, curN(k))) else None
        val prev = if (prevN(k) > 0) Some(avgInt(prevS(k).toDouble, prevN(k))) else None
        cur.foreach(c => fire(np, tp, ip, c, prev, limitIp, needPrevAboveLimit = true))
        val a = net.getOrElseUpdate((np, tp, ip & 0xFFFFFF00L), new Array[Double](4))
        if (m.weightedNet) {
          a(0) += curS(k); a(1) += curN(k); a(2) += prevS(k); a(3) += prevN(k)
        } else {
          cur.foreach { c => a(0) += c; a(1) += 1 }
          prev.foreach { p => a(2) += p; a(3) += 1 }
        }
      }
      k += 1
    }
    for (((np, tp, dst), a) <- net if a(1) > 0) {
      val prev = if (a(3) > 0) Some(avgInt(a(2), a(3).toLong)) else None
      fire(np, tp, dst, avgInt(a(0), a(1).toLong), prev, limitNet, needPrevAboveLimit = false)
    }
    out.toSeq
  }

  /** One pass: detect, sweep, then the dedup + watch-list gate. */
  def pass(now: Long): Seq[Alert] = {
    seen.filterInPlace { case (_, t) => if (m.ttlStrict) now - t <= ttl else now - t < ttl }
    detect(now).filter { a =>
      val key = (a.numProtocol, a.typeProto, a.dstIp)
      !seen.contains(key) && (m.noWatchGate || watch(a.dstIp)) && {
        seen(key) = now
        true
      }
    }
  }
}

/** Order-independent digest of one pass's emitted alerts, so a run
  * keeps a few longs per pass instead of every alert.
  */
final case class Digest(count: Long, h1: Long, h2: Long)

object Digest {
  private def mix(x0: Long): Long = {
    var x = x0 * 0x9E3779B97F4A7C15L
    x ^= x >>> 31; x *= 0xBF58476D1CE4E5B9L; x ^= x >>> 29
    x
  }
  def of(as: Iterable[Alert]): Digest = {
    var h1 = 0L; var h2 = 0L; var n = 0L
    as.foreach { a =>
      val v = mix(mix(mix(a.numProtocol.toLong) + a.typeProto) + a.baseline) + a.dstIp
      val m1 = mix(v); h1 += m1; h2 ^= mix(m1 + 0x632BE59BD9B4E019L); n += 1
    }
    Digest(n, h1, h2)
  }
}
