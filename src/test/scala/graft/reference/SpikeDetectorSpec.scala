package graft.reference

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Semantics traps of the reference pipeline (SURVEY.md §7 "hard
  * parts") + the README's golden scenarios (FIXTURES.md A2).
  *
  * Window convention in all fixtures: current = ts > 500,
  * previous = ts < 500; cur rows at ts=1000, prev rows at ts=100.
  */
class SpikeDetectorSpec extends AnyFunSuite with SparkTestSession {

  private val P = SpikeParams() // Q=3, limit=2500, limitNet=3500
  private val cur = col("timestamp") > 500
  private val prev = col("timestamp") < 500

  private def detect(rows: (Long, Long, Int, Long, Int, Long)*) =
    SpikeDetector.detect(histDf(rows: _*), cur, prev, P)
      .orderBy("num_protocol", "type_proto", "dst_ip")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))

  test("truncating avg: avg(2,3)=2.5 casts to 2, toward zero (hha.py:143)") {
    val agg = SpikeDetector.aggregateWindow(
      histDf((1000L, 1L, 65, 2L, 11, 42L), (1000L, 1L, 65, 3L, 11, 42L)))
    assert(agg.head.getInt(2) === 2)
  }

  test("steady state: identical windows produce no alerts (README scenario 1)") {
    val alerts = detect(
      (1000L, 1L, 65, 174L, 11, 174327451L),
      (100L, 1L, 65, 174L, 11, 174327451L),
      (1000L, 1L, 2888, 3100L, 31, 174327308L),
      (100L, 1L, 2888, 3100L, 31, 174327308L))
    assert(alerts.isEmpty)
  }

  test("spike: 174→961 and 174→1300 both alert on ip AND /24 branches, " +
    "alert carries the baseline (README scenario 3)") {
    val alerts = detect(
      (1000L, 1L, 65, 961L, 11, 174327451L),
      (100L, 1L, 65, 174L, 11, 174327451L),
      (1000L, 1L, 68, 1300L, 11, 174327451L),
      (100L, 1L, 68, 174L, 11, 174327451L))
    val net = 174327296L // 174327451 & /24 mask
    assert(alerts.toSet === Set(
      (65, 11, 174L, 174327451L), (65, 11, 174L, net),
      (68, 11, 174L, 174327451L), (68, 11, 174L, net)))
  }

  test("new key alerts only when cur > Q·LimitNewData (na.fill semantics, " +
    "hha.py:194 — NOT the README.md:93 prose; README scenario 2)") {
    // 7400 ≤ 3·2500 → silent; 7600 > 7500 → ip alert with baseline 2500
    // (net branch fills 3500 → needs cur > 10500, stays silent)
    assert(detect((1000L, 1L, 68, 7400L, 11, 174327454L)).isEmpty)
    assert(detect((1000L, 1L, 68, 7600L, 11, 174327454L)).toSeq ===
      Seq((68, 11, 2500L, 174327454L)))
    // and past the net threshold both branches fire
    assert(detect((1000L, 1L, 68, 10600L, 11, 174327454L)).toSet ===
      Set((68, 11, 2500L, 174327454L), (68, 11, 3500L, 174327296L)))
  }

  test("clamp asymmetry: per-IP requires prev > limit (hha.py:191), " +
    "per-net clamps on ratio alone (hha.py:177)") {
    // prev=2000, cur=500: ratio 4 > Q, but prev ≤ 2500
    val c = SpikeDetector.aggregateWindow(histDf((1000L, 1L, 65, 500L, 11, 42L)))
    val p = SpikeDetector.prefixPrev(
      SpikeDetector.aggregateWindow(histDf((100L, 1L, 65, 2000L, 11, 42L))))
    val ip = SpikeDetector.joinBaseline(c, p, "dst_ip", P.limitNewData,
      P.quotientAmplification, requirePrevAboveLimit = true)
    val net = SpikeDetector.joinBaseline(c, p, "dst_ip", P.limitNewDataNet,
      P.quotientAmplification, requirePrevAboveLimit = false)
    assert(ip.head.getAs[Int]("prev_sum_val2") === 2000)  // not clamped
    assert(net.head.getAs[Int]("prev_sum_val2") === 3500) // clamped
  }

  test("/24 roll-up is an average of truncated averages, not a weighted mean " +
    "(hha.py:162,167)") {
    // ip A: avg(10,11)=10.5→10 (2 rows); ip B: avg 20 (1 row).
    // avg-of-avgs = (10+20)/2 = 15; weighted mean would be 41/3=13.
    val agg = SpikeDetector.aggregateWindow(histDf(
      (1000L, 1L, 65, 10L, 11, 256L), (1000L, 1L, 65, 11L, 11, 256L),
      (1000L, 1L, 65, 20L, 11, 257L)))
    val net = SpikeDetector.rollupNet(agg)
    assert(net.head.getInt(2) === 15)
  }

  test("intended-mode flags: weighted /24 roll-up and new-key alert at limit " +
    "(SURVEY §7 opt-ins; defaults stay bug-compatible)") {
    val rows = Seq(
      // /24 net 256: cur avgs 10 (2 rows) and 1000 (1 row); prev 150 each.
      // avg-of-avgs = 505 -> 505/150 > 3 alerts; weighted = 340 -> no alert.
      (1000L, 1L, 65, 10L, 11, 256L), (1000L, 1L, 65, 10L, 11, 256L),
      (1000L, 1L, 65, 1000L, 11, 257L),
      (100L, 1L, 65, 150L, 11, 256L), (100L, 1L, 65, 150L, 11, 257L),
      // brand-new key, cur avg 3000: limit < 3000 < 3*limit -> alerts
      // only under the README-prose semantics
      (1000L, 1L, 66, 3000L, 11, 999L))
    def run(p: graft.reference.SpikeParams) =
      SpikeDetector.detectFused(histDf(rows: _*), cur, prev, p)
        .collect().map(r => (r.getInt(0), r.getLong(3))).toSet

    val bugCompat = run(P)
    val intended = run(P.copy(weightedNetRollup = true, newKeyAlertAtLimit = true))
    // bug-compat: net 256 alerts (avg-of-avgs 505 vs 150), ip 257
    // alerts (1000/150 > 3); new key 999 silent (3000 < 7500)
    assert(bugCompat === Set((65, 256L), (65, 257L)))
    // intended: weighted net 340/150 < 3 -> net alert gone; new key
    // 999 alerts (3000 > 2500); ip 257 still alerts
    assert(intended === Set((65, 257L), (66, 999L)))
  }

  private def fused(p: SpikeParams, rows: (Long, Long, Int, Long, Int, Long)*) =
    SpikeDetector.detectFused(histDf(rows: _*), cur, prev, p)
      .collect().map(r => (r.getInt(0), r.getInt(2), r.getLong(3))).toSet

  test("detectFused: a new key's baseline is the limit, so it alerts only " +
    "past Q·limit and carries the limit") {
    // 7400 ≤ 3·2500 → silent; 7600 > 7500 → ip alert with baseline 2500
    assert(fused(P, (1000L, 1L, 68, 7400L, 11, 174327454L)).isEmpty)
    assert(fused(P, (1000L, 1L, 68, 7600L, 11, 174327454L)) ===
      Set((68, 2500, 174327454L)))
  }

  test("detectFused: the per-IP clamp needs prev > limit, the per-net " +
    "clamp the ratio alone") {
    // Q = 0.5: prev 2000 / cur 1200 > Q, so both branches' ratio clamps
    // hold; per IP prev ≤ 2500 keeps the baseline 2000 (1200/2000 > Q
    // alerts), per net the baseline clamps to 3500 (1200/3500 < Q)
    val q = P.copy(quotientAmplification = 0.5)
    assert(fused(q, (1000L, 1L, 65, 1200L, 11, 42L), (100L, 1L, 65, 2000L, 11, 42L)) ===
      Set((65, 2000, 42L)))
  }

  test("materialize=true (cache path) returns identical rows") {
    val rows = Seq(
      (1000L, 1L, 65, 961L, 11, 174327451L),
      (100L, 1L, 65, 174L, 11, 174327451L))
    val plain = SpikeDetector.detect(histDf(rows: _*), cur, prev, P).collect().toSet
    val mat = SpikeDetector.detect(histDf(rows: _*), cur, prev, P,
      materialize = true).collect().toSet
    assert(mat === plain)
    spark.catalog.clearCache()
  }

  test("positional union: net branch /24 address travels in the dst_ip column " +
    "(hha.py:213-214)") {
    val alerts = detect(
      (1000L, 1L, 65, 961L, 11, 174327451L),
      (100L, 1L, 65, 174L, 11, 174327451L))
    assert(alerts.map(_._4).toSet === Set(174327451L, 174327296L))
  }
}
