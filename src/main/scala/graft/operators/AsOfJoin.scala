package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join: for each left row, attach the right row with the
  * greatest `rightTime <= leftTime` within the same key group (the
  * temporal/point-in-time join the reference category table lists as
  * "as-of"; SURVEY.md §2.2 joins row).
  *
  * Algorithm: tag + union both sides, one shuffle on the key, sort each
  * partition by (time, side) and carry the right payload forward with
  * `last(_, ignoreNulls = true)` over an unbounded-preceding window,
  * then keep only left rows. A right row at time t sorts before a left
  * row at the same t, so exact-time matches are included (>= semantics).
  *
  * Scale: ONE hash shuffle on `keys` + a per-partition sort — no range
  * cross-product, no per-row binary search on the driver. Skewed keys
  * are handled by AQE; the window is running (not re-scanned per row),
  * so cost is O(n log n) per partition. This is the standard distributed
  * merge_asof and survives 100× data growth as long as single keys fit
  * a partition's sort spill.
  *
  * Requires (keys, rightTime) unique on the right side — pre-aggregate
  * the right side first to make the match deterministic.
  *
  * The whole right row (time + payload) is carried as ONE struct, so a
  * matched row's NULL payload column stays NULL instead of inheriting
  * a value from an older right row (mixed-row results).
  */
object AsOfJoin {

  /** Tagged union of both sides — the shared engine of [[backward]],
    * [[forward]] and [[nearest]]. Returns (union frame, left payload
    * columns, right struct field names). `_side` orders a right row
    * BEFORE the left rows at the same time, which makes exact-time
    * matches land in BOTH the backward rows-frame and (because the
    * forward frame is a RANGE frame over `_t`, where equal times are
    * peers) the forward frame.
    */
  private def tagged(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String
  ): (DataFrame, Seq[String], Seq[String]) = {
    val leftPayload = left.columns.filterNot(c => keys.contains(c) || c == leftTime).toSeq
    val rightPayload = right.columns.filterNot(c => keys.contains(c) || c == rightTime).toSeq

    val clash = rightPayload.toSet.intersect(leftPayload.toSet + leftTime)
    require(clash.isEmpty,
      s"asof: right payload columns collide with left columns: ${clash.mkString(", ")} — rename one side")
    val reserved = Set("_t", "_side", "_r", "_f")
    val resClash = (left.columns ++ right.columns).filter(reserved).distinct
    require(resClash.isEmpty,
      s"asof: column names ${resClash.mkString(", ")} are reserved by the operator — rename them")

    // one struct holds the entire matched right row
    val rStructFields = rightTime +: rightPayload
    val rStructType = org.apache.spark.sql.types.StructType(
      rStructFields.map(c => right.schema(right.schema.fieldIndex(c))))

    val l = left.select(
      keys.map(col) ++
        Seq(col(leftTime).as("_t"), lit(1).as("_side")) ++
        leftPayload.map(col) :+
        lit(null).cast(rStructType).as("_r"): _*
    )
    val r = right.select(
      keys.map(col) ++
        Seq(col(rightTime).as("_t"), lit(0).as("_side")) ++
        leftPayload.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(rStructFields.map(col): _*).as("_r"): _*
    )
    (l.union(r), leftPayload, rStructFields)
  }

  /** The carry-backward window: latest right row at or before `_t`. */
  private def backFrame(keys: Seq[String]) = Window
    .partitionBy(keys.map(col): _*)
    .orderBy(col("_t"), col("_side"))
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** The carry-forward window: earliest right row at or after `_t`.
    * RANGE frame over `_t` alone, so the equal-time right row (which
    * SORTS before the left row) is still a frame peer; its required
    * ordering (`_t`) is a prefix of the backward window's
    * (`_t, _side`), so stacking both windows costs ONE shuffle and
    * ONE sort (AsOfJoinSpec pins that on the plan).
    */
  private def fwdFrame(keys: Seq[String]) = Window
    .partitionBy(keys.map(col): _*)
    .orderBy(col("_t"))
    .rangeBetween(Window.currentRow, Window.unboundedFollowing)

  /** Nullify an ALREADY-MATERIALIZED match column whose time is
    * farther than `tol` from the left row's time (merge_asof's
    * `tolerance`): the join stays a left join — out-of-window rows
    * keep NULL right columns. Must be applied to a materialized
    * column, never to a raw window expression: each reference to a
    * window expression is extracted and evaluated separately.
    */
  private def within(m: org.apache.spark.sql.Column, rightTime: String,
                     tol: Option[Long]): org.apache.spark.sql.Column =
    tol.fold(m)(t =>
      when(abs(col("_t") - m.getField(rightTime)) <= t, m))

  private def finish(u: DataFrame, keys: Seq[String], leftTime: String,
                     leftPayload: Seq[String], rStructFields: Seq[String]): DataFrame =
    u.filter(col("_side") === 1)
      .select(keys.map(col) ++ Seq(col("_t").as(leftTime)) ++
        leftPayload.map(col) ++
        rStructFields.map(c => col("_r").getField(c).as(c)): _*)

  def backward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Long] = None
  ): DataFrame = {
    val (u, leftPayload, rStructFields) = tagged(left, right, keys, leftTime, rightTime)
    val carried = u
      .withColumn("_r", last(col("_r"), ignoreNulls = true).over(backFrame(keys)))
      .withColumn("_r", within(col("_r"), rightTime, tolerance))
    finish(carried, keys, leftTime, leftPayload, rStructFields)
  }

  /** Forward as-of join: for each left row, the right row with the
    * SMALLEST `rightTime >= leftTime` in the key group (merge_asof
    * direction='forward'). Same single-shuffle union engine as
    * [[backward]], mirrored window frame.
    */
  def forward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Long] = None
  ): DataFrame = {
    val (u, leftPayload, rStructFields) = tagged(left, right, keys, leftTime, rightTime)
    val carried = u
      .withColumn("_r", first(col("_r"), ignoreNulls = true).over(fwdFrame(keys)))
      .withColumn("_r", within(col("_r"), rightTime, tolerance))
    finish(carried, keys, leftTime, leftPayload, rStructFields)
  }

  /** Nearest as-of join: the closer of the backward and forward
    * matches (ties break backward, merge_asof direction='nearest'),
    * optionally capped by `tolerance`. BOTH carries ride the same
    * exchange and sort — the forward window's required ordering is a
    * prefix of the backward one's — so this costs exactly what one
    * directional as-of costs plus a second window pass.
    */
  def nearest(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Long] = None
  ): DataFrame = {
    val (u, leftPayload, rStructFields) = tagged(left, right, keys, leftTime, rightTime)
    val carried = u
      .withColumn("_r0", last(col("_r"), ignoreNulls = true).over(backFrame(keys)))
      .withColumn("_f", first(col("_r"), ignoreNulls = true).over(fwdFrame(keys)))
      .withColumn("_r0", within(col("_r0"), rightTime, tolerance))
      .withColumn("_f", within(col("_f"), rightTime, tolerance))
    val dPrev = col("_t") - col("_r0").getField(rightTime)
    val dNext = col("_f").getField(rightTime) - col("_t")
    val chosen = carried.withColumn("_r",
      when(col("_f").isNull, col("_r0"))
        .when(col("_r0").isNull, col("_f"))
        .when(dPrev <= dNext, col("_r0"))
        .otherwise(col("_f")))
    finish(chosen, keys, leftTime, leftPayload, rStructFields)
  }

  /** The NATIVE form of [[backward]]: plans a [[graft.plans.AsOfJoinPlan]]
    * which graft.core.GraftExtensions' planner strategy lowers to the
    * custom [[graft.plans.AsOfJoinExec]] — the two sides are
    * co-partitioned and co-sorted like a sort-merge join, then merged in
    * one streaming pass per partition. Same answers as [[backward]]
    * (asserted in AsOfJoinNativeSpec; q26 vs DuckDB ASOF JOIN); requires
    * the session to be built with GraftExtensions (GraftSession is).
    *
    * When to prefer which: [[backward]] ships both sides through ONE
    * union exchange + window — fewer exchanges, and measurably faster
    * when neither side has reusable layout (0.55s vs 0.93s at sf0.1).
    * The native exec requires per-side (key, time) clustering+ordering —
    * exactly what a bucketed-sorted table or a previous join/sort
    * already provides, in which case EnsureRequirements elides that
    * side's exchange AND sort entirely (impossible for the union plan,
    * whose exchange mixes both sides) and the merge streams with O(1)
    * state instead of window carry.
    *
    * Output columns: every left column, then `rightTime` + right payload
    * (right key columns are dropped — they equal the left keys on every
    * matched row). Right payload/time names must not collide with left
    * names, like [[backward]].
    */
  def backwardNative(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String
  ): DataFrame =
    native(left, right, keys, leftTime, rightTime, graft.plans.AsOfBackward, None)

  /** The NATIVE form of [[forward]] — same streaming-merge exec, the
    * un-consumed lookahead row is the match.
    */
  def forwardNative(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Long] = None
  ): DataFrame =
    native(left, right, keys, leftTime, rightTime, graft.plans.AsOfForward, tolerance)

  /** The NATIVE form of [[nearest]] — both directional candidates fall
    * out of the one merge pass (last consumed row + lookahead), closer
    * wins, ties backward.
    */
  def nearestNative(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Long] = None
  ): DataFrame =
    native(left, right, keys, leftTime, rightTime, graft.plans.AsOfNearest, tolerance)

  /** Backward-compatible tolerance form of [[backwardNative]]. */
  def backwardNativeTol(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      tolerance: Option[Long]
  ): DataFrame =
    native(left, right, keys, leftTime, rightTime, graft.plans.AsOfBackward, tolerance)

  private def native(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      direction: graft.plans.AsOfDirection,
      tolerance: Option[Long]
  ): DataFrame = {
    import graft.plans.AsOfJoinPlan
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             name: String, side: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"asof: no column '$name' on the $side side (have: ${plan.output.map(_.name).mkString(", ")})"))

    val lKeys = keys.map(attr(lp, _, "left"))
    val rKeys = keys.map(attr(rp, _, "right"))
    val lTime = attr(lp, leftTime, "left")
    val rTime = attr(rp, rightTime, "right")
    lKeys.zip(rKeys).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"asof: key '${a.name}' types differ: ${a.dataType} vs ${b.dataType}")
    }
    require(lTime.dataType == rTime.dataType,
      s"asof: time types differ: ${lTime.dataType} vs ${rTime.dataType}")
    val clash = (right.columns.toSet -- keys).intersect(left.columns.toSet)
    require(clash.isEmpty,
      s"asof: right columns collide with left columns: ${clash.mkString(", ")} — rename one side")

    if (tolerance.isDefined || direction == graft.plans.AsOfNearest)
      require(Seq("long", "int", "integer", "bigint").contains(
          lTime.dataType.simpleString),
        s"asof: tolerance/nearest need integral times, got ${lTime.dataType}")

    org.apache.spark.sql.graft.GraftSqlShims.ofRows(
      left.sparkSession,
      AsOfJoinPlan(lp, rp, lKeys, rKeys, lTime, rTime, direction, tolerance))
  }
}
