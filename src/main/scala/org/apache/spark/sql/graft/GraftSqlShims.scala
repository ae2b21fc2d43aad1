package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedAggregator}
import org.apache.spark.sql.types.{DataType, LongType}

/** The library's one shim into `private[sql]` Spark internals (the
  * standard extension-library pattern: the file lives under the
  * `org.apache.spark.sql` package namespace solely to satisfy the
  * access modifiers; it contains no Spark code). It is the ONLY place
  * the library steps inside Spark's package namespace.
  */
object GraftSqlShims {

  /** A DataFrame over a custom [[LogicalPlan]], planned like any
    * built-in node.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** True when the session's shared CacheManager holds no cached
    * plans. Operators must not leak cache entries (VERDICT r4: the
    * pre-r6 minhash pipeline left one per call); CacheHygieneSpec
    * pins that through this probe — the manager is package-private.
    */
  def cacheManagerIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** Column view of a Catalyst expression (function-builder input). */
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** Catalyst expression of a Column (function-builder output). The
    * EAGER default converter, not ExpressionUtils' lazy wrapper — a
    * function builder's output is spliced into a plan mid-analysis,
    * where a deferred ColumnNode wrapper would survive to execution
    * as an Unevaluable node.
    */
  def toExpression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** The aggregate-function expression for a typed Aggregator — what
    * the analyzer wraps into an AggregateExpression when the builder
    * returns it (same path as session-level udaf registration).
    */
  def aggregatorExpression[IN, BUF, OUT](
      name: String,
      agg: Aggregator[IN, BUF, OUT],
      inputEncoder: Encoder[IN],
      children: Seq[Expression]): Expression =
    ScalaAggregator(
      UserDefinedAggregator(agg, inputEncoder, givenName = Some(name)),
      children.toIndexedSeq)

  /** A BIGINT bound parameter: `value` as a Column whose generated code
    * is the same whatever the value (see [[BoundLong]]).
    */
  def boundLong(value: Long): Column = toColumn(BoundLong(value))

  /** `c` (as BIGINT) IN `values`, as one bound set: Catalyst's `InSet`,
    * whose BIGINT code reads the set from the generated class's
    * `references`. The generated code names the set's class, so the
    * set is always a `HashSet` (Scala's small sets are `Set1`…`Set4`):
    * the code is the same whatever the ids. `Column.isin` builds `In`
    * over literals, which under 10 values are inlined into the
    * generated code; a join against a local relation of the ids
    * broadcasts it in a job of its own.
    */
  def inLongSet(c: Column, values: Iterable[Long]): Column =
    toColumn(InSet(toExpression(c.cast(LongType)), scala.collection.immutable.HashSet.from(
      values.iterator.map(v => java.lang.Long.valueOf(v): Any))))
}

/** A BIGINT constant that plans like a parameter: a long `Literal` is
  * inlined into the generated Java, so a plan rebuilt with a new value
  * (a window bound that moves with the clock) compiles new classes.
  * This leaf is not foldable, so the optimizer keeps it, and its code
  * reads the value from the generated class's `references` (the route
  * `Literal` takes for non-primitive values) into a field: the
  * generated text, and so the codegen cache key, does not depend on the
  * value. Not translatable to a data-source filter, so not pushed down.
  */
case class BoundLong(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", java.lang.Long.valueOf(value), "java.lang.Long")
    val field = ctx.addMutableState(CodeGenerator.JAVA_LONG, "bound",
      v => s"$v = $ref.longValue();")
    ExprCode.forNonNullValue(JavaCode.global(field, LongType))
  }
}
