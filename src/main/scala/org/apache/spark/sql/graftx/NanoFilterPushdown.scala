package org.apache.spark.sql.graftx

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Rewrites comparisons on a µs timestamp DERIVED from a raw nanosecond
  * long column — `timestamp_micros(ns div 1000) <op> literal` — into
  * comparisons on the raw column itself.
  *
  * Why: nano-precision parquet (INT64 TIMESTAMP(NANOS)) is read as a
  * long and converted (see graft.sources.Tables.events). A filter on
  * the converted value sits above a Project, so nothing reaches the
  * parquet scan and a time-range query reads every row group — fatal
  * at 100 TB. After this rewrite the predicate is a plain long
  * comparison on the stored column, which Spark's parquet source
  * pushes down to row-group/page statistics pruning.
  *
  * The rewrite accounts for the floor semantics of `div 1000`:
  *   ts >= V  ⟺  ns >= V·1000
  *   ts >  V  ⟺  ns >= (V+1)·1000
  *   ts <= V  ⟺  ns <  (V+1)·1000
  *   ts <  V  ⟺  ns <  V·1000
  *   ts  = V  ⟺  V·1000 <= ns < (V+1)·1000
  * Restricted to positive (post-1970) literals where truncating and
  * floor division agree, and to literals that cannot overflow ×1000.
  */
case class NanoFilterPushdown(dummy: Boolean = true) extends Rule[LogicalPlan] {

  private val MaxSafe = Long.MaxValue / 1000 - 1

  /** The raw long column when `e` is timestamp_micros(raw div 1000). */
  private def rawNanos(e: Expression): Option[Expression] = e match {
    case MicrosToTimestamp(d: IntegralDivide) =>
      (d.left.dataType, d.right) match {
        case (LongType, Literal(1000L, LongType)) => Some(d.left)
        case _ => None
      }
    case _ => None
  }

  private def inRange(v: Long): Boolean = v > 0 && v < MaxSafe

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case GreaterThanOrEqual(x, Literal(v: Long, TimestampType))
          if rawNanos(x).isDefined && inRange(v) =>
        GreaterThanOrEqual(rawNanos(x).get, Literal(v * 1000L))
      case GreaterThan(x, Literal(v: Long, TimestampType))
          if rawNanos(x).isDefined && inRange(v) =>
        GreaterThanOrEqual(rawNanos(x).get, Literal((v + 1) * 1000L))
      case LessThanOrEqual(x, Literal(v: Long, TimestampType))
          if rawNanos(x).isDefined && inRange(v) =>
        LessThan(rawNanos(x).get, Literal((v + 1) * 1000L))
      case LessThan(x, Literal(v: Long, TimestampType))
          if rawNanos(x).isDefined && inRange(v) =>
        LessThan(rawNanos(x).get, Literal(v * 1000L))
      case EqualTo(x, Literal(v: Long, TimestampType))
          if rawNanos(x).isDefined && inRange(v) =>
        val raw = rawNanos(x).get
        And(GreaterThanOrEqual(raw, Literal(v * 1000L)),
          LessThan(raw, Literal((v + 1) * 1000L)))
      // literal-on-left variants
      case GreaterThanOrEqual(Literal(v: Long, TimestampType), x)
          if rawNanos(x).isDefined && inRange(v) => // V >= ts ⟺ ts <= V
        LessThan(rawNanos(x).get, Literal((v + 1) * 1000L))
      case LessThanOrEqual(Literal(v: Long, TimestampType), x)
          if rawNanos(x).isDefined && inRange(v) => // V <= ts ⟺ ts >= V
        GreaterThanOrEqual(rawNanos(x).get, Literal(v * 1000L))
      case GreaterThan(Literal(v: Long, TimestampType), x)
          if rawNanos(x).isDefined && inRange(v) => // V > ts ⟺ ts < V
        LessThan(rawNanos(x).get, Literal(v * 1000L))
      case LessThan(Literal(v: Long, TimestampType), x)
          if rawNanos(x).isDefined && inRange(v) => // V < ts ⟺ ts > V
        GreaterThanOrEqual(rawNanos(x).get, Literal((v + 1) * 1000L))
      case EqualTo(Literal(v: Long, TimestampType), x)
          if rawNanos(x).isDefined && inRange(v) =>
        val raw = rawNanos(x).get
        And(GreaterThanOrEqual(raw, Literal(v * 1000L)),
          LessThan(raw, Literal((v + 1) * 1000L)))
    }
}

/** Session extensions entry point:
  * `--conf spark.sql.extensions=org.apache.spark.sql.graftx.GraftSparkExtensions`
  * or `SparkSession.builder.withExtensions(new GraftSparkExtensions)`.
  * Registers the SQL function `vec_dot(a, b)` once, when the session is
  * built (see graft.functions.VectorFns.vec_dot).
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => NanoFilterPushdown())
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVectorDot].getCanonicalName, "vec_dot"),
      exprs => FloatVectorDot(exprs(0), exprs(1))))
  }
}
