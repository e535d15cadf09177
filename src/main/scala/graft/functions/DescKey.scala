package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** `desc_key(score)` — the NaN-safe DESCENDING rank key for
  * [[TopKStructs]]: a BIGINT whose ASCENDING order is exactly the
  * `score.desc_nulls_last` window order under Spark's comparison
  * semantics, for every double including the edge cases the naive
  * `-score` negation gets wrong:
  *
  *   - **NaN**: Spark orders NaN GREATEST, so a `.desc` window ranks it
  *     FIRST — but `-NaN` is still NaN and ranks LAST under negation
  *     (the trap documented at [[TopKStructs]]'s direction-encoding
  *     note). Here NaN maps to the SMALLEST key (all NaN payloads
  *     collapse via `doubleToLongBits` canonicalization, matching
  *     Spark's all-NaNs-equal semantics), so it ranks first.
  *   - **±Infinity**: `-(+inf) = -inf` collides with a real `-inf`
  *     score under any "map NaN below -inf" patch; the bit-level key
  *     keeps every distinct finite/infinite value distinct.
  *   - **-0.0 vs 0.0**: Spark compares them EQUAL
  *     (`SQLOrderingUtil.compareDoubles`); the raw bit patterns differ,
  *     so -0.0 is normalized to 0.0 before encoding — the two stay a
  *     tie and the struct's tiebreak field decides, exactly like the
  *     window.
  *   - **null**: `desc` defaults to NULLS LAST; null maps to
  *     `Long.MaxValue`, which no real score reaches (the largest
  *     encodable key is `~ascBits(-inf) = 0x7FF0000000000000`).
  *
  * Encoding: IEEE-754 bits, sign-folded into a total ascending order
  * (`b < 0 ? b ^ Long.MaxValue : b` — the standard sortable-bits trick,
  * expressed against SIGNED long comparison), then bit-complemented to
  * reverse. `~` is `-x - 1`: strictly order-reversing with no
  * `Long.MinValue` negation overflow.
  *
  * Usage: `topk_structs(struct(desc_key(score), tiebreak, payload), k)`
  * ranks by (score DESC NULLS LAST, tiebreak ASC) with bit-identical
  * placement to `row_number().over(orderBy(desc(score), tiebreak))` —
  * spec-pinned on NaN/±inf/±0.0/null/tied data. Doubles only; cast
  * float/int scores to double first (exact). long→double is
  * order-preserving but INEXACT above 2^53: distinct long scores can
  * collapse to ties and fall to the tiebreak column — for true
  * long-descending order negate the long directly instead.
  */
case class DescKey(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"desc_key expects double, got ${other.simpleString} (cast first; " +
        "exact for float/int; order-preserving but inexact for long " +
        "beyond 2^53 — distinct longs may tie, prefer negating the long)")
  }

  override def dataType: DataType = LongType
  // null input maps to a real key (nulls-last), so the output is never
  // null regardless of the child's nullability
  override def nullable: Boolean = false
  override def prettyName: String = "desc_key"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) Long.MaxValue else DescKey.key(v.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val bits = ctx.freshName("bits")
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value};
      if (${c.isNull}) {
        ${ev.value} = Long.MAX_VALUE;
      } else {
        long $bits = Double.doubleToLongBits(
          ${c.value} == 0.0d ? 0.0d : ${c.value});
        ${ev.value} = ~(($bits < 0L) ? ($bits ^ Long.MAX_VALUE) : $bits);
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): DescKey =
    copy(child = newChild)
}

object DescKey {

  /** The interpreted twin of the generated code (shared by specs). */
  def key(v: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(if (v == 0.0) 0.0 else v)
    ~(if (b < 0) b ^ Long.MaxValue else b)
  }

  /** Register `desc_key` from [[graft.GraftExtensions.functions]] (idempotent). */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.register(spark, "desc_key")
}
