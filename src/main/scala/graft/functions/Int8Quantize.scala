package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

/** Symmetric int8 quantization of an ArrayType(FloatType) vector in ONE
  * codegen'd pass: `scl = 127 / max|xᵢ|` (0 when the max is 0), each
  * component `floor(x·scl + 0.5)` — the d43 quantizer.
  *
  * The composed built-in formulation
  * (`array_max(transform(abs)) → transform(floor(x·scl+0.5))`) is
  * semantically identical but runs INTERPRETED — higher-order functions
  * sit outside whole-stage codegen, and each element pays an Expression
  * tree walk. Measured at sf30 (600k × 64-d): the two HOF passes were
  * 27 s of d43's 28 s total; this expression replaces them with a tight
  * two-scan loop per row.
  *
  * Semantics replicated exactly (equality spec against the composed
  * form):
  *   - double arithmetic throughout: `abs(CAST(x AS DOUBLE))`, one
  *     division for scl, `floor(x·scl + 0.5)` — Spark's floor returns
  *     BIGINT, so the kernel round-trips double→long→float exactly like
  *     the built-in (a NaN product becomes 0L, not NaN) — every
  *     int8-range result is exact in float;
  *   - Spark's NaN ordering in the max (NaN greatest) and NaN > 0
  *     comparison semantics: a NaN component poisons scl to NaN, so
  *     every output component is NaN — same as the HOF form;
  *   - null elements: skipped by array_max, preserved (null in → null
  *     out) by transform;
  *   - all-null/empty input array: array_max yields NULL, `when(maxabs >
  *     0.0)` is false ⇒ scl = 0 ⇒ non-null components quantize to
  *     floor(0.5) = 0 — mirrored here;
  *   - NULL array in ⇒ NULL out (UnaryExpression null-intolerance).
  *
  * DuckDB oracle fragment: the same list_transform composition on
  * doubles (see the d43 oracle) — bit-identical on every real corpus
  * (fixtures carry no NaN/null components).
  */
case class Int8Quantize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"int8_quantize expects array<float>, got ${other.simpleString}")
  }

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "int8_quantize"

  private def mayHaveNullElements: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val checkNulls = mayHaveNullElements
    // pass 1: nanSafe max of |x| over non-null components (array_max)
    var m = 0.0
    var seen = false
    var i = 0
    while (i < n) {
      if (!(checkNulls && a.isNullAt(i))) {
        val v = math.abs(a.getFloat(i).toDouble)
        if (!seen || java.lang.Double.isNaN(v) ||
            (!java.lang.Double.isNaN(m) && v > m)) { m = v }
        seen = true
      }
      i += 1
    }
    // when(maxabs > 0.0, 127/maxabs).otherwise(0.0): Spark's NaN > 0.0
    // is TRUE (NaN greatest); a NULL maxabs (no non-null components)
    // falls to 0.0
    val scl =
      if (seen && (java.lang.Double.isNaN(m) || m > 0.0)) 127.0 / m else 0.0
    if (checkNulls) {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        if (!a.isNullAt(i))
          out(i) = math.floor(a.getFloat(i).toDouble * scl + 0.5).toLong.toFloat
        i += 1
      }
      new GenericArrayData(out)
    } else {
      val out = new Array[Float](n)
      i = 0
      while (i < n) {
        out(i) = math.floor(a.getFloat(i).toDouble * scl + 0.5).toLong.toFloat
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      if (mayHaveNullElements) {
        // rare path (nullable elements): fall back to boxed output
        s"""
           |int n = $a.numElements();
           |double m = 0.0; boolean seen = false;
           |for (int i = 0; i < n; i++) {
           |  if (!$a.isNullAt(i)) {
           |    double v = Math.abs((double) $a.getFloat(i));
           |    if (!seen || Double.isNaN(v) || (!Double.isNaN(m) && v > m)) m = v;
           |    seen = true;
           |  }
           |}
           |double scl = (seen && (Double.isNaN(m) || m > 0.0)) ? 127.0 / m : 0.0;
           |Object[] out = new Object[n];
           |for (int i = 0; i < n; i++) {
           |  if (!$a.isNullAt(i))
           |    out[i] = (Object) (float) (long) Math.floor((double) $a.getFloat(i) * scl + 0.5);
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(out);
         """.stripMargin
      } else {
        s"""
           |int n = $a.numElements();
           |double m = 0.0; boolean seen = false;
           |for (int i = 0; i < n; i++) {
           |  double v = Math.abs((double) $a.getFloat(i));
           |  if (!seen || Double.isNaN(v) || (!Double.isNaN(m) && v > m)) m = v;
           |  seen = true;
           |}
           |double scl = (seen && (Double.isNaN(m) || m > 0.0)) ? 127.0 / m : 0.0;
           |float[] out = new float[n];
           |for (int i = 0; i < n; i++) {
           |  out[i] = (float) (long) Math.floor((double) $a.getFloat(i) * scl + 0.5);
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(out);
         """.stripMargin
      }
    })

  override protected def withNewChildInternal(newChild: Expression): Int8Quantize =
    copy(child = newChild)
}

object Int8Quantize {
  /** Register `int8_quantize` from [[graft.GraftExtensions.functions]] (idempotent). */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.register(spark, "int8_quantize")
}
