package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd dot product over two ArrayType(FloatType) columns.
  *
  * Spark's higher-order `aggregate(zip_with(...))` is semantically right but
  * runs interpreted (higher-order functions don't participate in
  * whole-stage codegen), which dominates O(n²) similarity joins. This
  * expression generates a tight primitive loop instead — the "(b) custom
  * Catalyst Expression" rung of the extension ladder (SURVEY.md §4.3).
  *
  * Accumulation is a strict left-to-right double fold — bit-identical to
  * both the higher-order formulation and DuckDB's
  * list_sum(list_transform(list_zip(...))), so oracle hash-equality holds.
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_dot expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "float_dot"

  // Length mismatch and NULL ELEMENTS yield NULL — the same answers the
  // higher-order formulation gives (zip_with pads with null / passes the
  // null element through, which poisons the aggregate fold). A silent
  // partial dot product — or a null slot read as 0.0f — would look
  // plausible and be wrong. The element null checks are emitted only when
  // a side's ArrayType admits nulls, so the parquet embedding scan
  // (containsNull = false) keeps the tight two-load loop.
  private def mayHaveNullElements: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      val checkNulls = mayHaveNullElements
      var s = 0.0
      var i = 0
      while (i < n) {
        if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      s
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nullElemCheck =
        if (mayHaveNullElements)
          s"""if ($a.isNullAt(i) || $b.isNullAt(i)) { ${ev.isNull} = true; break; }"""
        else ""
      s"""
         |int n = $a.numElements();
         |if (n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double acc = 0.0;
         |  for (int i = 0; i < n; i++) {
         |    $nullElemCheck
         |    acc += (double) $a.getFloat(i) * (double) $b.getFloat(i);
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)
}

object FloatDotProduct {
  /** Register `float_dot` from [[graft.GraftExtensions.functions]] (idempotent). */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.register(spark, "float_dot")
}
