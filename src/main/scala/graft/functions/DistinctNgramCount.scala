package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd count of DISTINCT n-token windows in a token array —
  * `size(array_distinct(shingles(tk, n)))` computed in one pass with no
  * intermediate shingle array.
  *
  * The composed form pays three interpreted layers per row: `shingles`
  * (TextFunctions) is a `transform`/`sequence`/`element_at` tree, and
  * Spark's higher-order functions run OUTSIDE whole-stage codegen, so
  * every window allocates through interpreted dispatch, materializes a
  * concat_ws string, lands in an ArrayData, and is re-scanned by
  * array_distinct. This expression slides one window over the token array
  * and counts sequence-distinct windows in a hash set.
  *
  * Window identity is the TOKEN SEQUENCE (n references compared
  * element-wise), not the joined string — identical answers for tokens
  * from `split(text, ' ')` (no token can contain the separator, so the
  * space-joined string determines the sequence uniquely; this is the
  * contract both the previous formulation and the DuckDB oracles'
  * `list_distinct` over `t[i] || ' ' || t[i+1]` rely on), and strictly
  * saner for tokens that could embed the separator. `size < n` yields 0
  * (`shingles` returns an empty array there). NULL array yields NULL;
  * NULL tokens participate as a distinct null element.
  */
case class DistinctNgramCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        right match {
          case Literal(n: Int, IntegerType) if n >= 1 =>
            TypeCheckResult.TypeCheckSuccess
          case _ => TypeCheckResult.TypeCheckFailure(
            "distinct_ngram_count expects a literal n >= 1")
        }
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"distinct_ngram_count expects (array<string>, int literal), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "distinct_ngram_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = b.asInstanceOf[Int]
    val len = arr.numElements()
    if (len < n) 0
    else {
      val seen = new java.util.HashSet[java.util.ArrayList[UTF8String]]()
      var i = 0
      while (i <= len - n) {
        val w = new java.util.ArrayList[UTF8String](n)
        var k = 0
        while (k < n) {
          w.add(if (arr.isNullAt(i + k)) null else arr.getUTF8String(i + k))
          k += 1
        }
        seen.add(w)
        i += 1
      }
      seen.size()
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, n) => {
      s"""
         |int len = $arr.numElements();
         |if (len < $n) {
         |  ${ev.value} = 0;
         |} else {
         |  java.util.HashSet seen = new java.util.HashSet();
         |  for (int i = 0; i <= len - $n; i++) {
         |    java.util.ArrayList w = new java.util.ArrayList($n);
         |    for (int k = 0; k < $n; k++) {
         |      w.add($arr.isNullAt(i + k) ? null : $arr.getUTF8String(i + k));
         |    }
         |    seen.add(w);
         |  }
         |  ${ev.value} = seen.size();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DistinctNgramCount =
    copy(left = newLeft, right = newRight)
}

object DistinctNgramCount {
  /** Register `distinct_ngram_count` from [[graft.GraftExtensions.functions]] (idempotent). */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.register(spark, "distinct_ngram_count")
}
