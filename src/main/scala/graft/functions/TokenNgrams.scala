package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Space-joined n-token windows of a text, emitted as substrings of the
  * ORIGINAL byte buffer — the [[RepetitionProfile]] byte-span identity
  * applied to generation instead of counting: a window of n adjacent
  * tokens joined with the single-space separator IS the byte slice from
  * its first token's start to its last token's end, so each output n-gram
  * is one substring copy instead of a `split` token array + an
  * interpreted higher-order `transform`/`zip_with` + per-window
  * `concat`/`concat_ws` re-joins.
  *
  * `stride` selects the window layout:
  *   - `stride = 1`, in general `stride < n`: overlapping shingles. Only
  *     FULL n-token windows are emitted (`shingles`' contract: fewer than
  *     n tokens → empty array).
  *   - `stride >= n` (typically `stride = n`): tiling. Windows start at
  *     token 0, stride, 2·stride, … and the RAGGED TAIL IS emitted (the
  *     chunking contract: every token belongs to a chunk).
  *
  * Token semantics mirror `split(text, ' ')` with the default -1 limit:
  * empty tokens kept, empty text = one empty token. NULL text → NULL.
  */
case class TokenNgrams(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second, third) match {
      case (StringType, Literal(n: Int, IntegerType), Literal(st: Int, IntegerType))
          if n >= 1 && st >= 1 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "token_ngrams expects (string, int literal n >= 1, int literal stride >= 1)")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_ngrams"

  override def nullSafeEval(t: Any, n: Any, st: Any): Any =
    TokenNgrams.compute(t.asInstanceOf[UTF8String],
      n.asInstanceOf[Int], st.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n, st) =>
      s"${ev.value} = graft.functions.TokenNgrams.compute($t, $n, $st);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): TokenNgrams =
    copy(first = f, second = s, third = t)
}

object TokenNgrams {

  /** One boundary scan, then one `substring` per window (shared-prefix
    * copy of the span bytes). JIT-compiled kernel shared by eval and the
    * generated projection.
    */
  def compute(text: UTF8String, n: Int, stride: Int): ArrayData = {
    val b = text.getBytes
    var nTok = 1
    var i = 0
    while (i < b.length) { if (b(i) == ' ') nTok += 1; i += 1 }
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var k = 0
    starts(0) = 0
    i = 0
    while (i < b.length) {
      if (b(i) == ' ') { ends(k) = i; k += 1; starts(k) = i + 1 }
      i += 1
    }
    ends(k) = b.length
    val raggedTail = stride >= n
    // window starts: 0, stride, 2*stride, ... ; full windows always, the
    // ragged tail only in tiling mode
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var w = 0
    while (w < nTok && (raggedTail || w + n <= nTok)) {
      val last = math.min(w + n, nTok) - 1
      out += UTF8String.fromBytes(b, starts(w), ends(last) - starts(w))
      w += stride
    }
    new GenericArrayData(out.toArray)
  }

  /** Register `token_ngrams` from [[graft.GraftExtensions.functions]] (idempotent). */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.register(spark, "token_ngrams")
}
