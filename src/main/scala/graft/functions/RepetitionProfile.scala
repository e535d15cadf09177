package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass Gopher-style repetition profile of a space-tokenized text:
  * `[n_tokens, distinct_bigram_windows, distinct_trigram_windows]` — the
  * three integers the duplicate-n-gram repetition filter (d24) derives its
  * ratios from — computed directly over the text BYTES.
  *
  * The composed pipeline pays three materializations per row: `split`
  * allocates every token as a UTF8String, the shingle transform (an
  * interpreted higher-order function) joins windows back into strings,
  * and `array_distinct` re-scans them. But a window of n ADJACENT tokens
  * joined with the single-space separator is exactly the original byte
  * slice from its first token's start to its last token's end — so window
  * identity is byte-slice identity, and the whole profile needs one
  * boundary scan plus a sort of window indices by slice bytes (exact
  * distinct, no hashing, no collision risk, no per-window allocation).
  *
  * Token semantics mirror `split(text, ' ')` with the default -1 limit
  * (and DuckDB's `string_split`): n_tokens = spaces + 1, empty tokens
  * kept, empty text = one empty token. Windows short of n tokens yield 0
  * (the `shingles` empty-array contract). NULL text yields NULL — saner
  * than the composed form's (NULL, 0, 0), which no query relied on
  * (fixture text is never NULL).
  *
  * The separator byte 0x20 cannot occur inside a multi-byte UTF-8
  * sequence (continuation bytes are >= 0x80), so the byte scan is
  * code-point-safe without decoding.
  */
case class RepetitionProfile(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"repetition_profile expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "repetition_profile"

  override def nullSafeEval(input: Any): Any =
    RepetitionProfile.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RepetitionProfile.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): RepetitionProfile =
    copy(child = newChild)
}

object RepetitionProfile {

  /** The kernel: one boundary scan + two window-index sorts. JIT-compiled
    * JVM code invoked from the generated projection (same execution tier
    * as an inline codegen body; kept here so eval and codegen share one
    * implementation).
    */
  def compute(text: UTF8String): ArrayData = {
    val b = text.getBytes
    // token boundaries: starts(k) .. ends(k) are byte offsets of token k
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
    new GenericArrayData(Array[Any](nTok,
      distinctWindows(b, starts, ends, nTok, 2),
      distinctWindows(b, starts, ends, nTok, 3)))
  }

  /** Number of distinct n-token windows, by sorting window indices with a
    * lexicographic compare over each window's byte slice
    * `[starts(i), ends(i + n - 1))` and counting boundaries. Exact: two
    * windows are equal iff their slices match byte-for-byte.
    */
  private def distinctWindows(
      b: Array[Byte], starts: Array[Int], ends: Array[Int],
      nTok: Int, n: Int): Int = {
    val w = nTok - n + 1
    if (w <= 0) return 0
    val idx = new Array[Integer](w)
    var i = 0
    while (i < w) { idx(i) = Integer.valueOf(i); i += 1 }
    val cmp = new java.util.Comparator[Integer] {
      override def compare(x: Integer, y: Integer): Int =
        compareSlice(b, starts(x), ends(x + n - 1), starts(y), ends(y + n - 1))
    }
    java.util.Arrays.sort(idx, cmp)
    var cnt = 1
    i = 1
    while (i < w) {
      if (cmp.compare(idx(i - 1), idx(i)) != 0) cnt += 1
      i += 1
    }
    cnt
  }

  private def compareSlice(
      b: Array[Byte], s1: Int, e1: Int, s2: Int, e2: Int): Int = {
    val l1 = e1 - s1
    val l2 = e2 - s2
    val m = math.min(l1, l2)
    var i = 0
    while (i < m) {
      val d = b(s1 + i) - b(s2 + i) // any total order works; equality exact
      if (d != 0) return d
      i += 1
    }
    l1 - l2
  }

  /** Register `repetition_profile` from [[graft.GraftExtensions.functions]] (idempotent). */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.register(spark, "repetition_profile")
}
