package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd count of BPE-ish tokens — exactly the match count of
  * `regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')` (TextFunctions
  * .bpeishRegex, the reference's token-budget heuristic), computed in one
  * branch-predictable byte scan instead of a regex engine.
  *
  * Equivalence to the regex scan (left-to-right, non-overlapping, greedy):
  * at a lowercase letter the first alternative consumes the maximal
  * `[a-z]` run (one match); at a digit the second consumes the maximal
  * `[0-9]` run; a space matches no alternative and is skipped; any other
  * single CODE POINT (uppercase, punctuation, non-ASCII) is one
  * `[^a-z0-9 ]` match. Both engines' regexes agree on that scan — Java's
  * `Pattern` and DuckDB's RE2 each treat a negated class as one code
  * point — so the byte-level loop advances `numBytesForFirstByte` on a
  * non-ASCII lead byte to count code points, not bytes.
  *
  * Why not `regexp_count`: the regex engine re-enters its NFA per
  * character over gigabytes of text, dominating the d09/d19 token-count
  * scans (measured 8.5 s / 5.5 s solo at sf10). This loop is the same
  * extension rung as [[FloatDotProduct]] — "(b) custom Catalyst
  * Expression" (SURVEY.md §4.3) — and stays inside whole-stage codegen.
  */
case class BpeTokenCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_token_count expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bpe_token_count"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    var cnt = 0
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b >= 'a' && b <= 'z') {
        cnt += 1; i += 1
        while (i < n && s.getByte(i) >= 'a' && s.getByte(i) <= 'z') i += 1
      } else if (b >= '0' && b <= '9') {
        cnt += 1; i += 1
        while (i < n && s.getByte(i) >= '0' && s.getByte(i) <= '9') i += 1
      } else if (b == ' ') {
        i += 1
      } else if ((b & 0xFF) < 0x80) {
        cnt += 1; i += 1
      } else {
        // one non-ASCII code point = one [^a-z0-9 ] match; a malformed
        // lead byte degrades to width 1 (count-per-byte) rather than an
        // infinite loop — the regex engine would reject such input anyway
        cnt += 1
        val w = UTF8String.numBytesForFirstByte(b)
        i += (if (w > 0) w else 1)
      }
    }
    cnt
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |int n = $c.numBytes();
         |int cnt = 0;
         |int i = 0;
         |while (i < n) {
         |  byte b = $c.getByte(i);
         |  if (b >= 'a' && b <= 'z') {
         |    cnt++; i++;
         |    while (i < n && $c.getByte(i) >= 'a' && $c.getByte(i) <= 'z') i++;
         |  } else if (b >= '0' && b <= '9') {
         |    cnt++; i++;
         |    while (i < n && $c.getByte(i) >= '0' && $c.getByte(i) <= '9') i++;
         |  } else if (b == ' ') {
         |    i++;
         |  } else if ((b & 0xFF) < 0x80) {
         |    cnt++; i++;
         |  } else {
         |    cnt++;
         |    int w = UTF8String.numBytesForFirstByte(b);
         |    i += (w > 0 ? w : 1);
         |  }
         |}
         |${ev.value} = cnt;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

object BpeTokenCount {
  /** Register `bpe_token_count` from [[graft.GraftExtensions.functions]] (idempotent). */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.register(spark, "bpe_token_count")
}
