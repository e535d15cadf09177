package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BpeTokenCount, DescKey, DistinctNgramCount, FloatDotProduct, Int8Quantize, RepetitionProfile, TokenNgrams, TopKStructs}

/** Spark-native packaging of the engine's custom expressions: register the
  * library through the extensions hook instead of imperative per-session
  * calls —
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (or `.withExtensions(new GraftExtensions)` on the builder). Every
  * session created with the conf gets the [[GraftExtensions.functions]]
  * kernels in its function registry; cluster deployments set one conf
  * instead of threading `FloatDotProduct.register(spark)` through user
  * code. Both paths read the same table, so either yields the same
  * analyzed plans.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  /** One registry entry: the same triple `injectFunction` and
    * `registerFunction` take.
    */
  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def entry(name: String, cls: Class[_], arity: Int)(
      build: Seq[Expression] => Expression): Entry =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (exprs: Seq[Expression]) => {
        require(exprs.length == arity,
          s"$name requires exactly $arity argument${if (arity == 1) "" else "s"}, " +
            s"got ${exprs.length}")
        build(exprs)
      })

  /** Every library kernel, keyed by its SQL name — the single source for
    * the extensions hook, [[ensureRegistered]] and each kernel's
    * `register`. (`dense_row_id` is write-path plumbing with a
    * literal-folding builder and registers itself.)
    */
  val functions: Seq[Entry] = Seq(
    entry("float_dot", classOf[FloatDotProduct], 2)(e => FloatDotProduct(e(0), e(1))),
    entry("bpe_token_count", classOf[BpeTokenCount], 1)(e => BpeTokenCount(e(0))),
    entry("distinct_ngram_count", classOf[DistinctNgramCount], 2)(
      e => DistinctNgramCount(e(0), e(1))),
    entry("repetition_profile", classOf[RepetitionProfile], 1)(
      e => RepetitionProfile(e(0))),
    entry("token_ngrams", classOf[TokenNgrams], 3)(e => TokenNgrams(e(0), e(1), e(2))),
    entry("int8_quantize", classOf[Int8Quantize], 1)(e => Int8Quantize(e(0))),
    entry("topk_structs", classOf[TopKStructs], 2)(e => TopKStructs(e(0), e(1))),
    entry("desc_key", classOf[DescKey], 1)(e => DescKey(e(0))))

  /** Register the named kernel in `spark`'s function registry (idempotent:
    * re-registering replaces the entry with an identical one).
    */
  def register(spark: SparkSession, name: String): Unit =
    install(spark, functions.find(_._1.funcName == name).getOrElse(
      throw new IllegalArgumentException(s"no graft kernel named $name")))

  private def install(spark: SparkSession, e: Entry): Unit =
    spark.sessionState.functionRegistry.registerFunction(e._1, e._2, e._3)

  // weak keys: a registered session must stay collectable
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Idempotently register every library expression in `spark`'s function
    * registry — the imperative twin of the extensions hook, for sessions
    * built without `spark.sql.extensions`. Guarded per session so repeat
    * calls (the query layer invokes this on every table read) are free and
    * don't log replace warnings.
    */
  def ensureRegistered(spark: SparkSession): Unit =
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) == null)
      functions.foreach(install(spark, _))
}
