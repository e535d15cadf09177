package graft

/** GraftExtensions: custom expressions arrive via the SparkSessionExtensions
  * hook (SparkSpec's builder uses withExtensions — no imperative register
  * call anywhere in this spec).
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("float_dot resolves from SQL through the extensions injection") {
    val v = spark.sql(
      """SELECT float_dot(array(cast(1.0 as float), cast(2.0 as float)),
        |                 array(cast(3.0 as float), cast(4.0 as float))) AS d
        |""".stripMargin).as[Double].head()
    assert(v == 11.0)
  }

  test("injected builder matches the imperative register path") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    // one sample call per kernel in the registry table; a table entry
    // without a sample fails the key-set check below
    val samples = Map(
      "float_dot" -> "array(cast(0.5 as float)), array(cast(4.0 as float))",
      "bpe_token_count" -> "'a b!'",
      "distinct_ngram_count" -> "split('a b a b', ' '), 2",
      "repetition_profile" -> "'a b a b a'",
      "token_ngrams" -> "'a b c', 2, 1",
      "int8_quantize" -> "array(cast(0.5 as float), cast(-1.0 as float))",
      "topk_structs" -> "struct(x), 1",
      "desc_key" -> "x")
    val names = GraftExtensions.functions.map(_._1.funcName)
    assert(names.toSet == samples.keySet && names.size == samples.size)
    def query(s: SparkSession, name: String) =
      s.sql(s"SELECT $name(${samples(name)}) AS r FROM VALUES (1.5D) AS t(x)")
    // newSession() re-applies the extensions, so drop the kernels to get a
    // session that only has what the imperative path installs
    def bare(): SparkSession = {
      val b = spark.newSession()
      names.foreach(n =>
        b.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
      b
    }
    val viaEnsure = bare()
    GraftExtensions.ensureRegistered(viaEnsure)
    val viaRegister = bare()
    names.foreach { name =>
      val injected = query(spark, name)
      intercept[Exception](query(viaRegister, name)) // really bare
      GraftExtensions.register(viaRegister, name)
      for (other <- Seq(viaEnsure, viaRegister)) {
        val df = query(other, name)
        assert(df.queryExecution.analyzed.sameResult(
          injected.queryExecution.analyzed), name)
        assert(df.collect().toSeq == injected.collect().toSeq, name)
      }
      // arity misuse fails analysis, not execution
      intercept[Exception](spark.sql(s"SELECT $name()").collect())
    }
    // the kernel objects' register goes through the same table
    graft.functions.FloatDotProduct.register(spark)
    assert(spark.sql(
      "SELECT float_dot(array(cast(0.5 as float)), array(cast(4.0 as float)))")
      .as[Double].head() == 2.0)
  }

  test("length mismatch yields NULL, not a partial dot product") {
    val r = spark.sql(
      """SELECT float_dot(array(cast(1.0 as float)),
        |                 array(cast(1.0 as float), cast(2.0 as float))) AS d
        |""".stripMargin).select("d").collect().head
    assert(r.isNullAt(0))
  }

  test("bpe_token_count matches regexp_count on every corpus shape") {
    import graft.functions.TextFunctions.bpeishRegex
    // hand-picked edges: empty, spaces-only, case boundaries, digit/letter
    // runs, punctuation runs, multi-byte code points (each non-ASCII code
    // point is ONE [^a-z0-9 ] match, not one per byte), and a mixed blob
    val edges = Seq(
      "", " ", "   ", "abc", "ABC", "abc123", "a1b2c3", "!!!", "a b  c",
      "héllo wörld", "日本語 text", "café au lait 42!", "a" * 500,
      "Mixed CASE with 123 numbers, punct!! and  double  spaces.",
      "emoji 😀 pair", "tab\tand\nnewline")
    // seeded random blobs over a mixed alphabet — no fixed fixture shape
    val rnd = new scala.util.Random(8)
    val alphabet = "abcxyz 0189ABZ.,!?-_éü日\t\n"
    val blobs = Seq.fill(200)(
      (0 until rnd.nextInt(80)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = (edges ++ blobs).toDF("t")
      .selectExpr("bpe_token_count(t) AS fast",
        s"regexp_count(t, '$bpeishRegex') AS slow", "t")
    val bad = df.where("fast <> slow").collect()
    assert(bad.isEmpty, s"mismatches: ${bad.take(5).mkString("; ")}")
    // NULL propagates
    assert(spark.sql("SELECT bpe_token_count(CAST(NULL AS STRING))")
      .collect().head.isNullAt(0))
    // interpreted eval agrees with codegen (the randomized blobs above run
    // through whole-stage codegen; this pins the nullSafeEval fallback)
    val sample = "héllo 42!! wörld" // h|é|llo|42|!|!|w|ö|rld = 9 matches
    val expr = graft.functions.BpeTokenCount(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(sample),
        org.apache.spark.sql.types.StringType))
    val viaRegex = java.util.regex.Pattern.compile(bpeishRegex)
      .matcher(sample).results().count().toInt
    assert(viaRegex == 9)
    assert(expr.eval(null) == viaRegex)
  }

  test("distinct_ngram_count matches the composed shingle formulation") {
    import graft.functions.TextFunctions.{shingles, tokens}
    import org.apache.spark.sql.functions.{array_distinct, col, size}
    // seeded random texts over a tiny vocabulary so windows ACTUALLY
    // repeat (a rich vocabulary would never exercise the distinct logic)
    val rnd = new scala.util.Random(24)
    val vocab = Vector("a", "b", "ab", "ba", "x")
    val texts = Seq("", "a", "a b", "a a a a a", "a b a b a b") ++
      Seq.fill(200)((0 until rnd.nextInt(30))
        .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    val df = texts.toDF("text").withColumn("tk", tokens(col("text")))
    for (n <- Seq(1, 2, 3)) {
      val bad = df
        .withColumn("fast", org.apache.spark.sql.functions
          .call_function("distinct_ngram_count", col("tk"),
            org.apache.spark.sql.functions.lit(n)))
        .withColumn("slow", size(array_distinct(shingles(col("tk"), n))))
        .where("fast <> slow").collect()
      assert(bad.isEmpty, s"n=$n mismatches: ${bad.take(5).mkString("; ")}")
    }
    // NULL array propagates; size < n yields 0 like shingles' empty array
    assert(spark.sql(
      "SELECT distinct_ngram_count(CAST(NULL AS ARRAY<STRING>), 2)")
      .collect().head.isNullAt(0))
    // interpreted eval agrees with the codegen'd path above
    val lit2 = org.apache.spark.sql.catalyst.expressions.Literal(2,
      org.apache.spark.sql.types.IntegerType)
    val arr = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Seq("a", "b", "a", "b", "a"),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    // windows: ab, ba, ab, ba -> 2 distinct
    assert(graft.functions.DistinctNgramCount(arr, lit2).eval(null) == 2)
    // a non-literal n fails analysis loudly instead of miscounting
    intercept[Exception](
      texts.toDF("text").selectExpr(
        "distinct_ngram_count(split(text, ' '), length(text))").collect())
  }

  test("repetition_profile matches the composed split/shingle formulation") {
    import graft.functions.TextFunctions.{shingles, tokens}
    import org.apache.spark.sql.functions.{array_distinct, call_function, col, size}
    val rnd = new scala.util.Random(25)
    val vocab = Vector("a", "b", "ab", "ba", "x")
    // edges the byte-span identity must survive: empty text (one empty
    // token), repeated separators (empty tokens mid-array), leading/
    // trailing spaces, single token, multi-byte code points inside tokens
    val texts = Seq("", " ", "a", "a  b", " a b ", "a a a a a",
      "héllo wörld héllo wörld", "日 本 日 本") ++
      Seq.fill(200)((0 until rnd.nextInt(30))
        .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    val df = texts.toDF("text")
      .withColumn("tk", tokens(col("text")))
      .withColumn("rp", call_function("repetition_profile", col("text")))
      .withColumn("slow_n", size(col("tk")))
      .withColumn("slow2", size(array_distinct(shingles(col("tk"), 2))))
      .withColumn("slow3", size(array_distinct(shingles(col("tk"), 3))))
    val bad = df.where(
      "rp[0] <> slow_n OR rp[1] <> slow2 OR rp[2] <> slow3").collect()
    assert(bad.isEmpty, s"mismatches: ${bad.take(5).mkString("; ")}")
    assert(spark.sql("SELECT repetition_profile(CAST(NULL AS STRING))")
      .collect().head.isNullAt(0))
    // interpreted eval agrees with the codegen'd path above
    val expr = graft.functions.RepetitionProfile(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("a b a b a"),
        org.apache.spark.sql.types.StringType))
    val r = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    // tokens 5; bigrams: "a b","b a","a b","b a" -> 2; trigrams:
    // "a b a","b a b","a b a" -> 2
    assert(r.toIntArray().toSeq == Seq(5, 2, 2))
  }

  test("token_ngrams matches the composed zip_with / chunk formulations") {
    import org.apache.spark.sql.functions.{call_function, col, concat, expr,
      greatest, lit, size, slice, split, zip_with}
    val rnd = new scala.util.Random(26)
    val vocab = Vector("a", "b", "ab", "é日", "x")
    val texts = Seq("", " ", "a", "a  b", " a b ", "a b c d e f g h i j",
      "a b c d e f g h i j k") ++
      Seq.fill(200)((0 until rnd.nextInt(30))
        .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    val base = texts.toDF("text")
    // shingle mode (stride 1): d44's zip_with-over-slices bigram build
    val toks = split(col("text"), " ")
    val len = greatest(size(toks) - 1, lit(0))
    val badPairs = base
      .withColumn("fast", call_function("token_ngrams", col("text"), lit(2), lit(1)))
      .withColumn("slow", zip_with(
        slice(toks, lit(1), len), slice(toks, lit(2), len),
        (a, b) => concat(a, lit(" "), b)))
      .where("fast <> slow").collect()
    assert(badPairs.isEmpty, s"bigram mismatches: ${badPairs.take(5).mkString("; ")}")
    // tokenizer mode (n = stride = 1): TextFunctions.tokens' contract —
    // the kernel IS the library tokenizer, so pin it against split's
    // full semantics (empty tokens, trailing empties, empty text)
    val badToks = base
      .withColumn("fast", call_function("token_ngrams", col("text"), lit(1), lit(1)))
      .withColumn("slow", split(col("text"), " "))
      .where("fast <> slow").collect()
    assert(badToks.isEmpty, s"tokenizer mismatches: ${badToks.take(5).mkString("; ")}")
    // tiling mode (stride = n): d29's transform-over-sequence chunk build,
    // ragged tail included
    val badChunks = base
      .withColumn("tk", toks)
      .withColumn("fast", call_function("token_ngrams", col("text"), lit(3), lit(3)))
      .withColumn("slow", expr(
        "transform(sequence(0, cast(ceil(size(tk) / 3.0) as int) - 1), " +
          "i -> concat_ws(' ', slice(tk, i * 3 + 1, 3)))"))
      .where("fast <> slow").collect()
    assert(badChunks.isEmpty, s"chunk mismatches: ${badChunks.take(5).mkString("; ")}")
    assert(spark.sql("SELECT token_ngrams(CAST(NULL AS STRING), 2, 1)")
      .collect().head.isNullAt(0))
    // interpreted eval agrees with the codegen'd paths above
    val mk = (s: String) => org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType)
    val i2 = org.apache.spark.sql.catalyst.expressions.Literal(2,
      org.apache.spark.sql.types.IntegerType)
    val i1 = org.apache.spark.sql.catalyst.expressions.Literal(1,
      org.apache.spark.sql.types.IntegerType)
    val out = graft.functions.TokenNgrams(mk("a b c"), i2, i1).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(out.toObjectArray(org.apache.spark.sql.types.StringType)
      .map(_.toString).toSeq == Seq("a b", "b c"))
  }

  test("kernels resolve in a session without the injected functions") {
    // newSession() re-applies the extensions to its fresh SessionState, so
    // simulate a truly bare session by dropping the kernels from the new
    // registry — the query layer's ensureRegistered hook must bring them
    // back before analysis
    val bare = spark.newSession()
    Seq("bpe_token_count", "token_ngrams", "repetition_profile",
      "distinct_ngram_count", "float_dot").foreach(f =>
      bare.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(f)))
    intercept[Exception](
      bare.sql("SELECT bpe_token_count('a b')").collect()) // really bare
    val out = graft.SparkEntry.queries("d24_repetition")(
      bare, "/root/testdata/sf0.001")
    assert(out.limit(1).collect().nonEmpty)
    // and after one query ran, the SQL surface works in that session too
    assert(bare.sql("SELECT bpe_token_count('a b!')").as[Int](
      org.apache.spark.sql.Encoders.scalaInt).head() == 3)
  }
}
