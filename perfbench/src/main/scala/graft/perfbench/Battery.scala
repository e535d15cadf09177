package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow

import graft.queries._

/** `battery`: one cold pass over a fixed, stratified slice of the query
  * battery, each query forcing its own optimized plan through a `toRdd`
  * drain as `graft.Bench` does, except that the drained rows are copied to
  * the driver. The shared dedup memos are built first as their own timed
  * entry. Correctness: after the pass, each query's drained rows are
  * fingerprinted and compared against fingerprints the DuckDB oracle
  * produced on the same fixture.
  */
object Battery {
  type Q = (SparkSession, String) => DataFrame

  /** Every `Stride`-th query of each module, in sorted order. The full
    * 124-query pass takes ~90 s in a fresh JVM on 4 cores, more than one
    * run may spend; this slice takes ~30 s.
    */
  val Stride = 5

  val families: Seq[(String, Map[String, Q])] = Seq(
    "relational" -> (RelationalQueries.queries ++ RelationalQueries2.queries ++
      RelationalQueries3.queries ++ RelationalQueries4.queries),
    "dedup" -> DedupQueries.queries,
    "text" -> TextQueries.queries,
    "vector" -> VectorQueries.queries)

  def selected(tiny: Boolean): Seq[(String, String, Q)] =
    families.flatMap { case (fam, qs) =>
      val names = qs.keys.toSeq.sorted
      val keep = if (tiny) names.take(1)
        else names.zipWithIndex.collect { case (n, i) if i % Stride == 0 => n }
      keep.map(n => (n, fam, qs(n)))
    }.sortBy(_._1)

  /** Execute the query's own plan and bring copies of its rows to the
    * driver; the fingerprint is computed from them after the timer stops.
    */
  private def drain(df: DataFrame): (org.apache.spark.rdd.RDD[InternalRow], Array[InternalRow]) = {
    val r = df.queryExecution.toRdd
    (r, r.map(_.copy()).collect())
  }

  def run(c: Ctx): Result = {
    val res = new Result
    val spark = c.spark
    val dir = c.fixture
    val queries = selected(c.tiny)
    val expected = Expected.load(c.expectedFile)

    // Set-up: cold memo state and every fixture table's schema.
    res.setup(c.median(3) {
      Q.reset(spark)
      Fixture.Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)
    })

    val usesShared = queries.exists { case (n, _, _) =>
      DedupQueries.sharedMemoConsumers.exists(n.startsWith) }
    val times = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double)]
    val outputs = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame, Array[InternalRow])]
    c.window {
      if (usesShared) {
        val t0 = System.nanoTime()
        c.tracer.span("queries", "shared_builds") { DedupQueries.warmSharedMemos(spark, dir) }
        times += (("a00_shared_builds", "shared", (System.nanoTime() - t0) / 1e9))
      }
      queries.foreach { case (name, fam, fn) =>
        res.attempted += 1
        var rdd: Option[org.apache.spark.rdd.RDD[InternalRow]] = None
        val t0 = System.nanoTime()
        try {
          c.tracer.span("queries", name) {
            val df = fn(spark, dir)
            val (r, rows) = drain(df)
            rdd = Some(r)
            outputs += ((name, df, rows))
          }
          times += ((name, fam, (System.nanoTime() - t0) / 1e9))
        } catch { case e: Throwable =>
          res.fail(s"$name: ${e.toString.takeWhile(_ != '\n')}")
        }
        Q.drainScratch(spark)
        rdd.foreach(_.cleanShuffleDependencies(blocking = true))
      }
    }

    // Correctness, untimed.
    outputs.foreach { case (name, df, rows) =>
      val got = Fingerprint.ofInternal(df.queryExecution.analyzed.schema, rows.toSeq)
      expected.get(name) match {
        case None => res.problem(s"$name: no expected fingerprint")
        case Some(want) => res.check(got == want, s"$name: got $got, want $want")
      }
    }

    val perQuery = times.filter(_._2 != "shared").map(_._3 * 1000)
    val passS = times.map(_._3).sum
    if (perQuery.nonEmpty) {
      val (tail, p) = Stats.tail(perQuery.toSeq)
      res.named("battery_query_tail_ms", tail, "ms")
      res.e2e("ops_per_s", perQuery.size / passS, "1/s")
      res.named("battery_s", passS, "s")
      res.named("battery_query_p50_ms", Stats.median(perQuery.toSeq), "ms")
      res.info("tail_percentile") = p
      res.info("samples") = perQuery.size
    }
    res.info("queries") = times.map { case (n, _, s) => n -> s }.toMap
    res.info("fixture") = dir

    Seq("shared" -> "shared_builds_s", "relational" -> "relational_s",
        "dedup" -> "dedup_s", "text" -> "text_s", "vector" -> "vector_s")
      .foreach { case (fam, key) =>
        res.layer(s"queries.$key", times.filter(_._2 == fam).map(_._3).sum)
      }
    res
  }
}
