package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.GraftEngine
import graft.graph.{GraphLoader, GraphRunner}

/** `app`: a devkit `graph.yml` app driven one round at a time.
  *
  * `ingest` appends the next slice of `events` (event_id order) and of
  * `documents` (a seeded order, with one earlier document re-sent per
  * slice); `sessionize` drains `raw_events` as a Stream and upserts
  * per-user running totals; `prep` drains `raw_docs`, applies the quality
  * filter and sha2 dedup and upserts on `content_hash`. The two are
  * store-disjoint, so the runner executes them concurrently; two SQL nodes
  * then rebuild `lang_stats` and `top_users`. A round is
  * `trigger(ingest)` through to quiescence.
  */
object App {
  val EventsPerSlice = 100
  val DocsPerSlice = 5
  val TopK = 10

  val Yaml: String =
    """functions:
      |  - node_file: ingest
      |    id: ingest01
      |    outputs: {events: raw_events, docs: raw_docs}
      |  - node_file: sessionize
      |    id: sessio01
      |    inputs: {in: raw_events}
      |    outputs: {out: user_stats}
      |  - node_file: prep
      |    id: prepdo01
      |    inputs: {in: raw_docs}
      |    outputs: {out: clean_docs}
      |  - node_file: lang_stats.sql
      |    id: langst01
      |    inputs: {clean: clean_docs}
      |    outputs: {out: lang_stats}
      |  - node_file: top_users.sql
      |    id: topusr01
      |    inputs: {stats: user_stats}
      |    outputs: {out: top_users}
      |    parameters: {k: 10}
      |stores:
      |  - table: raw_events
      |  - table: raw_docs
      |  - table: user_stats
      |  - table: clean_docs
      |  - table: lang_stats
      |  - table: top_users
      |""".stripMargin

  val Sql: Map[String, String] = Map(
    "lang_stats.sql" ->
      """SELECT lang, COUNT(*) AS n_docs, SUM(n_tokens) AS total_tokens
        |FROM {{ clean }} GROUP BY lang""".stripMargin,
    "top_users.sql" ->
      """SELECT user_id, n, total_value FROM {{ stats }}
        |ORDER BY total_value DESC, user_id LIMIT {{ params.k }}""".stripMargin)

  val Tables: Seq[String] =
    Seq("raw_events", "raw_docs", "user_stats", "clean_docs", "lang_stats", "top_users")

  /** Quality filter + content-hash dedup, shared by the `prep` node and
    * the independent check.
    */
  def clean(docs: DataFrame): DataFrame =
    docs.withColumn("n_tokens", size(split(col("text"), " ")))
      .filter(col("n_tokens") >= 5)
      .withColumn("content_hash", sha2(col("text"), 256))
      .groupBy("content_hash")
      .agg(min("doc_id").as("doc_id"), min("lang").as("lang"),
        min("n_tokens").as("n_tokens"))

  /** Drain a stream fully; the rows, and the same rows as a frame. */
  private def drain(c: Ctx, eng: GraftEngine, port: String,
      orderBy: String): (Vector[Row], Option[DataFrame]) =
    c.tracer.span("api", "consume") {
      val rows = eng.table(port).asStream(orderBy).consumeRecords().toVector
      c.tracer.count("rows", rows.size.toLong)
      (rows, if (rows.isEmpty) None
        else Some(c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)))
    }

  /** Spark-free count of the rows an upsert writes, kept on the span for
    * the write-amplification ratio; skipped when tracing is off.
    */
  private def upsert(c: Ctx, t: graft.api.Table, df: DataFrame, rows: => Long): Unit =
    c.tracer.span("api", "upsert") {
      if (c.tracer.enabled) c.tracer.count("rows", rows)
      t.upsert(df)
    }

  private final class Sources(spark: SparkSession, fixture: String, seed: Long) {
    val events: DataFrame = spark.read.parquet(s"$fixture/events.parquet")
    val docs: DataFrame = spark.read.parquet(s"$fixture/documents.parquet")
    val eventIds: Array[Long] =
      events.select("event_id").collect().map(_.getLong(0)).sorted
    val docOrder: Array[Long] = new scala.util.Random(seed)
      .shuffle(docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq).toArray
    val slices: Int = math.min(eventIds.length / EventsPerSlice, docOrder.length / DocsPerSlice)
    private val rng = new scala.util.Random(seed * 31 + 7)

    /** Event-id bounds [lo, hi) and doc ids of slice k. */
    def slice(k: Int): (Long, Long, Seq[Long]) = {
      val lo = eventIds(k * EventsPerSlice)
      val hi = if ((k + 1) * EventsPerSlice < eventIds.length)
        eventIds((k + 1) * EventsPerSlice) else eventIds.last + 1
      val fresh = docOrder.slice(k * DocsPerSlice, (k + 1) * DocsPerSlice).toSeq
      val resent = if (k == 0) Nil else Seq(docOrder(rng.nextInt(k * DocsPerSlice)))
      (lo, hi, fresh ++ resent)
    }
  }

  def run(c: Ctx): Result = {
    val res = new Result
    val spark = c.spark
    val src = new Sources(spark, c.fixture, c.seed)
    var next = 0
    var eventsHi = Long.MinValue
    val docsIn = scala.collection.mutable.Set.empty[Long]

    def ingest(eng: GraftEngine): Unit = {
      val (lo, hi, ids) = src.slice(next)
      next += 1
      val ev = eng.table("events", "w")
      val dc = eng.table("docs", "w").init(addMonotonicId = "seq")
      ev.append(src.events.filter(col("event_id") >= lo && col("event_id") < hi))
      dc.append(src.docs.filter(col("doc_id").isin(ids: _*)))
      c.tracer.span("api", "flush") { ev.flush(); dc.flush() }
      eventsHi = hi
      docsIn ++= ids
    }

    def sessionize(eng: GraftEngine): Unit = {
      val (rows, batch) = drain(c, eng, "in", "event_id")
      batch.foreach { b =>
        val out = eng.table("out", "w").init(uniqueOn = Seq("user_id"))
        val delta = b.groupBy("user_id")
          .agg(count(lit(1)).as("dn"), sum("value").as("dv"))
        val merged =
          if (!out.exists) delta.select(col("user_id"), col("dn").as("n"), col("dv").as("total_value"))
          else delta.join(out.read, Seq("user_id"), "left").select(col("user_id"),
            (col("dn") + coalesce(col("n"), lit(0L))).as("n"),
            (col("dv") + coalesce(col("total_value"), lit(0.0))).as("total_value"))
        upsert(c, out, merged, rows.map(_.getAs[Long]("user_id")).distinct.size.toLong)
      }
    }

    def prep(eng: GraftEngine): Unit = {
      val (rows, batch) = drain(c, eng, "in", "seq")
      batch.foreach { b =>
        val out = eng.table("out", "w").init(uniqueOn = Seq("content_hash"))
        upsert(c, out, clean(b.drop("seq")), rows.map(_.getAs[String]("text"))
          .filter(_.split(" ", -1).length >= 5).distinct.size.toLong)
      }
    }

    def body(node: String, f: GraftEngine => Unit): GraftEngine => Unit =
      eng => c.tracer.span("api", s"body.$node")(f(eng))

    var root: Path = null
    var runner: GraphRunner = null
    res.setup(c.median(3) {
      src.events.unpersist(); src.docs.unpersist()
      src.events.cache().count(); src.docs.cache().count()
      root = c.fresh("app")
      val graphDir = Files.createDirectories(root.resolve("_graph"))
      Sql.foreach { case (f, q) =>
        Files.write(graphDir.resolve(f), q.getBytes(StandardCharsets.UTF_8)) }
      runner = new GraphRunner(spark, GraphLoader.parse(Yaml),
        root.resolve("catalog").toString, Some(graphDir))
        .register("ingest", body("ingest", ingest))
        .register("sessionize", body("sessionize", sessionize))
        .register("prep", body("prep", prep))
    })
    val catalogRoot = root.resolve("catalog")

    val warm = if (c.tiny) 0 else 1
    (0 until warm).foreach(_ => runner.trigger("ingest01"))
    val rounds = ArrayBuffer.empty[Double]
    c.window {
      c.loop(tinyIters = 3) { _ =>
        if (next >= src.slices) false
        else {
          res.attempted += 1
          val t0 = System.nanoTime()
          try {
            c.tracer.span("graph", "round")(runner.trigger("ingest01"))
            rounds += (System.nanoTime() - t0) / 1e6
          } catch { case e: Throwable =>
            res.fail(s"round ${next - 1}: ${e.toString.takeWhile(_ != '\n')}")
          }
          true
        }
      }
    }

    if (rounds.nonEmpty) {
      val (tail, p) = Stats.tail(rounds.toSeq)
      res.e2e("ops_per_s", rounds.size / (rounds.sum / 1e3), "1/s")
      res.named("app_round_p50_ms", Stats.median(rounds.toSeq), "ms")
      res.named("app_round_tail_ms", tail, "ms")
      res.info("tail_percentile") = p
      res.info("samples") = rounds.size
    }
    res.info("slices_ingested") = next
    res.info("rounds_ms") = rounds.toList

    check(c, res, src, catalogRoot, eventsHi, docsIn.toSet)
    CatalogStats(res, catalogRoot, Tables)
    res.derive = graphMetrics(_, c.opSpans, res)
    res
  }

  /** Untimed: every output table against an independent computation over
    * the fixture rows the run ingested.
    */
  private def check(c: Ctx, res: Result, src: Sources, root: Path,
      eventsHi: Long, docIds: Set[Long]): Unit = {
    val probe = new GraftEngine(c.spark, root.toString, "check")
    val ingested = src.events.filter(col("event_id") < eventsHi)
    val want = ingested.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val got = probe.table("user_stats").read.select("user_id", "n", "total_value")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val events = ingested.count()
    res.check(got.values.map(_._1).sum == events,
      s"sum(user_stats.n) = ${got.values.map(_._1).sum}, events ingested = $events")
    res.check(got.keySet == want.keySet && want.forall { case (k, (n, v)) =>
      got.get(k).exists { case (gn, gv) => gn == n && math.abs(gv - v) <= 1e-6 * math.max(1.0, math.abs(v)) }
    }, "user_stats differs from the per-user totals of the ingested events")

    val cleanWant = clean(src.docs.filter(col("doc_id").isin(docIds.toSeq: _*)))
    val cleanGot = probe.table("clean_docs").read
    val keys = cleanGot.select("content_hash").collect().map(_.getString(0))
    res.check(keys.length == keys.distinct.length, "clean_docs content_hash keys are not unique")
    res.check(keys.toSet == cleanWant.select("content_hash").collect().map(_.getString(0)).toSet,
      "clean_docs keys differ from the filtered, deduplicated documents")

    val langWant = cleanWant.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
    def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
    res.check(rows(probe.table("lang_stats").read.select("lang", "n_docs", "total_tokens")) ==
      rows(langWant.select("lang", "n_docs", "total_tokens")),
      "lang_stats differs from the independent per-language counts")

    val topWant = want.toSeq.sortBy { case (u, (_, v)) => (-v, u) }.take(TopK).map(_._1).toSet
    val topGot = probe.table("top_users").read.select("user_id").collect().map(_.getLong(0)).toSet
    res.check(topGot == topWant, s"top_users $topGot, want $topWant")
  }

  /** `graph.*`: per round, the node bodies' spans, the SQL nodes' job time
    * (jobs tagged with the round itself, i.e. launched outside any Scala
    * body) and the round time neither covers; medians over rounds.
    */
  private def graphMetrics(rep: Report, ops: Seq[Span], res: Result): Unit = {
    val rounds = ops.filter(_.name == "round")
    val per = rounds.map { r =>
      val bodies = rep.kids(r).filter(_.name.startsWith("body."))
      val sqlJobs = rep.ownJobs(r).map(rep.jobInterval)
      val sqlNs = rep.covered(sqlJobs, r.start, r.end)
      val busyNs = rep.covered(bodies.map(b => (b.start, b.end)) ++ sqlJobs, r.start, r.end)
      (bodies, sqlNs, r.dur - busyNs, (bodies.map(_.dur).sum + sqlNs).toDouble / r.dur,
        rep.jobsUnder(r).size)
    }
    Seq("ingest", "sessionize", "prep").foreach { n =>
      res.layer(s"graph.body_ms.$n", Stats.medianOr0(per.flatMap(_._1)
        .filter(_.name == s"body.$n").map(_.dur / 1e6)))
    }
    res.layer("graph.sql_nodes_ms", Stats.medianOr0(per.map(_._2 / 1e6)))
    res.layer("graph.coordinator_ms", Stats.medianOr0(per.map(_._3 / 1e6)))
    res.layer("graph.overlap", Stats.medianOr0(per.map(_._4)))
    res.layer("graph.jobs_per_round", Stats.medianOr0(per.map(_._5.toDouble)))
  }
}
