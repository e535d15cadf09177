package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** The fixture tables every workload reads. */
object Fixture {
  val Tables: Seq[String] = "region nation customer supplier part orders lineitem events documents embeddings".split(' ').toSeq
}

/** Expected battery fingerprints, produced by `fingerprint.py`. */
object Expected {
  private implicit val fmts: Formats = DefaultFormats

  def load(file: String): Map[String, Fingerprint.Fp] = {
    val j = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(file)), StandardCharsets.UTF_8))
    (j \ "queries").extract[Map[String, JValue]].map { case (k, v) =>
      k -> Fingerprint.Fp((v \ "rows").extract[Long], (v \ "cols").extract[Seq[String]],
        (v \ "hash").extract[String])
    }
  }
}

/** The per-layer metrics every traced run reports, with their units;
  * `BENCHMARK.json` names the same set (plus `trace.overhead`, which
  * `run.py` adds).
  */
object Metrics {
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.driver_s" -> "s", "spark.job_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.core_busy_frac" -> "ratio",
    "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.input_records" -> "count", "spark.output_bytes" -> "B",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "jvm.peak_heap_mb" -> "MB",
    "queries.shared_builds_s" -> "s", "queries.relational_s" -> "s",
    "queries.dedup_s" -> "s", "queries.text_s" -> "s", "queries.vector_s" -> "s",
    "api.flush_ms" -> "ms", "api.flush_jobs" -> "count", "api.consume_ms" -> "ms",
    "api.consume_scan_ratio" -> "ratio", "api.upsert_ms" -> "ms",
    "api.upsert_write_amp" -> "ratio", "api.upsert_bucketed_ms" -> "ms",
    "api.upsert_bucketed_write_amp" -> "ratio", "api.lookup_records_read" -> "count",
    "api.read_sql_ms" -> "ms", "api.compact_ms" -> "ms", "api.active_files" -> "count",
    "catalog.refresh_ms" -> "ms", "catalog.manifest_bytes" -> "B",
    "catalog.versions" -> "count", "catalog.disk_bytes" -> "B",
    "catalog.store_amp" -> "ratio",
    "graph.body_ms.ingest" -> "ms", "graph.body_ms.sessionize" -> "ms",
    "graph.body_ms.prep" -> "ms", "graph.sql_nodes_ms" -> "ms",
    "graph.coordinator_ms" -> "ms", "graph.overlap" -> "ratio",
    "graph.jobs_per_round" -> "count", "trace.spans" -> "count") ++
    Report.Layers.map(l => s"self_s.$l" -> "s")
}

/** What one workload run produced. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val problems = mutable.ArrayBuffer.empty[String]
  val e2eM = mutable.LinkedHashMap.empty[String, (Double, String)]
  val namedM = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerM = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** Workload-specific per-layer metrics that need the listener's jobs. */
  var derive: Report => Unit = _ => ()

  def setup(sec: Double): Unit = e2e("setup_s", sec, "s")
  def e2e(n: String, v: Double, unit: String): Unit = e2eM(n) = (v, unit)
  def named(n: String, v: Double, unit: String): Unit = namedM(n) = (v, unit)
  def layer(n: String, v: Double): Unit = layerM(n) = v
  def fail(msg: String): Unit = { failed += 1; failures += msg }
  def problem(msg: String): Unit = problems += msg
  def check(ok: Boolean, msg: => String): Unit = if (!ok) problem(msg)
}

/** Everything a workload needs for one run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Double, val work: Path, val fixture: String,
    val expectedFile: String, val tiny: Boolean) {
  val cores: Int = spark.sparkContext.defaultParallelism
  var gcS, jitS, peakHeapMb = 0.0
  var windowSpan: Option[Span] = None
  private var dirs = 0

  /** A new, empty directory under the run's work dir. */
  def fresh(name: String): Path = {
    dirs += 1
    Files.createDirectories(work.resolve(s"$name-$dirs"))
  }

  /** Median wall seconds of `reps` runs of `f`. */
  def median(reps: Int)(f: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    })

  /** Log a phase boundary with the JVM's uptime, for run-time budgeting. */
  def phase(name: String): Unit = System.err.println(
    f"[perfbench] $name at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs")

  /** Run the measured loop, reading JVM counters at its edges. */
  def window(f: => Unit): Unit = {
    phase("window start")
    Jvm.resetPeak()
    val gc0 = Jvm.gcMs
    val jit0 = Jvm.jitMs
    tracer.span("harness", "window")(f)
    gcS = (Jvm.gcMs - gc0) / 1e3
    jitS = (Jvm.jitMs - jit0) / 1e3
    peakHeapMb = Jvm.peakHeapMb
    phase("window end")
    windowSpan = tracer.all.filter(_.name == "window").lastOption
  }

  /** The timed calls directly inside the window. */
  def opSpans: Seq[Span] =
    windowSpan.toSeq.flatMap(w => tracer.all.filter(_.parent == w.id)).sortBy(_.start)

  /** Loop `body` until the measured seconds have passed; tiny runs stop
    * after `tinyIters` iterations. Returns the iterations run.
    */
  def loop(tinyIters: Int)(body: Int => Boolean): Int = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    var go = true
    while (go && (if (tiny) i < tinyIters else System.nanoTime() < end)) {
      go = body(i)
      i += 1
    }
    i
  }
}

/** Usage:
  * {{{
  * graft.perfbench.Main --workload battery|app|feed --seed N --seconds S
  *   --trace 0|1 --work DIR --fixture DIR --expected FILE --out FILE [--tiny]
  * graft.perfbench.Main --fingerprints FILE --fixture DIR   (all 124 queries)
  * }}}
  */
object Main {
  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = Paths.get(opts("work"))
    Files.createDirectories(work)
    val spark = session(work)
    try {
      if (opts.contains("fingerprints")) dumpFingerprints(spark, opts("fixture"), opts("fingerprints"))
      else runWorkload(spark, opts, args.contains("--tiny"), work)
    } finally spark.stop()
  }

  private def runWorkload(spark: SparkSession, opts: Map[String, String],
      tiny: Boolean, work: Path): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val traced = opts("trace") == "1"
    val sc = spark.sparkContext
    val listener = new JobListener
    if (traced) sc.addSparkListener(listener)
    val runId = s"$workload-s$seed-${System.currentTimeMillis()}"
    val tracer = new Tracer(sc, traced, runId)
    val nano0 = System.nanoTime()
    val milli0 = System.currentTimeMillis()
    val c = new Ctx(spark, tracer, seed, opts("seconds").toDouble, work,
      opts("fixture"), opts.getOrElse("expected", ""), tiny)
    val res = workload match {
      case "battery" => Battery.run(c)
      case "app" => App.run(c)
      case "feed" => Feed.run(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    c.phase("checked")
    res.info("window_gc_s") = c.gcS
    res.info("window_jit_s") = c.jitS
    if (traced) {
      listener.drain(sc)
      val rep = new Report(tracer.all, listener.finished, nano0, milli0, c.cores)
      c.windowSpan.foreach { w =>
        rep.sparkMetrics(w, c.opSpans).foreach { case (k, v) => res.layer(k, v) }
        rep.selfTimes(w).foreach { case (k, v) => res.layer(k, v) }
      }
      Api.metrics(tracer, rep, c.windowSpan).foreach { case (k, v) => res.layer(k, v) }
      res.derive(rep)
      res.layer("jvm.gc_s", c.gcS)
      res.layer("jvm.jit_s", c.jitS)
      res.layer("jvm.peak_heap_mb", c.peakHeapMb)
      res.layer("trace.spans", tracer.all.size.toDouble)
      writeTrace(work.resolve("trace.jsonl"), tracer.all, listener.finished,
        nano0, milli0)
    }
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "attempted" -> res.attempted, "failed" -> res.failed,
      "failures" -> res.failures.take(20).toList,
      "problems" -> res.problems.take(20).toList,
      "correct" -> (res.problems.isEmpty && res.attempted > 0),
      "end_to_end" -> unitMap(res.e2eM),
      "named" -> unitMap(res.namedM),
      "per_layer" -> (if (traced) Metrics.PerLayer.map { case (n, u) =>
        n -> Map("value" -> finite(res.layerM.getOrElse(n, 0.0)), "unit" -> u) }.toMap
        else Map.empty),
      "info" -> res.info.toMap,
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark_master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version,
        "heap_max_mb" -> Jvm.maxHeapMb,
        "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}"))
    c.phase("done")
    Files.write(Paths.get(opts("out")),
      Serialization.write(out.toMap)(DefaultFormats).getBytes(StandardCharsets.UTF_8))
  }

  private def finite(v: Double): Double = if (v.isNaN || v.isInfinite) 0.0 else v

  private def unitMap(m: mutable.LinkedHashMap[String, (Double, String)]) =
    m.map { case (k, (v, u)) => k -> Map("value" -> finite(v), "unit" -> u) }.toMap

  private def writeTrace(p: Path, spans: Seq[Span], jobs: Seq[JobRec],
      nano0: Long, milli0: Long): Unit = {
    implicit val f: Formats = DefaultFormats
    val lines = spans.map(s => Serialization.write(Map("kind" -> "span",
      "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
      "run" -> s.run, "start_ns" -> (s.start - nano0), "end_ns" -> (s.end - nano0)))) ++
      jobs.map(j => Serialization.write(Map("kind" -> "job", "id" -> j.id,
        "span" -> j.span, "start_ms" -> (j.startMs - milli0), "end_ms" -> (j.endMs - milli0),
        "cpu_ns" -> j.cpuNs.get, "input_records" -> j.inputRecords.get,
        "output_records" -> j.outputRecords.get, "tasks" -> j.tasks.get)))
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Fingerprint every battery query on the fixture, with each query's
    * oracle SQL, for `fingerprint.py`.
    */
  private def dumpFingerprints(spark: SparkSession, dir: String, out: String): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val fp = Fingerprint.of(fn(spark, dir))
      graft.queries.Q.drainScratch(spark)
      name -> (Map("rows" -> fp.rows, "cols" -> fp.cols.toList, "hash" -> fp.hash) ++
        oracle.get(name).map("oracle_sql" -> _))
    }
    Files.write(Paths.get(out), Serialization.write(rows.toMap)(DefaultFormats)
      .getBytes(StandardCharsets.UTF_8))
  }
}
