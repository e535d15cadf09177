package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.api.{GraftEngine, Table}

/** `feed`: many small commits on one catalog, one client in a closed loop.
  *
  * Each cycle runs, in a seeded order: two appends of a seeded 2.5k-row
  * event batch (each flushed, then drained by a Stream consumer that
  * checkpoints), an upsert of ~16 seeded keys into a plain and into a
  * 16-bucket copy of `orders`, a point lookup on each copy and a `readSql`
  * aggregate over the append table. Every fourth append is followed by a
  * `compact` of the append table.
  *
  * Correctness: each orders copy equals a last-writer-wins state kept on
  * the driver, every lookup returns its expected row, every aggregate
  * counts every appended event, and every appended event is consumed
  * exactly once.
  */
object Feed {
  val BatchRows = 2500
  val UpsertKeys = 16
  val Buckets = 16
  val CompactEvery = 4
  val Key = "o_orderkey"

  private val Cycle = Seq("append", "append", "upsert", "upsert_bucketed",
    "lookup", "lookup_bucketed", "read_sql")

  private final class State(val root: Path, val plain: Table, val bucketed: Table,
      val events: Table)

  def run(c: Ctx): Result = {
    val res = new Result
    val spark = c.spark
    val rng = new scala.util.Random(c.seed)
    val orders = spark.read.parquet(s"${c.fixture}/orders.parquet")
    val schema = orders.schema
    val keyIdx = schema.fieldIndex(Key)
    val base = orders.collect().map(r => r.getLong(keyIdx) -> r).toMap

    // last-writer-wins reference state, one per copy
    val want = Map("upsert" -> mutable.Map(base.toSeq: _*),
      "upsert_bucketed" -> mutable.Map(base.toSeq: _*))
    val keys = ArrayBuffer(base.keys.toSeq.sorted: _*)
    var newKey = keys.max

    // seeded event batches: ids are dense and increasing across batches
    def batch(lo: Long): DataFrame =
      spark.range(lo, lo + BatchRows).select(
        col("id").as("event_id"),
        pmod(xxhash64(col("id"), lit(c.seed)), lit(1000L)).as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("buy")),
          (pmod(xxhash64(col("id"), lit(c.seed + 1)), lit(3L)) + 1).cast("int")).as("event_type"),
        (pmod(xxhash64(col("id"), lit(c.seed + 2)), lit(100000L)) / 100.0).as("value"))

    def setup(): State = {
      val root = c.fresh("feed")
      val eng = new GraftEngine(spark, root.toString, "writer")
      val plain = eng.table("orders_plain", "w").init(uniqueOn = Seq(Key))
      plain.replace(orders)
      val bucketed = eng.table("orders_bucketed", "w")
        .init(uniqueOn = Seq(Key), bucketBy = Buckets)
      bucketed.replace(orders)
      val events = eng.table("feed_events", "w")
      events.append(batch(0L))
      events.flush()
      new State(root, plain, bucketed, events)
    }
    var st: State = null
    res.setup(c.median(3) { st = setup() })
    var appended = BatchRows.toLong

    def upsertBatch(): Seq[Row] = (1 to UpsertKeys).map { i =>
      val k =
        if (i <= UpsertKeys / 4) { newKey += 1; keys += newKey; newKey }
        else keys(rng.nextInt(keys.length))
      val template = base(keys(rng.nextInt(base.size)))
      val vals = template.toSeq.toArray
      vals(keyIdx) = k
      vals(schema.fieldIndex("o_totalprice")) = rng.nextInt(50000000) / 100.0
      vals(schema.fieldIndex("o_orderstatus")) = if (rng.nextBoolean()) "U" else "V"
      Row.fromSeq(vals.toSeq)
    }

    val lat = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    def timed[A](kind: String)(f: => A): Option[A] = {
      res.attempted += 1
      val t0 = System.nanoTime()
      try {
        val a = c.tracer.span("api", kind)(f)
        lat.getOrElseUpdate(kind, ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
        Some(a)
      } catch { case e: Throwable =>
        res.fail(s"$kind: ${e.toString.takeWhile(_ != '\n')}")
        None
      }
    }

    var consumed = 0L
    var appends = 0
    def append(): Unit = {
      val df = batch(appended)
      if (timed("flush") { st.events.append(df); st.events.flush() }.isDefined)
        appended += BatchRows
      appends += 1
      val ids = timed("consume") {
        val eng = new GraftEngine(spark, st.root.toString, "consumer")
        val s = eng.table("feed_events").asStream("event_id")
        val got = s.consumeRecords().map(_.getAs[Long]("event_id")).toArray
        s.checkpoint()
        c.tracer.count("rows", got.length.toLong)
        got
      }
      ids.foreach { got =>
        val exact = got.length == appended - consumed &&
          got.indices.forall(i => got(i) == consumed + i)
        res.check(exact, s"drain after $appended appended events yielded " +
          s"${got.length} rows from ${got.headOption.getOrElse(-1)}; want ids $consumed until $appended")
        consumed += got.length
      }
      if (appends % CompactEvery == 0) timed("compact")(st.events.compact())
    }

    def upsert(kind: String): Unit = {
      val rows = upsertBatch()
      val t = if (kind == "upsert") st.plain else st.bucketed
      val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      if (timed(kind) { c.tracer.count("rows", rows.size.toLong); t.upsert(df) }.isDefined)
        rows.foreach(r => want(kind)(r.getLong(keyIdx)) = r)
    }

    def lookup(kind: String): Unit = {
      val k = keys(rng.nextInt(keys.length))
      val copy = if (kind == "lookup") "upsert" else "upsert_bucketed"
      val t = if (kind == "lookup") st.plain else st.bucketed
      timed(kind)(t.lookup(Seq(k)).select(schema.fieldNames.map(col): _*).collect()).foreach { got =>
        val exp = want(copy).get(k).map(r => Seq(r.toSeq))
        res.check(got.map(r => r.toSeq).toSeq == exp.getOrElse(Nil),
          s"$kind($k) = ${got.mkString(";")}, want ${exp.getOrElse(Nil)}")
      }
    }

    def readSql(): Unit =
      timed("read_sql") {
        st.events.readSql(
          "SELECT event_type, COUNT(*) AS n, SUM(value) AS v FROM feed_events GROUP BY event_type")
          .collect()
      }.foreach { rows =>
        val n = rows.map(_.getLong(1)).sum
        res.check(n == appended, s"read_sql counted $n events, $appended appended")
      }

    def cycle(): Unit = rng.shuffle(Cycle).foreach {
      case "append" => append()
      case k @ ("upsert" | "upsert_bucketed") => upsert(k)
      case k @ ("lookup" | "lookup_bucketed") => lookup(k)
      case "read_sql" => readSql()
    }

    if (!c.tiny) cycle() // warm-up, untimed; its operations are checked too
    lat.clear()
    c.window { c.loop(tinyIters = 1) { _ => cycle(); true } }

    // final state of both copies against the reference
    Seq("upsert" -> st.plain, "upsert_bucketed" -> st.bucketed).foreach { case (k, t) =>
      val got = t.read.select(schema.fieldNames.map(col): _*).collect()
        .map(r => r.getLong(keyIdx) -> r.toSeq).toMap
      val exp = want(k).map { case (key, r) => key -> r.toSeq }.toMap
      res.check(got == exp, s"${t.name}: ${got.size} rows differ from the " +
        s"last-writer-wins state (${exp.size} rows)")
    }
    res.check(consumed == appended, s"consumed $consumed of $appended appended events")

    val all = lat.values.flatten.toSeq
    if (all.nonEmpty) {
      res.e2e("ops_per_s", all.size / (all.sum / 1e3), "1/s")
      res.info("samples") = all.size
    }
    def p50(k: String) = Stats.medianOr0(lat.getOrElse(k, ArrayBuffer.empty).toSeq)
    val appendLat = lat.getOrElse("flush", ArrayBuffer.empty).toSeq
    res.named("feed_append_p50_ms", p50("flush"), "ms")
    if (appendLat.nonEmpty) {
      val (t, p) = Stats.tail(appendLat)
      res.named("feed_append_tail_ms", t, "ms")
      res.info("append_tail_percentile") = p
    }
    res.named("feed_consume_p50_ms", p50("consume"), "ms")
    res.named("feed_upsert_p50_ms", p50("upsert"), "ms")
    res.named("feed_upsert_bucketed_p50_ms", p50("upsert_bucketed"), "ms")
    res.named("feed_lookup_p50_ms", p50("lookup"), "ms")
    res.named("feed_lookup_bucketed_p50_ms", p50("lookup_bucketed"), "ms")
    res.named("feed_sql_p50_ms", p50("read_sql"), "ms")
    res.info("op_counts") = lat.map { case (k, v) => k -> v.size }.toMap
    res.info("events_appended") = appended
    res.named("feed_store_amp",
      CatalogStats(res, st.root, Seq("orders_plain", "orders_bucketed", "feed_events")), "ratio")
    res
  }
}
