package graft.perfbench

import java.nio.file.{Files, Path}

import graft.catalog.TableCatalog

/** The `api.*` metrics, from the spans the workloads put around their
  * Table and Stream calls. Span names: `flush`, `consume`, `upsert`,
  * `upsert_bucketed`, `lookup`, `lookup_bucketed`, `read_sql`, `compact`.
  * A metric whose call never ran in the window reads 0.
  */
object Api {
  def metrics(t: Tracer, rep: Report, window: Option[Span]): Map[String, Double] = {
    val spans = window.toSeq.flatMap(rep.subtree)
    def named(n: String) = spans.filter(_.name == n)
    def ms(n: String) = Stats.medianOr0(named(n).map(_.dur / 1e6))
    def sumJobs(ss: Seq[Span])(f: JobRec => Long) = ss.flatMap(rep.jobsUnder).map(f).sum.toDouble
    def rows(ss: Seq[Span]) = ss.map(t.countOf(_, "rows")).sum.toDouble
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val consume = named("consume")
    val ups = named("upsert")
    val bups = named("upsert_bucketed")
    Map(
      "api.flush_ms" -> ms("flush"),
      "api.flush_jobs" -> Stats.medianOr0(named("flush").map(rep.jobsUnder(_).size.toDouble)),
      "api.consume_ms" -> ms("consume"),
      "api.consume_scan_ratio" -> ratio(sumJobs(consume)(_.inputRecords.get), rows(consume)),
      "api.upsert_ms" -> ms("upsert"),
      "api.upsert_write_amp" -> ratio(sumJobs(ups)(_.outputRecords.get), rows(ups)),
      "api.upsert_bucketed_ms" -> ms("upsert_bucketed"),
      "api.upsert_bucketed_write_amp" -> ratio(sumJobs(bups)(_.outputRecords.get), rows(bups)),
      "api.lookup_records_read" -> Stats.medianOr0(
        (named("lookup") ++ named("lookup_bucketed"))
          .map(s => rep.jobsUnder(s).map(_.inputRecords.get).sum.toDouble)),
      "api.read_sql_ms" -> ms("read_sql"),
      "api.compact_ms" -> ms("compact"))
  }
}

/** On-disk shape of a catalog after a run: manifest sizes, version counts,
  * bytes, and the time a fresh catalog takes to refresh each store.
  */
object CatalogStats {
  private def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
      finally s.close()
    }

  /** Fills the `catalog.*` layer metrics and `api.active_files`; returns
    * the store amplification (table bytes on disk ÷ active-version bytes).
    */
  def apply(res: Result, root: Path, tables: Seq[String]): Double = {
    val cat = new TableCatalog(root)
    val refreshMs = tables.map { t =>
      val t0 = System.nanoTime()
      cat.refresh(t)
      (System.nanoTime() - t0) / 1e6
    }
    val ms = tables.flatMap(cat.load)
    val disk = tables.map(t => du(cat.tableDir(t))).sum.toDouble
    val active = ms.flatMap(m => m.activeVersion.map(v => du(cat.versionDir(m.name, v)))).sum
    val amp = if (active > 0) disk / active else 0.0
    res.layer("catalog.refresh_ms", Stats.medianOr0(refreshMs))
    res.layer("catalog.manifest_bytes",
      tables.map(t => du(cat.tableDir(t).resolve("manifest.json"))).sum.toDouble)
    res.layer("catalog.versions", ms.map(_.versions.size).sum.toDouble)
    res.layer("catalog.disk_bytes", disk)
    res.layer("catalog.store_amp", amp)
    res.layer("api.active_files",
      ms.flatMap(m => m.activeVersion.map(v => cat.dataFiles(m.name, v).length)).sum.toDouble)
    amp
  }
}
