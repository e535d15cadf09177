package graft

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** Dumps `explain("formatted")` for the SparkEntry queries into a markdown
  * file — the plan-quality audit trail (pushdown, broadcast choice, codegen
  * spans).
  *
  * Usage: `Plans [out] [query,…]`. `out` defaults to EXPLAINS.md; the
  * optional comma-separated query list (SparkEntry names) restricts the
  * dump to those queries. SPARK_GRAFT_SF_DIR picks the fixture.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = args.headOption.getOrElse("EXPLAINS.md")
    val only = args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_(name)) }.sortBy(_._1)
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("plans")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", false)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val pw = new PrintWriter(new File(out))
    pw.println("# EXPLAINS — physical plans of the query battery")
    pw.println()
    pw.println(s"`explain(formatted)` per SparkEntry query over `$dir` " +
      "(regenerate: `sbt \"runMain graft.Plans\"`). Audit targets: " +
      "`PushedFilters`/`ReadSchema` on scans, BroadcastHashJoin on dim " +
      "joins, WholeStageCodegen span width, no unexpected CartesianProduct.")
    selected.foreach { case (name, fn) =>
      pw.println(s"\n## $name\n")
      pw.println("```")
      try {
        val df = fn(spark, dir)
        pw.println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch {
        case e: Throwable => pw.println(s"ERROR: ${e.getMessage}")
      }
      pw.println("```")
    }
    // d12's escape hatch never engages at oracle SF (every label is
    // within budget), so its plan is audited here with a forced tiny
    // budget on both cell layouts. Audit target: NO Window operator —
    // the round-9 hatch assigns cells via hash-mod centroid selection +
    // a broadcast argmax kernel, never a per-label row_number.
    val hatchBounds =
      if (selected.exists(_._1 == "d12_embed_neardup"))
        Seq(("flat", 200000L), ("two-level", 4L))
      else Nil
    for ((tag, bound) <- hatchBounds) {
      pw.println(s"\n## d12_embed_neardup (forced hatch, budget=300, $tag cells)\n")
      pw.println("```")
      try {
        import org.apache.spark.sql.functions._
        graft.functions.FloatDotProduct.register(spark)
        val v = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("label"), col("embedding"))
          .withColumn("nrm",
            graft.functions.VectorFunctions.l2norm(col("embedding")))
        // the ENGINE's own prologue, so the audited plan can't
        // desynchronize from the real routing predicate
        val (members, _, over) =
          graft.queries.DedupQueries.hatchOverOf(spark, v, 300L)
        if (over.isEmpty)
          pw.println("SKIPPED: no label exceeds the forced budget in " +
            s"$dir — regenerate fixtures or lower the budget")
        else {
          val plans = graft.queries.DedupQueries.hatchPlansOf(over, 2,
            300L)
          val (pairs, _) = graft.queries.DedupQueries.hatchRound(spark,
            members, plans, 0.3, 1024, 2, bound)
          pw.println(pairs.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        }
      } catch {
        case e: Throwable => pw.println(s"ERROR: ${e.getMessage}")
      }
      pw.println("```")
    }
    pw.close()
    println(s"wrote $out")
    spark.stop()
  }
}
