package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Plan-audit main: formatted physical plans of SparkEntry queries,
  * so shuffle counts, broadcast choices, PushedFilters and
  * WholeStageCodegen spans can be eyeballed — and DIFFED — per round
  * (a plan regression should surface in review, not as a bench
  * mystery).
  *
  * Usage: runMain graft.Explain <sfDir> [--out dir] [query ...]
  * With --out, writes one `<dir>/<name>.txt` per query (all queries
  * when none are named).
  * Without --out, prints the (selected or default) plans to stdout.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val rest = args.drop(1).toSeq
    val outDir = rest.sliding(2).collectFirst { case Seq("--out", d) => d }
    val named = rest.filterNot(_.startsWith("--"))
      .filterNot(d => outDir.contains(d))
    val names = Harness.select(
      if (named.nonEmpty) Some(named)
      else if (outDir.nonEmpty) None
      else Some(Seq("q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
        "similar_pairs", "cosine_topk", "events_sessionize",
        "embed_dedup_pairs", "simhash_dedup_pairs", "events_range_join",
        "tfidf_top_terms", "events_asof_native", "events_range_native",
        "incremental_pairs", "pipeline_kept", "group_sketch")))
    val spark = Harness.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    outDir.foreach(d => new java.io.File(d).mkdirs())
    names.foreach { n =>
      val plan =
        try Harness.run(spark, n, sfDir)(
          _.queryExecution.explainString(ExplainMode.fromString("formatted")))
        catch { case e: Throwable => s"FAILED TO PLAN: ${e.getMessage}" }
      outDir match {
        case Some(d) => Files.writeString(Paths.get(s"$d/$n.txt"), plan)
        case None =>
          println(s"\n========== $n ==========")
          println(plan)
      }
    }
    spark.stop()
  }
}
