package graft

/** Meta-test of the determinism rules (DESIGN.md): every oracle-
  * checked result must be BIT-identical whatever the physical
  * parallelism, because partition count changes aggregation merge
  * order — the exact thing integer-cents sums, ordered IEEE folds,
  * and tie-broken rankings exist to make irrelevant. A query that
  * passes the DuckDB hash only under one partitioning would be a
  * latent cluster bug (the driver always verifies at one setting);
  * this spec re-executes FP-sensitive queries at coprime partition
  * counts and diffs the full row sets. */
class DeterminismSpec extends SparkSpec {

  private val Sensitive = Seq(
    "cosine_topk",        // IEEE-ordered dot-product folds + ranking
    "bm25_topk",          // mirrored FP scoring expression
    "centroid_sim",       // integer centroid sums -> one double cosine
    "q1_pricing_summary", // cents/bp integer aggregation
    "minhash_estimate",   // positional sketch agreement
    "unigram_score",      // integer shuffle arithmetic LM score
    "shard_assign",       // two-phase cumsum must not depend on merge order
    "skew_report",        // distributed top-k heads + rank tie-break
    "table_stats",        // multi-count_distinct expand merge
    "change_feed",        // per-commit diff: full-outer rowDiff joins + sums
    "composition_view")   // feed debit/credit folded into integer sums

  private def run(name: String, parts: Int): Seq[String] = {
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try Harness.run(spark, name, Sf0001)(_.collect()).map(_.toString).sorted.toSeq
    finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("FP-sensitive queries are bit-identical at 3 vs 17 shuffle partitions") {
    Sensitive.foreach { name =>
      val a = run(name, 3)
      val b = run(name, 17)
      assert(a.nonEmpty, s"$name returned no rows")
      assert(a == b,
        s"$name diverges across partition counts: ${a.diff(b).take(3)} vs ${b.diff(a).take(3)}")
    }
  }
}
