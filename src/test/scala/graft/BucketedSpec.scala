package graft

import org.apache.spark.sql.functions._
import graft.sources.Bucketed

class BucketedSpec extends SparkSpec {

  test("bucketed fact-fact join + per-key agg plans with ZERO Exchange") {
    val df = Bucketed.bucketedOrderRevenue(spark, Sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join/agg must not shuffle, plan was:\n$plan")
    assert(plan.contains("SortMergeJoin"),
      "the merge hint + bucket layout must pin a sort-merge join")
    // Bucket pruning sanity: both scans read the bucketed tables
    assert(plan.contains("graft_orders_bkt") && plan.contains("graft_lineitem_bkt"))
  }

  test("bucketed join result equals the flat-table formulation") {
    val bucketed = Bucketed.bucketedOrderRevenue(spark, Sf0001)
    val o = spark.read.parquet(s"$Sf0001/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
    val l = spark.read.parquet(s"$Sf0001/lineitem.parquet")
    val rev = graft.operators.Relational.cents(col("l_extendedprice")) *
      (lit(100L) - graft.operators.Relational.cents(col("l_discount")))
    val flat = o.join(l.select(col("l_orderkey"), rev.as("rev_c4")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "o_orderpriority")
      .agg(sum("rev_c4").as("revenue_c4"))
    assert(bucketed.count() > 0)
    assert(bucketed.except(flat).isEmpty && flat.except(bucketed).isEmpty,
      "layout must not change the result")
  }

  test("partitioned read plans the language predicate as PartitionFilters") {
    val df = Bucketed.partitionPrunedStats(spark, Sf0001)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val partLine = formatted.linesIterator.find(_.contains("PartitionFilters"))
    assert(partLine.isDefined, s"no PartitionFilters in:\n$formatted")
    assert(partLine.get.contains("lang"),
      s"lang predicate must prune partitions, was: ${partLine.get}")
    // and the data filter must NOT survive as a post-scan Filter on lang
    val flat = spark.read.parquet(s"$Sf0001/documents.parquet")
      .filter(col("lang").isin("en", "de"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    assert(df.except(flat).isEmpty && flat.except(df).isEmpty)
    assert(df.count() > 0)
  }

  test("a filter matching no partition prunes to an empty scan, not an error") {
    val none = Bucketed.partitionPrunedStats(spark, Sf0001, langs = Seq("xx"))
    assert(none.count() == 0)
    val some = Bucketed.partitionPrunedStats(spark, Sf0001, langs = Seq("xx", "en"))
    assert(some.count() > 0)
    assert(some.select("lang").distinct().collect().map(_.getString(0)).toSeq == Seq("en"))
  }

  test("dim-filtered join plans DYNAMIC partition pruning on the fact scan") {
    val df = Bucketed.dppFamilyStats(spark, Sf0001)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.toLowerCase.contains("dynamicpruning"),
      s"fact scan must carry a runtime pruning subquery, plan was:\n$formatted")
    // result = the static formulation over the flat table
    val s = spark
    import s.implicits._
    val dim = Seq("de" -> "latin", "en" -> "latin", "es" -> "latin",
      "fr" -> "latin", "zh" -> "cjk").toDF("lang", "family")
    val flat = spark.read.parquet(s"$Sf0001/documents.parquet")
      .join(dim.filter(col("family") === "cjk"), "lang")
      .groupBy("lang", "family")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    assert(df.count() > 0)
    assert(df.except(flat).isEmpty && flat.except(df).isEmpty)
  }

  test("only matching language directories are read after pruning") {
    Bucketed.partitionPrunedStats(spark, Sf0001, langs = Seq("en"))
    val path = graft.sources.Snapshots.scratchDir("part_docs", Sf0001)
    val pruned = spark.read.parquet(path).filter(col("lang") === "en")
    val files = pruned.queryExecution.executedPlan.collectLeaves().flatMap {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.toSeq.map(_.urlEncodedPath)
      case _ => Nil
    }
    assert(files.nonEmpty)
    assert(files.forall(_.contains("lang=en")),
      s"pruned scan must touch only lang=en files, saw:\n${files.mkString("\n")}")
  }
}
