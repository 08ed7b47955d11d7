package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Relational.cents

/** Bucketed and partitioned STORAGE LAYOUTS — the two techniques that
  * remove work from repeated queries by organizing data at write time
  * rather than at query time. Neither exists in the reference (its
  * storage layer is flat text files re-read per job, SURVEY.md §2.1
  * O16/O17); both are core to the 100 TB story:
  *
  *  - bucketBy(key): both fact tables pre-hashed into the same number
  *    of buckets on the join key means a fact-fact join (and any
  *    aggregation keyed on the bucket key) runs with ZERO Exchange —
  *    at 100 TB that is the difference between re-shuffling the
  *    corpus per query and never shuffling it at all.
  *  - partitionBy(col): low-cardinality partition columns become
  *    directory structure, so a filtered read plans PartitionFilters
  *    and never opens non-matching files.
  *
  * Both queries are fully oracle-checked: layout changes WHERE bytes
  * live, never WHAT the query returns, so DuckDB replays the same
  * result from the raw flat tables.
  */
object Bucketed {

  val NumBuckets = 8

  /** Write orders + lineitem as bucketed tables (hash(orderkey) →
    * NumBuckets files, sorted within bucket), registered in the
    * session catalog with data at an external tmp path. Idempotent
    * per JVM: the catalog check makes repeated calls (bench reps,
    * verify + bench in one session) reuse the first write; a fresh
    * JVM rewrites once per sf dir — the write is part of the measured
    * operator, exactly like the sink round-trip queries. repartition
    * on the bucket key first so each bucket is one file, not one per
    * input task. */
  def ensureOrderTables(spark: SparkSession, dir: String): (String, String) = {
    val t = Snapshots.tag(dir)
    val oT = s"graft_orders_bkt_$t"
    val lT = s"graft_lineitem_bkt_$t"
    val root = Snapshots.scratchDir("bucketed", dir)
    if (!spark.catalog.tableExists(oT)) {
      spark.sql(s"DROP TABLE IF EXISTS $oT")
      spark.read.parquet(s"$dir/orders.parquet")
        .repartition(NumBuckets, col("o_orderkey"))
        .write.mode("overwrite").format("parquet")
        .option("path", s"$root/orders")
        .bucketBy(NumBuckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(oT)
    }
    if (!spark.catalog.tableExists(lT)) {
      spark.sql(s"DROP TABLE IF EXISTS $lT")
      spark.read.parquet(s"$dir/lineitem.parquet")
        .repartition(NumBuckets, col("l_orderkey"))
        .write.mode("overwrite").format("parquet")
        .option("path", s"$root/lineitem")
        .bucketBy(NumBuckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lT)
    }
    (oT, lT)
  }

  /** Per-order discounted revenue off the bucketed tables: fact-fact
    * join AND the per-orderkey aggregation both inherit the bucket
    * partitioning, so the whole plan has ZERO Exchange (asserted in
    * BucketedSpec). The merge hint pins the sort-merge strategy the
    * layout exists for — at sf0.1 Catalyst would broadcast 9 MB of
    * orders and hide the demonstration; at 100 TB neither side is
    * broadcastable and SMJ-over-buckets is the only shuffle-free
    * plan. Revenue in integer cents×bp (the q1/q3 arithmetic) so the
    * sum is order-independent and bit-exact. */
  def bucketedOrderRevenue(spark: SparkSession, dir: String): DataFrame = {
    val (oT, lT) = ensureOrderTables(spark, dir)
    val o = spark.table(oT).select(col("o_orderkey"), col("o_orderpriority"))
    val l = spark.table(lT).select(col("l_orderkey"),
      (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
        .as("rev_c4"))
    o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(sum(col("rev_c4")).as("revenue_c4"))
  }

  /** The FLAT twin of [[bucketedOrderRevenue]] — identical semantics
    * and strategy (merge hint) from the unbucketed parquet tables, so
    * the bench pair quantifies exactly what the layout removes: the
    * two pre-join Exchanges and the pre-agg one (the skew_join_*
    * pair pattern). Same oracle as bucketed_join. */
  def flatOrderRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          .as("rev_c4"))
    o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(sum(col("rev_c4")).as("revenue_c4"))
  }

  /** Hive-partitioned documents (lang=.../ directories) read back
    * with a language filter: the scan plans the predicate as
    * PartitionFilters (asserted in BucketedSpec) — non-matching
    * language directories are never listed or opened. The per-corpus
    * layout a multilingual training pipeline ships so per-language
    * consumers touch only their slice. */
  def partitionPrunedStats(spark: SparkSession, dir: String,
                           langs: Seq[String] = Seq("en", "de")): DataFrame = {
    val path = ensurePartitionedDocs(spark, dir)
    spark.read.parquet(path)
      .filter(col("lang").isin(langs: _*))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** The partitioned-docs layout both pruning queries read; written
    * fresh per call (overwrite), like the sink round-trip queries —
    * the write is part of the measured operator. */
  private def ensurePartitionedDocs(spark: SparkSession, dir: String): String = {
    val path = Snapshots.scratchDir("part_docs", dir)
    Sinks.writePartitionedParquet(
      spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "source", "n_chars", "lang"),
      path, Seq("lang"))
    path
  }

  /** DYNAMIC partition pruning: here the set of languages to read is
    * NOT known at plan time — it arrives at runtime from the script-
    * family dimension's filter (family = 'cjk'), and Catalyst injects
    * a dynamicpruningexpression into the fact scan's PartitionFilters
    * (asserted in BucketedSpec), so only the surviving lang=
    * directories are listed or opened. At 100 TB this is the
    * dim-filter → fact-prune shape every warehouse query leans on;
    * the dim rides as a file relation (written beside the layout) the
    * same way a real lang/script dimension table would. */
  def dppFamilyStats(spark: SparkSession, dir: String,
                     family: String = "cjk"): DataFrame = {
    val docsPath = ensurePartitionedDocs(spark, dir)
    val dimPath = Snapshots.scratchDir("lang_dim", dir)
    import spark.implicits._
    Seq("de" -> "latin", "en" -> "latin", "es" -> "latin",
      "fr" -> "latin", "zh" -> "cjk")
      .toDF("lang", "family")
      .coalesce(1).write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("family") === family)
    spark.read.parquet(docsPath)
      .join(dim, "lang")
      .groupBy("lang", "family")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }
}
