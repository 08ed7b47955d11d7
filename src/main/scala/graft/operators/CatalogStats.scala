package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANALYZE-style statistics WIRED INTO THE PLANNER (r8 verdict
  * item 3): `CorpusStats.tableStats` computes catalog stats as a
  * queryable report; this operator feeds the same class of stats to
  * Spark's own catalog — `CREATE TABLE ... USING parquet LOCATION`
  * over the testdata followed by `ANALYZE TABLE ... COMPUTE
  * STATISTICS FOR ALL COLUMNS` — so the cost-based optimizer plans
  * with row counts and column min/max/ndv instead of raw file sizes.
  *
  * What stats buy at 100 TB: without column statistics Spark
  * estimates a Filter at its child's full size, so a 0.2%-selective
  * predicate on a 100 TB fact table still looks like 100 TB to the
  * join planner — no broadcast, a full shuffle of both sides. With
  * ANALYZE'd min/max the filter's estimate collapses to its true
  * fraction and the planner broadcasts the filtered side on its own.
  * CatalogStatsSpec pins exactly that decision: same query, stats →
  * BroadcastHashJoin, no stats → SortMergeJoin, identical results
  * (stats must never change answers — both registered twins share
  * one oracle).
  *
  * The reference has no optimizer to feed (SURVEY §4); this is the
  * engine-side half of the `table_stats` report (CorpusStats), whose
  * one-pass output mirrors what ANALYZE stores.
  */
object CatalogStats {

  /** High-value order cutoff: selects the extreme right tail of
    * o_totalprice (~0.2% of orders at every sf — the testdata price
    * distribution is sf-invariant), so the stats-aware filter
    * estimate is dramatically below the raw scan estimate. */
  val PriceFloor: Double = 499000.0

  /** Register `orders`/`customer` for `dir` as external catalog
    * tables and ANALYZE them (table row count + per-column min/max/
    * ndv/null counts), once per session. The scan is one pass per
    * table at ANALYZE time — the catalog artifact it produces is
    * tiny and reused by every subsequent plan, the economics that
    * make ANALYZE standard maintenance on a long-lived table. */
  def ensureAnalyzed(spark: SparkSession, dir: String): (String, String) = {
    val Seq(o, c) = ensureAnalyzedTables(spark, dir, Seq("orders", "customer"))
    (o, c)
  }

  /** Generalized registration+ANALYZE for any of the testdata
    * tables; returns the catalog names in input order. */
  def ensureAnalyzedTables(spark: SparkSession, dir: String,
                           names: Seq[String]): Seq[String] =
    names.map { src =>
      val t = s"${src}_cbo_${graft.sources.Snapshots.tag(dir)}"
      if (!spark.catalog.tableExists(t)) {
        spark.sql(s"CREATE TABLE $t USING parquet LOCATION '$dir/$src.parquet'")
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
      }
      t
    }

  /** The probe query both twins run: per-market-segment order count
    * and revenue of the high-value tail, integer-cents arithmetic so
    * the result replays bit-exactly. Join shape: filtered orders ⋈
    * customer on custkey — the side a stats-aware planner broadcasts
    * and a stats-blind one shuffles. */
  private def segmentRevenue(orders: DataFrame, customer: DataFrame): DataFrame =
    orders.filter(col("o_totalprice") > lit(PriceFloor))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum(Relational.cents(col("o_totalprice"))).as("rev_c"))
      .select(col("c_mktsegment"), col("n_orders"),
        (col("rev_c").cast("double") / 100.0).as("revenue"))

  /** The query through the ANALYZE'd catalog tables — the plan the
    * optimizer builds from true row counts and column stats. */
  def joinWithStats(spark: SparkSession, dir: String): DataFrame = {
    val (o, c) = ensureAnalyzed(spark, dir)
    segmentRevenue(spark.table(o), spark.table(c))
  }

  /** The stats-blind twin: identical query over raw parquet reads
    * (no catalog entry, no column stats — the planner sees only file
    * sizes). Same oracle as [[joinWithStats]]: statistics change
    * plans, never results. */
  def joinNoStats(spark: SparkSession, dir: String): DataFrame =
    segmentRevenue(
      spark.read.parquet(s"$dir/orders.parquet"),
      spark.read.parquet(s"$dir/customer.parquet"))
}
