package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Relational.cents

/** Z-ORDER (Morton-curve) clustering — the third write-time layout
  * next to bucketing and Hive partitioning ([[Bucketed]]): sort the
  * table by the bit-interleave of two normalized dimensions so that
  * EVERY parquet row group covers a small rectangle of the 2-d key
  * space. A query with a box predicate on BOTH dimensions then
  * prunes on row-group min/max statistics in both — a linear sort
  * clusters one dimension and leaves the other's min/max spanning
  * the full range in every group, so only one predicate ever skips.
  *
  * At 100 TB this is the layout for fact tables queried by two
  * selective dimensions at once (user × time, tenant × date, doc ×
  * shard): directory partitioning handles one low-cardinality
  * column, z-order handles two high-cardinality ones without
  * exploding the file count. The z-value is computed with plain
  * shift/or/and built-ins (whole-stage codegen, no UDF) and is a
  * WRITE-time concern only — it never appears in query results,
  * which is why the oracle replays the same box query off the raw
  * flat table.
  *
  * Reference analog: none (flat text files, SURVEY.md §2.1 O16/O17).
  */
object ZOrder {

  /** Spread the low 16 bits of `x` so bit i lands at position 2i —
    * the classic binary-magic-number network, expressed with codegen
    * built-ins only. */
  def spread16(x: Column): Column = {
    val v0 = x.cast("long").bitwiseAND(lit(0xffffL))
    val v1 = v0.bitwiseOR(shiftleft(v0, 8)).bitwiseAND(lit(0x00ff00ffL))
    val v2 = v1.bitwiseOR(shiftleft(v1, 4)).bitwiseAND(lit(0x0f0f0f0fL))
    val v3 = v2.bitwiseOR(shiftleft(v2, 2)).bitwiseAND(lit(0x33333333L))
    v3.bitwiseOR(shiftleft(v3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton code of two 16-bit normalized coordinates. */
  def zValue(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Monotonic normalization of a non-negative long in [0, max] to
    * the 16-bit grid — integer arithmetic, no doubles. */
  def norm16(x: Column, max: Long): Column =
    (x.cast("long") * 65536L) / (max + 1L)


  /** (max user_id, max event_id) of the raw events table — the
    * min/max stats a production catalog already has; one bounded
    * scalar aggregate here. */
  def eventMaxes(spark: SparkSession, dir: String): (Long, Long) = {
    val r = spark.read.parquet(s"$dir/events.parquet")
      .agg(max("user_id"), max("event_id")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Write the events table twice — `linear/` (range-sorted by
    * user_id only) and `zorder/` (range-sorted by the Morton code of
    * (user_id, event_id)), both subdirs of ONE [[Snapshots]] version
    * — with small parquet row groups so statistics pruning is
    * observable at test scale (at production scale the default 128 MB
    * groups play the same role). The clustering rewrite is therefore
    * atomic (a reader resolves the whole before- or after-layout,
    * never a mix) and fingerprint-keyed (a regenerated events table
    * re-clusters instead of serving stale rows). The write is part of
    * the measured operator, the [[Bucketed.ensureOrderTables]]
    * discipline. Returns (linearPath, zorderPath, maxUser, maxEvent). */
  def ensureEventLayouts(spark: SparkSession, dir: String): (String, String, Long, Long) = {
    val src = s"$dir/events.parquet"
    val (maxU, maxE) = eventMaxes(spark, dir)
    val data = Snapshots.ensure(spark,
      Snapshots.scratchDir("zorder", dir),
      Snapshots.fingerprint(spark, src)) { path =>
      val ev = spark.read.parquet(src)
      def write(df: DataFrame, sortCol: Column, p: String): Unit =
        df.withColumn("zv", sortCol)
          .repartitionByRange(8, col("zv"))
          .sortWithinPartitions(col("zv"))
          .drop("zv")
          .write.mode("overwrite")
          .option("parquet.block.size", 32 * 1024)
          .parquet(p)
      write(ev, col("user_id"), s"$path/linear")
      write(ev, zValue(norm16(col("user_id"), maxU),
        norm16(col("event_id"), maxE)), s"$path/zorder")
    }
    (s"$data/linear", s"$data/zorder", maxU, maxE)
  }

  /** The 2-d box predicate both layout twins run: user_id in the
    * [20%, 30%) slice and event_id in the [50%, 60%) slice of their
    * ranges — ~1% of rows, bounds derived from the same max stats at
    * ANY sf. Integer bound arithmetic, mirrored by the oracle. */
  def boxFilter(df: DataFrame, maxU: Long, maxE: Long): DataFrame = {
    val (uLo, uHi) = ((maxU + 1) * 20 / 100, (maxU + 1) * 30 / 100)
    val (eLo, eHi) = ((maxE + 1) * 50 / 100, (maxE + 1) * 60 / 100)
    df.filter(col("user_id") >= uLo && col("user_id") < uHi &&
      col("event_id") >= eLo && col("event_id") < eHi)
  }

  private def boxStats(df: DataFrame): DataFrame =
    df.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("sum_value_cents"))

  /** Box query off the z-ordered layout: both range predicates reach
    * the scan as data filters, and because the layout bounds BOTH
    * columns per row group, most groups are skipped on statistics
    * alone (proven by scan metrics in ZOrderSpec). Results are
    * layout-independent — the oracle replays the raw flat table. */
  def zorderBoxStats(spark: SparkSession, dir: String): DataFrame = {
    val (_, zorder, maxU, maxE) = ensureEventLayouts(spark, dir)
    boxStats(boxFilter(spark.read.parquet(zorder), maxU, maxE))
  }

  /** The LINEAR twin — identical query off the user_id-sorted layout,
    * where only the user_id predicate can skip row groups; the bench
    * pair quantifies what the interleave buys (the bucketed_join /
    * unbucketed_join pattern). Same oracle as zorder_scan. */
  def linearBoxStats(spark: SparkSession, dir: String): DataFrame = {
    val (linear, _, maxU, maxE) = ensureEventLayouts(spark, dir)
    boxStats(boxFilter(spark.read.parquet(linear), maxU, maxE))
  }
}
