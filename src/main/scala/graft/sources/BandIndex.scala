package graft.sources

import graft.Caches.CheckpointSyntax
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.MinHashLsh

/** BUCKETED persisted LSH band index — the storage layout that makes
  * continuous dedup cheap at 100 TB. The incremental pipeline
  * ([[graft.operators.IncrementalIngest]], q:`incremental_pairs`)
  * probes every arriving batch against the corpus band index; with
  * the index as a flat table that probe re-shuffles BOTH sides on
  * (band, band_key) every batch — i.e. the multi-TB index pays a
  * full exchange per micro-batch forever. Written bucketed on the
  * join key instead, the index scan reports its hash partitioning
  * to the planner, so the per-batch join plans with an Exchange on
  * the BATCH side only (batch-sized, by definition small) and the
  * index is never shuffled again after the one write.
  *
  * Same discipline as [[Bucketed]]: the layout changes where bytes
  * live, never what the probe returns — q:`incremental_pairs_bucketed`
  * shares q:`incremental_pairs`'s oracle verbatim, and BandIndexSpec
  * asserts the zero-exchange-on-index plan shape.
  */
object BandIndex {

  /** Bucket sizing — the production rule the sf0.5 word-salad
    * measurement taught (DESIGN "Scale pass 4"): a bucketed join
    * runs at the table's FIXED bucket count with AQE skew-splitting
    * disabled, so the count must grow with the corpus or a large
    * probe funnels through too few sorted streams. One band row per
    * corpus doc per band, so corpus docs are the driver; floor 8
    * keeps small corpora multi-file, the cap bounds catalog size. */
  val DocsPerBucket = 1000L
  val MinBuckets = 8
  val MaxBuckets = 4096

  def bucketsFor(corpusDocs: Long): Int =
    math.max(MinBuckets.toLong,
      math.min(MaxBuckets.toLong,
        (corpusDocs + DocsPerBucket - 1) / DocsPerBucket)).toInt


  /** Stop-band cap used by the capped index variant — the same 20
    * as candidate_pairs_capped (max sf0.01 bucket is 58, so the cap
    * genuinely bites at the oracle sf). */
  val DefaultMaxBucket = 20

  /** Write the corpus band index ONCE, bucketed on the probe key
    * ([[writeBucketedIndex]]). With `maxBucket` set, degenerate band
    * buckets (occupancy > cap, MinHashLsh.capBuckets) are dropped AT
    * BUILD TIME — stop-band removal, the production answer to the
    * adversarial-corpus funnel DESIGN "Scale pass 4" measured: junk
    * keys never enter the index, so no probe ever pays for them (the
    * flat path's candidate_pairs_capped applies the same cap per
    * query instead). Idempotent per JVM (catalog check); the write is
    * part of the measured operator, the [[Bucketed.ensureOrderTables]]
    * discipline. */
  def ensureBandIndexTable(spark: SparkSession, dir: String,
                           maxBucket: Option[Int] = None): String = {
    val t = s"graft_band_idx_${maxBucket.fold("")(m => s"c${m}_")}${Snapshots.tag(dir)}"
    if (!spark.catalog.tableExists(t)) {
      val all = spark.read.parquet(s"$dir/documents.parquet")
      val corpus = all.filter(
        col("doc_id") < graft.operators.IncrementalIngest.frontierId(all))
      // one bounded scalar (the ZOrder.eventMaxes catalog-stats
      // justification) sizes the layout to the corpus
      writeBucketedIndex(MinHashLsh.capBuckets(MinHashLsh.bands(corpus), maxBucket), t,
        bucketsFor(corpus.count()))
    }
    t
  }

  /** The incremental probe off the bucketed index: same semantics
    * (and oracle) as the flat q:`incremental_pairs`, but the index
    * side of the band join carries NO Exchange — only the arriving
    * batch is shuffled to the index's bucketing. */
  def incrementalPairsBucketed(spark: SparkSession, dir: String): DataFrame =
    probeIndex(spark, dir, None)

  /** The probe off the STOP-BAND-CAPPED index: identical join, but
    * degenerate buckets were never written, so an adversarial key
    * distribution cannot funnel quadratic output through the probe
    * (within-batch pairs are unaffected — the cap governs what the
    * INDEX serves, exactly like a search engine's stop-word list). */
  def incrementalPairsCapped(spark: SparkSession, dir: String,
                             maxBucket: Int = DefaultMaxBucket): DataFrame =
    probeIndex(spark, dir, Some(maxBucket))

  /** The arriving batch of `dir` probed against its corpus band index,
    * capped at `maxBucket` or not. */
  private def probeIndex(spark: SparkSession, dir: String,
                         maxBucket: Option[Int]): DataFrame = {
    val idx = spark.table(ensureBandIndexTable(spark, dir, maxBucket))
    val all = spark.read.parquet(s"$dir/documents.parquet")
    val batch = all.filter(
      col("doc_id") >= graft.operators.IncrementalIngest.frontierId(all))
    MinHashLsh.incrementalCandidates(idx, batch, mergeHint = true)
  }

  // ---- change-feed-maintained index -----------------------------------

  /** A band index maintained INCREMENTALLY from a merge table's
    * change feed ([[Merge.changeFeed]]) — the dedup index of a
    * CONTINUOUSLY-MAINTAINED corpus, closing the loop between the
    * storage layer and the LSH pillar. Per feed span, EVERY changed
    * doc gets a TOMBSTONE (doc_id, max commit version in the span) in
    * a parquet sidecar, and docs whose last change leaves them alive
    * get their new bands APPENDED at that version (insertInto keeps
    * the bucket spec, so the index is still never shuffled at probe
    * time). The probe masks superseded generations with a
    * change-sized broadcast anti-join on strict gen-< — the
    * merge-on-read discipline applied to the index itself. Note the
    * tombstone is NOT delete-only: the all-changed-docs tombstone at
    * max version plus strict < is what makes supersession,
    * re-insert-after-delete and replays compose (an appended row at
    * the tombstone's own version survives; anything older dies).
    * Maintenance cost is O(changed docs); the index is never rebuilt.
    * A REPLAYED span only re-appends rows that are either superseded
    * (masked by the surviving tombstones — [[compactMaintained]]
    * keeps them for exactly this reason) or content-identical
    * duplicates (the probe's pair set is distinct), so candidates
    * stay correct at redundant-row cost.
    *
    * The tombstone sidecar is CORRECTNESS-BEARING (losing it would
    * silently resurrect superseded and deleted docs' bands), so it
    * co-locates with the index table under the session warehouse by
    * default — never a sweepable tmpdir; `sidecarDir` overrides for
    * callers that manage their own durable location (r10 advice). */
  def buildMaintained(spark: SparkSession, corpus: DataFrame,
                      name: String,
                      sidecarDir: Option[String] = None): (String, String) = {
    val t = liveTableFor(name)
    val tombDir = sidecarDir.getOrElse(defaultSidecarDir(spark, name))
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Snapshots.fs(spark, tombDir)
      .delete(new org.apache.hadoop.fs.Path(tombDir), true)
    writeBucketedIndex(
      MinHashLsh.bands(corpus)
        .select(col("band"), col("band_key"), col("doc_id"), lit(0L).as("gen")),
      t, bucketsFor(corpus.count()))
    (t, tombDir)
  }

  /** The one place a maintained index's TABLE name is derived — the
    * build and every later probe must resolve the same name or a
    * fingerprint-guarded skip path would silently probe a stale
    * table. */
  private def liveTableFor(name: String): String =
    s"graft_band_live_${Snapshots.tag(name)}"

  /** Where a maintained index's tombstone sidecar lives by default:
    * next to the table under the session warehouse (durable — a
    * correctness-bearing sidecar must never ride a sweepable
    * tmpdir). */
  private def defaultSidecarDir(spark: SparkSession, name: String): String = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    s"${wh.stripSuffix("/")}/graft_band_tomb_${Snapshots.tag(name)}"
  }

  /** The in-memory catalog is per-SESSION but the warehouse dir is
    * not: a managed-table location left behind by a previous JVM
    * blocks saveAsTable with LOCATION_ALREADY_EXISTS. Clear the stale
    * dir iff this session's catalog holds no live table by that name
    * (a live table's location is never touched — overwrite semantics
    * own it). */
  private def clearStaleLocation(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      Snapshots.fs(spark, wh).delete(new org.apache.hadoop.fs.Path(
        s"$wh/${table.toLowerCase(java.util.Locale.ROOT)}"), true)
    }

  /** The one bucketed band-index write recipe — every index (the
    * corpus index, capped or not, and the maintained index's build and
    * compaction) is written here, so the zero-exchange probe property
    * cannot drift between them. No sortBy: the bucketed scan reports no
    * output ordering (a bucket spans several files), so the probe's
    * sort-merge join sorts the index side anyway. */
  private def writeBucketedIndex(df: DataFrame, table: String,
                                 buckets: Int): Unit = {
    clearStaleLocation(df.sparkSession, table)
    df.repartition(buckets, col("band"), col("band_key"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "band", "band_key")
      .saveAsTable(table)
  }

  /** Apply one change-feed span to a maintained index. Per changed
    * doc only its LATEST state in the span matters — the span is
    * collapsed by an aliased argmax, MATERIALIZED once (the two
    * writes below must see the same collapse, and a computed-CDF
    * span re-derived per action would double the upkeep cost).
    *
    * CONTRACT — AT-LEAST-ONCE, REPLAY ON FAILURE: the band append and
    * the tombstone append are two writes with no shared commit point,
    * and the order is DELIBERATE — bands first. A crash between them
    * leaves new bands live while stale generations stay unmasked, so
    * the probe serves EXTRA candidates (a superseded text keeps
    * surfacing) but never drops one — fail-open for candidate
    * generation, where downstream exact-Jaccard verification filters
    * the extras; the reverse order would mask old generations before
    * their replacements exist and silently LOSE candidates. A caller
    * that observes a failure must re-apply the same span: replay is
    * safe by construction (see the class doc — surviving tombstones
    * mask re-appended stale rows, duplicates are distinct-folded),
    * and it restores exactness. */
  def applyChangeFeed(spark: SparkSession, table: String, tombDir: String,
                      feed: DataFrame): Unit = {
    // aliased aggregate: `latest` derives FROM `feed`, so joining on
    // same-named columns would hit self-join attribute ambiguity
    val latest = feed
      .select(col("doc_id").as("d"), col("_commit_version").cast("long").as("v"))
      .groupBy("d").agg(max("v").as("gen"))
    val lastRows = feed.join(latest,
      feed("doc_id") === col("d") &&
        feed("_commit_version").cast("long") === col("gen"))
      .select(col("doc_id"), col("text"), col("_change_type"), col("gen"))
      .graftCheckpoint()
    val adds = lastRows
      .filter(col("_change_type").isin("insert", "update_postimage"))
    MinHashLsh.bands(adds.select("doc_id", "text"))
      .join(adds.select(col("doc_id"), col("gen")), Seq("doc_id"))
      .select(col("band"), col("band_key"), col("doc_id"), col("gen"))
      .write.insertInto(table)
    // one tombstone per changed doc (update rows appear twice in
    // lastRows — pre+post at the same version — hence the distinct)
    lastRows.select(col("doc_id"), col("gen")).distinct()
      .write.mode("append").parquet(tombDir)
  }

  /** The index's LIVE rows: every generation a tombstone has not
    * superseded. The tombstone side is change-sized — AQE broadcasts
    * it, and a broadcast anti-join preserves the bucketed scan's
    * partitioning, so the probe keeps its zero-exchange-on-index
    * plan. */
  def liveBands(spark: SparkSession, table: String, tombDir: String): DataFrame = {
    val idx = spark.table(table)
    val f = Snapshots.fs(spark, tombDir)
    // a missing sidecar is only "no tombstones" if no crashed fold
    // parked it under a work name — reading through that state would
    // silently resurrect deleted docs' bands (self-heals, r10 review)
    if (!f.exists(new org.apache.hadoop.fs.Path(tombDir)))
      Sidecars.recoverTombstones(spark, tombDir)
    if (!f.exists(new org.apache.hadoop.fs.Path(tombDir))) idx
    else {
      val tombs = spark.read.parquet(tombDir)
        .groupBy(col("doc_id").as("t_doc")).agg(max("gen").as("t_gen"))
      idx.join(tombs,
        idx("doc_id") === tombs("t_doc") && idx("gen") < tombs("t_gen"),
        "left_anti")
    }
  }

  /** Probe a maintained index with an arriving batch — identical
    * semantics to [[incrementalPairsBucketed]]'s probe, over the
    * tombstone-masked live rows. */
  def probeMaintained(spark: SparkSession, table: String, tombDir: String,
                      batch: DataFrame): DataFrame =
    MinHashLsh.incrementalCandidates(
      liveBands(spark, table, tombDir).select("band", "band_key", "doc_id"),
      batch, mergeHint = true)

  /** The maintained index's OPTIMIZE: drop dead generations from the
    * table and fold the tombstone sidecar to one max-version row per
    * doc. GENERATIONS AND TOMBSTONES ARE PRESERVED — both steps are
    * pure compactions that change nothing liveBands observes, and a
    * feed span REPLAYED after compaction still finds the tombstones
    * that mask its stale appends (resetting gens to 0 and clearing
    * the sidecar would instead let a replay resurrect a superseded
    * text). Both swaps rename the OLD artifact ASIDE before the
    * staged one takes the published name and only then delete it
    * (r10 advice): a crash at any point leaves every row recoverable
    * BY NAME (`…_old` / `…_compacting` siblings), never a deleted
    * index with its sole copy under a hidden path; the unavailable
    * window for a concurrent probe shrinks to two renames, not a
    * rewrite. Single maintainer, like every maintenance rewrite
    * here. */
  def compactMaintained(spark: SparkSession, table: String,
                        tombDir: String): Unit = {
    // materialize (lineage-truncated) before the swap drops the
    // table the rows come from
    val live = liveBands(spark, table, tombDir)
      .select(col("band"), col("band_key"), col("doc_id"), col("gen"))
      .graftCheckpoint()
    val buckets = bucketsFor(live.select("doc_id").distinct().count())
    val staged = s"${table}_compacting"
    val old = s"${table}_old"
    spark.sql(s"DROP TABLE IF EXISTS $staged")
    spark.sql(s"DROP TABLE IF EXISTS $old")
    clearStaleLocation(spark, old) // a crashed prior session's leftover
    writeBucketedIndex(live, staged, buckets)
    spark.sql(s"ALTER TABLE $table RENAME TO $old")
    spark.sql(s"ALTER TABLE $staged RENAME TO $table")
    spark.sql(s"DROP TABLE $old")
    // sidecar fold: semantics-identical (liveBands takes the per-doc
    // max anyway) — the shared rename-aside discipline
    Sidecars.foldTombstones(spark, tombDir, "doc_id")
  }

  // ---- registered maintained-index fixture ---------------------------

  /** The merge chain q:`maintained_band_probe` maintains its index
    * from: a table bootstrapped DIVERGENT from the incremental-dedup
    * corpus — the doc_id%11==3 band missing, the %11==5 band carrying
    * STALE text, and some batch-range ids (%13==2) present that must
    * not be — then brought to the TRUE corpus state by two logged CDC
    * batches. Batch 1 inserts the missing band, hops the stale band
    * through an INTERMEDIATE text (only the latest-wins collapse can
    * index the right one) and deletes the extras; batch 2 lands the
    * stale band at its true text. */
  private def ensureBandFeedChain(spark: SparkSession, dir: String,
                                  want: String): String = {
    val vroot = Snapshots.scratchDir("bandfeed", dir)
    if (!Snapshots.current(spark, vroot).exists(_.fingerprint == want)) {
      Snapshots.fs(spark, vroot)
        .delete(new org.apache.hadoop.fs.Path(vroot), true)
      val all = spark.read.parquet(s"$dir/documents.parquet")
      val f = graft.operators.IncrementalIngest.frontierId(all)
      val corpus = all.filter(col("doc_id") < f)
      val missing = corpus.filter(col("doc_id") % 11 === 3)
      val stale = corpus.filter(col("doc_id") % 11 === 5)
      val extra = all.filter(col("doc_id") >= f && col("doc_id") % 13 === 2)
      val base = corpus.filter(col("doc_id") % 11 =!= 3)
        .withColumn("text", when(col("doc_id") % 11 === 5,
          concat(lit("STALE "), col("text"))).otherwise(col("text")))
        .unionByName(extra)
      Snapshots.commit(spark, vroot, s"base:$want",
        statsFor = p => Merge.statsWithBlooms(spark, p)) { p =>
        base.repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions(col("doc_id")).write.parquet(p)
      }
      Merge.withChangeFeed(spark) {
        Merge.merge(spark, vroot,
          missing.withColumn("op", lit(Merge.UpsertOp))
            .unionByName(stale
              .withColumn("text", concat(lit("MID "), col("text")))
              .withColumn("op", lit(Merge.UpsertOp)))
            .unionByName(extra.withColumn("op", lit(Merge.DeleteOp))),
          s"b1:$want") // v2
        Merge.merge(spark, vroot,
          stale.withColumn("op", lit(Merge.UpsertOp)), want) // v3
      }
    }
    vroot
  }

  /** q:`maintained_band_probe` — the storage → change-feed → index
    * loop on the registered surface: the maintained index is built on
    * the divergent base above, repaired PURELY by [[applyChangeFeed]]
    * over the chain's [[Merge.changeFeed]] span, and probed with the
    * arriving batch. The probe must be indistinguishable from the
    * from-scratch incremental probe — q:`incremental_pairs`' oracle,
    * shared verbatim — so a missed insert, an un-collapsed update, an
    * unmasked stale generation or an undeleted extra doc each flips
    * the hash. Build + apply are fingerprint-guarded (the ensure
    * discipline); steady-state invocations pay only the probe. */
  def maintainedProbePairs(spark: SparkSession, dir: String): DataFrame = {
    val all = spark.read.parquet(s"$dir/documents.parquet")
    val batch = all.filter(
      col("doc_id") >= graft.operators.IncrementalIngest.frontierId(all))
    val name = s"reg_${Snapshots.tag(dir)}"
    val table = liveTableFor(name)
    val tombDir = defaultSidecarDir(spark, name)
    val want =
      s"bandfeed2:${Snapshots.fingerprint(spark, s"$dir/documents.parquet")}"
    val marker = s"$tombDir._applied"
    val applied = Sidecars.readMarker(spark, marker).contains(want)
    if (!applied || !spark.catalog.tableExists(table)) {
      val vroot = ensureBandFeedChain(spark, dir, want)
      Snapshots.fs(spark, marker)
        .delete(new org.apache.hadoop.fs.Path(marker), false)
      val (t, tomb) = buildMaintained(spark, Merge.readAt(spark, vroot, 1), name)
      applyChangeFeed(spark, t, tomb, Merge.changeFeed(spark, vroot, 1, 3))
      Sidecars.writeMarker(spark, marker, want)
    }
    probeMaintained(spark, table, tombDir, batch)
  }
}
