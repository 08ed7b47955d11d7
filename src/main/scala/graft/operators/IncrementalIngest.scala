package graft.operators

import graft.Caches.CheckpointSyntax
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Config

/** Continuous corpus ingest with incremental near-dup filtering —
  * the production loop the incremental candidate operator exists
  * for: a persistent corpus (texts) + band index (doc_id, band,
  * band_key) live on disk; each arriving batch is banded, probed
  * against the index, EXACT-verified against only the matched
  * corpus docs, and survivors are appended to both stores.
  *
  * Scale shape: a batch is banded ONCE; the probe and the index
  * write both read that one checkpointed band frame, and the
  * verified duplicate ids reach the left-anti and both store writes
  * as a tiny broadcast. What a batch still reads beyond itself:
  * (a) the whole band index, on the probe join's build side (about
  * 5.5 MB at 10k docs), and (b) the whole corpus text column for the
  * verify's semi-join against the candidate ids — about 95% of the
  * store's bytes; no doc_id IN (...) predicate reaches the parquet
  * scan. The candidate-id list is materialized before that
  * semi-join: left lazy, its distinct aggregate is a shuffle that
  * Spark's runtime-filter rule offers to prune, sourcing a bloom
  * filter from the corpus scan (its ingest_batch partition filter
  * looks selective) — one more job over the whole corpus doc_id
  * column. A materialized list has no shuffle left to prune.
  * Verification uses the same set and Jaccard as the batch path
  * ([[Shingling.shingleHashSet]], [[Shingling.jaccard]]) but not its
  * signature prefilter: MinHashLsh.similarPairs also requires a pair
  * to agree on >= Config.estPrefilterMinCount(t) of the S signature
  * words (36 of 60 at t = 0.8), which drops about 3e-5 of band-sharing
  * pairs at J = 0.8. So every doc a batch-mode run over corpus+batch
  * would pair is dropped, and rarely one more: a band-sharing doc
  * that passes the exact Jaccard but not the word prefilter. This
  * path keeps the exact test rather than adding the prefilter, which
  * would only make it drop less; whether ingest and batch should
  * agree exactly is open (ROADMAP item 6).
  */
object IncrementalIngest {

  /** Corpus/batch FRONTIER for the registered incremental fixtures:
    * the first [[FrontierPct]] percent of the id space is "the
    * corpus", the rest "the arriving batch". PROPORTIONAL, not a
    * fixed id: with a fixed 400 the sf0.5 scale run turned the
    * "batch" into 98% of the corpus and every incremental query
    * measured the batch self-join instead of the probe (DESIGN
    * "Scale pass 4"). 80% of (max_id + 1) equals the historical 400
    * at the sf0.001/sf0.01 oracle corpora (ids 0-499), so the gate
    * behavior is unchanged; the oracle derives the same integer from
    * max(doc_id). One bounded scalar per query build (the
    * ZOrder.eventMaxes catalog-stats justification). Production
    * ingest uses a real batch column — see [[ingestDedupStream]]. */
  val FrontierPct: Int = 80

  /** 0 on an empty `docs` (no max): corpus and batch are then both
    * empty, the oracle's result when its max(doc_id) is null. */
  def frontierId(docs: DataFrame): Long = {
    val mx = docs.agg(max("doc_id")).head()
    if (mx.isNullAt(0)) 0L else (mx.getLong(0) + 1) * FrontierPct / 100
  }

  /** One ingest round, pure batch-to-batch (the foreachBatch body,
    * factored for testability): returns the batch docs that survive
    * near-dup filtering against the corpus AND against earlier-id
    * batch members. `corpusBands` must carry the packed binary
    * band_key of MinHashLsh.bands; an index written with the older
    * CSV key fails instead of silently matching nothing. */
  def filterBatch(batch: DataFrame, corpusBands: DataFrame, corpusTexts: DataFrame,
                  k: Int = Config.K,
                  threshold: Double = Config.Threshold): DataFrame = {
    val nb = MinHashLsh.bands(batch, k).graftCheckpoint() // both probe joins
    verifiedDupIds(batch, nb, corpusBands, corpusTexts, k, threshold)
      .fold(batch)(dropIds(batch, _))
  }

  /** The batch doc ids that verify as near-dups — of a corpus doc or
    * of a smaller-id batch doc — given the batch's checkpointed bands
    * `nb`; None when the probe finds no candidate pair. Lazy: the
    * caller decides whether to materialize it. */
  private def verifiedDupIds(batch: DataFrame, nb: DataFrame, corpusBands: DataFrame,
                             corpusTexts: DataFrame, k: Int,
                             threshold: Double): Option[DataFrame] = {
    val cand = MinHashLsh.incrementalCandidatesOf(corpusBands, nb)
      .graftCheckpoint() // consumed for both sides' doc-id lists below
    if (cand.isEmpty) return None
    // sets ONLY for docs that appear in some candidate pair: batch
    // side from the batch, corpus side via the corpus text read. The
    // id list is materialized first, so no runtime bloom filter
    // re-scans the corpus doc_id column (see the object doc)
    val ids = cand.select(col("id_l").as("doc_id"))
      .union(cand.select(col("id_r").as("doc_id"))).distinct()
      .graftCheckpoint()
    val sets = batch.select(col("doc_id"), col("text"))
      .union(corpusTexts.select(col("doc_id"), col("text")))
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), Shingling.shingleHashSet(col("text"), k).as("hset"))
    // drop the LARGER id of each verified pair — corpus ids are
    // smaller than batch ids by construction (monotonic ingest), so
    // corpus docs always win and within-batch dups keep the min id
    Some(cand
      .join(sets.as("l"), col("id_l") === col("l.doc_id"))
      .join(sets.as("r"), col("id_r") === col("r.doc_id"))
      .filter(Shingling.jaccard(col("l.hset"), col("r.hset")) >= threshold)
      .select(col("id_r").as("doc_id")).distinct())
  }

  /** `df` without the rows whose doc_id is in the (small) `ids`. */
  private def dropIds(df: DataFrame, ids: DataFrame): DataFrame =
    df.join(broadcast(ids), Seq("doc_id"), "left_anti")

  /** The continuous loop: stream of (doc_id, text, ...) docs →
    * per-micro-batch incremental dedup against the persistent stores
    * at `corpusDir`/`indexDir`, survivors appended to both. doc_ids
    * must be monotonically increasing across batches (ingest
    * sequence numbers).
    *
    * Idempotent under foreachBatch's at-least-once replay: both
    * stores are partitioned by `ingest_batch`, each round OVERWRITES
    * only its own partition (dynamic partition overwrite), and the
    * corpus/index reads exclude the in-flight batch's partition — so
    * a crash between the two writes and the checkpoint commit
    * replays to the identical result instead of duplicating rows or
    * leaving the index out of sync with the corpus. */
  def ingestDedupStream(docs: DataFrame, corpusDir: String, indexDir: String,
                        checkpointDir: String,
                        k: Int = Config.K,
                        threshold: Double = Config.Threshold)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, corpusDir, indexDir, k, threshold)
      }
      .start()

  /** One foreachBatch round against the persistent stores — public so
    * the at-least-once REPLAY path is directly testable (call it
    * twice with the same batchId, with a partial write in between: the
    * stores must converge to the single-run state). */
  def ingestBatch(batch: DataFrame, batchId: Long,
                  corpusDir: String, indexDir: String,
                  k: Int = Config.K,
                  threshold: Double = Config.Threshold): Unit = {
    val spark = batch.sparkSession
    // exclude this batch's own partition: on first attempt it
    // doesn't exist; on replay after a partial write it must not
    // feed back into the dedup decision (a corpus copy of a batch
    // doc shares its doc_id, so the id_a =!= id_b filter would
    // hide it and the replay would diverge from the first run).
    // ONLY path-not-found reads as "no corpus yet": any other
    // analysis error (schema drift, corrupted store) must surface —
    // swallowing it would silently re-ingest everything
    def readOr(path: String, empty: => DataFrame): DataFrame =
      try spark.read.parquet(path)
        .filter(col("ingest_batch") =!= batchId)
        .drop("ingest_batch")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" => empty
      }
    val corpusTexts = readOr(corpusDir, batch.limit(0))
    val corpusBands = readOr(indexDir, MinHashLsh.bands(batch.limit(0), k))
    // the batch's bands feed the probe AND are the index rows of the
    // docs it keeps: banded once, never re-sketched for the write
    val nb = MinHashLsh.bands(batch, k).graftCheckpoint()
    val (kept, keptBands) =
      verifiedDupIds(batch, nb, corpusBands, corpusTexts, k, threshold) match {
        case None => (batch, nb)
        case Some(dups) =>
          val d = dups.graftCheckpoint() // consumed by both writes below
          (dropIds(batch, d), dropIds(nb, d))
      }
    def writePartition(df: DataFrame, dir: String): Unit =
      df.withColumn("ingest_batch", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(dir)
    writePartition(kept, corpusDir)
    writePartition(keptBands, indexDir)
  }

  /** SCHEMA EVOLUTION across landing batches — the ingest reality
    * the fixed-schema loop above sidesteps: a long-lived corpus has
    * early batches written before a later-added column existed.
    * Parquet handles this WITHOUT rewriting history: each batch's
    * files keep their own footer schema, `mergeSchema` unifies them
    * at read time, and pre-evolution rows surface the new column as
    * null. Here batch 0 lands documents before `lang` was tracked,
    * batch 1 lands with it; the merged read aggregates across both
    * eras, null-filling the old one. At 100 TB this is the only
    * viable posture — a backfill rewrite of the corpus per schema
    * change is off the table. (mergeSchema costs a footer read per
    * file at planning; production pins the merged schema in a
    * catalog — the read-time merge is the migration path.) */
  def evolvedIngestStats(spark: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val root = graft.sources.Snapshots.scratchDir("evolve", dir)
    // batch 0: landed before the pipeline tracked language
    docs.filter(col("doc_id") % 2 === 0)
      .select("doc_id", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$root/ingest_batch=0")
    // batch 1: the evolved schema
    docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "source", "n_chars", "lang")
      .write.mode("overwrite").parquet(s"$root/ingest_batch=1")
    spark.read.option("mergeSchema", "true").parquet(root)
      .groupBy(coalesce(col("lang"), lit("pre_evolution")).as("lang_merged"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }
}
