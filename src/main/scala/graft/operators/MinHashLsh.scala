package graft.operators

import graft.Caches.CheckpointSyntax
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Config
import graft.functions.PortableHash

/** MinHash signatures + LSH banding + candidate generation + exact
  * verification — the intended computation of reference Jobs 2+3
  * (MinHashLSH.java:87-143,168-218; CollectCandidates.java:17-51),
  * redesigned Spark-first:
  *
  *   - No vocabulary / one-hot / permutations (reference O8/O9 with a
  *     driver-side data read, MinHashLSH.java:251): the standard
  *     universal-hash construction sig_i = min((a_i*h(s)+b_i) mod p)
  *     needs O(S) state per doc and no global dict. At 100 TB this
  *     removes a broadcast of an unbounded vocabulary AND the driver
  *     bottleneck by construction.
  *   - Whole pipeline is one DataFrame lineage: per-row sketch
  *     (narrow, no shuffle) → explode bands (narrow) → ONE shuffle
  *     for the band self-join → distinct. Compare: the reference
  *     materializes 3 CSV file pipes between jobs.
  *   - Inside the self-join the signature and band key travel packed
  *     (4 bytes per component, see bandsCarryingSig); the public
  *     `signatures`/`bands` schemas keep their long/CSV forms.
  *   - Band index IS part of the bucket key (fixes SURVEY.md Q5).
  *   - Verification = exact shingle-set Jaccard between the two pair
  *     members (fixes Q1/Q9), threshold on similarity.
  *
  * Scale notes (100 TB): the signature agg is a standard partial/final
  * hash aggregate on doc_id (combiner-style map-side mins). Skewed
  * LSH buckets (a band value shared by millions of docs) would make
  * the self-join quadratic — `candidatePairs(maxBucket=...)` caps
  * bucket size (drops degenerate buckets like stop-shingle clusters,
  * standard practice), and AQE skew-join splitting handles residual
  * skew. Nothing is ever collected to the driver.
  */
object MinHashLsh {

  /** Corpus-payload join sides may be left to the planner's broadcast
    * choice only while the SOURCE parquet stays under this many bytes
    * (default 2 MB). Rationale (r13 mid-scale diagnosis + guide §3.1):
    * the frames these joins carry are corpus-DERIVED payloads — the
    * shingle-hash sets (~8 B per input char), the exploded band+sig
    * frame (~10 bands x 264 B of packed sig+key per doc), the raw
    * texts — whose in-memory size is up to ~32-64x the compressed
    * parquet bytes, while Catalyst's size estimate descends from the
    * parquet scan and stays under the broadcast threshold long after
    * the real relation is GBs (at 250k docs the statically-planned
    * broadcast collected GBs through one driver thread while 31
    * executors idled). 2 MB
    * source x 32x expansion ≈ the session's 64 MB broadcast threshold:
    * below it the planner's broadcast pick is provably safe (sf0.1 is
    * 0.58 MB — broadcast measured 0.3-1.8 s faster per query there);
    * above it the side is pinned sort-merge regardless of estimates.
    * Deployment knob: GRAFT_BCAST_CORPUS_MAX_KB. */
  private val BoundedCorpusSourceBytes: Long =
    Config.envBytes("GRAFT_BCAST_CORPUS_MAX_KB", 1024L, "KB", 2L * 1024 * 1024)

  /** TRUE iff `docs` reads from source files totalling at most
    * [[BoundedCorpusSourceBytes]] — a driver metadata probe (no job).
    * A non-file input (in-memory test frame, a stream) can't prove a
    * bound, so it gets the conservative answer. */
  private[operators] def corpusIsBounded(docs: DataFrame): Boolean = {
    val files = docs.inputFiles
    files.nonEmpty && {
      val conf = docs.sparkSession.sessionState.newHadoopConf()
      var total = 0L
      val it = files.iterator
      while (it.hasNext && total <= BoundedCorpusSourceBytes) {
        val p = new org.apache.hadoop.fs.Path(it.next())
        total += p.getFileSystem(conf).getFileStatus(p).getLen
      }
      total <= BoundedCorpusSourceBytes
    }
  }

  /** A corpus-payload join side under the discipline above: free for
    * the planner when the corpus is provably bounded, pinned
    * sort-merge otherwise. Plan-only — never changes results. */
  private def payloadSide(df: DataFrame, bounded: Boolean): DataFrame =
    if (bounded) df else df.hint("merge")

  /** The whole-row minhash sketch of a text column (fused native
    * expression, MinHashSketchExpression.scala). */
  private def sketchCol(text: org.apache.spark.sql.Column, k: Int) = {
    import org.apache.spark.sql.graft.{Bridge, MinHashSketch}
    Bridge.column(MinHashSketch(
      Bridge.expression(Shingling.shingleHashArray(text, k))))
  }

  /** doc_id + S min-hash columns sig_00..sig_NN.
    *
    * NARROW: a document is one row, so the sketch is a per-row
    * projection (ShingleHashes → MinHashSketch, both fused native
    * expressions) — no explode, no shuffle. The LSH chain's only
    * shuffle is then the band self-join. Empty docs are dropped,
    * matching the aggregated form (no shingle rows → no group);
    * equivalence with [[signaturesAgg]] is spec-checked. */
  def signatures(docs: DataFrame, k: Int = Config.K): DataFrame = {
    val sketch = sketchCol(col("text"), k)
    docs.filter(length(col("text")) >= 1)
      .select(col("doc_id") +: (0 until Config.NumHashes).map(i =>
        element_at(sketch, i + 1).as(Config.sigCol(i))): _*)
  }

  /** The aggregated (explode → 60-way min hash-agg) formulation —
    * the semantic reference the narrow form is tested against, and
    * the shape to fall back to if a single pathological document
    * ever made per-row sketching too wide (not the case here: the
    * sketch is O(text length) work per row). */
  def signaturesAgg(docs: DataFrame, k: Int = Config.K): DataFrame = {
    val sh = Shingling.shingleHashed(docs, k)
    val mins = (0 until Config.NumHashes).map { i =>
      min(PortableHash.affine(i, col("h"))).as(Config.sigCol(i))
    }
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Signatures AND the sorted distinct shingle-hash set — both
    * narrow per-row projections (no shuffle at all; the sort enables
    * the merge-scan intersection in verify). */
  def signaturesWithSets(docs: DataFrame, k: Int = Config.K): DataFrame = {
    val sketch = sketchCol(col("text"), k)
    val hset = array_sort(array_distinct(Shingling.shingleHashArray(col("text"), k)))
    docs.filter(length(col("text")) >= 1)
      .select(col("doc_id") +:
        (0 until Config.NumHashes).map(i =>
          element_at(sketch, i + 1).as(Config.sigCol(i))) :+
        hset.as("hset"): _*)
  }

  /** Per-GROUP minhash sketch via the MinHashMerge typed Aggregator
    * (UDAF tier): each doc's narrow per-row sketch is merged
    * elementwise-min within its group — the minhash of the group's
    * UNION shingle set, usable for group-vs-group similarity without
    * revisiting members. One hash-agg shuffle with map-side partial
    * merge; output exploded to sig_NN columns for the oracle (which
    * replays it as per-column MIN over per-doc signatures). */
  def groupSketch(docs: DataFrame, k: Int = Config.K, groups: Int = 50): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val merge = udaf(graft.functions.MinHashMerge, ExpressionEncoder[Array[Long]]())
    docs.filter(length(col("text")) >= 1)
      .select((col("doc_id") % groups).as("g"), sketchCol(col("text"), k).as("sketch"))
      .groupBy("g")
      .agg(merge(col("sketch")).as("sketch"))
      .select(col("g") +: (0 until Config.NumHashes).map(i =>
        element_at(col("sketch"), i + 1).as(Config.sigCol(i))): _*)
  }

  /** The signature computation expressed in PURE SQL through the
    * registered function tier (graft_shingle_hashes →
    * graft_minhash_sketch) — the reference has no query language at
    * all (SURVEY §2.2); here the whole native-expression pipeline is
    * SQL-addressable and this query is oracle-checked to be
    * indistinguishable from the DataFrame form. */
  def signaturesSql(docs: DataFrame, k: Int = Config.K): DataFrame = {
    val spark = docs.sparkSession
    org.apache.spark.sql.graft.Bridge.registerAll(spark)
    docs.createOrReplaceTempView("graft_documents_v")
    val sigSelects = (0 until Config.NumHashes)
      .map(i => s"element_at(sk, ${i + 1}) AS ${Config.sigCol(i)}").mkString(", ")
    spark.sql(
      s"""SELECT doc_id, $sigSelects FROM (
            SELECT doc_id, graft_minhash_sketch(graft_shingle_hashes(text, $k)) AS sk
            FROM graft_documents_v WHERE length(text) >= 1)""")
  }

  /** (doc_id, band, band_key) — band_key is the CSV of the band's r
    * signature values; (band, band_key) is the LSH bucket key. */
  def bands(docs: DataFrame, k: Int = Config.K): DataFrame =
    bandsFromSignatures(signatures(docs, k))

  /** Per-ROW signature + hash set + band keys, via array expressions
    * only — no aggregation, no shuffle. Semantically identical to
    * the groupBy formulation (min over the same affine hashes) but
    * streaming-compatible: a document is one row, so Structured
    * Streaming can band it statelessly before a single stateful
    * operator. Batch callers prefer [[signatures]] (codegen'd hash
    * agg); this trades that for zero stateful ops. */
  def rowwiseBands(docs: DataFrame, k: Int = Config.K): DataFrame = {
    // SORTED set: the streaming consumer stores hset in per-bucket
    // state and verifies arrivals with a primitive merge-walk
    // intersect — sorting once here (per doc) beats sorting per
    // (doc, band) member downstream. Set semantics are unchanged.
    val harr = array_sort(array_distinct(Shingling.shingleHashArray(col("text"), k)))
    val sigArr = sketchCol(col("text"), k)
    val r = Config.RowsPerBand
    val bandStructs = (0 until Config.Bands).map { j =>
      struct(lit(j).as("band"),
        array_join(transform(slice(col("sig"), j * r + 1, r), x => x.cast("string")), ",")
          .as("band_key"))
    }
    docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), harr.as("hset"), sigArr.as("sig")) // both need `text` in scope
      .select(col("doc_id"), col("hset"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.band_key").as("band_key"),
        col("doc_id"), col("hset"))
  }

  /** Banding from a precomputed signature frame (lets one query
    * materialize signatures once and derive everything from it). */
  def bandsFromSignatures(sigs: DataFrame): DataFrame = {
    val r = Config.RowsPerBand
    val bandStructs = (0 until Config.Bands).map { j =>
      val cols = (j * r until (j + 1) * r).map(i => col(Config.sigCol(i)).cast("string"))
      struct(lit(j).as("band"), concat_ws(",", cols: _*).as("band_key"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Distinct candidate pairs (id_l < id_r) from the band self-join.
    * maxBucket: if set, buckets larger than this are dropped before
    * pairing (degenerate-bucket guard for scale; default off so the
    * oracle semantics stay exact). */
  def candidatePairs(docs: DataFrame, k: Int = Config.K,
                     maxBucket: Option[Int] = None): DataFrame =
    candidatesFromBands(bands(docs, k), maxBucket)

  /** dedupe=false skips the DISTINCT shuffle over the raw pair
    * stream (a pair appears once per colliding band, ≤ Bands times)
    * — callers that filter the stream down to a tiny verified set
    * dedup AFTER the filter instead. */
  def candidatesFromBands(b: DataFrame,
                          maxBucket: Option[Int] = None,
                          dedupe: Boolean = true): DataFrame = {
    val bounded = maxBucket match {
      case Some(m) =>
        val sizes = b.groupBy("band", "band_key").agg(count(lit(1)).as("bucket_n"))
        b.join(sizes.filter(col("bucket_n") <= m), Seq("band", "band_key"))
          .select("doc_id", "band", "band_key")
      case None => b
    }
    val l = bounded.select(col("band"), col("band_key"), col("doc_id").as("id_l"))
    val r = bounded.select(col("band"), col("band_key"), col("doc_id").as("id_r"))
    val raw = l.join(r, Seq("band", "band_key"))
      .filter(col("id_l") < col("id_r"))
      .select("id_l", "id_r")
    if (dedupe) raw.distinct() else raw
  }

  /** Collision-COUNTING candidates (cf. C2Net, ICDE 2019 — counting
    * collisions instead of boolean collision): each candidate pair
    * with the number of bands it collides in, a confidence signal
    * the plain DISTINCT candidate set throws away (a 10-band
    * collision is near-certainly a dup; a 1-band collision at
    * b=10/r=6 is often noise). Same single shuffle as
    * candidatePairs — the DISTINCT just becomes a count aggregate. */
  def collisionCounts(docs: DataFrame, k: Int = Config.K): DataFrame = {
    val b = bands(docs, k)
    val l = b.select(col("band"), col("band_key"), col("doc_id").as("id_l"))
    val r = b.select(col("band"), col("band_key"), col("doc_id").as("id_r"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("id_l") < col("id_r"))
      .groupBy("id_l", "id_r")
      .agg(count(lit(1)).as("n_collisions"))
  }

  /** Incremental candidate generation — the daily-ingest workflow:
    * find near-dup candidates of a NEW batch against an EXISTING
    * corpus band index plus within the batch itself, WITHOUT
    * re-banding the corpus. `corpusBands` is the materialized
    * (doc_id, band, band_key) index (the `bands` output, e.g. a
    * partitioned parquet keyed by (band, band_key)); at 100 TB the
    * corpus is touched only through this slim index and the join is
    * batch-sized, not corpus-sized. Output: canonical distinct
    * (id_l < id_r) pairs with at least one batch member. Semantics
    * equal filtering the full-corpus candidatePairs to pairs
    * touching the batch (the oracle replays it that way). */
  def incrementalCandidates(corpusBands: DataFrame, newDocs: DataFrame,
                            k: Int = Config.K,
                            mergeHint: Boolean = false): DataFrame =
    incrementalCandidatesOf(corpusBands,
      bands(newDocs, k).graftCheckpoint(), mergeHint) // consumed by both joins

  /** [[incrementalCandidates]] over the batch's already-banded,
    * checkpointed `bands` frame `nb` — lets IncrementalIngest band a
    * batch once and reuse those rows for its index write. */
  private[operators] def incrementalCandidatesOf(corpusBands: DataFrame, nb: DataFrame,
                                                 mergeHint: Boolean = false): DataFrame = {
    // mergeHint pins sort-merge for a BUCKETED corpusBands (sources
    // .BandIndex): without it Catalyst broadcasts the small side at
    // test scale and the layout's zero-exchange property is invisible
    val corpusSide = {
      val c = corpusBands.select(col("band"), col("band_key"), col("doc_id").as("id_a"))
      if (mergeHint) c.hint("merge") else c
    }
    val cross = corpusSide
      .join(nb.select(col("band"), col("band_key"), col("doc_id").as("id_b")),
        Seq("band", "band_key"))
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_l"),
        greatest(col("id_a"), col("id_b")).as("id_r"))
    val within = nb.select(col("band"), col("band_key"), col("doc_id").as("id_l"))
      .join(nb.select(col("band"), col("band_key"), col("doc_id").as("id_r")),
        Seq("band", "band_key"))
      .filter(col("id_l") < col("id_r"))
      .select("id_l", "id_r")
    cross.union(within).distinct()
  }

  /** (doc_id, sig): the LSH chain's internal signature form — the S
    * components packed losslessly into one binary of 4-byte words
    * (PortableHash.packInts; every component is < 2^31, and packing
    * throws rather than narrow anything else). 240 B per doc where
    * the long columns are 480 B. */
  private def packedSignatures(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), PortableHash.packInts(
      array((0 until Config.NumHashes).map(i => col(Config.sigCol(i))): _*)).as("sig"))

  /** (doc_id, sig, band, band_key): the band explode of a
    * [[packedSignatures]] frame with the whole packed signature
    * carried through, so self-join consumers get both members'
    * signatures directly from the join output and never join back
    * against a signature table (which at 100 TB would be a second
    * corpus-wide shuffle). `band_key` is the band's 24-byte slice of
    * `sig`: ~264 B of payload per band row, where the 60-long array
    * plus the decimal CSV key was ~560 B. Measured on perfbench
    * dedup_batch (20k docs, 200k band rows, 4-core box): the stage
    * feeding the band exchange writes 22.2 MB instead of 36.2 MB, and
    * a whole similarPairs op 25.6 MB instead of 39.6 MB. Bucket
    * equality is unchanged — both key forms are injective in the
    * band's components. maxBucket optionally drops degenerate
    * buckets. */
  private def bandsCarryingSig(packed: DataFrame, maxBucket: Option[Int],
                               bands: Int = Config.Bands,
                               rowsPerBand: Int = Config.RowsPerBand): DataFrame = {
    require(bands * rowsPerBand <= Config.NumHashes,
      s"operating point $bands x $rowsPerBand exceeds ${Config.NumHashes} hashes")
    val w = 4 * rowsPerBand
    val bandStructs = (0 until bands).map { j =>
      struct(lit(j).as("band"), substring(col("sig"), j * w + 1, w).as("band_key"))
    }
    val b0 = packed.select(col("doc_id"), col("sig"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
    maxBucket match {
      case Some(m) =>
        val sizes = b0.groupBy("band", "band_key").agg(count(lit(1)).as("bucket_n"))
        b0.join(sizes.filter(col("bucket_n") <= m), Seq("band", "band_key"))
          .select("doc_id", "sig", "band", "band_key")
      case None => b0
    }
  }

  /** Candidates verified with EXACT shingle-hash-set Jaccard >=
    * threshold, after a cheap sketch pre-filter: pairs must agree on
    * >= Config.estPrefilterMinCount(threshold) of the S signature
    * components before the set-intersection join runs (36 at the
    * default t=0.8). At sf0.1 this cuts the verify join from ~1M
    * candidate pairs to a few thousand. (bands, rowsPerBand) pick the
    * LSH operating point over the same S hashes — the default
    * (10, 6) targets t=0.8; lower thresholds want more, shorter
    * bands (e.g. (30, 2) for t≈0.3-0.5) or band recall collapses.
    * Output: id_l, id_r, jaccard. */
  def similarPairs(docs: DataFrame, k: Int = Config.K,
                   threshold: Double = Config.Threshold,
                   maxBucket: Option[Int] = None,
                   bands: Int = Config.Bands,
                   rowsPerBand: Int = Config.RowsPerBand): DataFrame = {
    val bounded = corpusIsBounded(docs)
    val (prefiltered, sets) =
      prefilteredWithSets(docs, k, maxBucket, threshold, bands, rowsPerBand,
        bounded)
    // |A∩B| by merge scan over the sorted sets; |A∪B| = |A|+|B|-|A∩B|
    // — same integers as array_intersect/array_union, no hash sets or
    // output arrays built per pair
    val inter = PortableHash.sortedIntersectCount(col("l.hset"), col("r.hset"))
    val jac = inter.cast("double") /
      (size(col("l.hset")) + size(col("r.hset")) - inter)
    // scale-adaptive (r14, was blanket-merge-hinted in r13): the set
    // frame carries ~8 bytes per input CHAR (the hset array), but its
    // size estimate descends from the compressed parquet scan — at
    // 250k-1M docs the planner statically broadcast it (GBs collected
    // through one driver thread while 31 executors idled;
    // BENCH_SCALE_r13_partial.json). Broadcast is for provably-BOUNDED
    // sides only (see corpusIsBounded); otherwise sort-merge.
    prefiltered
      .join(payloadSide(sets.as("l"), bounded), col("id_l") === col("l.doc_id"))
      .join(payloadSide(sets.as("r"), bounded), col("id_r") === col("r.doc_id"))
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= threshold)
      .select(col("id_l"), col("id_r"), col("jaccard"))
  }

  /** Verify-stage feed for [[similarPairs]]: the sketch-prefiltered
    * candidate pair list plus the sorted shingle-hash sets of ONLY
    * the surviving docs. (Containment deliberately does NOT share
    * these candidates — band recall is Jaccard-shaped and would miss
    * high-containment/low-Jaccard pairs; see
    * CorpusStats.containmentPairs' prefix filter.) */
  private def prefilteredWithSets(docs: DataFrame, k: Int,
                                  maxBucket: Option[Int],
                                  threshold: Double = Config.Threshold,
                                  bands: Int = Config.Bands,
                                  rowsPerBand: Int = Config.RowsPerBand,
                                  bounded: Boolean = false)
      : (DataFrame, DataFrame) = {
    // Signatures only (one 240-byte packed binary per doc) are
    // materialized for the whole corpus — the band explode and the
    // prefilter read this slim frame. The O(text)-sized shingle-hash
    // SETS are NOT: they are recomputed later only for docs that
    // survive the prefilter
    // (checkpointing sets for every doc measured ~1s of the chain at
    // sf0.1 and would be O(corpus) state at 100 TB).
    // Checkpointed deliberately: ReuseExchange does cover the bare
    // self-join (candidatePairs runs checkpoint-free), but in the
    // COMPOSITE consumers (dedup keep/groups, pipeline_kept) the
    // extra plan context around the chain defeats exchange reuse and
    // the sketch ran twice — measured +0.8 s per composite query
    // without this checkpoint.
    val base = packedSignatures(signatures(docs, k)).graftCheckpoint()
    // the packed sig rides the band explode (bandsCarryingSig) so the
    // agreement prefilter is a join-residual condition — no joins
    // against the multi-million-pair stream at all, and no DISTINCT
    // until the prefiltered survivors
    val bandsWithSig = bandsCarryingSig(base, maxBucket, bands, rowsPerBand)
    // right side's key columns RENAMED (not disambiguated-by-dataset):
    // same-name same-exprId keys in a self-join condition construct a
    // trivially-true predicate first and rely on the analyzer's
    // self-join disambiguation to re-point it — correct, but it WARNs
    // on every run; distinct names make the equi-keys unambiguous at
    // construction (identical physical plan)
    val bl = bandsWithSig.select(col("band"), col("band_key"),
      col("doc_id").as("id_l"), col("sig").as("sig_l"))
    val br = bandsWithSig.select(col("band").as("band_r"),
      col("band_key").as("band_key_r"),
      col("doc_id").as("id_r"), col("sig").as("sig_r"))
    // materialized: consumed twice below (survivor ids + verify join)
    // — without this the band self-join would execute per consumer.
    // scale-adaptive (r14): both sides carry the packed sig, so
    // the exploded frame is GBs at mid-scale while its estimate (from
    // the compressed parquet scan under the checkpoint) stays under
    // the broadcast threshold — a statically-planned broadcast here
    // collects the whole banded corpus through one driver thread.
    // Pinned sort-merge unless the corpus is provably bounded
    // (corpusIsBounded), where the planner's broadcast is safe+faster.
    val prefiltered = payloadSide(bl, bounded).join(payloadSide(br, bounded),
        col("band") === col("band_r") && col("band_key") === col("band_key_r") &&
          col("id_l") < col("id_r") &&
          PortableHash.agreeCount(col("sig_l"), col("sig_r")) >=
            Config.estPrefilterMinCount(threshold))
      .select("id_l", "id_r")
      .distinct()
      .graftCheckpoint()
    // hash sets ONLY for surviving docs: broadcast-semi-join the tiny
    // survivor id list against the corpus, then the narrow per-row
    // set projection runs on that sliver
    val ids = prefiltered.select(col("id_l").as("doc_id"))
      .union(prefiltered.select(col("id_r").as("doc_id"))).distinct()
    val hset = array_sort(array_distinct(Shingling.shingleHashArray(col("text"), k)))
    val sets = docs.join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), hset.as("hset"))
    (prefiltered, sets)
  }


  /** Both-directions pair listing joined back to the texts — the
    * shape of the reference's final output (CollectCandidates.java:
    * 48,57-59 emits (Text1,Text2) in both directions). */
  def pairsSymmetric(docs: DataFrame, k: Int = Config.K,
                     threshold: Double = Config.Threshold,
                     bands: Int = Config.Bands,
                     rowsPerBand: Int = Config.RowsPerBand): DataFrame = {
    // the union below reads p twice — materialize the (tiny) verified
    // pair list or the whole LSH chain executes once per branch
    val p = similarPairs(docs, k, threshold,
      maxBucket = None, bands = bands, rowsPerBand = rowsPerBand).graftCheckpoint()
    val both = p.select(col("id_l").as("id_a"), col("id_r").as("id_b"))
      .union(p.select(col("id_r").as("id_a"), col("id_l").as("id_b")))
    val texts = docs.select(col("doc_id"), col("text"))
    val bounded = corpusIsBounded(docs)
    both
      // scale-adaptive: the text side is the raw corpus — broadcast is
      // for provably-bounded sides only (see corpusIsBounded)
      .join(payloadSide(texts.as("ta"), bounded), col("id_a") === col("ta.doc_id"))
      .join(payloadSide(texts.as("tb"), bounded), col("id_b") === col("tb.doc_id"))
      .select(col("id_a"), col("id_b"),
        col("ta.text").as("text_a"), col("tb.text").as("text_b"))
  }

  /** Positional minhash Jaccard ESTIMATE for candidate pairs (the
    * textbook estimator the reference intended — fraction of equal
    * signature components; SURVEY.md Q9). Output alongside the exact
    * value for comparison. */
  def estimatedPairs(docs: DataFrame, k: Int = Config.K): DataFrame = {
    // signatures ride the band explode: the estimate is computed in
    // the self-join's projection, so the only shuffles are the band
    // join and the final pair DISTINCT — the two signature-lookup
    // joins of the naive plan (corpus-wide shuffles at 100 TB) are
    // gone. The estimate is deterministic per pair, so DISTINCT over
    // (id_l, id_r, est) equals dedup-then-estimate.
    val b = bandsCarryingSig(packedSignatures(signatures(docs, k)), maxBucket = None)
    val bl = b.select(col("band"), col("band_key"),
      col("doc_id").as("id_l"), col("sig").as("sig_l"))
    // renamed right-side keys: see prefilteredWithSets — avoids the
    // trivially-true-predicate WARN of a same-name self-join condition
    val br = b.select(col("band").as("band_r"),
      col("band_key").as("band_key_r"),
      col("doc_id").as("id_r"), col("sig").as("sig_r"))
    val eq = PortableHash.agreeCount(col("sig_l"), col("sig_r"))
    // scale-adaptive: same corpus-payload self-join shape as
    // prefilteredWithSets (packed sigs on both sides)
    val bounded = corpusIsBounded(docs)
    payloadSide(bl, bounded).join(payloadSide(br, bounded),
        col("band") === col("band_r") &&
        col("band_key") === col("band_key_r") &&
        col("id_l") < col("id_r"))
      .select(col("id_l"), col("id_r"),
        (eq.cast("double") / lit(Config.NumHashes)).as("est_jaccard"))
      .distinct()
  }
}
