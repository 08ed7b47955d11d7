package graft.operators

import graft.Caches.CheckpointSyntax
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import graft.{Caches, Config}
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
  *   - Every band key is the band's 24-byte slice of the packed
  *     signature (4 bytes per component, see [[bands]]): one explode
  *     builds every band row and one self-join ([[bandPairs]]) joins
  *     them on (band, key). That self-join is also the bucket join of
  *     every other LSH family (SimHash blocks, embedding sign-LSH
  *     tables, MLlib bands), and [[capBuckets]] is the one bucket-size
  *     cap. similarPairs' prefilter joins on an
  *     8-byte hash of (band, key) instead ([[bucketPairs]]) and its
  *     verify drops hash collisions with an exact whole-band test on
  *     the signatures ([[sharesBand]]), so its pairs are the exact
  *     join's. Only the `lsh_bands` query renders the key as the
  *     decimal CSV ([[bandKeyCsv]]); the public `signatures` schema
  *     keeps its long columns.
  *   - Band index IS part of the bucket key (fixes SURVEY.md Q5).
  *   - Verification = exact shingle-set Jaccard between the two pair
  *     members (fixes Q1/Q9), threshold on similarity.
  *
  * Scale notes (100 TB): the signature is a narrow per-row sketch
  * (see [[signatures]]; no shuffle, no per-doc state). Skewed
  * LSH buckets (a band value shared by millions of docs) make the
  * self-join quadratic in the bucket. Only the public
  * `candidatePairs(maxBucket=...)` and the capped band index cap
  * bucket size ([[capBuckets]]), and they do so lossily (drop
  * degenerate buckets like stop-shingle clusters). similarPairs has
  * no cap, and AQE's skew-join split does not help
  * it either: a hot bucket's rows are far below the split's byte
  * trigger, and one key's pairs stay in one task. Lossless splitting
  * of hot buckets is open (ROADMAP item 3). Joins planned before
  * anything is materialized (the band self-joins, pairsSymmetric's
  * text joins) pick broadcast by the static [[corpusIsBounded]] rule;
  * similarPairs' verify joins are sized by measurement instead: the
  * survivors' sets are a checkpoint, broadcast only while their
  * stored bytes fit the session's broadcast threshold
  * (Caches.storedBytes), sort-merge above it. Nothing corpus-sized is
  * ever collected to the driver.
  */
object MinHashLsh {

  /** Corpus-payload join sides may be left to the planner's broadcast
    * choice only while the SOURCE parquet stays under the session's
    * broadcast threshold divided by this factor. Rationale (r13
    * mid-scale diagnosis + guide §3.1): the frames these joins carry
    * are corpus-DERIVED payloads — the shingle-hash sets (4-8 B per
    * input char), the exploded band frame (~10 bands x 46 B of
    * fingerprint+bucket+id per doc in similarPairs, x 264 B of packed
    * sig+key in estimatedPairs), the raw texts — whose in-memory
    * size is up to ~32-64x the compressed parquet bytes, while Catalyst's size
    * estimate descends from the parquet scan and stays under the
    * broadcast threshold long after the real relation is GBs (at 250k
    * docs the statically-planned broadcast collected GBs through one
    * driver thread while 31 executors idled). Below the cut the
    * planner's broadcast pick is provably safe (the 64 MB threshold
    * gives a 2 MiB cut; sf0.1 is 0.58 MB — broadcast measured
    * 0.3-1.8 s faster per query there); above it the side is pinned
    * sort-merge regardless of estimates. The rule governs the joins
    * planned before any payload is materialized: the band self-joins
    * of similarPairs and estimatedPairs, pairsSymmetric's text joins
    * (and EmbeddingSim's vec_id co-partitioning). similarPairs' verify
    * joins read a checkpoint whose size is MEASURED, and are sized by
    * that instead. */
  private val PayloadExpansion = 32

  /** TRUE iff `docs` reads from source files totalling at most the
    * session's broadcast threshold / [[PayloadExpansion]] — a driver
    * metadata probe (no job). Broadcast switched off (threshold <= 0)
    * bounds nothing. A non-file input (in-memory test frame, a stream)
    * can't prove a bound, so it gets the conservative answer. */
  private[graft] def corpusIsBounded(docs: DataFrame): Boolean = {
    val cut = docs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold /
      PayloadExpansion
    val files = docs.inputFiles
    cut > 0 && files.nonEmpty && {
      val conf = docs.sparkSession.sessionState.newHadoopConf()
      var total = 0L
      val it = files.iterator
      while (it.hasNext && total <= cut) {
        val p = new org.apache.hadoop.fs.Path(it.next())
        total += p.getFileSystem(conf).getFileStatus(p).getLen
      }
      total <= cut
    }
  }

  /** A corpus-payload join side under the discipline above: free for
    * the planner when the corpus is provably bounded, pinned
    * sort-merge otherwise. Plan-only — never changes results. */
  private def payloadSide(df: DataFrame, bounded: Boolean): DataFrame =
    if (bounded) df else df.hint("merge")

  /** The whole-row minhash sketch of a text column (fused native
    * expression, MinHashSketchExpression.scala). */
  private def sketchCol(text: Column, k: Int) = {
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
    org.apache.spark.sql.graft.Bridge.registerAll(docs.sparkSession)
    // SQL expressions over `docs` itself: no session temp view to
    // clobber a caller's or to race another thread's
    docs.filter("length(text) >= 1")
      .selectExpr("doc_id", s"graft_minhash_sketch(graft_shingle_hashes(text, $k)) AS sk")
      .selectExpr("doc_id" +: (0 until Config.NumHashes)
        .map(i => s"element_at(sk, ${i + 1}) AS ${Config.sigCol(i)}"): _*)
  }

  /** (doc_id, band, band_key): the LSH band rows; (band, band_key) is
    * the bucket key. `band_key` is the band's 4·r-byte slice of the
    * packed signature — 24 bytes where the decimal CSV of the same
    * components was ~65, equally injective. [[bandKeyCsv]] renders the
    * CSV for output. */
  def bands(docs: DataFrame, k: Int = Config.K): DataFrame =
    explodeBands(packedSketches(docs, k))

  /** Per-ROW band rows plus each doc's shingle-hash set
    * ([[Shingling.shingleHashSet]], sorted `array<int>`): (doc_id,
    * band, band_key, hset), projections and an explode only — no
    * aggregation, no shuffle — so Structured Streaming can band a
    * document statelessly before a single stateful operator. The set
    * is sorted once per doc here, so the streaming state's merge-walk
    * verify never sorts. */
  def rowwiseBands(docs: DataFrame, k: Int = Config.K): DataFrame =
    explodeBands(packedSketches(docs, k, Shingling.shingleHashSet(col("text"), k).as("hset")),
      carry = Seq("hset"))

  /** (doc_id, sig, extra…) for the docs with text: `sig` is the sketch
    * packed into 4-byte big-endian words (PortableHash.packInts; every
    * component is < 2^31) — 240 B per doc where the long columns are
    * 480 B. */
  private def packedSketches(docs: DataFrame, k: Int,
                             extra: Column*): DataFrame =
    docs.filter(length(col("text")) >= 1) // the extra columns need `text` in scope
      .select(col("doc_id") +: PortableHash.packInts(sketchCol(col("text"), k)).as("sig") +:
        extra: _*)

  /** The one band explode: each [[packedSketches]] row becomes `bands`
    * rows (doc_id, band, band_key, carry…). A self-join consumer that
    * needs both members' sketches in its residual or projection carries
    * them here, so it never joins back against a signature table (at
    * 100 TB a second corpus-wide shuffle): similarPairs carries the
    * 30-byte fingerprint keyed on the 8-byte bucket ([[bucketPairs]];
    * ~46 B per band row with the doc_id), estimatedPairs the 240-byte
    * signature keyed on (band, band_key) (~264 B). perfbench
    * dedup_batch seed 1 (20k docs, 4-core box): 5.0 MB into
    * similarPairs' band exchange, 17.0 MB into estimatedPairs'. */
  private def explodeBands(packed: DataFrame, carry: Seq[String] = Nil,
                           bands: Int = Config.Bands,
                           rowsPerBand: Int = Config.RowsPerBand): DataFrame = {
    require(bands * rowsPerBand <= Config.NumHashes,
      s"operating point $bands x $rowsPerBand exceeds ${Config.NumHashes} hashes")
    val w = 4 * rowsPerBand
    val bandStructs = (0 until bands).map { j =>
      struct(lit(j).as("band"), substring(col("sig"), j * w + 1, w).as("band_key"))
    }
    val kept = carry.map(col)
    packed.select(col("doc_id") +: kept :+ explode(array(bandStructs: _*)).as("bk"): _*)
      .select(Seq(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key")) ++
        kept: _*)
  }

  /** A packed `band_key` rendered as the decimal CSV of its 4-byte
    * words ("v1,v2,…,vr") — the form `lsh_bands` outputs. Built-ins
    * only: each word's hex read back in base 10. */
  def bandKeyCsv(key: Column): Column =
    concat_ws(",", (0 until Config.RowsPerBand).map(i =>
      conv(hex(substring(key, 4 * i + 1, 4)), 16, 10)): _*)

  /** The one LSH bucket self-join: pairs of `left` and `right` rows
    * (doc_id, keys…, payload…) sharing `keys` and meeting `idCond` and
    * `residual`, both over the renamed columns: doc_id → id_l/id_r,
    * payload p → p_l/p_r, right key k → k_r. Every LSH family pairs
    * its buckets here: MinHash bands on (band, band_key) or
    * [[bucketPairs]]' one bucket, MLlib MinHash bands on (band,
    * band_key) with string keys (MlMinHash.pairsBanded), SimHash
    * blocks on (blk, bval) (TextAnalysis.simHashPairs) and embedding
    * sign-LSH tables on (tbl, bucket) (DocEmbedding.dedupPairs). Each
    * caller keeps its own pair dedupe. Distinct names keep the
    * equi-keys unambiguous at construction (a same-name self-join
    * condition WARNs on every run). The residual runs inside the join,
    * so the raw pair stream never materializes; `pinMerge` pins
    * sort-merge (see [[payloadSide]]). */
  private[graft] def bandPairs(left: DataFrame, right: DataFrame, idCond: Column,
                               residual: Column = lit(true),
                               pinMerge: Boolean = false,
                               keys: Seq[String] = Seq("band", "band_key")): DataFrame = {
    def side(df: DataFrame, keySuffix: String, suffix: String): DataFrame = {
      val payload = df.columns.filterNot(keys.toSet + "doc_id")
      val s = df.select(keys.map(k => col(k).as(k + keySuffix)) ++
        (col("doc_id").as("id" + suffix) +: payload.map(p => col(p).as(p + suffix))): _*)
      if (pinMerge) s.hint("merge") else s
    }
    side(left, "", "_l").join(side(right, "_r", "_r"),
      keys.map(k => col(k) === col(k + "_r")).reduce(_ && _) && idCond && residual)
  }

  /** similarPairs' prefilter self-join: [[explodeBands]] rows re-keyed
    * on ONE 8-byte `bucket` = xxhash64(band, band_key) and joined with
    * themselves (id_l < id_r) under `residual`. Equal (band, band_key)
    * give equal buckets, so every band-sharing pair is produced; a hash
    * collision can only ADD a pair, and the verify removes those with
    * the exact [[sharesBand]] test on the signatures it holds anyway —
    * the output is the exact band join's, by construction. The 24-byte
    * key and the band number stay off the wire, and the join sorts one
    * long key (a full sort prefix) instead of (band, 24-byte binary).
    * The other band joins key on (band, band_key): the public band
    * form (bands, candidatePairs, collisionCounts, the band indexes)
    * has no signature to re-check against, and estimatedPairs would
    * pay the band test on every pair to save ~4% of its bytes. */
  private def bucketPairs(b: DataFrame, residual: Column, pinMerge: Boolean): DataFrame = {
    val keyed = b.select(col("doc_id") +: xxhash64(col("band"), col("band_key")).as("bucket") +:
      b.columns.filterNot(Set("doc_id", "band", "band_key")).map(col): _*)
    bandPairs(keyed, keyed, col("id_l") < col("id_r"), residual, pinMerge, keys = Seq("bucket"))
  }

  /** A band index written with the older CSV key would match nothing,
    * so a band frame handed in by a caller must carry the packed
    * binary band_key. */
  private def requirePackedKey(b: DataFrame): DataFrame = {
    val keyType = b.schema("band_key").dataType
    require(keyType == BinaryType,
      s"band_key must be the packed binary key of MinHashLsh.bands, got " +
        s"${keyType.simpleString}: rebuild a band index written by an older build")
    b
  }

  /** TRUE iff two packed signatures agree on at least one WHOLE band
    * at the (bands, rowsPerBand) operating point — exactly the pairs
    * the exact (band, band_key) join produces. Built-ins only: one
    * slice equality per band. */
  private[graft] def sharesBand(a: Column, b: Column, bands: Int = Config.Bands,
                                rowsPerBand: Int = Config.RowsPerBand): Column = {
    val w = 4 * rowsPerBand
    (0 until bands).map(j => substring(a, j * w + 1, w) === substring(b, j * w + 1, w))
      .reduce(_ || _)
  }

  /** The one bucket-size cap: the (doc_id, band, band_key) rows of `b`
    * whose (band, band_key) bucket holds at most `maxBucket` rows, or
    * `b` itself when no cap is set. A degenerate-bucket guard for
    * scale (a stop-shingle cluster goes quadratic in the self-join),
    * lossy by design: a dropped bucket's pairs are gone. Callers:
    * [[candidatesFromBands]] per query and the capped band index
    * (sources.BandIndex) at build time. */
  private[graft] def capBuckets(b: DataFrame, maxBucket: Option[Int]): DataFrame =
    maxBucket.fold(b) { m =>
      val sizes = b.groupBy("band", "band_key").agg(count(lit(1)).as("bucket_n"))
      b.join(sizes.filter(col("bucket_n") <= m), Seq("band", "band_key"))
        .select("doc_id", "band", "band_key")
    }

  /** Distinct candidate pairs (id_l < id_r) from the band self-join.
    * maxBucket: if set, buckets larger than this are dropped before
    * pairing ([[capBuckets]]; default off so the oracle semantics stay
    * exact). */
  def candidatePairs(docs: DataFrame, k: Int = Config.K,
                     maxBucket: Option[Int] = None): DataFrame =
    candidatesFromBands(bands(docs, k), maxBucket)

  /** [[candidatePairs]] over an already-banded frame. */
  def candidatesFromBands(b: DataFrame,
                          maxBucket: Option[Int] = None): DataFrame = {
    val capped = capBuckets(requirePackedKey(b), maxBucket)
    bandPairs(capped, capped, col("id_l") < col("id_r"))
      .select("id_l", "id_r")
      .distinct()
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
    bandPairs(b, b, col("id_l") < col("id_r"))
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
    * touching the batch (the oracle replays it that way). An index
    * whose band_key is not the packed binary key fails. */
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
    val cross = bandPairs(requirePackedKey(corpusBands).select("doc_id", "band", "band_key"), nb,
        col("id_l") =!= col("id_r"), pinMerge = mergeHint)
      .select(least(col("id_l"), col("id_r")).as("id_l"),
        greatest(col("id_l"), col("id_r")).as("id_r"))
    val within = bandPairs(nb, nb, col("id_l") < col("id_r")).select("id_l", "id_r")
    cross.union(within).distinct()
  }

  /** Candidates verified with EXACT shingle-hash-set Jaccard >=
    * threshold, after a cheap sketch pre-filter: pairs must agree on
    * >= Config.estPrefilterMinCount(threshold) of the S signature
    * components before the set-intersection runs (36 at the default
    * t=0.8). The band join checks that bound on the 30-byte
    * fingerprints (a superset: nibble agreement >= word agreement), and
    * the verify join checks it exactly on the signatures, so the pair
    * set equals the word-count prefilter's. At sf0.1 this cuts the
    * verify join from ~1M candidate pairs to a few thousand.
    * (bands, rowsPerBand) pick the LSH operating point over the same
    * S hashes — the default (10, 6) targets t=0.8; lower thresholds
    * want more, shorter bands (e.g. (30, 2) for t≈0.3-0.5) or band
    * recall collapses.
    * Output: id_l, id_r, jaccard. */
  def similarPairs(docs: DataFrame, k: Int = Config.K,
                   threshold: Double = Config.Threshold,
                   bands: Int = Config.Bands,
                   rowsPerBand: Int = Config.RowsPerBand): DataFrame = {
    val (prefiltered, sets) =
      prefilteredWithSets(docs, k, threshold, bands, rowsPerBand, corpusIsBounded(docs))
    // sized by measurement: the set frame carries ~8 bytes per input
    // CHAR (the hset array) and its plan estimate descends from the
    // compressed parquet scan — at 250k-1M docs the planner statically
    // broadcast it (GBs collected through one driver thread while 31
    // executors idled; BENCH_SCALE_r13_partial.json). The sets are a
    // checkpoint, so their stored bytes are known: within the session's
    // broadcast threshold both joins read ONE reused broadcast and the
    // pair list streams through it with no exchange; above it (or with
    // broadcast off) both are pinned sort-merge.
    val cut = docs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val side: DataFrame => DataFrame =
      if (cut > 0 && Caches.storedBytes(sets) <= cut) broadcast(_)
      else _.hint("merge")
    prefiltered
      .join(side(sets.as("l")), col("id_l") === col("l.doc_id"))
      .join(side(sets.as("r")), col("id_r") === col("r.doc_id"))
      // the exact band test (the band join matched on a bucket hash)
      // and the exact word-agreement prefilter (its fingerprint count
      // is only an upper bound of it)
      .filter(sharesBand(col("l.sig"), col("r.sig"), bands, rowsPerBand) &&
        PortableHash.agreeCount(col("l.sig"), col("r.sig")) >=
          Config.estPrefilterMinCount(threshold))
      .withColumn("jaccard", Shingling.jaccard(col("l.hset"), col("r.hset")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_l"), col("id_r"), col("jaccard"))
  }

  /** Verify-stage feed for [[similarPairs]]: the fingerprint-prefiltered
    * candidate pair list plus the packed signatures and sorted
    * shingle-hash sets of ONLY the surviving docs. (Containment
    * deliberately does NOT share these candidates — band recall is
    * Jaccard-shaped and would miss high-containment/low-Jaccard pairs;
    * see CorpusStats.containmentPairs' prefix filter.) */
  private def prefilteredWithSets(docs: DataFrame, k: Int,
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
    val base = packedSketches(docs, k).graftCheckpoint()
    // the 30-byte fingerprint (the low 4 bits of each signature word,
    // two per byte) rides the band explode so the agreement prefilter
    // is a join-residual condition — no joins against the
    // multi-million-pair stream at all, and no DISTINCT until the
    // prefiltered survivors. Nibble agreement is never below word
    // agreement, so this keeps every pair the word count would; verify
    // re-checks the words exactly. The 240-byte sig is read to cut the
    // band keys but does not ride.
    val bandsWithFp = explodeBands(
      base.withColumn("fp", PortableHash.lowNibbles(col("sig"))), Seq("fp"), bands, rowsPerBand)
    // materialized: consumed twice below (survivor ids + verify join)
    // — without this the band self-join would execute per consumer.
    // scale-adaptive (r14): both sides carry the fingerprint, so
    // the exploded frame is GBs at mid-scale while its estimate (from
    // the compressed parquet scan under the checkpoint) stays under
    // the broadcast threshold — a statically-planned broadcast here
    // collects the whole banded corpus through one driver thread.
    // Pinned sort-merge unless the corpus is provably bounded
    // (corpusIsBounded), where the planner's broadcast is safe+faster.
    // Keyed on the 8-byte bucket hash (see bucketPairs): a collision
    // survivor is dropped by the verify's exact band test.
    val prefiltered = bucketPairs(bandsWithFp,
        PortableHash.agreeNibbles(col("fp_l"), col("fp_r")) >=
          Config.estPrefilterMinCount(threshold),
        pinMerge = !bounded)
      .select("id_l", "id_r")
      .distinct()
      .graftCheckpoint()
    // hash sets and signatures ONLY for surviving docs:
    // broadcast-semi-join the tiny survivor id list against the corpus,
    // then the narrow per-row projection runs on that sliver. Only the
    // projection is limited to survivors: the semi-join still scans
    // the whole text column, so with the sketch's read every call
    // scans the corpus text twice (dedup_batch, 20k docs: 6.41 MB of
    // scan input for a 4.03 MiB corpus file). Checkpointed once, in the
    // widened partitions: O(survivors) state, and its stored bytes are
    // what similarPairs sizes the verify joins by (Caches.storedBytes).
    val ids = prefiltered.select(col("id_l").as("doc_id"))
      .union(prefiltered.select(col("id_r").as("doc_id"))).distinct()
    val sets = docs.join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), Shingling.shingleHashSet(col("text"), k).as("hset"),
        PortableHash.packInts(sketchCol(col("text"), k)).as("sig"))
      .graftCheckpoint()
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
      bands = bands, rowsPerBand = rowsPerBand).graftCheckpoint()
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
    val b = explodeBands(packedSketches(docs, k), Seq("sig"))
    val eq = PortableHash.agreeCount(col("sig_l"), col("sig_r"))
    // scale-adaptive: same corpus-payload self-join shape as
    // prefilteredWithSets (here the packed sigs ride on both sides)
    bandPairs(b, b, col("id_l") < col("id_r"), pinMerge = !corpusIsBounded(docs))
      .select(col("id_l"), col("id_r"),
        (eq.cast("double") / lit(Config.NumHashes)).as("est_jaccard"))
      .distinct()
  }
}
