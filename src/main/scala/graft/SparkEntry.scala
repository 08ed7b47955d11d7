package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._
import graft.oracle.Sql
import graft.sources.Snapshots.scratchDir

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder
  * prompt. Every operator from SURVEY.md §2 (and the north-star
  * extensions) is registered here; each entry with a DuckDB-oracle
  * twin in [[oracleSql]] is hash-checked by the driver at sf0.01.
  */
object SparkEntry {

  // Par.widen: a small parquet table is one scan split — without a
  // parallelism floor the narrow per-row chains run single-threaded
  // (no-op at scale where the scan yields many splits)
  private def docs(s: SparkSession, dir: String): DataFrame =
    Par.widen(s.read.parquet(s"$dir/documents.parquet"))
  private def emb(s: SparkSession, dir: String): DataFrame =
    Par.widen(s.read.parquet(s"$dir/embeddings.parquet"))
  private def events(s: SparkSession, dir: String): DataFrame =
    Par.widen(s.read.parquet(s"$dir/events.parquet"))

  /** Flagship: verified near-duplicate sentence pairs (both
    * directions, with texts) on sf0.001 — the reference pipeline's
    * final answer shape (CollectCandidates.java:48). */
  def entry(spark: SparkSession): DataFrame =
    MinHashLsh.pairsSymmetric(docs(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- reference-parity minhash/LSH pipeline (O1-O20) ---
    "shingles" -> ((s, d) => Shingling.shingles(docs(s, d))),
    "shingle_dict" -> ((s, d) => Shingling.shingleDict(docs(s, d))),
    "minhash_signatures" -> ((s, d) => MinHashLsh.signatures(docs(s, d))),
    "group_sketch" -> ((s, d) => MinHashLsh.groupSketch(docs(s, d))),
    "sql_signatures" -> ((s, d) => MinHashLsh.signaturesSql(docs(s, d))),
    // the packed band key rendered as its decimal CSV at this one edge
    "lsh_bands" -> ((s, d) => MinHashLsh.bands(docs(s, d)).withColumn("band_key",
      MinHashLsh.bandKeyCsv(org.apache.spark.sql.functions.col("band_key")))),
    "candidate_pairs" -> ((s, d) => MinHashLsh.candidatePairs(docs(s, d))),
    // scale posture: the degenerate-bucket guard ON (cap chosen so it
    // genuinely drops buckets at sf0.01 — max bucket there is 58)
    "candidate_pairs_capped" -> ((s, d) =>
      MinHashLsh.candidatePairs(docs(s, d), maxBucket = Some(20))),
    "collision_counts" -> ((s, d) => MinHashLsh.collisionCounts(docs(s, d))),
    "ingest_filter" -> ((s, d) => {
      val c = org.apache.spark.sql.functions.col("doc_id")
      val all = docs(s, d)
      val f = IncrementalIngest.frontierId(all)
      IncrementalIngest.filterBatch(all.filter(c >= f),
        MinHashLsh.bands(all.filter(c < f)), all.filter(c < f))
    }),
    // landing batches from two schema eras read as ONE table via
    // mergeSchema (pre-evolution rows null-fill the added column)
    "ingest_evolve" -> ((s, d) => IncrementalIngest.evolvedIngestStats(s, d)),
    "incremental_pairs" -> ((s, d) => {
      val c = org.apache.spark.sql.functions.col("doc_id")
      val all = docs(s, d)
      val f = IncrementalIngest.frontierId(all)
      MinHashLsh.incrementalCandidates(
        MinHashLsh.bands(all.filter(c < f)), all.filter(c >= f))
    }),
    // the same probe off a PERSISTED index bucketed on the band key:
    // only the arriving batch shuffles; the corpus index is never
    // exchanged again after its one write (same oracle as the flat
    // twin — layout never changes the candidates)
    "incremental_pairs_bucketed" -> ((s, d) =>
      graft.sources.BandIndex.incrementalPairsBucketed(s, d)),
    // stop-band removal at INDEX BUILD: degenerate buckets never
    // enter the persisted index, the adversarial-corpus guard for
    // the bucketed probe (flat path applies the cap per query)
    "incremental_capped" -> ((s, d) =>
      graft.sources.BandIndex.incrementalPairsCapped(s, d)),
    // the index MAINTAINED from a merge table's change feed (r10):
    // built on a deliberately-divergent base, repaired purely by
    // applyChangeFeed over the chain's CDF span (inserts, latest-wins
    // update collapse, deletes), probed with the arriving batch —
    // must be indistinguishable from the from-scratch incremental
    // probe, so it shares incremental_pairs' oracle verbatim
    "maintained_band_probe" -> ((s, d) =>
      graft.sources.BandIndex.maintainedProbePairs(s, d)),
    "similar_pairs" -> ((s, d) => MinHashLsh.similarPairs(docs(s, d))),
    "pairs_symmetric" -> ((s, d) => MinHashLsh.pairsSymmetric(docs(s, d))),
    "minhash_estimate" -> ((s, d) => MinHashLsh.estimatedPairs(docs(s, d))),
    // --- dedup ---
    "dedup_exact" -> ((s, d) => Dedup.exactGroups(docs(s, d))),
    "dedup_normalized" -> ((s, d) => Dedup.normalizedGroups(docs(s, d))),
    "dedup_near_keep" -> ((s, d) => Dedup.nearDupKeep(docs(s, d))),
    "dedup_keep_best" -> ((s, d) => Dedup.nearDupKeepBest(docs(s, d))),
    "near_dup_groups" -> ((s, d) => Dedup.nearDupGroups(s, docs(s, d))),
    "embed_dedup_pairs" -> ((s, d) => DocEmbedding.dedupPairs(docs(s, d))),
    "embed_dedup_keep" -> ((s, d) => DocEmbedding.dedupKeep(docs(s, d))),
    // pillar-B cross-check, UNCAPPED: AND-OR banding over MLlib's own
    // hash family (compound band keys, pillar A's S-curve) replaces
    // the OR-only approxSimilarityJoin whose ~95% background admit
    // rate forced the old 500-doc input cap
    "ml_minhash_pairs" -> ((s, d) => graft.ml.MlMinHash.pairsBanded(docs(s, d))),
    // rows-only: per-query bucket probe (approxNearestNeighbors) on
    // the same bounded subset as the pairs cross-check
    "ml_ann_topk" -> ((s, d) =>
      graft.ml.MlMinHash.annTopK(docs(s, d).filter(org.apache.spark.sql.functions.col("doc_id") < 500))),
    "simhash" -> ((s, d) => TextAnalysis.simHash(docs(s, d))),
    "simhash_dedup_pairs" -> ((s, d) => TextAnalysis.simHashPairs(docs(s, d))),
    "simhash_dedup_keep" -> ((s, d) => TextAnalysis.simHashKeep(docs(s, d))),
    // --- text analysis ---
    "token_stats" -> ((s, d) => TextAnalysis.tokenStats(docs(s, d))),
    "text_quality" -> ((s, d) => TextAnalysis.quality(docs(s, d))),
    "lang_id" -> ((s, d) => TextAnalysis.langId(docs(s, d))),
    "doc_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(docs(s, d))),
    "word_ngram_jaccard" -> ((s, d) => TextAnalysis.wordNgramJaccard(docs(s, d))),
    "contamination_pairs" -> ((s, d) => TextAnalysis.contaminationPairs(docs(s, d))),
    "repetition_stats" -> ((s, d) => TextAnalysis.repetitionStats(docs(s, d))),
    "tfidf_top_terms" -> ((s, d) => TextAnalysis.tfidfTopTerms(docs(s, d))),
    // token-level content blocklist (quality-pipeline term filter)
    "blocklist_filter" -> ((s, d) => TextAnalysis.blocklistFilter(docs(s, d))),
    // --- corpus statistics ---
    "vocab_topk" -> ((s, d) => CorpusStats.vocabTopK(docs(s, d))),
    // Count-Min sketch heavy hitters (r7): fixed d*w integer grid,
    // mergeable by addition; estimates are bit-checked by the oracle
    "heavy_hitters" -> ((s, d) => CorpusStats.heavyHitters(docs(s, d))),
    "unigram_score" -> ((s, d) => CorpusStats.unigramScore(docs(s, d))),
    // the word-ORDER fluency signal unigrams can't see: mean corpus
    // P(b|a) of adjacent token pairs, integer floor-ppm end-to-end
    "bigram_fluency" -> ((s, d) => CorpusStats.bigramFluency(docs(s, d))),
    // BM25 retrieval (per-term top-k, rational idf — see bm25TopK)
    "bm25_topk" -> ((s, d) => CorpusStats.bm25TopK(docs(s, d))),
    // sparse retrieve → dense rerank (the RAG candidate pipeline)
    "hybrid_rerank" -> ((s, d) => CorpusStats.hybridRerank(docs(s, d), emb(s, d))),
    // per-source composition/quality dashboard
    "source_quality" -> ((s, d) => CorpusStats.sourceQuality(docs(s, d))),
    // one-row dataset-card manifest
    "corpus_manifest" -> ((s, d) => CorpusStats.corpusManifest(docs(s, d))),
    // incremental view maintenance from the change feed (r10): the
    // base composition maintained to the chain's final state purely
    // by abelian debit/credit over the feed; oracle recomputes on the
    // final state — including the updated-then-deleted band whose
    // groups must drop at exactly zero
    "composition_view" -> ((s, d) => CorpusStats.compositionView(s, d)),
    // ANALYZE: per-column row/null/exact-ndv/min/max catalog stats
    // in one pass (CBO, skew advisor, and skipping-index feedstock)
    "table_stats" -> ((s, d) => CorpusStats.tableStats(docs(s, d))),
    // join-key hotness top-k with integer permille-of-mean ratios —
    // the diagnostic that decides when a key needs the salting path
    "skew_report" -> ((s, d) => CorpusStats.skewReport(events(s, d))),
    // packing/curriculum diagnostic: token mass per length bucket
    "length_histogram" -> ((s, d) => CorpusStats.lengthHistogram(docs(s, d))),
    "source_overlap" -> ((s, d) => CorpusStats.sourceOverlap(docs(s, d))),
    "chunk_dedup" -> ((s, d) => CorpusStats.chunkDedup(docs(s, d))),
    // asymmetric containment (short-doc-inside-long-doc) via a
    // guaranteed-recall prefix-filter join — minhash bands would miss
    // low-Jaccard/high-containment pairs
    "containment_pairs" -> ((s, d) => CorpusStats.containmentPairs(docs(s, d))),
    "media_meta" -> ((s, d) => Multimodal.mediaMeta(docs(s, d))),
    "media_features" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.asBinaryTable(docs(s, d))).toDF()),
    "media_frames" -> ((s, d) =>
      Multimodal.frameSample(Multimodal.asBinaryTable(docs(s, d))).toDF()),
    // REAL codec round trip: text → PNG raster (JDK encoder) → ImageIO
    // decode → true dims + decoded-pixel checksum (n_bytes excluded:
    // the encoded size is encoder-dependent, the decoded pixels aren't)
    "media_decode" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.encodePng(docs(s, d))).toDF()
        .select("doc_id", "kind", "width", "height", "checksum")),
    // REAL audio codec round trip (r6 verdict item 4): text → 16-bit
    // PCM WAV (javax.sound.sampled writer) → audio decode → true
    // sample rate + frame count + decoded-PCM checksum (n_bytes
    // excluded, the media_decode discipline: header size is
    // encoder-dependent, the decoded samples aren't)
    "media_audio" -> ((s, d) =>
      Multimodal.extractAudioFeatures(Multimodal.encodeWav(docs(s, d))).toDF()
        .select("doc_id", "kind", "sample_rate", "n_frames", "checksum")),
    // REAL MP4 container parse (r7): text → spec-valid ISO-BMFF file
    // (Mp4Writer; odd doc_ids take the 64-bit mvhd-v1/largesize
    // framing) → generic box-walking parse → brand/timescale/duration/
    // track dims/codec/sample count/mdat checksum, all re-derivable
    // from the text alone. Sample DECODE stays the labeled stub; the
    // container structure no longer does.
    "media_video_meta" -> ((s, d) =>
      Multimodal.extractVideoMeta(Multimodal.encodeMp4(docs(s, d))).toDF()),
    // REAL video FRAME decode (r7): text → RIFF/AVI with uncompressed
    // 24-bit DIB frames (AviWriter) → RIFF walk + raw BI_RGB sample
    // decode (bottom-up BGR rows re-ordered, stride dropped, pixels
    // averaged to gray) → one row per decoded frame. Lossless by
    // construction, so per-frame pixel checksums re-derive from the
    // text alone — video samples now decode for real on a stock JRE
    "media_video_frames" -> ((s, d) =>
      Multimodal.extractVideoFrames(Multimodal.encodeAvi(docs(s, d))).toDF()),
    // COMPRESSED video round trip (r8) — the last codec stub retired:
    // text → real JPEG per frame (ImageIO, quality 1.0, grayscale) →
    // MJPEG-in-AVI container → RIFF walk + full JPEG decode → compare
    // to the source raster in-engine. Lossy codec ⇒ the gate is a
    // within-tolerance bit the oracle replays from text alone (the
    // sketch_error_gate discipline), not a pixel checksum
    "media_mjpeg" -> ((s, d) =>
      Multimodal.mjpegRoundTrip(docs(s, d)).toDF()),
    // the OTHER stock-JRE codecs round-tripped for real — GIF (indexed
    // palette), BMP (24-bit RGB), WBMP (1-bit) — on a deterministic
    // fifth of the corpus (per-row ImageIO setup dominates; format
    // coverage doesn't need every row 3 more times)
    "media_decode_formats" -> ((s, d) => {
      val sample = docs(s, d)
        .filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0)
      Seq("gif", "bmp", "wbmp").map { fmt =>
        Multimodal.extractFeatures(Multimodal.encodeImage(sample, fmt)).toDF()
          .select("doc_id", "kind", "width", "height", "checksum")
      }.reduce(_.unionAll(_))
    }),
    // binary→binary composition: resize (byte decimation) feeding the
    // frame sampler — the multimodal pipeline shape end-to-end
    "media_resize" -> ((s, d) =>
      Multimodal.frameSample(
        Multimodal.resizeStub(Multimodal.asBinaryTable(docs(s, d))).toDF()
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("payload"))).toDF()),
    "quality_filter" -> ((s, d) => TextAnalysis.qualityFilter(docs(s, d))),
    // PII masking on deterministically PLANTED pii (the synthetic
    // corpus has none): each doc gets an email, an IPv4, a phone and
    // an account number derived from its doc_id, and the masking pass
    // must remove all of them bit-exactly on both engines
    "pii_mask" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val planted = docs(s, d).withColumn("text",
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@mail.example.com from 10."),
          pmod(col("doc_id"), lit(200L)), lit(".0."), pmod(col("doc_id"), lit(250L)),
          lit(" call +1 555 "), col("doc_id") + 100000000L,
          lit(" acct "), col("doc_id") + 9000000000L))
      TextAnalysis.piiMask(planted)
    }),
    "pipeline_kept" -> ((s, d) => TrainingPipeline.kept(docs(s, d))),
    "pipeline_budget" -> ((s, d) => TrainingPipeline.keptBudget(docs(s, d))),
    // the corpus-release manifest: blocklist ∧ quality ∧ dedup + split
    "release_pipeline" -> ((s, d) => TrainingPipeline.release(docs(s, d))),
    // stage-by-stage survivor counts of the release composition
    "pipeline_funnel" -> ((s, d) => TrainingPipeline.funnel(docs(s, d))),
    // gate pass-rate per type-token-ratio bucket (threshold audit)
    "quality_calibration" -> ((s, d) => TextAnalysis.qualityCalibration(docs(s, d))),
    // --- deterministic sampling ---
    "hash_sample" -> ((s, d) => Sampling.hashSample(docs(s, d))),
    "stratified_sample" -> ((s, d) => Sampling.stratifiedSample(docs(s, d))),
    "mixture_sample" -> ((s, d) => Sampling.mixtureSample(docs(s, d))),
    // alpha=0.5 endpoint of the mixing family: sampled size ~ sqrt(count)
    "temperature_sample" -> ((s, d) => Sampling.temperatureSample(docs(s, d))),
    "budget_select" -> ((s, d) => Sampling.budgetSelect(docs(s, d))),
    // deterministic train/val/test carve + its eval-contamination
    // audit (near-dup pairs crossing a split boundary)
    "split_assign" -> ((s, d) => Sampling.splitAssign(docs(s, d))),
    "split_leakage" -> ((s, d) => Sampling.splitLeakage(docs(s, d))),
    // quality-first global training order via bounded two-phase rank
    "curriculum_order" -> ((s, d) => Sampling.curriculumOrder(docs(s, d))),
    // equal-token training shards: the shard cut of the deterministic
    // hash-shuffled order, same two-phase bucket cumsum (no global
    // window) — balanced output files for the dataloader
    "shard_assign" -> ((s, d) => Sampling.shardAssign(docs(s, d))),
    // the assignment made physical: one Hive directory per shard,
    // read back through the layout — sink→source identity, same
    // oracle (a layout must never change the rows)
    "shard_write" -> ((s, d) => graft.sources.Shards.shardedRoundTrip(s, d)),
    // one shard read through the layout: the filter is a
    // PartitionFilter, so only that shard's directory is opened
    "shard_read" -> ((s, d) => graft.sources.Shards.shardRead(s, d)),
    // cluster-level consolidation: one richest survivor per connected
    // near-dup component (edge-level keep-best can drop whole cycles)
    "group_keep_best" -> ((s, d) => Dedup.nearDupGroupsKeepBest(s, docs(s, d))),
    "sequence_packing" -> ((s, d) => Sampling.sequencePacking(docs(s, d))),
    "doc_chunks" -> ((s, d) => TextAnalysis.docChunks(docs(s, d))),
    // span-level cross-doc dedup: repeated chunks removed keep-first,
    // docs re-assembled from their surviving spans
    "span_dedup" -> ((s, d) => CorpusStats.spanDedup(docs(s, d))),
    "boilerplate_strip" -> ((s, d) => CorpusStats.boilerplateStrip(docs(s, d))),
    "intra_dedup" -> ((s, d) => CorpusStats.intraDedup(docs(s, d))),
    "corpus_diff" -> ((s, d) => CorpusStats.corpusDiff(docs(s, d))),
    // --- embeddings / similarity search ---
    "embedding_norms" -> ((s, d) => EmbeddingSim.norms(emb(s, d))),
    // serving-side int8 compression of the embedding column
    "embed_quantize" -> ((s, d) => EmbeddingSim.quantizeInt8(emb(s, d))),
    "centroid_sim" -> ((s, d) => EmbeddingSim.centroidSim(emb(s, d))),
    "embed_outliers" -> ((s, d) => EmbeddingSim.embedOutliers(emb(s, d))),
    "langid_confusion" -> ((s, d) => TextAnalysis.langIdConfusion(docs(s, d))),
    "array_funcs" -> ((s, d) => EmbeddingSim.arrayFuncs(emb(s, d))),
    "cosine_topk" -> ((s, d) => EmbeddingSim.cosineTopK(emb(s, d))),
    "ann_buckets" -> ((s, d) => EmbeddingSim.annBuckets(emb(s, d))),
    "ann_topk" -> ((s, d) => EmbeddingSim.annTopK(emb(s, d))),
    "ann_ivf_topk" -> ((s, d) => EmbeddingSim.ivfTopK(emb(s, d))), // rows-only (KMeans quantizer)
    // rows-only: same quantizer served from a persisted parquet model
    // artifact (fit-once/serve-many — loads if present, else fits+saves)
    "ann_ivf_persisted" -> ((s, d) => EmbeddingSim.ivfTopKPersisted(emb(s, d),
      scratchDir("ivf_model", d))),
    // rows-only: INCREMENTAL index lifecycle — fit+build the cell
    // table on 90% of the vectors, append the held-out 10% to their
    // nearest persisted centroid (no refit; drift-gated), probe from
    // the combined table so post-fit vectors are first-class neighbors
    "ann_ivf_append" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val all = emb(s, d)
      val modelDir = scratchDir("ivf_apd_model", d)
      val indexDir = scratchDir("ivf_apd_index", d)
      EmbeddingSim.ivfIndexBuild(all.filter(col("vec_id") % 10 =!= 0), modelDir, indexDir)
      EmbeddingSim.ivfAppend(all.filter(col("vec_id") % 10 === 0), modelDir, indexDir, batchId = 1L)
      EmbeddingSim.ivfProbeIndex(all.filter(col("vec_id") % 100 === 0), modelDir, indexDir,
        k = 5, nProbe = 4)
    }),
    // bit-checked ANN QUALITY GATE: recall of the rows-only
    // approximate families vs their exact formulations, emitted as
    // one integer row per family — the oracle replays the expected
    // pass state, so a recall regression fails the hash check
    "ann_recall" -> ((s, d) => AnnRecall.recallGate(emb(s, d), docs(s, d))),
    // --- events ---
    "events_window_agg" -> ((s, d) => EventsOps.windowAgg(events(s, d))),
    "events_sessionize" -> ((s, d) => EventsOps.sessionize(events(s, d))),
    // CDC latest-wins MERGE: snapshot + versioned upsert/delete feed
    // reduced with max_by (map-side partial combine, no per-key sort
    // window) — the MERGE INTO / compaction-read plan shape
    "cdc_merge" -> ((s, d) => ChangeData.cdcMerge(docs(s, d))),
    // the same MERGE maintained continuously: version-ordered
    // micro-batches through one complete-mode aggregation; final
    // state bit-identical to batch, so ONE oracle serves both
    "stream_cdc_merge" -> ((s, d) =>
      graft.streaming.StreamingQueries.streamCdcMerge(s, d)),
    // SCD type-2 interval build: consecutive duplicate states
    // collapse, each survivor carries [valid_from, valid_to) with the
    // open current row flagged; windows partition by the entity key
    "scd2_history" -> ((s, d) => ChangeData.scd2History(events(s, d))),
    "events_props_agg" -> ((s, d) => EventsOps.propsAgg(events(s, d))),
    "events_json_deciles" -> ((s, d) => EventsOps.jsonDeciles(events(s, d))),
    "events_asof_join" -> ((s, d) => EventsOps.asOfJoin(events(s, d))),
    "events_asof_native" -> ((s, d) => EventsOps.asOfJoinNative(events(s, d))),
    "events_range_join" -> ((s, d) => EventsOps.rangeJoin(events(s, d))),
    "events_range_native" -> ((s, d) => EventsOps.rangeJoinNative(events(s, d))),
    "events_funnel" -> ((s, d) => EventsOps.funnel(events(s, d))),
    "events_retention" -> ((s, d) => EventsOps.retention(events(s, d))),
    // --- streaming (real Structured Streaming runs, memory sink) ---
    "stream_window_counts" -> ((s, d) => graft.streaming.StreamingQueries.streamWindowCounts(s, d)),
    "stream_near_dup" -> ((s, d) => graft.streaming.StreamingQueries.streamNearDup(s, d)),
    "stream_session_windows" -> ((s, d) => graft.streaming.StreamingQueries.streamSessionWindows(s, d)),
    "stream_enrich" -> ((s, d) => graft.streaming.StreamingQueries.streamEnrich(s, d)),
    "stream_range_join" -> ((s, d) => graft.streaming.StreamingQueries.streamRangeJoin(s, d)),
    // continuous as-of enrichment: O(1)-per-user state instead of the
    // built-in join's watermark-wide buffer; same oracle as the batch
    // window and native-plan as-of formulations
    "stream_asof_join" -> ((s, d) => graft.streaming.StreamingQueries.streamAsOfJoin(s, d)),
    "stream_exact_dedup" -> ((s, d) => graft.streaming.StreamingQueries.streamExactDedup(s, d)),
    "stream_pipeline" -> ((s, d) => graft.streaming.StreamingQueries.streamPipeline(s, d)),
    "stream_sessionize" -> ((s, d) => graft.streaming.StreamingQueries.streamSessionize(s, d)),
    // checkpointed PARQUET SINK (exactly-once commit log); result is
    // the sink dir read back, oracle replays the batch formulation
    "stream_to_parquet" -> ((s, d) => graft.streaming.StreamingQueries.streamToParquet(s, d)),
    // OPTIMIZE after streaming ingest: the sink's per-micro-batch
    // files bin-packed and read back — same oracle, closing the
    // small-files loop the compaction twins price
    "stream_compacted" -> ((s, d) => graft.streaming.StreamingQueries.streamCompacted(s, d)),
    // the CDC merge against STORAGE: foreachBatch applies each
    // version-ordered micro-batch to the snapshot table with the
    // copy-on-write Merge; the manifest fingerprint records the batch
    // id, making the writer exactly-once under replay (the Delta
    // idempotent-txn pattern); oracle replays pure merge semantics
    "stream_merge" -> ((s, d) => graft.streaming.StreamingQueries.streamMerge(s, d)),
    // CMS grid as the ONLY streaming state (bounded d*w forever);
    // final grid == batch grid, so the batch heavy_hitters oracle
    // hash-checks the streamed estimates
    "stream_heavy_hitters" -> ((s, d) => graft.streaming.StreamingQueries.streamHeavyHitters(s, d)),
    // --- relational coverage ---
    "q1_pricing_summary" -> ((s, d) => Relational.q1PricingSummary(s, d)),
    "q3_shipping_priority" -> ((s, d) => Relational.q3ShippingPriority(s, d)),
    "q5_region_revenue" -> ((s, d) => Relational.q5RegionRevenue(s, d)),
    "q4_order_priority" -> ((s, d) => Relational.q4OrderPriority(s, d)),
    "q6_forecast_revenue" -> ((s, d) => Relational.q6ForecastRevenue(s, d)),
    "q10_returned_revenue" -> ((s, d) => Relational.q10ReturnedRevenue(s, d)),
    "q14_promo_share" -> ((s, d) => Relational.q14PromoShare(s, d)),
    "q17_small_quantity" -> ((s, d) => Relational.q17SmallQuantity(s, d)),
    "q18_large_orders" -> ((s, d) => Relational.q18LargeOrders(s, d)),
    "q22_no_orders" -> ((s, d) => Relational.q22NoOrders(s, d)),
    "q7_volume_shipping" -> ((s, d) => Relational.q7VolumeShipping(s, d)),
    "q8_market_share" -> ((s, d) => Relational.q8MarketShare(s, d)),
    "q9_profit_by_nation" -> ((s, d) => Relational.q9ProfitByNation(s, d)),
    "q13_order_distribution" -> ((s, d) => Relational.q13OrderDistribution(s, d)),
    "q15_top_supplier" -> ((s, d) => Relational.q15TopSupplier(s, d)),
    "q16_supplier_counts" -> ((s, d) => Relational.q16SupplierCounts(s, d)),
    "q19_disjunctive" -> ((s, d) => Relational.q19Disjunctive(s, d)),
    "q21_sole_returns" -> ((s, d) => Relational.q21SoleReturns(s, d)),
    "q12_late_shipping" -> ((s, d) => Relational.q12LateShipping(s, d)),
    "q2_min_cost_supplier" -> ((s, d) => Relational.q2MinCostSupplier(s, d)),
    "q11_important_suppliers" -> ((s, d) => Relational.q11ImportantSuppliers(s, d)),
    "q20_dominant_suppliers" -> ((s, d) => Relational.q20DominantSuppliers(s, d)),
    "stats_moments" -> ((s, d) => Relational.statsMoments(s, d)),
    "window_top_orders" -> ((s, d) => Relational.windowTopOrders(s, d)),
    "window_running_total" -> ((s, d) => Relational.windowRunningTotal(s, d)),
    "window_lag_lead" -> ((s, d) => Relational.windowLagLead(s, d)),
    "string_funcs" -> ((s, d) => Relational.stringFuncs(s, d)),
    // explicit runtime-bloom semi-join pushdown: fact rows die at the
    // scan before the exchange; the join keeps the result exact
    "bloom_join" -> ((s, d) => Relational.bloomPrunedJoin(s, d)),
    "salted_join_sales" -> ((s, d) => Relational.saltedJoinSales(s, d)),
    // planted-skew pair: same result, guard off vs on — benched so the
    // artifact quantifies the salting win on a genuinely hot key
    "skew_join_unsalted" -> ((s, d) => Relational.skewJoinUnsalted(s, d)),
    "skew_join_salted" -> ((s, d) => Relational.skewJoinSalted(s, d)),
    "rollup_sales" -> ((s, d) => Relational.rollupSales(s, d)),
    "cube_sales" -> ((s, d) => Relational.cubeSales(s, d)),
    "grouping_sets_sales" -> ((s, d) => Relational.groupingSetsSales(s, d)),
    "pivot_sales" -> ((s, d) => Relational.pivotSales(s, d)),
    "date_funcs" -> ((s, d) => Relational.dateFuncs(s, d)),
    "median_by_status" -> ((s, d) => Relational.medianByStatus(s, d)),
    "edit_distance_pairs" -> ((s, d) => TextAnalysis.editDistancePairs(docs(s, d))),
    "regex_token_stats" -> ((s, d) => TextAnalysis.regexTokenStats(docs(s, d))),
    "topk_orders" -> ((s, d) => Relational.topKOrders(s, d)),
    "set_ops" -> ((s, d) => Relational.setOps(s, d)),
    "scalar_funcs" -> ((s, d) => Relational.scalarFuncs(s, d)),
    "distinct_counts" -> ((s, d) => Relational.distinctCounts(s, d)),
    // [oracle] since r7: exact distincts + sketch-health bits (the
    // raw HLL estimates stay engine-internal; see sketch_error_gate)
    "approx_distinct" -> ((s, d) => Relational.approxDistinct(s, d)),
    // bit-checked HLL QUALITY gate (the ann_recall pattern): the
    // sketch values aren't replayable, but "within the configured
    // error bound of exact" is a bit per group the oracle CAN expect
    "sketch_error_gate" -> ((s, d) => Relational.sketchErrorGate(s, d)),
    // same pattern for the quantile sketch: approx_percentile's
    // rank-error contract recomputed exactly, one bit per quantile
    "quantile_error_gate" -> ((s, d) => Relational.quantileErrorGate(s, d)),
    // O2 CSV sink + explicit-schema source ROUND TRIP as an oracle
    // query: write-then-read must reproduce the table bit-for-bit
    // (quoting, header, type parse) — oracle replays the identity
    "csv_roundtrip" -> ((s, d) => {
      val df = docs(s, d).select("doc_id", "lang", "source", "text")
      val dir = scratchDir("csv_rt", d)
      graft.sources.Sinks.writeCsvWithHeader(df, dir)
      graft.sources.Sources.readCsv(s, dir, df.schema)
    }),
    // same round trip through the JSONL sink/source pair
    "jsonl_roundtrip" -> ((s, d) => {
      val df = docs(s, d).select("doc_id", "lang", "source", "text")
      val dir = scratchDir("jsonl_rt", d)
      df.write.mode("overwrite").json(dir)
      graft.sources.Sources.readJsonl(s, dir, df.schema)
    }),
    // bucketed STORAGE LAYOUT: both fact tables pre-hashed on the
    // join key, so the join AND the per-key agg run with ZERO
    // Exchange (BucketedSpec asserts it) — the write-once/never-
    // shuffle-again layout for repeated fact-fact work at 100 TB
    // ANALYZE stats wired into the PLANNER (r8): the same high-value-
    // tail join once through CREATE TABLE + ANALYZE'd catalog tables
    // (CBO sees row counts + column min/max: the filtered side
    // broadcasts on its own — CatalogStatsSpec pins the plan flip) and
    // once stats-blind over raw parquet. One oracle for both: stats
    // change plans, never results
    "cbo_join_stats" -> ((s, d) => CatalogStats.joinWithStats(s, d)),
    "cbo_join_nostats" -> ((s, d) => CatalogStats.joinNoStats(s, d)),
    "bucketed_join" -> ((s, d) => graft.sources.Bucketed.bucketedOrderRevenue(s, d)),
    // the flat twin (same semantics + strategy, no layout): the bench
    // pair quantifies the exchanges the bucketed layout removes
    "unbucketed_join" -> ((s, d) => graft.sources.Bucketed.flatOrderRevenue(s, d)),
    // hive-partitioned layout read back with a language filter: the
    // predicate plans as PartitionFilters, non-matching directories
    // are never opened (the per-language corpus consumer shape)
    "partition_pruned" -> ((s, d) => graft.sources.Bucketed.partitionPrunedStats(s, d)),
    // DYNAMIC partition pruning: the pruning set arrives at runtime
    // from the script-family dim filter — the fact scan carries a
    // dynamicpruningexpression instead of a static partition list
    "dpp_join" -> ((s, d) => graft.sources.Bucketed.dppFamilyStats(s, d)),
    // z-order clustering (r7): Morton-interleaved write layout -> a
    // 2-d box predicate prunes row groups on BOTH dims; linear twin
    // quantifies the interleave (same oracle - layout never changes
    // results)
    "zorder_scan" -> ((s, d) => graft.sources.ZOrder.zorderBoxStats(s, d)),
    "linear_scan" -> ((s, d) => graft.sources.ZOrder.linearBoxStats(s, d)),
    // small-file COMPACTION twins (r7): the fragmented ingest layout
    // vs its bin-packed rewrite — same oracle, the layout never
    // changes the aggregate; the bench pair prices per-file overhead
    "small_files_scan" -> ((s, d) => graft.sources.Compaction.smallFilesScan(s, d)),
    "compacted_scan" -> ((s, d) => graft.sources.Compaction.compactedScan(s, d)),
    // file-level min/max DATA SKIPPING: a catalog-sized index (built
    // from parquet FOOTER stats, not a data scan) prunes whole files
    // before the scan plans; residual filter in-engine
    "skipping_scan" -> ((s, d) => graft.sources.Compaction.skippingScan(s, d)),
    // ATOMIC versioned-snapshot commit (r8): the maintenance rewrite
    // publishes immutable v{N}/ dirs through a one-rename manifest;
    // this query reads THROUGH the manifest — a reader concurrent
    // with (or after a killed) rewrite sees exactly one committed
    // version, never a mix (CompactionSpec proves the crash story)
    "snapshot_scan" -> ((s, d) => graft.sources.Compaction.snapshotScan(s, d)),
    // COPY-ON-WRITE row-level MERGE (r8): a CDC batch (deletes +
    // upserts + inserts) applied to the snapshot table rewriting ONLY
    // the files whose manifest key interval contains a change key —
    // the rest carried by reference into the new version's manifest;
    // the incremental twin chains a second batch built from the
    // merged table itself (MergeSpec proves the carried-file, crash
    // and retention stories)
    "merge_scan" -> ((s, d) => graft.sources.Merge.mergeScan(s, d)),
    "merge_incremental" -> ((s, d) => graft.sources.Merge.mergeIncrementalScan(s, d)),
    // OPTIMIZE after merging: consolidate the chain's cross-dir file
    // list into one compacted version (no carries) and expire the
    // dirs the carries kept alive — same oracle as merge_incremental
    // (the lifecycle step moves bytes, never rows)
    "merge_compacted" -> ((s, d) => graft.sources.Merge.mergeCompactedScan(s, d)),
    // MERGE-ON-READ delete: an O(batch) commit that rewrites nothing —
    // the keys ride a parquet deletion SIDECAR in the version dir
    // (anti-joined at read; nothing key-sized ever lands driver-side)
    // until a copy-on-write merge or OPTIMIZE materializes them
    // (the Delta deletion-vector trade at key granularity)
    "merge_mor" -> ((s, d) => graft.sources.Merge.mergeMorScan(s, d)),
    // TIME TRAVEL (r9): read version 2 of the two-batch chain — the
    // state batch 1 froze, resolved entirely AT that version (file
    // list, schema, deletion sidecar) while the table has since
    // advanced; same oracle as merge_scan by construction
    "snapshot_at" -> ((s, d) => graft.sources.Merge.snapshotAtScan(s, d)),
    // STRING/COMPOSITE merge keys (r9): the batch-1 chain keyed on a
    // string surrogate — canonical 64-bit hash for stats/blooms/
    // layout, exact string equality for the delete-and-replace; the
    // key's shape must never change what a merge means, so it shares
    // merge_scan's oracle
    "merge_string_key" -> ((s, d) => graft.sources.Merge.mergeStringKeyScan(s, d)),
    // SCHEMA EVOLUTION mid-chain (r9): batch 2's upserts carry a
    // column the table never had — the merge widens the manifest
    // schema and CARRIED files null-fill it at read, unrewritten
    "merge_evolve" -> ((s, d) => graft.sources.Merge.mergeEvolveScan(s, d)),
    // CATALOG-PRUNED READS (r11): the payoff side of the commit-time
    // stats/bloom investment, on the hash gate at last — a RANGE read
    // opening only interval-hit files, and the "fetch these docs by
    // id" POINT lookup probing interval+bloom (GDPR extracts, feature
    // backfills); both must be indistinguishable from filtering the
    // full merged table
    "merge_range_read" -> ((s, d) => graft.sources.Merge.mergeRangeReadScan(s, d)),
    "merge_point_read" -> ((s, d) => graft.sources.Merge.mergePointReadScan(s, d)),
    // CHANGE DATA FEED (r10): the per-commit table_changes contract
    // over a MIXED chain — one commit unlogged (served from the
    // computed catalog-pruned diff), two logged (served from the
    // write-time sidecar); the oracle rebuilds every commit's diff
    // from the batch definitions
    "change_feed" -> ((s, d) => graft.sources.Merge.changeFeedScan(s, d)),
    // the NET endpoint diff over the same chain: intermediates that
    // cancel across commits must NOT appear (the semantics that
    // separates changesBetween from the feed)
    "changes_between" -> ((s, d) => graft.sources.Merge.changesBetweenScan(s, d)),
    // the feed consumed the production way: relay dir → plain
    // file-source stream → checkpointed parquet sink; the relay
    // publishes the computed diff for the unlogged commit (r10
    // completeness fix) — same oracle as change_feed, the transport
    // must never change the rows
    "stream_change_feed" -> ((s, d) =>
      graft.sources.Merge.streamChangeFeedScan(s, d)),
    // the consumer CATCH-UP read (r11): the relayed feed dir batch-read
    // as ONE parquet load over (1, 4] — O(1) plan cost at any depth
    // (BENCH_SCALE r10_cdf_depth) — same oracle as change_feed: the
    // transport must never change the rows
    "feed_batch_read" -> ((s, d) => graft.sources.Merge.feedBatchReadScan(s, d)),
    // the reference's NATIVE line format through the DataSource V2
    // connector: id\t escaped-text lines, newline-aligned byte splits
    // (64 KB here so even sf0.001 scans in parallel), doc_id filter
    // pushed into the reader, text column prunable — O1 re-expressed
    // through the modern connector API
    "dsv2_text_scan" -> ((s, d) => {
      val df = docs(s, d).select("doc_id", "text")
      val dir = scratchDir("dsv2", d)
      // the V2 WRITE path (two-phase task commit), then the V2 read
      df.write.format("graft.sources.v2.DocsTextSource")
        .mode("overwrite").save(dir)
      s.read.format("graft.sources.v2.DocsTextSource")
        .option("splitBytes", (64 * 1024).toString).load(dir)
        .filter(org.apache.spark.sql.functions.col("doc_id") >= 100L)
    }),
    // and through the ORC sink/source pair (schema rides the footers)
    "orc_roundtrip" -> ((s, d) => {
      val df = docs(s, d).select("doc_id", "lang", "source", "text")
      val dir = scratchDir("orc_rt", d)
      graft.sources.Sinks.writeOrc(df, dir)
      graft.sources.Sources.readOrc(s, dir).select("doc_id", "lang", "source", "text")
    }),
  )

  /** DuckDB-equivalent SQL per query (same arithmetic, same affine
    * constants — see graft.oracle.Sql). `near_dup_groups` is
    * iterative on the Spark side but replayed by a recursive CTE. */
  def oracleSql: Map[String, String] = Map(
    "near_dup_groups" -> Sql.nearDupGroups,
    "dedup_normalized" -> Sql.dedupNormalized,
    "simhash_dedup_keep" -> Sql.simhashDedupKeep,
    "quality_filter" -> Sql.qualityFilter,
    "pipeline_kept" -> Sql.pipelineKept,
    "pipeline_budget" -> Sql.pipelineBudget,
    "release_pipeline" -> Sql.releasePipeline,
    "pipeline_funnel" -> Sql.pipelineFunnel,
    "quality_calibration" -> Sql.qualityCalibration,
    "hash_sample" -> Sql.hashSample,
    "stratified_sample" -> Sql.stratifiedSample,
    "mixture_sample" -> Sql.mixtureSample,
    "temperature_sample" -> Sql.temperatureSample,
    "budget_select" -> Sql.budgetSelect,
    "split_assign" -> Sql.splitAssign,
    "split_leakage" -> Sql.splitLeakage,
    "curriculum_order" -> Sql.curriculumOrder,
    "shard_assign" -> Sql.shardAssign,
    "shard_write" -> Sql.shardAssign,
    "shard_read" -> Sql.shardRead,
    "corpus_manifest" -> Sql.corpusManifest,
    "composition_view" -> Sql.compositionView,
    "table_stats" -> Sql.tableStats,
    "skew_report" -> Sql.skewReport,
    "group_keep_best" -> Sql.nearDupGroupsKeepBest,
    "q6_forecast_revenue" -> Sql.q6ForecastRevenue,
    "q10_returned_revenue" -> Sql.q10ReturnedRevenue,
    "q14_promo_share" -> Sql.q14PromoShare,
    "q17_small_quantity" -> Sql.q17SmallQuantity,
    "q18_large_orders" -> Sql.q18LargeOrders,
    "q7_volume_shipping" -> Sql.q7VolumeShipping,
    "q8_market_share" -> Sql.q8MarketShare,
    "q9_profit_by_nation" -> Sql.q9ProfitByNation,
    "q13_order_distribution" -> Sql.q13OrderDistribution,
    "q15_top_supplier" -> Sql.q15TopSupplier,
    "q16_supplier_counts" -> Sql.q16SupplierCounts,
    "q19_disjunctive" -> Sql.q19Disjunctive,
    "q21_sole_returns" -> Sql.q21SoleReturns,
    "q12_late_shipping" -> Sql.q12LateShipping,
    "q2_min_cost_supplier" -> Sql.q2MinCostSupplier,
    "q11_important_suppliers" -> Sql.q11ImportantSuppliers,
    "q20_dominant_suppliers" -> Sql.q20DominantSuppliers,
    "stats_moments" -> Sql.statsMoments,
    "grouping_sets_sales" -> Sql.groupingSetsSales,
    "pivot_sales" -> Sql.pivotSales,
    "date_funcs" -> Sql.dateFuncs,
    "window_lag_lead" -> Sql.windowLagLead,
    "string_funcs" -> Sql.stringFuncs,
    "salted_join_sales" -> Sql.saltedJoinSales,
    // one oracle for both fixture variants — identical by construction
    "skew_join_unsalted" -> Sql.skewJoin,
    "skew_join_salted" -> Sql.skewJoin,
    "shingles" -> Sql.shingles,
    "shingle_dict" -> Sql.shingleDict,
    "minhash_signatures" -> Sql.minhashSignatures,
    "group_sketch" -> Sql.groupSketch,
    // the pure-SQL formulation must be indistinguishable from the
    // DataFrame signatures query — same oracle
    "sql_signatures" -> Sql.minhashSignatures,
    "lsh_bands" -> Sql.lshBands,
    "candidate_pairs" -> Sql.candidatePairs,
    // the cap constant MUST match the registered query's maxBucket
    "candidate_pairs_capped" -> Sql.candidatePairsCapped(20),
    "collision_counts" -> Sql.collisionCounts,
    "incremental_pairs" -> Sql.incrementalPairs,
    "incremental_pairs_bucketed" -> Sql.incrementalPairs,
    // the feed-maintained index must converge to the from-scratch
    // corpus index — one oracle for all three probe forms
    "maintained_band_probe" -> Sql.incrementalPairs,
    "incremental_capped" ->
      Sql.incrementalPairsIndexCapped(graft.sources.BandIndex.DefaultMaxBucket),
    "ingest_filter" -> Sql.ingestFilter,
    "ingest_evolve" -> Sql.evolvedIngestStats,
    "quantile_error_gate" -> Sql.quantileErrorGate,
    "similar_pairs" -> Sql.similarPairs,
    "pairs_symmetric" -> Sql.pairsSymmetric,
    "minhash_estimate" -> Sql.minhashEstimate,
    "dedup_exact" -> Sql.dedupExact,
    "dedup_near_keep" -> Sql.dedupNearKeep,
    "dedup_keep_best" -> Sql.dedupKeepBest,
    "doc_chunks" -> Sql.docChunks,
    "sequence_packing" -> Sql.sequencePacking,
    "embed_dedup_pairs" -> Sql.embedDedupPairs,
    "embed_dedup_keep" -> Sql.embedDedupKeep,
    "simhash" -> Sql.simhash,
    "simhash_dedup_pairs" -> Sql.simhashDedupPairs,
    "token_stats" -> Sql.tokenStats,
    "text_quality" -> Sql.quality,
    "lang_id" -> Sql.langId,
    "doc_fingerprint" -> Sql.fingerprint,
    "word_ngram_jaccard" -> Sql.wordNgramJaccard,
    "contamination_pairs" -> Sql.contaminationPairs,
    "repetition_stats" -> Sql.repetitionStats,
    "tfidf_top_terms" -> Sql.tfidfTopTerms,
    "blocklist_filter" -> Sql.blocklistFilter,
    "bm25_topk" -> Sql.bm25TopK,
    "hybrid_rerank" -> Sql.hybridRerank,
    "source_quality" -> Sql.sourceQuality,
    "length_histogram" -> Sql.lengthHistogram,
    "vocab_topk" -> Sql.vocabTopK,
    "heavy_hitters" -> Sql.heavyHitters,
    "stream_heavy_hitters" -> Sql.heavyHitters,
    "unigram_score" -> Sql.unigramScore,
    "bigram_fluency" -> Sql.bigramFluency,
    "source_overlap" -> Sql.sourceOverlap,
    "chunk_dedup" -> Sql.chunkDedup,
    "containment_pairs" -> Sql.containmentPairs,
    "media_meta" -> Sql.mediaMeta,
    "media_features" -> Sql.mediaFeatures,
    "media_frames" -> Sql.mediaFrames,
    "media_decode" -> Sql.mediaDecode,
    "media_audio" -> Sql.mediaAudio,
    "media_video_meta" -> Sql.mediaVideoMeta,
    "media_video_frames" -> Sql.mediaVideoFrames,
    "media_mjpeg" -> Sql.mediaMjpeg,
    "media_decode_formats" -> Sql.mediaDecodeFormats,
    "ann_recall" -> Sql.annRecall,
    "pii_mask" -> Sql.piiMask,
    "span_dedup" -> Sql.spanDedup,
    "boilerplate_strip" -> Sql.boilerplateStrip,
    "intra_dedup" -> Sql.intraDedup,
    "corpus_diff" -> Sql.corpusDiff,
    "approx_distinct" -> Sql.approxDistinct,
    "sketch_error_gate" -> Sql.sketchErrorGate,
    "dsv2_text_scan" -> Sql.dsv2TextScan,
    "bucketed_join" -> Sql.bucketedOrderRevenue,
    "unbucketed_join" -> Sql.bucketedOrderRevenue,
    "cbo_join_stats" -> Sql.cboJoin,
    "cbo_join_nostats" -> Sql.cboJoin,
    "partition_pruned" -> Sql.partitionPrunedStats,
    "dpp_join" -> Sql.dppFamilyStats,
    "bloom_join" -> Sql.bloomPrunedJoin,
    "zorder_scan" -> Sql.zorderBoxStats,
    "linear_scan" -> Sql.zorderBoxStats,
    "small_files_scan" -> Sql.compactionScan,
    "compacted_scan" -> Sql.compactionScan,
    // reads through the versioned manifest — same oracle: snapshots
    // change where bytes live and when they're visible, never results
    "snapshot_scan" -> Sql.compactionScan,
    "merge_scan" -> Sql.mergeScan,
    "merge_incremental" -> Sql.mergeIncremental,
    "merge_compacted" -> Sql.mergeIncremental,
    "merge_mor" -> Sql.mergeMor,
    // time travel to the post-batch-1 version == batch 1's oracle;
    // the string-keyed chain replays batch 1 identically (the key
    // shape is a layout concern, never a semantic one)
    "snapshot_at" -> Sql.mergeScan,
    "merge_string_key" -> Sql.mergeScan,
    "merge_evolve" -> Sql.mergeEvolve,
    "merge_range_read" -> Sql.mergeRangeRead,
    "merge_point_read" -> Sql.mergePointRead,
    "change_feed" -> Sql.changeFeedScan,
    "changes_between" -> Sql.changesBetweenScan,
    // the streamed and batch-relay transports serve the same rows as
    // the stitched batch feed
    "stream_change_feed" -> Sql.changeFeedScan,
    "feed_batch_read" -> Sql.changeFeedScan,
    "skipping_scan" -> Sql.skippingScan,
    "csv_roundtrip" -> Sql.docsIdentity,
    "jsonl_roundtrip" -> Sql.docsIdentity,
    "orc_roundtrip" -> Sql.docsIdentity,
    "media_resize" -> Sql.mediaResize,
    "array_funcs" -> Sql.arrayFuncs,
    "embedding_norms" -> Sql.embeddingNorms,
    "embed_quantize" -> Sql.embedQuantize,
    "centroid_sim" -> Sql.centroidSim,
    "embed_outliers" -> Sql.embedOutliers,
    "langid_confusion" -> Sql.langIdConfusion,
    "cosine_topk" -> Sql.cosineTopK,
    "ann_buckets" -> Sql.annBuckets,
    "ann_topk" -> Sql.annTopK,
    "events_window_agg" -> Sql.eventsWindowAgg,
    "stream_window_counts" -> Sql.streamWindowCounts,
    "stream_near_dup" -> Sql.streamNearDup,
    "stream_session_windows" -> Sql.streamSessionWindows,
    "stream_enrich" -> Sql.streamEnrich,
    "stream_range_join" -> Sql.streamRangeJoin,
    "stream_asof_join" -> Sql.eventsAsOfJoin,
    "stream_exact_dedup" -> Sql.streamExactDedup,
    "stream_pipeline" -> Sql.streamPipeline,
    "stream_sessionize" -> Sql.streamSessionize,
    // sink read-back equals the batch per-doc projection
    "stream_to_parquet" -> Sql.tokenStats,
    "stream_compacted" -> Sql.tokenStats,
    "events_sessionize" -> Sql.eventsSessionize,
    "cdc_merge" -> Sql.cdcMerge,
    "stream_cdc_merge" -> Sql.cdcMerge,
    "stream_merge" -> Sql.streamMerge,
    "scd2_history" -> Sql.scd2History,
    "events_props_agg" -> Sql.eventsPropsAgg,
    "events_json_deciles" -> Sql.eventsJsonDeciles,
    "events_asof_join" -> Sql.eventsAsOfJoin,
    // the native operator must be indistinguishable from the window
    // formulation — same oracle
    "events_asof_native" -> Sql.eventsAsOfJoin,
    "events_range_join" -> Sql.eventsRangeJoin,
    // the rule-rewritten naive join must be indistinguishable from
    // the hand-bucketed form — same oracle
    "events_range_native" -> Sql.eventsRangeJoin,
    "events_funnel" -> Sql.eventsFunnel,
    "events_retention" -> Sql.eventsRetention,
    "q1_pricing_summary" -> Sql.q1PricingSummary,
    "q3_shipping_priority" -> Sql.q3ShippingPriority,
    "q5_region_revenue" -> Sql.q5RegionRevenue,
    "q4_order_priority" -> Sql.q4OrderPriority,
    "q22_no_orders" -> Sql.q22NoOrders,
    "window_top_orders" -> Sql.windowTopOrders,
    "window_running_total" -> Sql.windowRunningTotal,
    "rollup_sales" -> Sql.rollupSales,
    "cube_sales" -> Sql.cubeSales,
    "median_by_status" -> Sql.medianByStatus,
    "edit_distance_pairs" -> Sql.editDistancePairs,
    "regex_token_stats" -> Sql.regexTokenStats,
    "topk_orders" -> Sql.topKOrders,
    "set_ops" -> Sql.setOps,
    "scalar_funcs" -> Sql.scalarFuncs,
    "distinct_counts" -> Sql.distinctCounts,
  )
}
