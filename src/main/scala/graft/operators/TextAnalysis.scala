package graft.operators

import graft.Caches.CheckpointSyntax
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Config
import graft.functions.PortableHash

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token stats, quality scores, heuristic
  * language id, document fingerprints, SimHash. All pure built-in
  * expressions (codegen-friendly, no UDFs); all mirrored by DuckDB
  * oracle SQL (graft.oracle.Sql).
  */
object TextAnalysis {

  /** Marker word sets for the heuristic language id (deterministic
    * n-gram/stopword-profile scoring; the profiles themselves are
    * arbitrary but fixed). */
  val EnMarkers: Seq[String] = Seq("the", "a", "of", "order", "key")
  val EsMarkers: Seq[String] = Seq("data", "column", "table", "row")
  val ZhMarkers: Seq[String] = Seq("vector", "stream", "window", "batch")

  /** Non-empty whitespace tokens of `text`. */
  def tokensCol(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*))).cast("long")

  /** doc_id, n_tokens, n_distinct_tokens, chars_no_space,
    * avg_token_len. */
  def tokenStats(docs: DataFrame): DataFrame = {
    val toks = tokensCol(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
      length(regexp_replace(col("text"), " ", "")).cast("long").as("chars_no_space"))
      .withColumn("avg_token_len",
        when(col("n_tokens") > 0,
          col("chars_no_space").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)))
  }

  /** Quality scoring: length, token count, type-token ratio,
    * stopword ratio — the standard cheap quality heuristics. */
  def quality(docs: DataFrame): DataFrame = {
    val toks = tokensCol(col("text"))
    val stop = Seq("the", "a", "of", "in", "and")
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_types"),
      countIn(toks, stop).as("n_stopwords"))
      .withColumn("type_token_ratio",
        when(col("n_tokens") > 0, col("n_types").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(col("n_tokens") > 0, col("n_stopwords").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)))
  }

  /** Heuristic language id: score text against fixed marker-word
    * profiles, argmax with a deterministic tie order en > es > zh. */
  def langId(docs: DataFrame): DataFrame = {
    val toks = tokensCol(col("text"))
    docs.select(
      col("doc_id"), col("lang").as("lang_actual"),
      countIn(toks, EnMarkers).as("score_en"),
      countIn(toks, EsMarkers).as("score_es"),
      countIn(toks, ZhMarkers).as("score_zh"))
      .withColumn("lang_pred",
        when(col("score_en") >= col("score_es") && col("score_en") >= col("score_zh"), "en")
          .when(col("score_es") >= col("score_zh"), "es")
          .otherwise("zh"))
  }

  /** Quality-gate CALIBRATION: fixed-width type-token-ratio buckets
    * (permille, 100-wide → at most 11 groups) against the REAL
    * [[qualityFilter]] gate decision — the table read to pick or
    * audit a filter threshold ("how sharply does the gate separate
    * along this signal"). All integer arithmetic (`div`, no float
    * ratio at a bucket boundary); the pass flag comes from the
    * actual gate stage via semi-join so this view can never drift
    * from what the pipeline does. Scale: one map-side-combinable
    * aggregate into a constant-size (≤ 11 row) result. */
  def qualityCalibration(docs: DataFrame): DataFrame = {
    val pass = qualityFilter(docs).select(col("doc_id"), lit(1L).as("pass"))
    quality(docs)
      .join(pass, Seq("doc_id"), "left")
      .withColumn("ttr_pm",
        when(col("n_tokens") > 0, expr("n_types * 1000 div n_tokens"))
          .otherwise(lit(0L)))
      .withColumn("bucket", expr("ttr_pm div 100"))
      .groupBy("bucket").agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("pass"), lit(0L))).as("n_pass"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("ttr_pm")).as("min_ttr_pm"),
        max(col("ttr_pm")).as("max_ttr_pm"))
  }

  /** Lang-id CONFUSION MATRIX: the labeled `lang` column scored
    * against langId's prediction — the classifier-quality diagnostic
    * a corpus pipeline reads before trusting a language filter. One
    * integer aggregate over <= |langs|² groups (map-side combinable;
    * constant-size result at any scale); example_doc pins a concrete
    * misclassified row for triage. */
  def langIdConfusion(docs: DataFrame): DataFrame =
    langId(docs).groupBy("lang_actual", "lang_pred")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("example_doc"))

  /** Whole-document rolling-hash fingerprint (base-31 polynomial
    * mod p — same portable hash family as minhash). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      PortableHash.charFoldHash(col("text")).as("fingerprint"),
      length(col("text")).cast("long").as("n_chars_text"),
      col("n_chars").as("n_chars_meta"))

  /** 30-bit SimHash over the doc's DISTINCT shingle hashes: bit j is
    * set iff sum over shingles of (+1 if hash bit j else -1) > 0.
    * (30 bits because the portable hash range is [0, 2^31-1).)
    * NARROW: per-row ShingleHashes → array_distinct → SimHashBits —
    * the explode + distinct + 30-sum agg (two shuffles) is gone. */
  def simHash(docs: DataFrame, k: Int = Config.K): DataFrame = {
    import org.apache.spark.sql.graft.{Bridge, SimHashBits}
    val harr = array_distinct(Shingling.shingleHashArray(col("text"), k))
    docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"),
        Bridge.column(SimHashBits(Bridge.expression(harr), 30)).as("simhash"))
  }

  /** Edit-distance verification of the verified near-dup pairs:
    * raw Levenshtein plus a length-normalized similarity. Runs on
    * the (small) verified pair set, not raw candidates — Levenshtein
    * is O(len^2) per pair and must sit behind the cheap filters. */
  def editDistancePairs(docs: DataFrame, k: Int = Config.K): DataFrame = {
    val texts = docs.select(col("doc_id"), col("text"))
    MinHashLsh.similarPairs(docs, k)
      .join(texts.as("tl"), col("id_l") === col("tl.doc_id"))
      .join(texts.as("tr"), col("id_r") === col("tr.doc_id"))
      .select(col("id_l"), col("id_r"),
        levenshtein(col("tl.text"), col("tr.text")).cast("long").as("edit_dist"),
        greatest(length(col("tl.text")), length(col("tr.text"))).cast("long").as("max_len"))
      .withColumn("edit_sim",
        when(col("max_len") > 0,
          lit(1.0) - col("edit_dist").cast("double") / col("max_len"))
          .otherwise(lit(1.0)))
  }

  /** Per-doc top-k terms by TF-IDF — the classic corpus-statistics
    * join: term frequency per (doc, token), document frequency per
    * token, score = tf · N/df. Integer-only inputs with ONE double
    * division (exact for exact operands), no log — so ranking is
    * bit-replayable by the oracle; ties broken by token.
    *
    * Scale shape: ONE hash agg over the exploded token stream; df is
    * re-aggregated from tf's (doc_id, token) rows — already distinct,
    * so count(*) == countDistinct(doc_id) — which keeps the two
    * branches' exchanges identical for ReuseExchange (the corpus is
    * exploded and shuffled once, not twice) and the second shuffle
    * sees post-agg rows, not raw tokens. Per-doc ranking windows are
    * tiny (≤ vocabulary of one doc). */
  def tfidfTopTerms(docs: DataFrame, topK: Int = 3): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokensCol(col("text"))).as("token"))
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "token").crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("token"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select("doc_id", "token", "tf", "df", "score", "rank")
  }

  /** Regex ("BPE-ish") tokenization: letter runs, digit runs, and
    * single other non-space symbols as separate tokens. */
  def regexTokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).cast("long")
        .as("n_pieces"),
      size(array_distinct(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")))
        .cast("long").as("n_distinct_pieces"))

  /** Distinct word n-grams of a text as joined strings (n >= 1);
    * empty array when the text has fewer than n tokens. */
  private[operators] def wordNgramsCol(text: Column, n: Int): Column = {
    val toks = tokensCol(text)
    // linear: n-gram j = toks[j] ⧺ … ⧺ toks[j+n-1] built by zipping n
    // shifted slices — a slice-inside-transform formulation would
    // re-evaluate the tokenization chain per index (quadratic per
    // doc, the bigramFluency lesson; here each slice is a plain
    // argument, so toks evaluates a constant number of times)
    val len = greatest(size(toks) - lit(n) + lit(1), lit(0))
    val joined = (1 until n).foldLeft(slice(toks, lit(1), len)) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k + 1), len), (a, t) => concat(a, lit(" "), t))
    }
    array_distinct(joined)
  }

  /** Benchmark DECONTAMINATION: every corpus doc sharing at least
    * `minShared` distinct word n-grams with some doc of the held-out
    * benchmark set (here: doc_id % benchEvery == 0 — in production,
    * the eval suites' texts). The standard training-data hygiene
    * check (n-gram collision against benchmarks); candidates come
    * from the n-gram equi-join, never doc×doc — at 100 TB the
    * benchmark side is tiny and broadcast, so the corpus is scanned
    * once, shuffled only by matching gram. */
  def contaminationPairs(docs: DataFrame, n: Int = 5, minShared: Int = 3,
                         benchEvery: Long = 97): DataFrame = {
    val grams = docs.select(col("doc_id"),
      explode(wordNgramsCol(col("text"), n)).as("gram"))
    val corpus = grams.filter(col("doc_id") % benchEvery =!= 0)
    val bench = grams.filter(col("doc_id") % benchEvery === 0)
      .select(col("doc_id").as("bench_id"), col("gram"))
    corpus.join(broadcast(bench), Seq("gram"))
      .groupBy("doc_id", "bench_id")
      // grams are distinct per doc, so count(*) = |shared gram set|
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Context-window CHUNKING: split each document's tokens into
    * overlapping fixed-size chunks (the RAG/embedding preprocessing
    * shape — chunk i covers tokens [i·stride, i·stride + chunkTokens)
    * with stride = chunkTokens - overlap). Pure per-row flatMap via
    * HOFs — narrow, codegen'd, no UDF; at 100 TB this is a
    * map-only stage whose output is partitioned like its input. */
  def docChunks(docs: DataFrame, chunkTokens: Int = 16,
                overlap: Int = 4): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, "0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    val withT = docs.select(col("doc_id"), tokensCol(col("text")).as("toks"))
    val n = size(col("toks"))
    // exact for any realistic doc: double division of ints < 2^53
    val nChunks = floor((n + lit(stride - 1)).cast("double") / stride).cast("int")
    withT
      .filter(n > 0)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), nChunks - 1), i => {
          val piece = slice(col("toks"), i * stride + 1, lit(chunkTokens))
          struct(i.as("chunk_idx"),
            (i * stride).cast("long").as("start_tok"),
            size(piece).cast("long").as("n_chunk_tokens"),
            concat_ws(" ", piece).as("chunk_text"))
        })).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.start_tok"),
        col("c.n_chunk_tokens"), col("c.chunk_text"))
  }

  /** Gopher-style repetition signals, all exact integers: longest
    * same-token run (filters "spam spam spam ..." docs), bigram
    * duplication (n_bigrams vs distinct). The run fold is a single
    * pass over the token array (aggregate HOF — codegen'd, no UDF,
    * no shuffle). */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val toks = tokensCol(col("text"))
    val runFold = aggregate(
      toks,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("mx")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("mx"), run).as("mx"))
      },
      acc => acc.getField("mx"))
    val allBigrams = when(size(toks) >= 2, size(toks) - 1).otherwise(0)
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_types"),
      runFold.as("max_run"),
      allBigrams.cast("long").as("n_bigrams"),
      size(wordNgramsCol(col("text"), 2)).cast("long").as("n_distinct_bigrams"))
  }

  /** Distinct word bigrams of a text ("a b c" -> ["a b", "b c"]) —
    * fused native expression; equals [[bigramsColBuiltins]]
    * (spec-checked). */
  private[graft] def bigramsCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.{Bridge, WordBigrams}
    Bridge.column(WordBigrams(Bridge.expression(text)))
  }

  /** Built-ins reference formulation of [[bigramsCol]]. */
  private[graft] def bigramsColBuiltins(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val toks = tokensCol(text)
    when(size(toks) >= 2,
      array_distinct(transform(sequence(lit(1), size(toks) - 1), i =>
        concat(element_at(toks, i), lit(" "), element_at(toks, i + 1)))))
      .otherwise(array().cast("array<string>"))
  }

  /** 30-bit SimHash over the doc's distinct WORD-BIGRAM hashes.
    * Char-shingle simhash ([[simHash]]) measures character overlap —
    * on a stylistically homogeneous corpus background pairs land
    * within a few bits of each other (measured: mean hamming 2.7).
    * Word-bigram features decorrelate the background (mean hamming
    * 14.1 vs 2.1 for true near-dups), which is what makes
    * hamming-threshold dedup meaningful. */
  def wordSimHash(docs: DataFrame): DataFrame = {
    val bits = 30
    // aggregated (explode + 30-sum hash-agg) ON PURPOSE: unlike char
    // shingles there is no fused native hasher for bigram STRINGS, so
    // the narrow per-row form pays interpreted concat+hash lambdas
    // per bigram — measured 1.5x slower than this shuffle at sf0.1
    val hashed = docs.select(col("doc_id"), explode(bigramsCol(col("text"))).as("bg"))
      .select(col("doc_id"), PortableHash.charFoldHash(col("bg")).as("h"))
    val sums = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
        .as(f"s_$j%02d")
    }
    val fp = (0 until bits).map { j =>
      when(col(f"s_$j%02d") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    hashed.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs, blocked (Manku/Das/Garcia-Molina-style):
    * split the 30-bit fingerprint into maxHamming+1 exact-match
    * blocks — by pigeonhole, any pair within hamming <= maxHamming
    * agrees exactly on at least one block, so candidates come from
    * per-block equi-joins (never an all-pairs compare); verify with
    * bit_count(xor) <= maxHamming.
    * Output: id_l, id_r, hamming. */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bits = 30
    val nBlocks = maxHamming + 1
    // fingerprint frame feeds the block explode AND both verify sides
    val fp = wordSimHash(docs).graftCheckpoint()
    val widths = (0 until nBlocks).map(i => bits / nBlocks + (if (i < bits % nBlocks) 1 else 0))
    val los = widths.scanLeft(0)(_ + _)
    val bstructs = (0 until nBlocks).map { i =>
      struct(lit(i).as("blk"),
        shiftright(col("simhash"), los(i)).bitwiseAND(lit((1L << widths(i)) - 1)).as("bval"))
    }
    val banded = fp.select(col("doc_id"), explode(array(bstructs: _*)).as("b"))
      .select(col("doc_id"), col("b.blk").as("blk"), col("b.bval").as("bval"))
    // raw pair stream (<= nBlocks repeats per pair): the bit_count
    // verify is cheaper than a DISTINCT shuffle over all candidates;
    // dedup runs on the tiny verified output
    val cand = MinHashLsh.bandPairs(banded, banded, col("id_l") < col("id_r"),
        keys = Seq("blk", "bval"))
      .select("id_l", "id_r")
    cand
      .join(fp.select(col("doc_id"), col("simhash").as("f_l")), col("id_l") === col("doc_id"))
      .drop("doc_id")
      .join(fp.select(col("doc_id"), col("simhash").as("f_r")), col("id_r") === col("doc_id"))
      .withColumn("hamming", bit_count(col("f_l").bitwiseXOR(col("f_r"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_l", "id_r", "hamming")
      .dropDuplicates("id_l", "id_r")
  }

  /** Docs surviving greedy SimHash dedup: drop any doc with a
    * verified hamming-close partner of smaller doc_id (the SimHash
    * analog of Dedup.nearDupKeep — same keep-min-id rule over a
    * different similarity graph). */
  def simHashKeep(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val dupIds = simHashPairs(docs, maxHamming).select(col("id_r").as("doc_id"))
    docs.select("doc_id").join(dupIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("kept_id"))
  }

  /** Quality GATE: the filter stage a training pipeline runs over
    * every document, built from the [[quality]] metrics. Thresholds
    * are compared in integer arithmetic (2·stopwords ≤ tokens etc.)
    * so membership is exact and replayable — no float compares at
    * the decision boundary. */
  def qualityFilter(docs: DataFrame,
                    minTokens: Long = 5, minChars: Long = 20,
                    maxChars: Long = 10000): DataFrame = {
    val toks = tokensCol(col("text"))
    val stop = Seq("the", "a", "of", "in", "and")
    docs.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_types"),
        countIn(toks, stop).as("n_stopwords"))
      .filter(col("n_tokens") >= minTokens &&
        col("n_chars") >= minChars && col("n_chars") <= maxChars &&
        // stopword_ratio <= 0.5  and  type_token_ratio >= 0.3
        col("n_stopwords") * 2 <= col("n_tokens") &&
        col("n_types") * 10 >= col("n_tokens") * 3)
  }

  /** PII MASKING — the redaction pass a training-data pipeline runs
    * before anything else sees the text. Four pattern families are
    * replaced with typed placeholder tokens, in a FIXED order (each
    * family's replacement must not create or destroy matches for the
    * later ones — emails first because their local part can contain
    * digits, IPs before generic digit runs, phones before bare digit
    * runs):
    *   1. emails            → <EMAIL>
    *   2. IPv4 addresses    → <IP>
    *   3. phone-ish runs (+ optional country code, separators, >= 9
    *      digits total)     → <PHONE>
    *   4. long digit runs (>= 9 digits — account/id numbers) → <ID>
    * Patterns stay inside the Java-regex ∩ RE2 common subset (no
    * backreferences, no lookaround) so the DuckDB oracle replays
    * them literally; counts come from regexp_extract_all on the SAME
    * patterns, evaluated BEFORE masking. All codegen'd built-ins
    * (regexp_replace / regexp_extract_all) — no UDFs, narrow per-row
    * work, scale-free. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  // each group contributes exactly one digit, so {9,} IS the
  // ">= 9 digits total" rule ("+1 ------- 2" no longer masks);
  // separators only ever appear between digits, never trailing
  val PhonePattern = "\\+(?:[ ()-]*[0-9]){9,}"
  val IdPattern = "\\b[0-9]{9,}\\b"

  def piiMask(docs: DataFrame): DataFrame = {
    val masked =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), EmailPattern, "<EMAIL>"),
            Ipv4Pattern, "<IP>"),
          PhonePattern, "<PHONE>"),
        IdPattern, "<ID>")
    docs.select(
      col("doc_id"),
      masked.as("masked_text"),
      size(regexp_extract_all(col("text"), lit(EmailPattern), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(Ipv4Pattern), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(col("text"), lit(PhonePattern), lit(0))).cast("long").as("n_phones"))
  }

  /** Word-bigram Jaccard similarity for the LSH candidate pairs —
    * an n-gram-level second opinion on the char-shingle candidates.
    *
    * Computed over HASHED bigram sets: each doc's distinct bigrams are
    * fold-hashed ONCE (O(#docs) work), so the per-PAIR cost is a fused
    * two-pointer merge over sorted longs instead of interpreted
    * `array_intersect`/`array_union` over string arrays (measured ~4x
    * on the sf0.1 candidate stream). The oracle replays the same fold
    * hash, so results stay bit-identical; a cross-engine-stable hash
    * collision inside one doc's set (~|set|²/2³² odds) is absorbed by
    * distinct-ing the hash set on both sides. */
  def wordNgramJaccard(docs: DataFrame, k: Int = Config.K): DataFrame = {
    val bigramHashes =
      sort_array(array_distinct(transform(bigramsCol(col("text")),
        s => PortableHash.charFoldHash(s))))
    val sets = docs.select(col("doc_id"), bigramHashes.as("bgh"))
    val cand = MinHashLsh.candidatePairs(docs, k)
    val inter = PortableHash.sortedIntersectCount(col("l.bgh"), col("r.bgh"))
    val uni = size(col("l.bgh")) + size(col("r.bgh")) - inter
    cand
      .join(sets.as("l"), col("id_l") === col("l.doc_id"))
      .join(sets.as("r"), col("id_r") === col("r.doc_id"))
      .select(col("id_l"), col("id_r"),
        when(uni > 0, inter.cast("double") / uni).otherwise(lit(0.0)).as("word_jaccard"))
  }

  /** Blocked terms for [[blocklistFilter]] — shared with the oracle. */
  val BlockedTerms: Seq[String] = Seq("dup", "slow")

  /** Token-level blocklist gate: keep documents containing NONE of
    * the blocked terms — the quality-pipeline content filter (slur/
    * boilerplate/spam term lists). Exact token match, not substring,
    * so "duplicate" doesn't trip a "dup" entry. Narrow per-row
    * arrays_overlap against a literal array; no shuffle, no UDF, and
    * the blocklist ships inside the plan (at a real deployment's
    * 10k-term list this becomes a broadcast join on token — same
    * semantics, swapped in without touching callers). */
  def blocklistFilter(docs: DataFrame,
                      blocked: Seq[String] = BlockedTerms): DataFrame =
    docs
      .filter(!arrays_overlap(tokensCol(col("text")),
        array(blocked.map(lit): _*)))
      .select(col("doc_id"), col("lang"), col("source"))
}
