package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Config
import graft.functions.PortableHash

/** Character k-shingling with the reference's canonical semantics
  * (Shingling.java:32-42): stride 1, one window per character
  * position; the final k-1 windows are shorter and padded with
  * exactly ONE trailing space (Shingling.java:39) — so for k=3 the
  * last window is 2 chars ("x ") not 3 (SURVEY.md §2.3).
  *
  * Spark-first: a single `transform(sequence(...))` array expression
  * plus `explode` — no UDF, stays inside Catalyst; at 100 TB the
  * explode is a narrow (map-side) transformation, no shuffle.
  */
object Shingling {

  /** Array of shingle strings for one text value — fused native
    * expression (one pass; ASCII windows share the parent's bytes).
    * Equals [[shingleArrayBuiltins]], spec-checked. */
  def shingleArray(text: Column, k: Int = Config.K): Column = {
    import org.apache.spark.sql.graft.{Bridge, ShingleWindows}
    Bridge.column(ShingleWindows(Bridge.expression(text), k))
  }

  /** Built-ins-only formulation (interpreted HOF + per-window substr
    * — the semantic reference shingleArray is tested against; empty
    * array for empty text: `sequence(1,0)` would count DOWN). */
  def shingleArrayBuiltins(text: Column, k: Int = Config.K): Column =
    when(length(text) >= 1,
      transform(sequence(lit(1), length(text)), i =>
        when(i + lit(k - 1) <= length(text), text.substr(i, lit(k)))
          .otherwise(concat(text.substr(i, lit(k)), lit(" ")))))
      .otherwise(array().cast("array<string>"))

  /** Array of all k-shingle HASHES of a text — the fused native
    * codegen expression (one pass over the bytes, no per-window
    * substring allocation; see ShingleHashesExpression.scala).
    * Equals transform(shingleArray(text, k), charFoldHash). */
  def shingleHashArray(text: Column, k: Int = Config.K): Column = {
    import org.apache.spark.sql.graft.{Bridge, ShingleHashes}
    Bridge.column(ShingleHashes(Bridge.expression(text), k))
  }

  /** (doc_id, h) — one row per window hash, duplicates kept. The
    * hash-space entry point for every set-level pipeline (minhash,
    * simhash, feature embeddings): skips materializing shingle
    * strings entirely. */
  def shingleHashed(docs: DataFrame, k: Int = Config.K): DataFrame =
    docs.select(col("doc_id"), explode(shingleHashArray(col("text"), k)).as("h"))

  /** The sorted distinct shingle-hash set of a text as `array<int>` —
    * the one set every exact shingle-Jaccard verify compares ([[jaccard]]).
    * Every shingle hash is below P = 2^31-1, so the int cast is exact
    * and keeps order and distinctness — half the bytes of a long set.
    * sort_array is the codegen'd primitive sort; array_sort runs a
    * comparator lambda (sets of all 20k perfbench dedup_batch docs, 4
    * local cores: 1.4 s vs 3.9 s). Casting the sorted set, not the raw
    * hash array, boxes fewer elements (1.4 s vs 2.2 s). */
  def shingleHashSet(text: Column, k: Int = Config.K): Column =
    sort_array(array_distinct(shingleHashArray(text, k))).cast("array<int>")

  /** Exact Jaccard |A∩B| / (|A|+|B|-|A∩B|) of two sorted distinct
    * sets — two [[shingleHashSet]]s, or two sorted long arrays: the
    * intersection is one merge scan, the union size follows from it —
    * the same integers as array_intersect/array_union, no hash set or
    * output array per pair. */
  def jaccard(a: Column, b: Column): Column =
    jaccardOf(PortableHash.sortedIntersectCount(a, b), a, b)

  /** [[jaccard]] of `a` and `b` from their intersect count `inter`. */
  def jaccardOf(inter: Column, a: Column, b: Column): Column =
    inter.cast("double") / (size(a) + size(b) - inter)

  /** (doc_id, shingle) — one row per window, duplicates kept
    * (positional stream; dedup happens in set-level consumers).
    * Mirrors reference Job 1 map output (Shingling.java:40). */
  def shingles(docs: DataFrame, k: Int = Config.K): DataFrame =
    docs.select(col("doc_id"),
      explode(shingleArray(col("text"), k)).as("shingle"))

  /** Inverted index: shingle -> sorted distinct doc ids, as a CSV
    * string for engine-neutral comparison. Reference Job 1 reduce
    * (Shingling.java:56-65) — with intended set semantics (fixes
    * SURVEY.md Q11 duplicate offsets).
    * Map-side partial agg replaces the reference's combiner
    * (Shingling.java:45-54) automatically. */
  def shingleDict(docs: DataFrame, k: Int = Config.K): DataFrame =
    // within-doc duplicate windows are dropped BEFORE the explode
    // (array_distinct is a narrow per-row op), so the shuffle carries
    // only distinct (doc_id, shingle) rows — repetitive documents
    // don't inflate the exchange. n_docs derives from the collected
    // set, avoiding a second (distinct-tagged) aggregate pass.
    docs.select(col("doc_id"),
        explode(array_distinct(shingleArray(col("text"), k))).as("shingle"))
      .groupBy("shingle")
      .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
      .select(col("shingle"), array_join(col("ids"), ",").as("doc_ids"),
        size(col("ids")).cast("long").as("n_docs"))

  /** Per-doc distinct shingle set (for exact Jaccard verification). */
  def shingleSets(docs: DataFrame, k: Int = Config.K): DataFrame =
    shingles(docs, k)
      .groupBy("doc_id")
      .agg(collect_set(col("shingle")).as("shingle_set"))
}
