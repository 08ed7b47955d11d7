package graft.operators

import graft.Caches.CheckpointSyntax
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Config
import graft.functions.PortableHash

/** Embedding-cosine near-duplicate detection over documents.
  *
  * Pipeline: feature-hashed shingle embedding (the classic hashing
  * trick: distinct shingle hashes scattered into a Dim-dim signed
  * integer vector) → multi-table random-hyperplane LSH candidate
  * generation → exact integer-cosine verification ≥ CosThreshold →
  * keep-min-id dedup. The embedding-space analog of the MinHash/LSH
  * chain (reference MinHashLSH.java:87-143 is the set-space analog);
  * all arithmetic is int64 + one final sqrt/divide, so the DuckDB
  * oracle replays it bit-for-bit.
  *
  * Calibration (sf0.001): all J≥0.8 minhash pairs have cosine ≥
  * 0.941; background p99 ≈ 0.82 — τ=0.9 catches every true pair plus
  * the borderline band. 4 tables × 8 planes co-buckets 27/28 true
  * pairs (OR-amplified sign-LSH; recall is the tunable, as in any
  * ANN dedup).
  *
  * Scale design (100 TB): the embedding is one hash-agg (64
  * conditional integer sums — map-side partial, same shape as the
  * minhash agg); candidates come from equi-joins on (table, bucket),
  * never an all-pairs compare (the shared LSH bucket self-join,
  * MinHashLsh.bandPairs); the 64-dim dense vectors (~0.5 KB) join
  * back only to the candidate pairs.
  */
object DocEmbedding {
  /** Embedding dimension (hashing-trick target). */
  val Dim = 64
  /** OR-amplified LSH: candidate if co-bucketed in ANY table. */
  val Tables = 4
  /** Hyperplanes per table (bucket = 8-bit sign pattern). */
  val Planes = 8
  /** Verified-cosine dedup threshold. */
  val CosThreshold = 0.9

  private def vecCol(j: Int): String = f"v_$j%02d"

  /** Fused long-array dot (exact int64; VecDotExpression.scala). */
  private def dotL(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.{Bridge, VecDot}
    Bridge.column(VecDot(Bridge.expression(a), Bridge.expression(b)))
  }

  /** Deterministic ±1 hyperplane signs for global plane p, component
    * i ∈ [1,Dim] — the same ((i*131 + p*37) % 97) % 2 family the
    * oracle replays, materialized as a LITERAL vector so the plane
    * dot is one fused native loop instead of Dim interpreted
    * lambda steps per row. */
  private def planeSigns(plane: Int): Column =
    typedLit((1 to Dim).map(i =>
      if (((i * 131 + plane * 37) % 97) % 2 == 0) 1L else -1L))

  /** (doc_id, v_00..v_63, n2): signed hashing-trick vector over the
    * doc's DISTINCT shingle hashes + its squared L2 norm.
    *
    * NARROW (no shuffle): a document is one row, so the histogram is
    * a per-row pass — ShingleHashes → array_distinct →
    * FeatureHashVec, all fused expressions. (The earlier
    * collect_set-shuffle + 64 interpreted array-sum formulation was
    * the embed chain's dominant cost at sf0.1.) */
  def featureEmbed(docs: DataFrame, k: Int = Config.K): DataFrame = {
    import org.apache.spark.sql.graft.{Bridge, FeatureHashVec}
    val harr = array_distinct(Shingling.shingleHashArray(col("text"), k))
    val vec = Bridge.column(FeatureHashVec(Bridge.expression(harr), Dim))
    val withCols = docs.filter(length(col("text")) >= 1)
      .select(col("doc_id") +: (0 until Dim).map(j =>
        element_at(vec, j + 1).as(vecCol(j))): _*)
    val n2 = (0 until Dim).map(j => col(vecCol(j)) * col(vecCol(j))).reduce(_ + _)
    withCols.withColumn("n2", n2)
  }

  /** Embedding frame with the dense vector as one array column. */
  private def withVec(emb: DataFrame): DataFrame =
    emb.select(col("doc_id"),
      array((0 until Dim).map(j => col(vecCol(j))): _*).as("vec"),
      sqrt(col("n2").cast("double")).as("nrm"))

  /** (doc_id, tbl, bucket) — one row per LSH table; bucket is the
    * Planes-bit sign pattern of the table's hyperplane dots. */
  def embedBuckets(emb: DataFrame): DataFrame = {
    val v = withVec(emb)
    val tableStructs = (0 until Tables).map { t =>
      val dots = (0 until Planes).map { j =>
        dotL(col("vec"), planeSigns(t * Planes + j))
      }
      val bucket = dots.zipWithIndex.map { case (d, j) =>
        when(d > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), bucket.as("bucket"))
    }
    v.select(col("doc_id"), explode(array(tableStructs: _*)).as("tb"))
      .select(col("doc_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
  }

  /** Verified near-dup pairs: candidates from the bucket self-join
    * (distinct across tables), exact cosine ≥ threshold.
    * Output: id_l, id_r, cosine. */
  def dedupPairs(docs: DataFrame, k: Int = Config.K,
                 threshold: Double = CosThreshold): DataFrame = {
    val emb = featureEmbed(docs, k).graftCheckpoint()
    val b = embedBuckets(emb)
    // raw pair stream (a pair repeats once per co-bucketed table,
    // <= Tables times): cheaper to re-verify duplicates with the
    // native dot than to pay a DISTINCT shuffle over millions of
    // candidates — dedup runs on the tiny verified output instead
    val cand = MinHashLsh.bandPairs(b, b, col("id_l") < col("id_r"),
        keys = Seq("tbl", "bucket"))
      .select("id_l", "id_r")
    val v = withVec(emb)
    val dot = dotL(col("l.vec"), col("r.vec"))
    cand
      .join(v.as("l"), col("id_l") === col("l.doc_id"))
      .join(v.as("r"), col("id_r") === col("r.doc_id"))
      .withColumn("cosine", dot.cast("double") / (col("l.nrm") * col("r.nrm")))
      .filter(col("cosine") >= threshold)
      .select("id_l", "id_r", "cosine")
      .dropDuplicates("id_l", "id_r")
  }

  /** Docs surviving embedding-cosine dedup: drop any doc with a
    * verified cosine-similar partner of smaller doc_id (same greedy
    * keep-min-id semantics as Dedup.nearDupKeep). */
  def dedupKeep(docs: DataFrame, k: Int = Config.K,
                threshold: Double = CosThreshold): DataFrame = {
    val dupIds = dedupPairs(docs, k, threshold).select(col("id_r").as("doc_id"))
    docs.select("doc_id").join(dupIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("kept_id"))
  }
}
