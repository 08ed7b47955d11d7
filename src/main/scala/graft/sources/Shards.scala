package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Sampling

/** Balanced training-shard WRITER — [[graft.operators.Sampling
  * .shardAssign]] made physical. The assignment alone is a column;
  * a dataloader consumes files, so this writes the corpus as one
  * directory per shard (`shard=N/`, the Hive layout every reader
  * understands), each holding ~equal token mass by construction.
  * The write clusters by shard first (repartition on the partition
  * column), so each shard directory is one file, not one fragment
  * per upstream task — at 100 TB this is what keeps the shard count
  * equal to the file count instead of multiplying by the task count
  * (the small-files problem [[Compaction]] exists to undo).
  *
  * The registered query reads the sharded table BACK and re-emits
  * the assignment columns — sink→source identity through the layout
  * (the csv_roundtrip discipline), so the same oracle as
  * shard_assign replays it: a layout must never change the rows.
  */
object Shards {


  /** Write the shard-partitioned corpus once per SOURCE STATE, through
    * a [[Snapshots]] versioned commit: atomic publish (a reader never
    * sees a half-written shard layout) and fingerprint-keyed reuse (a
    * regenerated documents.parquet at the same path rebuilds instead
    * of serving stale shards — the r7 stale-marker advice). The write
    * is part of the measured operator. Returns the table root. */
  def ensureShardedTable(spark: SparkSession, dir: String): String = {
    val src = s"$dir/documents.parquet"
    Snapshots.ensure(spark,
      Snapshots.scratchDir("shards", dir),
      Snapshots.fingerprint(spark, src)) { path =>
      val docs = spark.read.parquet(src)
      Sampling.shardAssign(docs)
        .repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(path)
    }
  }

  /** The assignment read back through the sharded layout. Column
    * order restored (partitionBy moves `shard` last; the driver's
    * compare sorts columns by name, but the spec also asserts the
    * exact schema). `shard` comes back as the partition column —
    * cast to long to keep the pre-layout schema. */
  def shardedRoundTrip(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(ensureShardedTable(spark, dir))
      .select(col("doc_id"), col("n_tokens"), col("tokens_before"),
        col("shard").cast("long").as("shard"))

  /** A dataloader's actual access pattern: ONE shard read through
    * the layout. `shard` is a partition column, so the filter
    * becomes a PartitionFilter (asserted in SamplingSpec) and only
    * that shard's directory is ever listed or opened — at 100 TB a
    * worker touches its own shard's bytes and nothing else. Oracle:
    * shard 0 is exactly the docs whose running token offset sits
    * below one budget in the global hash order. */
  def shardRead(spark: SparkSession, dir: String, shard: Long = 0L): DataFrame =
    spark.read.parquet(ensureShardedTable(spark, dir))
      .filter(col("shard") === shard)
      .select(col("doc_id"), col("n_tokens"), col("tokens_before"),
        col("shard").cast("long").as("shard"))
}
