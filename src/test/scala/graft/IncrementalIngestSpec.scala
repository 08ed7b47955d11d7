package graft

import graft.operators.{IncrementalIngest, MinHashLsh}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.Files

class IncrementalIngestSpec extends SparkSpec {

  private val a = "the quick brown fox jumps over the lazy dog again and again"
  private val b = "a completely different sentence about distributed query engines"
  private val c = "yet another unrelated document concerning parquet column pruning"

  test("filterBatch drops corpus near-dups and within-batch dups, keeps novel docs") {
    val corpus = docsDf(1L -> a, 2L -> b)
    val corpusBands = MinHashLsh.bands(corpus)
    // batch: near-dup of corpus doc 1, a novel doc, and an exact dup
    // of that novel doc (within-batch pair -> min id 11 survives)
    val batch = docsDf(10L -> a, 11L -> c, 12L -> c)
    val kept = IncrementalIngest.filterBatch(batch, corpusBands, corpus)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L))
  }

  test("filterBatch with empty corpus keeps all non-duplicate batch docs") {
    val empty = docsDf()
    val kept = IncrementalIngest.filterBatch(
        docsDf(1L -> a, 2L -> b), MinHashLsh.bands(empty), empty)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
  }

  test("frontierId on an empty corpus: the incremental queries return no rows") {
    val dir = Files.createTempDirectory("graft-ingest-empty").toString
    spark.read.parquet(s"$Sf0001/documents.parquet").limit(0)
      .write.parquet(s"$dir/documents.parquet")
    assert(IncrementalIngest.frontierId(spark.read.parquet(s"$dir/documents.parquet")) == 0L)
    for (q <- Seq("ingest_filter", "incremental_pairs"))
      assert(SparkEntry.queries(q)(spark, dir).count() == 0L, q)
  }

  private def ingest(dir: String, batchId: Long, rows: (Long, String)*): Unit =
    IncrementalIngest.ingestBatch(docsDf(rows: _*), batchId, s"$dir/corpus", s"$dir/index")

  private def partition(dir: String, store: String, batchId: Long) =
    spark.read.parquet(s"$dir/$store").filter(col("ingest_batch") === batchId)
      .drop("ingest_batch")

  private def docIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  private def rowMultiset(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("doc_id", "band", "band_key").collect().map(_.toString).sorted.toSeq

  test("ingestBatch indexes exactly the bands of the docs it keeps") {
    val dir = Files.createTempDirectory("graft-ingest-index").toString
    ingest(dir, 0L, 1L -> a, 2L -> b)
    // corpus near-dup (10), novel doc (11), within-batch dup of it (12)
    ingest(dir, 1L, 10L -> a, 11L -> c, 12L -> c)
    val kept = partition(dir, "corpus", 1L)
    assert(docIds(kept) == Set(11L))
    assert(rowMultiset(partition(dir, "index", 1L)) == rowMultiset(MinHashLsh.bands(kept)))
  }

  test("ingestBatch with zero candidates keeps and indexes every doc") {
    val dir = Files.createTempDirectory("graft-ingest-nocand").toString
    ingest(dir, 0L, 1L -> a, 2L -> b)
    val batch = docsDf(10L -> c)
    assert(MinHashLsh.incrementalCandidates(partition(dir, "index", 0L), batch).isEmpty)
    ingest(dir, 1L, 10L -> c)
    val corpus = spark.read.parquet(s"$dir/corpus")
    assert(docIds(corpus) == Set(1L, 2L, 10L))
    val index = spark.read.parquet(s"$dir/index")
    assert(rowMultiset(index) == rowMultiset(MinHashLsh.bands(corpus)))
  }

  test("ingestBatch plans: no runtime bloom filter, the left-anti is a broadcast join") {
    val dir = Files.createTempDirectory("graft-ingest-plans").toString
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val store = s"$dir/store"
    IncrementalIngest.ingestBatch(docs.filter(col("doc_id") < 400), 0L,
      s"$store/corpus", s"$store/index")
    // the later docs plus an exact copy of a corpus doc: the probe
    // finds candidates and the verify drops at least one doc
    val copy = docs.filter(col("doc_id") === 0).withColumn("doc_id", lit(100000L))
    val arriving = docs.filter(col("doc_id") >= 400).unionByName(copy)
    // RDD-backed, as foreachBatch delivers a micro-batch: a frame with
    // no size statistics, which is what lets the runtime-filter rule
    // take the candidate frames derived from it for a huge join side
    val batch = spark.createDataFrame(arriving.rdd, arriving.schema)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      IncrementalIngest.ingestBatch(batch, 1L, s"$store/corpus", s"$store/index")
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val kept = docIds(partition(store, "corpus", 1L))
    assert(kept.nonEmpty && !kept.contains(100000L))
    import scala.jdk.CollectionConverters._
    val lines = plans.asScala.toSeq.flatMap(_.split("\n"))
    assert(!lines.exists(_.contains("bloom_filter_agg")), "runtime bloom filter planned")
    val antis = lines.filter(_.contains("LeftAnti"))
    assert(antis.nonEmpty && antis.forall(_.contains("BroadcastHashJoin")), antis.mkString("\n"))
  }

  test("streaming ingest loop: second batch deduped against the first's persisted state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = Files.createTempDirectory("graft-ingest").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().select($"_1".as("doc_id"), $"_2".as("text"))
    val q = IncrementalIngest.ingestDedupStream(
      docs, s"$dir/corpus", s"$dir/index", s"$dir/ckpt")
    try {
      input.addData((1L, a), (2L, b))
      q.processAllAvailable()
      // batch 2: dup of persisted doc 1 + a novel doc
      input.addData((10L, a), (11L, c))
      q.processAllAvailable()
      val corpus = s.read.parquet(s"$dir/corpus").collect()
        .map(_.getLong(0)).toSet
      assert(corpus == Set(1L, 2L, 11L))
      // the index grew in lockstep: Bands rows per surviving doc
      val index = s.read.parquet(s"$dir/index")
      assert(index.select("doc_id").distinct().collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 11L))
      assert(index.count() == 3L * Config.Bands)
    } finally q.stop()
  }

  test("crash replay: partial write between the two store writes converges on restart") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-ingest-crash").toString
    def batchDf(rows: (Long, String)*) =
      rows.toDF("doc_id", "text")
    // clean reference run: two batches straight through
    IncrementalIngest.ingestBatch(batchDf(1L -> a, 2L -> b), 0L,
      s"$dir/ref/corpus", s"$dir/ref/index")
    IncrementalIngest.ingestBatch(batchDf(10L -> a, 11L -> c), 1L,
      s"$dir/ref/corpus", s"$dir/ref/index")
    // crashing run: batch 1's corpus partition lands but the process
    // dies BEFORE the index write (simulated by deleting the index
    // partition the run would have written) — then the engine
    // re-delivers batch 1 after restart
    IncrementalIngest.ingestBatch(batchDf(1L -> a, 2L -> b), 0L,
      s"$dir/crash/corpus", s"$dir/crash/index")
    IncrementalIngest.ingestBatch(batchDf(10L -> a, 11L -> c), 1L,
      s"$dir/crash/corpus", s"$dir/crash/index")
    val lostPartition = new java.io.File(s"$dir/crash/index/ingest_batch=1")
    assert(lostPartition.exists())
    lostPartition.listFiles().foreach(_.delete())
    assert(lostPartition.delete())
    IncrementalIngest.ingestBatch(batchDf(10L -> a, 11L -> c), 1L,
      s"$dir/crash/corpus", s"$dir/crash/index") // the replay
    // bit-identical stores vs the clean run
    def dump(path: String): Seq[String] =
      s.read.parquet(path).collect().map(_.toString).sorted.toSeq
    assert(dump(s"$dir/crash/corpus") == dump(s"$dir/ref/corpus"))
    assert(dump(s"$dir/crash/index") == dump(s"$dir/ref/index"))
  }

  test("readOr surfaces non-path analysis errors instead of re-ingesting everything") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-ingest-badstore").toString
    // a "corpus" store that exists but is NOT parquet: the read fails
    // with an analysis error that must propagate, not read as empty
    Files.createDirectory(java.nio.file.Paths.get(s"$dir/corpus"))
    Files.writeString(java.nio.file.Paths.get(s"$dir/corpus/garbage.txt"), "not parquet")
    val e = intercept[Exception] {
      IncrementalIngest.ingestBatch(Seq(1L -> a).toDF("doc_id", "text"), 0L,
        s"$dir/corpus", s"$dir/index")
    }
    assert(!e.isInstanceOf[java.util.NoSuchElementException],
      s"store corruption must not be silently treated as an empty corpus: $e")
  }

  test("ingest replay is idempotent: re-running a batch overwrites, never duplicates") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = Files.createTempDirectory("graft-ingest-replay").toString
    def runOnce(ckpt: String): Unit = {
      val input = MemoryStream[(Long, String)]
      val docs = input.toDF().select($"_1".as("doc_id"), $"_2".as("text"))
      val q = IncrementalIngest.ingestDedupStream(
        docs, s"$dir/corpus", s"$dir/index", ckpt)
      try {
        input.addData((1L, a), (2L, b), (3L, a)) // 3 is a within-batch dup of 1
        q.processAllAvailable()
      } finally q.stop()
    }
    runOnce(s"$dir/ckpt1")
    // fresh checkpoint = the engine re-delivers the SAME data as
    // batch 0 against stores that already hold batch 0's partial (here:
    // complete) writes — exactly the at-least-once replay shape
    runOnce(s"$dir/ckpt2")
    val corpus = s.read.parquet(s"$dir/corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(corpus.sorted == Seq(1L, 2L)) // no duplicates from the replay
    val index = s.read.parquet(s"$dir/index")
    assert(index.count() == 2L * Config.Bands)
  }

  test("mergeSchema unifies landing batches across a schema evolution") {
    import org.apache.spark.sql.functions._
    val merged = IncrementalIngest.evolvedIngestStats(spark, Sf0001)
    // pre-evolution rows surface as the null-filled bucket; both eras
    // are present and nothing is dropped by the schema difference
    val total = merged.agg(sum("n_docs")).head().getLong(0)
    assert(total == spark.read.parquet(s"$Sf0001/documents.parquet").count())
    assert(merged.filter(col("lang_merged") === "pre_evolution").count() == 1)
    assert(merged.filter(col("lang_merged") =!= "pre_evolution").count() >= 2,
      "post-evolution rows must keep their real lang values")
  }
}
