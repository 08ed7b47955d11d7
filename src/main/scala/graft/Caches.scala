package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** Session cache hygiene. Several operators materialize internal
  * frames with `localCheckpoint` (consumed by multiple joins in one
  * query); those blocks stay pinned in executor storage memory for
  * the session's lifetime unless released. A long-lived session that
  * runs many queries — a benchmark loop, a notebook, a query service
  * — must release them between queries or execution memory shrinks
  * until unrelated queries spill (measured: a 93-query loop slowed
  * 2.8× across the board before Bench/Verify adopted this).
  *
  * Operators route their checkpoints through [[checkpoint]], which
  * records the persisted RDD ids it creates; [[releaseAll]] then
  * frees ONLY those — a frame the caller cached deliberately
  * (`df.cache()`, a user's own `localCheckpoint`) survives.
  */
object Caches {

  // ids of persistent RDDs created by graft operators' checkpoint()
  private val graftIds = scala.collection.mutable.Set.empty[Int]

  /** `ds.localCheckpoint()` + registration: the persisted blocks this
    * call creates are tracked so releaseAll can free them without
    * touching caller-owned caches. Attribution is EXACT (r14): the
    * registered id is read off the returned frame's own LogicalRDD
    * (Bridge.checkpointRddId), so concurrent checkpoints — and
    * concurrent PINNED cache builds ([[pinnedCheckpoint]]) — can
    * never be mis-captured into the release set, and no lock is held
    * while the eager materialization job runs (operators now overlap
    * independent job chains; the r13 before/after-diff form
    * serialized them and, worse, could claim another thread's pinned
    * blocks for release). */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] = {
    val cp = ds.localCheckpoint()
    register(cp)
    cp
  }

  /** LAZY [[checkpoint]]: marks the frame for local checkpointing but
    * runs NO job — the caller's next action over the returned frame
    * materializes the blocks AND truncates lineage in that one job.
    * This is how an iterative operator folds its convergence probe
    * into the update pass (one job per iteration instead of
    * checkpoint-then-probe). Registered for releaseAll like the eager
    * form (localCheckpoint persists at mark time). */
  def checkpointLazy[T](ds: Dataset[T]): Dataset[T] = {
    val cp = ds.localCheckpoint(eager = false)
    register(cp)
    cp
  }

  private def register(cp: Dataset[_]): Unit =
    org.apache.spark.sql.graft.Bridge.checkpointRddId(cp) match {
      case Some(id) => synchronized { graftIds += id }
      case None => throw new IllegalStateException(
        "localCheckpoint did not yield a LogicalRDD — checkpoint " +
          "registration would leak its blocks past releaseAll")
    }

  /** Memory + disk bytes of checkpoint `cp`'s stored blocks — the
    * MEASURED size of a materialized frame, where a plan estimate of
    * it can be off by the corpus payload's expansion (see
    * MinHashLsh.PayloadExpansion). A driver-side read of block-manager
    * status: runs no job. A released checkpoint reads 0, so a decision
    * made on it never rests on stale blocks. Throws on a frame that is
    * not a checkpoint: it has no stored blocks to measure. */
  def storedBytes(cp: Dataset[_]): Long = {
    import org.apache.spark.sql.graft.Bridge
    val id = Bridge.checkpointRddId(cp).getOrElse(throw new IllegalArgumentException(
      "storedBytes needs a graft checkpoint (its plan must be a LogicalRDD), got a " +
        cp.queryExecution.logical.nodeName + " plan"))
    Bridge.rddStoredBytes(id)
  }

  /** PINNED local checkpoint for session caches (AnnRecall's exact
    * baselines): same materialization, but the ids are returned to
    * the CALLER (who owns eviction) instead of entering the
    * releaseAll registry — the frame must survive between-queries
    * release. Exact attribution, same as [[checkpoint]]. */
  private[graft] def pinnedCheckpoint[T](ds: Dataset[T]): (Dataset[T], Set[Int]) = {
    val cp = ds.localCheckpoint()
    val id = org.apache.spark.sql.graft.Bridge.checkpointRddId(cp).getOrElse(
      throw new IllegalStateException(
        "localCheckpoint did not yield a LogicalRDD — pinned blocks " +
          "would be unevictable"))
    (cp, Set(id))
  }

  /** Unpersist every graft-created checkpoint block and forget the
    * registry. Safe after a query's results are consumed: graft
    * checkpoints are query-internal, never shared across queries.
    * NOTE a DataFrame previously RETURNED by a graft operator may
    * hold one of these checkpoints in its lineage — re-collecting it
    * after release throws (localCheckpoint truncates lineage, so the
    * blocks are unrecoverable); release between queries, not between
    * uses of one result.
    *
    * BLOCKING (r13): the async form let tens of GB of stale blocks
    * linger in the unified memory pool between queries at scale
    * corpora; the NEXT query's memory acquisitions then paid a
    * single-threaded eviction storm inside the memory manager
    * (observed: a broadcast hash-relation build pinning one core for
    * minutes while 31 executors idled — dedup_keep_best 692 s chained
    * vs 26 s solo at 250k docs, identical shuffle/peak-mem bytes).
    * Waiting for removal here costs the RELEASING query milliseconds
    * and buys the next query a clean pool. */
  def releaseAll(spark: SparkSession): Unit = synchronized {
    val persisted = spark.sparkContext.getPersistentRDDs
    graftIds.foreach(id => persisted.get(id).foreach(_.unpersist(blocking = true)))
    graftIds.clear()
    reclaimBroadcasts(spark.sparkContext)
  }

  /** Broadcast residue above this total is worth a full GC at release
    * time; below it, releaseAll's broadcast pass is a single (cheap)
    * block-manager scan. 256 MB: at sf0.1 a whole query's broadcasts
    * are a few MB — the pass stays free; at scale corpora one
    * estimate-trap relation alone exceeds it. */
  private val ReclaimThresholdBytes: Long = 256L * 1024 * 1024

  /** Between-query broadcast hygiene (r13 scale diagnosis, layer 2).
    *
    * SQL broadcast relations are registered with ContextCleaner via
    * weak references: their blocks leave the unified pool only after
    * a GC proves the driver-side Broadcast object unreachable. A
    * chained run (bench loop, notebook, query service) therefore
    * accumulates every prior query's broadcast blocks until the pool
    * fills, and the NEXT query's broadcast build then pays a
    * single-threaded eviction storm inside the memory manager
    * (measured at 250k docs: dedup_keep_best 692 s chained vs 26 s
    * solo, one broadcast-exchange thread RUNNABLE 180 s+ while 31/32
    * cores parked). The fix keeps the cleaner's safety contract —
    * only UNREFERENCED broadcasts die (a session-cached model holding
    * a live Broadcast keeps its blocks) — but stops waiting for an
    * organic GC that a 96 GB heap may not run for minutes: when
    * residue exceeds [[ReclaimThresholdBytes]], trigger the GC
    * ourselves and wait (bounded) for the cleaner to drain, so the
    * next query starts against a clean pool.
    *
    * Returns (blocks before, blocks after). No-ops below threshold
    * and honors a hard deadline — with `-XX:+DisableExplicitGC` this
    * degrades to the pre-r14 behavior (residue waits for an organic
    * GC), never worse. */
  private[graft] def reclaimBroadcasts(sc: org.apache.spark.SparkContext,
                                       minBytes: Long = ReclaimThresholdBytes,
                                       timeoutMs: Long = 5000): (Int, Int) = {
    import org.apache.spark.sql.graft.Bridge
    val (count0, bytes0) = Bridge.broadcastBlockStats(sc)
    if (bytes0 < minBytes || count0 == 0) return (count0, count0)
    System.gc()
    val deadline = System.currentTimeMillis + timeoutMs
    var cur = count0
    var curBytes = bytes0
    var lastChange = System.currentTimeMillis
    var gcs = 1
    // quiesce: stop when the store is (near-)empty, stable for 600 ms,
    // or the deadline passes — the cleaner thread removes blocks one
    // broadcast at a time, so progress shows up incrementally
    while (System.currentTimeMillis < deadline && curBytes >= minBytes
           && System.currentTimeMillis - lastChange < 600) {
      Thread.sleep(50)
      val (n, b) = Bridge.broadcastBlockStats(sc)
      if (n != cur || b != curBytes) { cur = n; curBytes = b; lastChange = System.currentTimeMillis }
      else if (gcs < 2 && System.currentTimeMillis - lastChange > 250) {
        // one retry: the first gc can race the cleaner's registration
        // of the final reference-queue batch
        System.gc(); gcs += 1
      }
    }
    (count0, cur)
  }

  /** `.graftCheckpoint()` syntax for [[checkpoint]] /
    * [[checkpointLazy]]. */
  implicit class CheckpointSyntax[T](private val ds: Dataset[T]) extends AnyVal {
    def graftCheckpoint(): Dataset[T] = Caches.checkpoint(ds)
    def graftCheckpointLazy(): Dataset[T] = Caches.checkpointLazy(ds)
  }

  /** Session discriminator for caches that hold DATAFRAMES (r11
    * advice): a DataFrame is bound to the SparkSession that built it,
    * so a JVM-global cache keyed only by plan+data signature would
    * serve a second session in the same JVM frames bound to the old —
    * possibly stopped — context. Keys of frame-holding caches
    * (EmbeddingSim.scoredCache, AnnRecall.exactCache) include this;
    * MODEL caches (the IVF quantizer, the CountVectorizer vocabulary)
    * deliberately do not — models are plain serializable objects,
    * valid across sessions. (SparkSession.sessionUUID is private[sql];
    * applicationId discriminates contexts — the stopped-context
    * hazard — and the identity hash discriminates sibling sessions
    * sharing one live context.) */
  private[graft] def sessionTag(ds: Dataset[_]): String = {
    val s = ds.sparkSession
    s"${s.sparkContext.applicationId}@${System.identityHashCode(s)}"
  }

  /** Cache key that CHANGES WITH THE DATA, not just the plan: the
    * canonicalized plan plus every input file's (path, length,
    * mod-time). Rewriting parquet at the same path therefore misses
    * a model cache and refits instead of silently serving stale
    * state; a non-file input (in-memory frame) degrades to the plan
    * string alone. Shared by the session-scoped fit-once/serve-many
    * model caches (EmbeddingSim's IVF quantizer, MlMinHash's
    * vectorizer vocabulary). */
  private[graft] def dataSignature(df: Dataset[_]): String = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val files = df.inputFiles.sorted.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      s"$f:${st.getLen}:${st.getModificationTime}"
    }
    df.queryExecution.analyzed.canonicalized.toString + files.mkString("|", ";", "")
  }
}
