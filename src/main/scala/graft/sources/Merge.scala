package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row-level MERGE (upsert + delete) on a snapshot-maintained table,
  * executed COPY-ON-WRITE: only the files whose key interval contains
  * a change key are rewritten; every other file is carried into the
  * new version BY REFERENCE through the manifest's root-relative file
  * list ([[Snapshots.commit]]'s `carry`). This is the capability gap
  * between "rebuild the table" and a continuously-maintained corpus:
  * at 100 TB a CDC batch touches a sliver of the key space, and the
  * Delta/Iceberg answer — rewrite O(touched files), publish with one
  * atomic manifest rename — is the only shape whose cost tracks the
  * batch, not the table. The reference (flat files, whole-job
  * rewrites, `fs.delete` then write — Shingling.java:97-100) has no
  * row-level maintenance at all; [[graft.operators.ChangeData]] holds
  * the COMPUTATIONAL merge (latest-wins over a change log), while
  * this is the STORAGE merge that applies such a batch in place.
  *
  * KEYS (r9): any column set works. A single integral key keeps its
  * natural order (range-pruning-friendly intervals); composite or
  * string keys are canonicalized to a 64-bit hash (`xxhash64` over
  * string-casts, so an int-typed batch matches a long-typed table),
  * and the rewrite range-sorts by that hash so files still carry
  * tight DISJOINT intervals — over the hash domain instead of the
  * key domain. Interval + bloom pruning runs on the canonical key
  * (a hash collision costs a redundant rewrite, never correctness);
  * the delete-and-replace anti-joins run on the REAL key columns, so
  * row identity is exact. Null keys are never merge targets (the CDC
  * contract); null-keyed rows ride along as carried data.
  *
  * SCALE (r9): no key set is ever materialized on the driver. The
  * batch's keys probe the manifest's per-file [min,max]+bloom catalog
  * EXECUTOR-side (the catalog is broadcast — file-count-sized, the
  * thing a driver legitimately holds) and only the touched file
  * indices come back; the delete-and-replace is an anti-join against
  * the batch frame; and the merge-on-read deletion list lives in a
  * parquet SIDECAR inside the version dir (`deletes/`), applied as an
  * anti-join at read — a 10⁸-key GDPR batch flows through the same
  * plan shapes as a 10-key fix-up.
  *
  * SCHEMA EVOLUTION (r9): an upsert batch may carry columns the table
  * lacks (and vice versa) — the rewrite unions by name with null
  * fill, and the commit records the widened schema in the manifest
  * (`#schema`), which readers apply so CARRIED files null-fill added
  * columns without being rewritten (the Delta log-schema pattern;
  * `mergeSchema` would re-read every footer instead).
  *
  * Rewritten rows land range-sorted by the canonical key so the NEW
  * files carry tight disjoint intervals of their own (the
  * [[Compaction]] discipline), and the commit records their stats +
  * blooms next to the carried ones — the table stays
  * skipping-plannable across any number of merges. Crash/concurrency
  * story is [[Snapshots]]': a killed merge leaves an unreferenced
  * staging dir, never a partial table; a merge that loses a
  * cross-process publish race fails with [[Snapshots.CommitConflict]]
  * (its content depends on the parent file list — the caller
  * re-reads and re-merges); readers of prior versions keep intact
  * files until [[Snapshots.expire]].
  */
object Merge {

  val UpsertOp = "upsert"
  val DeleteOp = "delete"

  /** Bumped whenever the registered change-batch semantics change, so
    * fingerprint-cached chains from an older design rebuild. (b3:
    * sidecar deletion lists + schema extras + canonical-key layout.) */
  private val BatchFormat = "b3"

  private val DeletesKey = "deletes"
  private val DeletesDir = "deletes"
  private val SchemaKey = "schema"
  private val KeyColsKey = "keycols"
  private val ChangesKey = "changes"
  private val ChangesDir = "changes"
  /** [[ChangesKey]] sentinel for a commit that provably changed no
    * rows (OPTIMIZE, an empty batch): the feed reads it as an empty
    * log without computing a diff — which also keeps [[changeFeed]]
    * resolvable across an OPTIMIZE, whose retention sweep expires
    * the parent version the computed fallback would need. */
  private val NoChanges = "-"

  /** When `spark.graft.merge.changeFeed` is true, every merge-family
    * commit LOGS its row-level changes (the [[rowDiff]] shape plus a
    * `_commit_version` column) as a parquet sidecar inside the
    * version dir — Delta's `_change_data` idea. [[changeFeed]] then
    * serves per-commit changes from the log where present and falls
    * back to the computed [[changesBetween]] where not; the log makes
    * the feed O(changed rows) to read instead of O(touched files) to
    * recompute, which is what a downstream incremental consumer polls
    * every few minutes at 100 TB. */
  private def changeFeedEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.merge.changeFeed").exists(_.toBoolean)

  // ---- canonical merge key ------------------------------------------

  /** True when the key keeps its natural long order (range pruning on
    * the real key domain); else the canonical key is a 64-bit hash. */
  private def naturalLong(schema: StructType, keyCols: Seq[String]): Boolean =
    keyCols.size == 1 && (schema(keyCols.head).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })

  /** The canonical 64-bit pruning/layout key. String-casts before
    * hashing make the canonicalization TYPE-STABLE: an int-keyed
    * batch and a long-keyed table agree, where hashing raw physical
    * types would not. */
  private[sources] def canonicalCol(schema: StructType, keyCols: Seq[String]): Column =
    if (naturalLong(schema, keyCols)) col(keyCols.head).cast("long")
    else xxhash64(keyCols.map(c => col(c).cast("string")): _*)

  // ---- commit-time stats --------------------------------------------

  /** The immediate (non-hidden) data files of a version/staging dir —
    * listed through the Hadoop API, NOT a datasource dir-read, so the
    * `deletes/` sidecar subdir never pollutes stats or reads. */
  private def topLevelFiles(spark: SparkSession, path: String): Seq[String] = {
    val f = Snapshots.fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).iterator
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith(".") && !n.startsWith("_")
      })
      .map(_.getPath.toString).toSeq
  }

  /** Per-file interval + row count + [[KeyBloom]] for a freshly
    * written data dir, in ONE executor-side columnar pass over only
    * the files this commit wrote (the commit-time investment that
    * buys catalog-only pruning on every later merge; carried files
    * keep their recorded stats verbatim — an immutable file's stats
    * never drift). Works for any key shape via the canonical key; a
    * zero-row file records the empty sentinel (intersects nothing,
    * keeps the table schema-bearing); a file whose keys are all null
    * records the conservative full span. */
  def statsWithBlooms(spark: SparkSession, path: String,
                      keyCols: Seq[String] = Seq("doc_id")): Seq[Snapshots.FileStat] = {
    val files = topLevelFiles(spark, path)
    if (files.isEmpty) return Seq.empty
    val df = spark.read.parquet(files: _*)
    val k = canonicalCol(df.schema, keyCols)
    // pass 1 — intervals + row counts, which also SIZE the blooms
    // (~10 bits per key of the largest file, [[KeyBloom.bitsFor]]).
    // Natural keys read them from the parquet FOOTERS the write just
    // produced (metadata cost only — the sentinel conventions for
    // empty and all-null files live there); hashed canonical keys
    // have no physical column, so they pay one columnar pass over
    // just the key columns.
    val bare: Seq[Snapshots.FileStat] =
      if (naturalLong(df.schema, keyCols))
        Compaction.footerStatsFor(spark, files, keyCols.head)
      else {
        val agg = df.groupBy(input_file_name().as("file"))
          .agg(min(k).as("mn"), max(k).as("mx"), count(lit(1)).as("n"))
          .collect()
          .map { r =>
            new Path(r.getAs[String]("file")).getName ->
              (Option(r.get(r.fieldIndex("mn"))),
                Option(r.get(r.fieldIndex("mx"))), r.getAs[Long]("n"))
          }.toMap
        files.map { u =>
          val name = new Path(u).getName
          agg.get(name) match {
            case Some((Some(mn), Some(mx), n)) =>
              Snapshots.FileStat(name, mn.asInstanceOf[Number].longValue(),
                mx.asInstanceOf[Number].longValue(), n)
            case Some((_, _, n)) =>
              // all keys null: full span, always touched — never wrong
              Snapshots.FileStat(name, Long.MinValue, Long.MaxValue, n)
            case None =>
              // zero-row schema-bearing file: empty sentinel
              Snapshots.FileStat(name, Long.MaxValue, Long.MinValue, 0L)
          }
        }
      }
    val bits = KeyBloom.bitsFor(bare.iterator.map(_.nRows).max)
    // pass 2 — the blooms at that size, over NON-NULL keys only (a
    // null key can never be a merge target, and the aggregate's
    // primitive input encoder rejects nulls); a file whose keys are
    // all null simply records no bloom and stays conservatively
    // always-touched
    val blooms = df.filter(k.isNotNull)
      .groupBy(input_file_name().as("file"))
      .agg(KeyBloom.bloomAgg(k.cast("long"), bits).as("bloom"))
      .collect()
      .map(r => new Path(r.getAs[String]("file")).getName ->
        KeyBloom.encodeBytes(r.getAs[Array[Byte]]("bloom")))
      .toMap
    bare.map(s => s.copy(bloom = blooms.getOrElse(s.path, "")))
  }

  /** Strip the absolute resolution [[Snapshots.fileStats]] applied so
    * carried entries re-record root-relative in the next manifest. */
  private def relativize(root: String,
                         stats: Seq[Snapshots.FileStat]): Seq[Snapshots.FileStat] = {
    val rootUri = new Path(root).toUri.getPath
    stats.map { s =>
      val p = new Path(s.path).toUri.getPath
      s.copy(path = p.stripPrefix(rootUri).stripPrefix("/"))
    }
  }

  // ---- schema extra ---------------------------------------------------

  private def encodeSchema(s: StructType): String =
    java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(s.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def decodeSchema(s: String): StructType =
    DataType.fromJson(new String(java.util.Base64.getUrlDecoder.decode(s),
      java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[StructType]

  /** The table schema the current manifest records (None before the
    * first merge-family commit stamped one). */
  def tableSchema(spark: SparkSession, root: String): Option[StructType] =
    Snapshots.current(spark, root).flatMap(s => tableSchemaAt(spark, root, s))

  private def tableSchemaAt(spark: SparkSession, root: String,
                            snap: Snapshots.Snapshot): Option[StructType] =
    Snapshots.extrasAt(spark, root, snap).get(SchemaKey).map(decodeSchema)

  // ---- merge-on-read deletion sidecar ---------------------------------

  /** The MERGE-ON-READ deletion list the current manifest carries —
    * key rows logically deleted but not yet physically rewritten out,
    * as a DataFrame over the key columns (a parquet sidecar inside
    * the version dir; nothing key-sized ever lands on the driver). */
  def morDeletes(spark: SparkSession, root: String): Option[DataFrame] =
    Snapshots.current(spark, root).flatMap(s => morDeletesAt(spark, root, s))

  private def morDeletesAt(spark: SparkSession, root: String,
                           snap: Snapshots.Snapshot): Option[DataFrame] =
    Snapshots.extrasAt(spark, root, snap).get(DeletesKey).map { rel =>
      spark.read.parquet(
        topLevelFiles(spark, new Path(snap.dataPath, rel).toString): _*)
    }

  // ---- the copy-on-write merge ----------------------------------------

  /** Apply one CDC-shaped change batch (`op` column = upsert|delete;
    * upsert rows carry data columns — missing ones null-fill, new
    * ones widen the table schema) to the current snapshot of `root`,
    * committing the result as the next version. An EMPTY batch still
    * commits — a carry-all version with no new files — so version
    * history and idempotence fingerprints advance even when no row
    * moves (the Delta empty-transaction behavior a fingerprint-
    * stamped chain depends on). */
  def merge(spark: SparkSession, root: String, changes: DataFrame,
            fingerprint: String, keyCols: Seq[String] = Seq("doc_id")): Snapshots.Snapshot =
    mergeImpl(spark, root, changes, fingerprint, keyCols, () => ())

  /** [[merge]] with AUTOMATIC conflict re-resolution: when the commit
    * loses to a concurrent writer ([[Snapshots.CommitConflict]] — the
    * optimistic parent check or the publish rename), re-read the
    * advanced table and re-derive the whole rewrite against it.
    * Re-derivation is always sound for a CDC batch: the retry
    * serializes as "apply the batch AFTER the winner", which is
    * exactly the semantics a losing transaction must adopt (Delta's
    * conflict-resolution loop). Each attempt re-reads current state,
    * re-prunes and re-writes — the price of losing, paid O(touched
    * files), never paid in correctness. */
  def mergeRetrying(spark: SparkSession, root: String, changes: DataFrame,
                    fingerprint: String, keyCols: Seq[String] = Seq("doc_id"),
                    maxAttempts: Int = 5): Snapshots.Snapshot =
    mergeRetryingHooked(spark, root, changes, fingerprint, keyCols,
      maxAttempts, () => ())

  private[graft] def mergeRetryingHooked(spark: SparkSession, root: String,
      changes: DataFrame, fingerprint: String, keyCols: Seq[String],
      maxAttempts: Int, beforeCommit: () => Unit): Snapshots.Snapshot = {
    var attempt = 1
    while (true) {
      try return mergeImpl(spark, root, changes, fingerprint, keyCols, beforeCommit)
      catch {
        case c: Snapshots.CommitConflict =>
          if (attempt >= maxAttempts) throw c
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private[graft] def mergeImpl(spark: SparkSession, root: String, changes0: DataFrame,
            fingerprint: String, keyCols: Seq[String],
            beforeCommit: () => Unit): Snapshots.Snapshot = {
    // the batch frame is consumed by several independent actions
    // (emptiness, the pruning probe, both anti-joins, the rewrite) —
    // persist it once so a table-derived batch (the realistic CDC
    // loop builds batches FROM readCurrent) doesn't re-read the whole
    // table per action; batch-bounded memory, released in `finally`.
    // A caller-managed cache is left alone (no refcount in Spark —
    // unpersisting it here would silently evict their artifact).
    val callerCached =
      changes0.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val changes = if (callerCached) changes0
      else changes0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try mergeBody(spark, root, changes, fingerprint, keyCols, beforeCommit)
    finally if (!callerCached) changes.unpersist(blocking = false)
  }

  private def mergeBody(spark: SparkSession, root: String, changes: DataFrame,
            fingerprint: String, keyCols: Seq[String],
            beforeCommit: () => Unit): Snapshots.Snapshot = {
    val cur = Snapshots.current(spark, root).getOrElse(throw new IllegalStateException(
      s"merge target $root has no committed snapshot"))
    val stats = Snapshots.fileStats(spark, root)
    require(stats.nonEmpty,
      s"merge needs a stats-carrying snapshot (commit the base with statsFor) at $root")

    val priorDels = morDeletesAt(spark, root, cur)
    val storedSchema = tableSchemaAt(spark, root, cur)
    // the on-disk schema files were written under (pre-widening);
    // reads of raw files apply it so carried columns line up
    def readFiles(paths: Seq[String]): DataFrame = storedSchema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
    lazy val baseSchema: StructType = storedSchema.getOrElse(
      spark.read.parquet(stats.head.path).schema)

    // the canonical domain must agree between the TABLE's recorded
    // stats and the batch's probe keys — probing hash-domain blooms
    // with raw longs (or probing with a DIFFERENT key column than the
    // stats were built on) would prune against the wrong domain and
    // silently duplicate keys. The manifest records the merge key at
    // every merge-family commit; once stamped, callers must match it.
    Snapshots.extrasAt(spark, root, cur).get(KeyColsKey).foreach { rec =>
      require(rec.split(',').toSeq == keyCols,
        s"this table is merged on [$rec], not [${keyCols.mkString(",")}] — " +
          s"the recorded stats/blooms live in that key's canonical domain ($root)")
    }
    require(naturalLong(baseSchema, keyCols) == naturalLong(changes.schema, keyCols),
      s"batch key type ${keyCols.map(c => changes.schema(c).dataType).mkString(",")} " +
        s"does not match the table's key shape for $keyCols at $root")

    if (changes.isEmpty) {
      // carry-all: every file by reference, deletion list re-recorded
      val hasDels = priorDels.isDefined
      beforeCommit()
      return Snapshots.commit(spark, root, fingerprint,
        carry = relativize(root, stats),
        extras = schemaExtras(baseSchema, keyCols, hasDels) :+
          (ChangesKey -> NoChanges), // empty batch: no rows changed
        retryOnConflict = Some(false),
        expectedParent = Some(cur.version)) { p =>
        priorDels.foreach(d =>
          d.write.parquet(new Path(p, DeletesDir).toString))
      }
    }

    // which files does the batch touch? Probe the broadcast catalog
    // executor-side; only file INDICES return to the driver.
    val canonical = canonicalCol(changes.schema, keyCols)
    val touchedIdx = probeTouched(spark, changes.select(canonical.as("k")), stats)
    val (touched, carried) = stats.zipWithIndex.partition { case (_, i) => touchedIdx(i) }

    val upserts = changes.filter(col("op") === UpsertOp).drop("op")
    val changeKeys = changes.select(keyCols.map(col): _*).distinct()
    val base =
      if (touched.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], baseSchema)
      else {
        // the raw touched bytes may still hold rows a merge-on-read
        // delete removed logically — apply the list before merging so
        // the rewrite materializes those deletions for its files
        val raw = readFiles(touched.map(_._1.path))
        priorDels.fold(raw)(d => raw.join(d, keyCols, "left_anti"))
      }
    // delete-and-replace: every change key's old row goes (an
    // anti-join against the batch frame — AQE broadcasts a small
    // batch, shuffles a huge one; no driver key list either way),
    // upserts come back, by name, null-filling across the widening
    val merged = base.join(changeKeys, keyCols, "left_anti")
      .unionByName(upserts, allowMissingColumns = true)

    // write-time change log: what this commit DID to the batch's
    // keys, batch-sized by construction (old rows of the batch keys
    // vs the upserts — an upsert replaying identical content logs
    // nothing, so a replayed batch's log is empty, not doubled).
    // NULL-keyed upsert rows are excluded to match changesBetween's
    // contract exactly (no row identity → not tracked): rowDiff's
    // full-outer join can never match them, so they would log as
    // phantom re-'insert's on EVERY replay and the logged and
    // computed feeds would diverge (r10 review)
    val feed: Option[DataFrame] =
      if (!changeFeedEnabled(spark)) None
      else {
        val keyedUpserts = upserts.filter(
          keyCols.map(col(_).isNotNull).reduce(_ && _))
        Some(rowDiff(base.join(changeKeys, keyCols, "left_semi"),
            keyedUpserts, keyCols)
          .withColumn("_commit_version", lit(cur.version + 1)))
      }

    // size the rewrite by the touched bytes (catalog-sized listing),
    // same bin-pack target as compaction; inserts are batch-noise
    val conf = spark.sessionState.newHadoopConf()
    val touchedBytes = touched.map { case (s, _) =>
      val p = new Path(s.path); p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    val nFiles = {
      val target = Compaction.targetFileBytes(touchedBytes)
      math.max(1L, (touchedBytes + target - 1) / target).toInt
    }

    // the batch's keys now have EXPLICIT state (rewritten or inserted)
    // — drop them from the deletion list so a re-upsert of a
    // MOR-deleted key survives the read filter
    val remainingDels = priorDels.map(_.join(changeKeys, keyCols, "left_anti"))
    val hasRemaining = remainingDels.exists(!_.isEmpty)

    beforeCommit()
    Snapshots.commit(spark, root, fingerprint,
      statsFor = p => statsWithBlooms(spark, p, keyCols),
      carry = relativize(root, carried.map(_._1)),
      extras = schemaExtras(merged.schema, keyCols, hasRemaining) ++
        (if (feed.isDefined) Seq(ChangesKey -> ChangesDir) else Nil),
      retryOnConflict = Some(false),
      expectedParent = Some(cur.version)) { path =>
      writeRangeSorted(merged, keyCols, nFiles, path)
      if (hasRemaining)
        remainingDels.get.write.parquet(new Path(path, DeletesDir).toString)
      // inside the staged dir: the log publishes atomically with the
      // version, or not at all — exactly-once with the commit itself
      feed.foreach(_.write.parquet(new Path(path, ChangesDir).toString))
    }
  }

  private def schemaExtras(schema: StructType, keyCols: Seq[String],
                           hasDels: Boolean): Seq[(String, String)] =
    Seq(SchemaKey -> encodeSchema(schema),
      KeyColsKey -> keyCols.mkString(",")) ++
      (if (hasDels) Seq(DeletesKey -> DeletesDir) else Seq.empty)

  /** The merge key columns the current manifest records (None before
    * the first merge-family commit stamped them). Once stamped, every
    * later merge/delete must use the SAME columns: the recorded
    * stats/blooms live in THAT key's canonical domain, and probing
    * them with a different key would prune against the wrong domain
    * and silently duplicate rows. */
  def recordedKeyCols(spark: SparkSession, root: String): Option[Seq[String]] =
    Snapshots.current(spark, root).flatMap(s =>
      Snapshots.extrasAt(spark, root, s).get(KeyColsKey)
        .map(_.split(',').toIndexedSeq))

  /** Range-sort by the canonical key and write: output files tile the
    * canonical key space with tight disjoint intervals (the property
    * all pruning rests on), whatever the key's shape. */
  private def writeRangeSorted(df: DataFrame, keyCols: Seq[String],
                               nFiles: Int, path: String): Unit =
    df.withColumn("__gk", canonicalCol(df.schema, keyCols))
      .repartitionByRange(nFiles, col("__gk"))
      .sortWithinPartitions(col("__gk"))
      .drop("__gk")
      .write.mode("overwrite").parquet(path)

  /** Bound on DECODED bloom bytes shipped in one probe broadcast.
    * At the 100 TB shape (800k files × up-to-16 KB capped blooms ≈
    * 13 GB of bitsets) a single fused interval+bloom broadcast is a
    * scale-killer — the probe splits instead: intervals first
    * (24 B/file, always broadcastable), bloom refinement only over
    * the interval-HIT files, in chunks this size. Conf-tunable
    * (`spark.graft.merge.bloomChunkBytes`) so specs can force the
    * chunked path at toy sizes. */
  private def bloomChunkBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.merge.bloomChunkBytes")
      .map(_.toLong).getOrElse(64L << 20)

  /** EXECUTOR-side pruning probe: stream the batch's canonical keys
    * through a broadcast catalog; a key marks a file only when it
    * lies inside the file's interval AND the bloom cannot prove
    * absence. Only hit file indices are collected (bounded by file
    * count, never by batch size).
    *
    * BROADCAST-BOUNDED (r9): when the catalog's decoded blooms fit
    * [[bloomChunkBytes]] this is ONE fused pass (the common case —
    * identical to the original single-broadcast probe). Past the
    * bound it becomes interval-probe → bloom-refine: phase 1
    * broadcasts intervals only and yields candidate files; phase 2
    * re-probes ONLY the candidates' blooms, sliced into bounded
    * chunks — every broadcast stays ≤ intervals + one chunk,
    * whatever the table's file count. A candidate without a bloom
    * stays conservatively touched, exactly as before. */
  private def probeTouched(spark: SparkSession, keys: DataFrame,
                           stats: Seq[Snapshots.FileStat]): Set[Int] = {
    val order = stats.zipWithIndex.sortBy(_._1.minKey)
    val mins = order.map(_._1.minKey).toArray
    val maxs = order.map(_._1.maxKey).toArray
    val origIdx = order.map(_._2).toArray
    // decoded size of a base64 bloom without decoding it
    def bloomBytes(s: Snapshots.FileStat): Long =
      if (s.bloom.isEmpty) 0L else s.bloom.length.toLong * 3 / 4
    val totalBloomBytes = order.iterator.map(p => bloomBytes(p._1)).sum
    val chunkBudget = bloomChunkBytes(spark)

    if (totalBloomBytes <= chunkBudget) {
      val blooms = order.map(s => KeyBloom.decode(s._1.bloom).orNull).toArray
      return probePass(spark, keys, mins, maxs, blooms).map(origIdx).toSet
    }

    // phase 1 — intervals only
    val ivHits = probePass(spark, keys, mins, maxs,
      new Array[Array[Long]](mins.length)).sorted
    // phase 2 — bloom refinement over the candidates, bounded chunks
    val (checkable, always) = ivHits.partition(i => order(i)._1.bloom.nonEmpty)
    val confirmed = Seq.newBuilder[Int]
    var chunk = scala.collection.mutable.ArrayBuffer.empty[Int]
    var chunkBytes = 0L
    def flush(): Unit = if (chunk.nonEmpty) {
      val local = chunk.toArray // sorted-by-min subsequence of `order`
      val hits = probePass(spark, keys,
        local.map(mins), local.map(maxs),
        local.map(i => KeyBloom.decode(order(i)._1.bloom).orNull))
      confirmed ++= hits.map(local)
      chunk = scala.collection.mutable.ArrayBuffer.empty[Int]
      chunkBytes = 0L
    }
    checkable.foreach { i =>
      val b = bloomBytes(order(i)._1)
      if (chunk.nonEmpty && chunkBytes + b > chunkBudget) flush()
      chunk += i; chunkBytes += b
    }
    flush()
    (always ++ confirmed.result()).map(origIdx).toSet
  }

  /** One probe job over a (sub)catalog sorted by interval min: the
    * binary-search + prefix-max-cutoff kernel, returning LOCAL
    * indices into the given arrays. A null bloom never rejects. */
  private def probePass(spark: SparkSession, keys: DataFrame,
                        mins: Array[Long], maxs: Array[Long],
                        blooms: Array[Array[Long]]): Seq[Int] = {
    if (mins.isEmpty) return Seq.empty
    // prefix max over sorted-by-min intervals: once maxUpTo(i) < k no
    // earlier interval can contain k — the overlap-scan cutoff
    val maxUpTo = new Array[Long](maxs.length)
    var acc = Long.MinValue
    for (i <- maxs.indices) { acc = math.max(acc, maxs(i)); maxUpTo(i) = acc }
    val bc = spark.sparkContext.broadcast((mins, maxs, maxUpTo, blooms))
    import spark.implicits._
    try keys.na.drop().as[Long].mapPartitions { it =>
      val (mins, maxs, maxUpTo, blooms) = bc.value
      val hit = new java.util.BitSet(mins.length)
      it.foreach { k =>
        // last interval whose min <= k
        var lo = 0; var hi = mins.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (mins(mid) <= k) lo = mid + 1 else hi = mid
        }
        var i = lo - 1
        while (i >= 0 && maxUpTo(i) >= k) {
          if (maxs(i) >= k && !hit.get(i) &&
            (blooms(i) == null || KeyBloom.mightContain(blooms(i), k)))
            hit.set(i)
          i -= 1
        }
      }
      Iterator.range(0, mins.length).filter(hit.get).map(_.toLong)
    }.distinct().collect().map(_.toInt).toSeq
    finally bc.unpersist(blocking = false)
  }

  /** MERGE-ON-READ DELETE: an O(batch) commit that rewrites NOTHING —
    * every file is carried and the key rows land in the version's
    * parquet deletion sidecar, applied as a read-time anti-join until
    * a later copy-on-write merge (which subtracts its batch keys, so
    * a re-upsert resurrects cleanly) or OPTIMIZE (which materializes
    * the filter and clears the list) — the Delta deletion-vector
    * trade at key granularity. `delKeys`' columns ARE the key
    * columns; nothing is ever collected to the driver. */
  def deleteMor(spark: SparkSession, root: String, delKeys: DataFrame,
                fingerprint: String): Snapshots.Snapshot = {
    // same precondition as merge(): a MOR commit carries the CURRENT
    // file list forward, so a base committed without statsFor (empty
    // fileStats) would carry NOTHING and the new version would
    // silently serve an empty table — fail fast instead
    val cur = Snapshots.current(spark, root).getOrElse(throw new IllegalStateException(
      s"merge-on-read delete target $root has no committed snapshot"))
    val stats = Snapshots.fileStats(spark, root)
    require(stats.nonEmpty,
      s"deleteMor needs a stats-carrying snapshot (commit the base with statsFor) at $root")
    val delCols = delKeys.columns.toIndexedSeq
    Snapshots.extrasAt(spark, root, cur).get(KeyColsKey).foreach { rec =>
      require(rec.split(',').toSeq == delCols,
        s"this table is merged on [$rec], not [${delCols.mkString(",")}] ($root)")
    }
    val priorDels = morDeletesAt(spark, root, cur)
    val merged = priorDels match {
      case Some(prior) => prior.unionByName(delKeys).distinct()
      case None => delKeys.distinct()
    }
    val schema = tableSchemaAt(spark, root, cur).getOrElse(
      spark.read.parquet(stats.head.path).schema)
    // same parity check as merge(): a string-typed batch against a
    // long-keyed table would canonicalize to the hash domain and
    // probe long-domain stats — random hits, silently missing
    // preimages in the logged feed (and a type-coerced anti-join)
    require(naturalLong(schema, delCols) == naturalLong(delKeys.schema, delCols),
      s"batch key type ${delCols.map(c => delKeys.schema(c).dataType).mkString(",")} " +
        s"does not match the table's key shape for $delCols at $root")
    // write-time change log: the delete PREIMAGES, recovered with a
    // bloom-pruned point lookup over only the files that can hold the
    // batch's keys (the O(hit files) scan is the price of a logged
    // feed; an unlogged MOR delete stays O(batch) with no data read).
    // Keys already on the prior deletion list were invisible before
    // this commit and log nothing — a replayed batch's log is empty.
    val feed: Option[DataFrame] =
      if (!changeFeedEnabled(spark)) None
      else {
        val canonical = canonicalCol(delKeys.schema, delCols)
        val hitIdx = probeTouched(spark, delKeys.select(canonical.as("k")), stats)
        val hit = stats.zipWithIndex.collect { case (s, i) if hitIdx(i) => s.path }
        val visible =
          if (hit.isEmpty) spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          else {
            val rows = spark.read.schema(schema).parquet(hit: _*)
              .join(delKeys, delCols, "left_semi")
            priorDels.fold(rows)(d => rows.join(d, delCols, "left_anti"))
          }
        Some(visible.withColumn("_change_type", lit("delete"))
          .withColumn("_commit_version", lit(cur.version + 1)))
      }
    Snapshots.commit(spark, root, fingerprint,
      carry = relativize(root, stats),
      extras = schemaExtras(schema, delCols, hasDels = true) ++
        (if (feed.isDefined) Seq(ChangesKey -> ChangesDir) else Nil),
      retryOnConflict = Some(false),
      expectedParent = Some(cur.version)) { p =>
      merged.write.parquet(new Path(p, DeletesDir).toString)
      feed.foreach(_.write.parquet(new Path(p, ChangesDir).toString))
    }
  }

  /** Read the current snapshot of a merge-maintained table: the
    * manifest's file list (spanning version dirs) in one parquet
    * read under the manifest's recorded schema (carried files
    * null-fill columns later merges added), minus the deletion
    * sidecar (anti-join — batch-bounded, broadcast by AQE). */
  def readCurrent(spark: SparkSession, root: String): DataFrame = {
    val snap = Snapshots.current(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    readSnapshot(spark, root, snap)
  }

  /** TIME TRAVEL: the table exactly as version `version` froze it —
    * same read path as [[readCurrent]] (file list, schema, deletion
    * sidecar all resolved AT that version), possible for as long as
    * retention keeps the version ([[Snapshots.expire]]). */
  def readAt(spark: SparkSession, root: String, version: Int): DataFrame = {
    val snap = Snapshots.at(spark, root, version).getOrElse(
      throw new IllegalStateException(
        s"version $version of $root was never committed or has been expired"))
    readSnapshot(spark, root, snap)
  }

  /** CHANGE DATA FEED computed from the snapshot catalog: row-level
    * changes between two committed versions as the table schema plus
    * `_change_type` ∈ insert | delete | update_preimage |
    * update_postimage. The scan is catalog-pruned (the Iceberg
    * changelog-scan idea): data files are immutable, so a file BOTH
    * versions reference cannot contribute a change — only the
    * versions' symmetric-difference files are read, plus a
    * bloom-pruned point lookup over shared files for keys whose
    * MOR-deletion status flipped between the sidecars. Cost is
    * O(files touched between the versions), never O(table); a row
    * carried verbatim through a copy-on-write rewrite of its file is
    * content-compared (null-safe) and NOT emitted. An OPTIMIZE
    * between the versions makes every file differ, so the scan
    * degrades gracefully to table-sized while the output stays the
    * true (typically empty) diff — the same contract as a changelog
    * scan over a rewrite in Iceberg. Requires a merge-maintained
    * table: the stamped `#keycols` is the row identity the diff
    * joins on. NULL-keyed rows have no row identity and are not
    * tracked — they ride through rewrites as carried data
    * (merge-contract, see the object doc) and are excluded from both
    * sides here, exactly as the write-time log can never match them;
    * without the exclusion a rewritten file's null-keyed rows would
    * surface as phantom delete+insert pairs. */
  def changesBetween(spark: SparkSession, root: String,
                     fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    def resolve(v: Int) = Snapshots.at(spark, root, v).getOrElse(
      throw new IllegalStateException(
        s"version $v of $root was never committed or has been expired"))
    val fromSnap = resolve(fromVersion)
    val toSnap = resolve(toVersion)
    val keyCols = Snapshots.extrasAt(spark, root, toSnap).get(KeyColsKey)
      .map(_.split(',').toIndexedSeq).getOrElse(
        throw new IllegalArgumentException(
          s"changesBetween needs a merge-maintained table (no key stamp) at $root"))

    val fromStats = Snapshots.fileStatsAt(spark, root, fromSnap)
    val toStats = Snapshots.fileStatsAt(spark, root, toSnap)
    require(fromStats.nonEmpty && toStats.nonEmpty,
      s"changesBetween needs stats-carrying snapshots at $root")
    val shared = fromStats.map(_.path).toSet intersect toStats.map(_.path).toSet
    val fromSchema = tableSchemaAt(spark, root, fromSnap)
    val toSchema = tableSchemaAt(spark, root, toSnap)
    val d1 = morDeletesAt(spark, root, fromSnap)
    val d2 = morDeletesAt(spark, root, toSnap)

    def readSome(paths: Seq[String], schema: Option[StructType],
                 snap: Snapshots.Snapshot): DataFrame =
      if (paths.nonEmpty) schema match {
        case Some(s) => spark.read.schema(s).parquet(paths: _*)
        case None => spark.read.parquet(paths: _*)
      }
      // no files on this side: a schema'd empty frame that references
      // NO files (a filter(false) over the snapshot would still list
      // every file in the plan's inputFiles — the pruning receipt the
      // spec pins would lie)
      else {
        val sch = schema.getOrElse(readSnapshot(spark, root, snap).schema)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
      }
    def antiDels(df: DataFrame, dels: Option[DataFrame]): DataFrame = dels match {
      case Some(d) => df.join(d, d.columns.toIndexedSeq, "left_anti")
      case None => df
    }

    // keys whose sidecar status FLIPPED: the only way a SHARED file's
    // rows can differ between the versions (set-except both ways)
    val deltaKeys: Option[DataFrame] = (d1, d2) match {
      case (None, None) => None
      case _ =>
        val a = d1.getOrElse(d2.get.filter(lit(false)))
        val b = d2.getOrElse(d1.get.filter(lit(false)))
        Some(b.except(a).union(a.except(b)))
    }
    val sharedRows: DataFrame = deltaKeys match {
      case Some(dk) if shared.nonEmpty =>
        // bloom-pruned point lookup over ONLY the shared files
        val sharedStats = toStats.filter(s => shared(s.path))
        val canonical = canonicalCol(dk.schema, keyCols)
        val hitIdx = probeTouched(spark, dk.select(canonical.as("k")), sharedStats)
        val hit = sharedStats.zipWithIndex.collect { case (s, i) if hitIdx(i) => s.path }
        readSome(hit, toSchema, toSnap).join(dk, keyCols, "left_semi")
      case _ => readSome(Nil, toSchema, toSnap)
    }

    val keyed = keyCols.map(col(_).isNotNull).reduce(_ && _)
    val oldSide = antiDels(
      readSome(fromStats.map(_.path).filterNot(shared), fromSchema, fromSnap), d1)
      .unionByName(antiDels(sharedRows, d1), allowMissingColumns = true)
      .filter(keyed)
    val newSide = antiDels(
      readSome(toStats.map(_.path).filterNot(shared), toSchema, toSnap), d2)
      .unionByName(antiDels(sharedRows, d2), allowMissingColumns = true)
      .filter(keyed)

    rowDiff(oldSide, newSide, keyCols)
  }

  /** The change log version `version` committed, if the commit was
    * made with `spark.graft.merge.changeFeed=true` and retention
    * still keeps the version (the log lives inside the version dir,
    * so it expires with it). Schema: table columns at that commit
    * plus `_change_type` and `_commit_version`. */
  def loggedChangesAt(spark: SparkSession, root: String,
                      version: Int): Option[DataFrame] =
    for {
      snap <- Snapshots.at(spark, root, version)
      rel <- Snapshots.extrasAt(spark, root, snap).get(ChangesKey)
    } yield
      if (rel == NoChanges) {
        // a provably row-preserving commit: an empty, schema'd log
        // that references no files and computes no diff
        val sch = tableSchemaAt(spark, root, snap)
          .getOrElse(readSnapshot(spark, root, snap).schema)
          .add("_change_type", StringType).add("_commit_version", IntegerType)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
      } else spark.read.parquet(
        topLevelFiles(spark, new Path(snap.dataPath, rel).toString): _*)

  /** PER-COMMIT change feed over (fromVersion, toVersion]: each
    * version's row-level changes tagged `_commit_version` — the
    * Delta `table_changes` contract, where a row inserted in one
    * commit and deleted in a later one appears in BOTH (contrast
    * [[changesBetween]], the NET endpoint diff, where it cancels).
    * Serves the write-time log where a commit recorded one and falls
    * back to the computed catalog-pruned diff where it didn't, so a
    * feed over a mixed chain is still exact. */
  def changeFeed(spark: SparkSession, root: String,
                 fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val parts = ((fromVersion + 1) to toVersion).map { v =>
      loggedChangesAt(spark, root, v).getOrElse(
        changesBetween(spark, root, v - 1, v)
          .withColumn("_commit_version", lit(v)))
    }
    if (parts.isEmpty) {
      // an empty (from, to] range: a schema'd empty frame, without
      // resolving any snapshot (toVersion may legitimately be expired)
      val sch = tableSchema(spark, root).getOrElse(throw new IllegalStateException(
        s"changeFeed needs a merge-maintained table (no recorded schema) at $root"))
        .add("_change_type", StringType).add("_commit_version", IntegerType)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    }
    else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Relay committed change logs into a flat feed directory a plain
    * file-source STREAM can watch. Manifest-driven and idempotent:
    * only versions a published manifest names are relayed (never the
    * parked dir of a commit that lost its publish race), each exactly
    * once (staged under a hidden `.tmp_` name, made visible with ONE
    * directory rename — a crashed relay re-stages, a concurrent
    * relay loses the rename benignly). Returns how many versions this
    * call published. The feed dir is the streaming boundary Delta
    * solves with a log-driven source: a raw glob over the table's
    * own version dirs would race killed/losing writers.
    *
    * COMPLETENESS (r10): a key-stamped version with NO write-time log
    * (a writer session that forgot `changeFeed=true`) relays the
    * COMPUTED [[changesBetween]] diff instead of being silently
    * skipped — the batch [[changeFeed]] and the streamed feed serve
    * the same rows over any mixed chain. A key-stamped version whose
    * parent retention already expired cannot be computed and THROWS
    * naming the version (Delta's `table_changes` contract: error,
    * never an invisible gap). Only commits that genuinely carry no
    * changes get the empty done-marker — the pre-merge base load (the
    * initial table is not a change). A version TABLE retention
    * dropped before it was ever relayed advances the feed's retention
    * FLOOR instead: observable truncation for batch readers
    * ([[readChangeFeed]] throws below the floor), never a fake
    * relayed-empty marker. The one boundary the transports share: a
    * plain file-source STREAM has no floor awareness by default — it
    * simply never sees the lost version's files (opt into the
    * fail-fast check via [[streamChangeFeed]]'s `startAfterVersion`)
    * — so, exactly like [[expireFeed]], table retention must trail
    * the relay cadence (and the slowest consumer); run the relay at
    * least as often as [[Snapshots.expire]].
    *
    * MAINTAINERS (r10 advice): relay and [[expireFeed]] MUST run as
    * ONE maintainer (or mutually excluded) — they write the same dir,
    * and an expire overlapping a relay could otherwise delete a
    * version the relay is about to re-publish from its entry-time
    * done-set. The floor is defensively RE-CHECKED before each
    * version publishes, which shrinks that window to a single
    * publish call — a hardening, not a substitute for the
    * single-maintainer contract. */
  def publishChangeFeed(spark: SparkSession, root: String,
                        feedDir: String): Int = {
    val f = Snapshots.fs(spark, feedDir)
    val fd = new Path(feedDir)
    f.mkdirs(fd)
    // ONE listing decides what is already done — a poll's cost tracks
    // the NEW versions, not the chain length (a version with nothing
    // to relay gets an empty marker dir so it is never re-visited;
    // the file source reads nothing from an empty dir). Versions below
    // the retention floor ([[expireFeed]]) are done by definition —
    // re-relaying them would re-deliver old changes to the stream.
    val floor = feedFloor(spark, feedDir)
    val done: Set[Int] = f.listStatus(fd).iterator
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toInt).toSet
    var published = 0
    var floorAdvance = floor
    Snapshots.current(spark, root).foreach { c =>
      for (v <- math.max(1, floor) to c.version if !done(v)) {
        // RE-CHECK the floor per undone version (r10 advice): relay
        // and [[expireFeed]] should be one maintainer, but nothing
        // structurally excludes them overlapping — an expire that
        // advanced the floor mid-relay must not see this relay
        // re-publish (and re-deliver) the versions it just removed.
        // Kept SEPARATE from floorAdvance (the table-retention-driven
        // advance this relay itself must publish): an observed
        // concurrent floor is already durable and must not trigger a
        // redundant end-of-relay rewrite. Cost: ONE marker listing per
        // NOT-yet-relayed version; a steady poll's done-set skips them
        // all.
        val liveFloor = feedFloor(spark, feedDir)
        if (v >= math.max(liveFloor, floorAdvance)) {
          val dst = new Path(feedDir, f"v$v%09d")
          feedChangesFor(spark, root, v) match {
            case Some(df) => if (publishOne(f, feedDir, dst, df)) published += 1
            case None =>
              if (Snapshots.at(spark, root, v).isEmpty)
                // TABLE retention already dropped this version (and any
                // log inside it) before it was ever relayed: the feed
                // genuinely STARTS after it. Record that as the
                // retention floor — observable truncation (readChangeFeed
                // throws below the floor) — never a fake "relayed empty"
                // marker that would read as no-changes. Snapshots.expire
                // keeps a version SUFFIX, so the floor advance is sound.
                floorAdvance = math.max(floorAdvance, v + 1)
              else f.mkdirs(dst) // the v1 base load: nothing to relay
          }
        }
      }
    }
    if (floorAdvance > floor) writeFeedFloor(spark, feedDir, floorAdvance)
    published
  }

  /** The rows the relay must publish for version `v`: the write-time
    * log where the commit recorded one; the computed per-commit diff
    * for a key-stamped commit that didn't (throwing when its parent
    * is expired — a silent gap is never an option); None for commits
    * with nothing to relay (the v1 base load, retention-expired
    * versions). An UNSTAMPED v>1 commit — a bare [[Snapshots.commit]]
    * interleaved into the chain — THROWS (r10 advice): it may have
    * changed data, and the batch [[changeFeed]] throws for the same
    * version (from [[changesBetween]]'s key-stamp requirement), so an
    * empty done-marker here would make the two transports diverge on
    * exactly the commits whose changes nobody computed. */
  private def feedChangesFor(spark: SparkSession, root: String,
                             v: Int): Option[DataFrame] =
    loggedChangesAt(spark, root, v).orElse {
      Snapshots.at(spark, root, v).flatMap { snap =>
        if (v == 1) None
        else if (!Snapshots.extrasAt(spark, root, snap).contains(KeyColsKey))
          throw new IllegalStateException(
            s"cannot relay version $v of $root: the commit is not " +
              "merge-written (no key stamp) and logged no changes, so its " +
              "row-level diff is uncomputable — the batch changeFeed throws " +
              "for the same version; interleave only merge-family commits " +
              "(or commits made with spark.graft.merge.changeFeed=true) " +
              "into a relayed chain")
        else if (Snapshots.at(spark, root, v - 1).isEmpty)
          throw new IllegalStateException(
            s"cannot relay version $v of $root: the commit logged no changes " +
              s"and parent version ${v - 1} has been retention-expired — " +
              "relaying would silently drop its changes from the feed")
        else Some(changesBetween(spark, root, v - 1, v)
          .withColumn("_commit_version", lit(v)))
      }
    }

  /** BATCH-read a relayed feed dir over (fromVersion, toVersion] as
    * ONE parquet load — the depth-proof read path. [[changeFeed]]
    * stitches one sub-plan per version (always available, but its
    * plan-analysis cost grows with depth: BENCH_SCALE `r10_cdf_depth`
    * measures ~88 ms/version logged and ~224 ms/version computed); a
    * relayed dir needs none of that — the rows already carry
    * `_commit_version`, so a depth-N read is one file listing + one
    * scan, O(1) plan cost at any depth. Requires every version in the
    * range to be relayed ([[publishChangeFeed]]) and unexpired
    * ([[expireFeed]]); a missing dir THROWS rather than silently
    * serving a gap (an empty done-marker dir is a relayed empty
    * version and reads as such). Schema-evolution-safe: parquet
    * resolves by name under the current recorded table schema, so
    * versions logged before a widening null-fill the added columns. */
  def readChangeFeed(spark: SparkSession, root: String, feedDir: String,
                     fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val f = Snapshots.fs(spark, feedDir)
    val floor = feedFloor(spark, feedDir)
    val sch = tableSchema(spark, root).getOrElse(throw new IllegalStateException(
      s"readChangeFeed needs a merge-maintained table (no recorded schema) at $root"))
      .add("_change_type", StringType).add("_commit_version", IntegerType)
    val dirs = ((fromVersion + 1) to toVersion).map { v =>
      require(v >= floor,
        s"version $v of the feed at $feedDir has been retention-expired")
      val p = new Path(feedDir, f"v$v%09d")
      require(f.exists(p),
        s"version $v has not been relayed to $feedDir — run publishChangeFeed first")
      p.toString
    }
    if (dirs.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    else spark.read.schema(sch).parquet(dirs: _*)
  }

  /** Stage `df` under a hidden unique name and publish it at `dst`
    * with one rename; true iff THIS call made the version visible. */
  private def publishOne(f: org.apache.hadoop.fs.FileSystem, feedDir: String,
                         dst: Path, df: DataFrame): Boolean = {
    // UNIQUE staging per relayer: a shared tmp name would let two
    // concurrent relays delete each other's in-flight write and
    // publish an interleaved dir
    val tmp = new Path(feedDir,
      s".tmp_${dst.getName}_${java.util.UUID.randomUUID().toString.take(8)}")
    df.write.parquet(tmp.toString)
    if (!f.exists(dst) && f.rename(tmp, dst)) {
      // Hadoop local rename NESTS into a dst that appeared between
      // the check and the rename (and still returns true) — detect,
      // clean our bytes out, concede the race
      val nested = new Path(dst, tmp.getName)
      if (f.exists(nested)) { f.delete(nested, true); false }
      else true
    } else { f.delete(tmp, true); false } // a concurrent relay won
  }

  /** The feed dir's retention floor: versions below it were expired
    * (or pre-dated the feed entirely) and must never be re-relayed.
    * Hidden marker files, so the file source never reads them. */
  private val FeedFloorFile = "_expired_below"
  /** RENAME-ONLY floor marker (r15, closing the r10–r13 read-race
    * ladder): the floor VALUE rides the marker NAME —
    * `._expired_below.v{N}` — published with one rename and resolved
    * by a max over one listing. A name appears atomically, torn
    * content is irrelevant (the body is kept only for debugging),
    * and [[writeFeedFloor]] never deletes either of the two newest
    * markers, so every reader's listing overlaps entries that are
    * STABLE for the whole read — there is no delete window to
    * straddle and the old bounded-retry ladder is gone. Floors only
    * grow; any marker present is a valid lower bound. */
  private def feedFloorVersioned(n: Int) = s".$FeedFloorFile.v$n"
  private val FeedFloorNameRe = ("""\.""" + FeedFloorFile + """\.v(\d+)""").r

  private def listFloorMarkers(f: org.apache.hadoop.fs.FileSystem,
                               fd: Path): Seq[(Int, Path)] =
    if (!f.exists(fd)) Nil
    else f.listStatus(fd).iterator.flatMap { st =>
      st.getPath.getName match {
        case FeedFloorNameRe(n) =>
          scala.util.Try(n.toInt).toOption.map(v => (v, st.getPath))
        case _ => None
      }
    }.toSeq

  /** The floor: max over the versioned marker names. One listing, no
    * retries — see [[feedFloorVersioned]] for why a reader can no
    * longer miss a concurrently-rewritten floor. */
  private def feedFloor(spark: SparkSession, feedDir: String): Int = {
    val f = Snapshots.fs(spark, feedDir)
    (listFloorMarkers(f, new Path(feedDir)).map(_._1) :+ 1).max
  }

  /** Publish a floor with the RENAME-ONLY protocol: stage under a
    * unique hidden name, rename to `._expired_below.v{target}` where
    * target = max(requested, every marker already present), then
    * prune all but the two newest versioned markers. Keeping the two
    * newest stable through every round is what gives readers a
    * delete-free window (this round only ever deletes markers that
    * were already ≥2 generations old when it started). A crash
    * anywhere leaves either extra stale markers (pruned by the next
    * sweep) or a stray staging file (name never parses as a floor).
    * Single maintainer, like every retention sweep here. */
  private def writeFeedFloor(spark: SparkSession, feedDir: String,
                             floor: Int): Unit = {
    val f = Snapshots.fs(spark, feedDir)
    val fd = new Path(feedDir)
    val named = listFloorMarkers(f, fd)
    val target = (named.map(_._1) :+ floor).max
    if (!named.exists(_._1 >= target)) {
      val stage = new Path(feedDir,
        s".${FeedFloorFile}.stage_${java.util.UUID.randomUUID().toString.take(8)}")
      Sidecars.writeMarker(spark, stage.toString, target.toString)
      if (!f.rename(stage, new Path(fd, feedFloorVersioned(target)))) {
        f.delete(stage, false)
        // rename to an existing name fails — fine iff some marker at
        // the target (a concurrent publisher of the same floor) landed
        if (!listFloorMarkers(f, fd).exists(_._1 >= target))
          throw new IllegalStateException(s"feed floor publish failed at $feedDir")
      }
    }
    listFloorMarkers(f, fd).sortBy(-_._1).drop(2)
      .foreach { case (_, p) => f.delete(p, false) }
  }

  /** FEED RETENTION — [[Snapshots.expire]] for the relay dir: delete
    * relayed version dirs older than the newest `keepVersions`,
    * recording the surviving floor in a hidden marker FIRST so a
    * later [[publishChangeFeed]] never re-relays what retention
    * removed (re-publication would re-deliver old changes to a
    * file-source consumer — breaking exactly-once — and silently
    * regrow the dir; a crash between marker and deletes just leaves
    * dirs the next expire re-sweeps). Without this the dir grows one
    * version forever and every consumer poll pays an ever-growing
    * listing. Interaction with a live file-source consumer: the
    * source tracks seen files by path and re-lists per batch, so
    * already-processed files simply stop appearing — but a stream
    * that had NOT yet read an expired version has lost it, so
    * retention must trail the slowest consumer (the Kafka-retention
    * contract; a NEW stream over the survivors reads exactly the
    * surviving suffix). Returns how many version dirs were deleted. */
  def expireFeed(spark: SparkSession, feedDir: String,
                 keepVersions: Int): Int = {
    require(keepVersions >= 0, s"keepVersions must be >= 0, got $keepVersions")
    val f = Snapshots.fs(spark, feedDir)
    val fd = new Path(feedDir)
    if (!f.exists(fd)) return 0
    val versions = f.listStatus(fd).iterator
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toInt).toSeq.sorted
    val survivors = versions.takeRight(keepVersions)
    if (survivors.size == versions.size) return 0
    val floor = math.max(feedFloor(spark, feedDir),
      if (survivors.nonEmpty) survivors.head else versions.max + 1)
    // floor FIRST (crash-safe: a published marker is a durable lower
    // bound), then the deletes — a crash mid-sweep leaves extra dirs a
    // later expire re-sweeps, never a re-relayable gap
    writeFeedFloor(spark, feedDir, floor)
    val expired = versions.filter(_ < floor)
    expired.foreach(v => f.delete(new Path(feedDir, f"v$v%09d"), true))
    expired.size
  }

  /** A streaming frame over a [[publishChangeFeed]] feed dir: the
    * standard file source discovers each relayed version's parquet
    * as it appears (hidden `.tmp_` staging is filtered by Spark's
    * file index, so readers only ever see fully-renamed versions).
    * Downstream is ordinary Structured Streaming — watermark, window,
    * foreachBatch into the next table.
    *
    * FLOOR AWARENESS (r10 verdict item 5): a plain file source simply
    * never sees files [[expireFeed]] removed, so a NEW stream started
    * over a truncated feed silently reads only the surviving suffix —
    * the Kafka-retention contract. `startAfterVersion` makes that
    * explicit: a caller who needs every change AFTER version `v`
    * passes `Some(v)` and this FAILS FAST when the feed's retention
    * floor has already passed v+1, instead of serving a gapped feed.
    * CHECKPOINT INTERACTION: the check runs at frame CONSTRUCTION —
    * an EXISTING checkpointed stream that already processed the
    * now-expired versions should resume with `None` (its checkpoint,
    * not the directory listing, is its position; the source tracks
    * seen files and simply stops listing the removed ones). Use
    * `Some(v)` exactly when starting a NEW checkpoint that must
    * replay from v+1. */
  def streamChangeFeed(spark: SparkSession, root: String,
                       feedDir: String,
                       startAfterVersion: Option[Int] = None): DataFrame = {
    startAfterVersion.foreach { from =>
      val floor = feedFloor(spark, feedDir)
      require(from + 1 >= floor,
        s"a new stream starting after version $from needs version " +
          s"${from + 1} onward, but the feed at $feedDir has been " +
          s"retention-expired below version $floor (expireFeed) — the " +
          "missing prefix is unrecoverable from this feed; rebuild the " +
          "consumer from a current snapshot plus the surviving suffix")
    }
    val sch = tableSchema(spark, root).getOrElse(throw new IllegalStateException(
      s"no merge-recorded schema at $root — stream after the first merge commit"))
      .add("_change_type", StringType).add("_commit_version", IntegerType)
    spark.readStream.schema(sch)
      .option("recursiveFileLookup", "true")
      .parquet(feedDir)
  }

  /** Full-outer diff of two row sets on the key identity: keys only
    * in `newSide` → insert, only in `oldSide` → delete, in both with
    * any non-key column differing (null-safe) → an
    * update_preimage/update_postimage pair; identical rows vanish.
    * Sides may carry different column sets (schema evolution) — the
    * missing side null-fills. The engine behind both the computed
    * [[changesBetween]] and the write-time change log. */
  private def rowDiff(oldSide: DataFrame, newSide: DataFrame,
                      keyCols: Seq[String]): DataFrame = {
    val allCols = (newSide.columns ++
      oldSide.columns.filterNot(newSide.columns.contains)).toIndexedSeq
    val dataCols = allCols.filterNot(keyCols.contains)
    def pad(df: DataFrame): DataFrame =
      allCols.foldLeft(df)((d, c) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(null)))
    val o = pad(oldSide)
      .select(allCols.map(c => col(c).as(s"${c}__o")) :+ lit(true).as("__po"): _*)
    val n = pad(newSide)
      .select(allCols.map(c => col(c).as(s"${c}__n")) :+ lit(true).as("__pn"): _*)
    val j = o.join(n,
      keyCols.map(k => o(s"${k}__o") === n(s"${k}__n")).reduce(_ && _), "full_outer")
    val hasO = coalesce(col("__po"), lit(false))
    val hasN = coalesce(col("__pn"), lit(false))
    val differs = dataCols.map(c => !(col(s"${c}__o") <=> col(s"${c}__n")))
      .reduceOption(_ || _).getOrElse(lit(false))
    def proj(df: DataFrame, sfx: String, ct: String): DataFrame =
      df.select(allCols.map(c => col(s"${c}__$sfx").as(c)) :+
        lit(ct).as("_change_type"): _*)
    val upd = j.filter(hasO && hasN && differs)
    proj(j.filter(!hasO && hasN), "n", "insert")
      .unionByName(proj(j.filter(hasO && !hasN), "o", "delete"))
      .unionByName(proj(upd, "o", "update_preimage"))
      .unionByName(proj(upd, "n", "update_postimage"))
  }

  /** Catalog-PRUNED read of a key range over the current snapshot:
    * only files whose manifest-recorded interval intersects [lo, hi)
    * are opened — the read-time half of the commit-time stats
    * investment, composed with the full merge-table read semantics
    * (manifest schema for carried files, deletion-sidecar anti-join).
    * At 100 TB this is the difference between "point lookup on a
    * maintained table" being a catalog operation and being a table
    * scan. Natural single-long keys only — a hashed canonical key
    * tiles the hash domain, where a RANGE of the real key is
    * meaningless (point probes on hashed keys go through the bloom
    * path instead, [[probeTouched]]'s machinery at write time).
    * `keyCol` must be the column the snapshot's stats were recorded
    * on: merge-family commits stamp it (`#keycols`) and the stamp is
    * verified here, but a bare [[Snapshots.commit]] base records no
    * stamp — there the caller owns the contract (same trust model as
    * [[Compaction.skippingScan]]'s doc_id convention). */
  def readCurrentRange(spark: SparkSession, root: String,
                       lo: Long, hi: Long,
                       keyCol: String = "doc_id"): DataFrame = {
    val snap = Snapshots.current(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    recordedKeyCols(spark, root).foreach { rec =>
      require(rec == Seq(keyCol),
        s"this table is merged on [${rec.mkString(",")}], not [$keyCol] ($root)")
    }
    val schema = tableSchemaAt(spark, root, snap)
    schema.foreach { s =>
      require(naturalLong(s, Seq(keyCol)),
        s"range reads need a natural integral key; $keyCol is " +
          s"${s(keyCol).dataType} — its recorded intervals live in the hash domain")
    }
    // paths + intervals only — the bloom column is never read
    val stats = Snapshots.fileStatsAt(spark, root, snap, withBlooms = false)
    // same guard as deleteMor/readCurrentKeys: on a stats-less
    // snapshot, "no interval intersects" would silently read an
    // empty table instead of admitting the catalog can't prune
    require(stats.nonEmpty,
      s"range reads need a stats-carrying snapshot (commit the base with statsFor) at $root")
    val hit = stats.filter(s => s.maxKey >= lo && s.minKey < hi).map(_.path)
    val base =
      if (hit.nonEmpty) schema match {
        case Some(s) => spark.read.schema(s).parquet(hit: _*)
        case None => spark.read.parquet(hit: _*)
      }
      // zero intersecting files: parquet needs >= 1 path for a schema —
      // read the full list under a contradictory filter (scans nothing)
      else readSnapshot(spark, root, snap).filter(lit(false))
    val ranged = base.filter(col(keyCol) >= lo && col(keyCol) < hi)
    morDeletesAt(spark, root, snap) match {
      case Some(dels) => ranged.join(dels, dels.columns.toIndexedSeq, "left_anti")
      case None => ranged
    }
  }

  /** Catalog-pruned POINT-LOOKUP read: fetch exactly the rows whose
    * key appears in `keys` (a frame over the key columns), opening
    * only the files the interval+bloom catalog cannot prove
    * key-free — the same executor-side probe the copy-on-write merge
    * plans its rewrites with ([[probeTouched]]), now paying off on
    * the READ side. This is the "fetch these 10⁴ documents by id"
    * shape (GDPR extracts, feature backfills): at 100 TB it is a
    * catalog probe plus a scan of the hit files, never a table scan.
    * Works for ANY key shape — hashed canonical keys probe the hash
    * domain (collisions cost opening a redundant file, never
    * correctness: the final semi-join is on the real key columns) —
    * and the deletion sidecar applies as everywhere else. */
  def readCurrentKeys(spark: SparkSession, root: String, keys: DataFrame): DataFrame = {
    val snap = Snapshots.current(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    val keyCols = keys.columns.toIndexedSeq
    recordedKeyCols(spark, root).foreach { rec =>
      require(rec == keyCols,
        s"this table is merged on [${rec.mkString(",")}], not " +
          s"[${keyCols.mkString(",")}] — the catalog lives in that key's " +
          s"canonical domain ($root)")
    }
    val stats = Snapshots.fileStatsAt(spark, root, snap)
    require(stats.nonEmpty,
      s"point reads need a stats-carrying snapshot (commit the base with statsFor) at $root")
    val canonical = canonicalCol(keys.schema, keyCols)
    val hitIdx = probeTouched(spark, keys.select(canonical.as("k")), stats)
    val hit = stats.zipWithIndex.collect { case (s, i) if hitIdx(i) => s.path }
    val schema = tableSchemaAt(spark, root, snap)
    val base =
      if (hit.nonEmpty) schema match {
        case Some(s) => spark.read.schema(s).parquet(hit: _*)
        case None => spark.read.parquet(hit: _*)
      }
      else readSnapshot(spark, root, snap).filter(lit(false))
    // left_semi ignores right-side duplicates by definition — no
    // distinct() pre-pass (it would add a full shuffle of the keys)
    val matched = base.join(keys, keyCols, "left_semi")
    morDeletesAt(spark, root, snap) match {
      case Some(dels) => matched.join(dels, dels.columns.toIndexedSeq, "left_anti")
      case None => matched
    }
  }

  private def readSnapshot(spark: SparkSession, root: String,
                           snap: Snapshots.Snapshot): DataFrame = {
    val files = Snapshots.dataFilesAt(spark, root, snap)
    val df = tableSchemaAt(spark, root, snap) match {
      case Some(s) => spark.read.schema(s).parquet(files: _*)
      case None => spark.read.parquet(files: _*)
    }
    morDeletesAt(spark, root, snap) match {
      case Some(dels) => df.join(dels, dels.columns.toIndexedSeq, "left_anti")
      case None => df
    }
  }

  /** The OPTIMIZE step: rewrite the current (possibly cross-dir) file
    * list as one compacted version with no carries — materializing
    * the deletion sidecar and clearing it — then expire everything
    * older, after which retention has reclaimed every dir only the
    * carries kept alive. `zorderBy` preserves a 2-dim clustering
    * through maintenance: files are laid out by the Morton interleave
    * of the two columns instead of the linear canonical-key sort, so
    * a z-clustered table keeps its two-dim pruning win (stats/blooms
    * are still recorded on the MERGE key — pruning precision and
    * layout are independent concerns). */
  def optimize(spark: SparkSession, vroot: String,
               keyCols: Seq[String] = Seq("doc_id"),
               zorderBy: Option[(String, String)] = None,
               writeOptions: Map[String, String] = Map.empty): Snapshots.Snapshot = {
    val cur = Snapshots.current(spark, vroot).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $vroot"))
    // the same key-stamp invariant merge() and deleteMor() enforce:
    // OPTIMIZE re-records stats/blooms AND the #keycols stamp, so a
    // mismatched key here would silently re-home the table into a
    // different canonical domain and row identity (r10 review)
    Snapshots.extrasAt(spark, vroot, cur).get(KeyColsKey).foreach { rec =>
      require(rec.split(',').toSeq == keyCols,
        s"this table is merged on [$rec], not [${keyCols.mkString(",")}] — " +
          s"OPTIMIZE must keep the table's merge key ($vroot)")
    }
    val df = readCurrent(spark, vroot)
    // statsWithBlooms, not bare footerStats: the consolidated files
    // are carried by every later merge, and a bloom-less carry
    // degenerates that merge's pruning to conservative interval-touch
    // rewrites — OPTIMIZE must not silently lower the table's
    // skipping precision
    val snap = Snapshots.commit(spark, vroot, s"opt:${cur.fingerprint}",
      statsFor = p => statsWithBlooms(spark, p, keyCols),
      extras = schemaExtras(df.schema, keyCols, hasDels = false) :+
        (ChangesKey -> NoChanges), // row-preserving by construction
      retryOnConflict = Some(false),
      expectedParent = Some(cur.version)) { p =>
      // normalize bounds as longs (Int-typed dims are the common
      // 16-bit-normalizable case); an EMPTY table has no bounds and
      // nothing to cluster — fall through to the linear layout
      val zBounds = zorderBy.flatMap { case (a, b) =>
        val m = df.agg(max(col(a).cast("long")), max(col(b).cast("long"))).head()
        if (m.isNullAt(0) || m.isNullAt(1)) None
        else Some((a, b, m.getLong(0), m.getLong(1)))
      }
      zBounds match {
        case None =>
          writeRangeSorted(df, keyCols, Compaction.binPackFileCount(spark, df), p)
        case Some((a, b, ma, mb)) =>
          val z = ZOrder.zValue(
            ZOrder.norm16(col(a), ma),
            ZOrder.norm16(col(b), mb))
          // writeOptions carries parquet tuning (e.g. a row-group size
          // matched to the clustering granularity); defaults stay the
          // production parquet defaults
          df.withColumn("__gz", z)
            .repartitionByRange(Compaction.binPackFileCount(spark, df), col("__gz"))
            .sortWithinPartitions(col("__gz"))
            .drop("__gz")
            .write.mode("overwrite")
            .options(writeOptions)
            .parquet(p)
      }
    }
    Snapshots.expire(spark, vroot, keepVersions = 1)
    snap
  }

  // ---- registered-query fixtures ------------------------------------

  private def root(dir: String): String = Snapshots.scratchDir("merge", dir)

  private def maxDocId(spark: SparkSession, dir: String): Long =
    spark.read.parquet(s"$dir/documents.parquet")
      .agg(max("doc_id")).head().getLong(0)

  /** The [loPct%, hiPct%) doc_id band derived from the corpus' own
    * max id — the [[Compaction.sliceBounds]] integer arithmetic, so
    * the oracle replays the bounds exactly. RANGE-localized change
    * batches are what makes the registered queries exercise the
    * copy-on-write path for real: a CDC batch touching a narrow key
    * band rewrites a sliver of the files (mod-scattered keys would
    * conservatively touch every file's interval and degenerate to a
    * full rewrite). */
  private def band(mi: Long, loPct: Long, hiPct: Long): (Long, Long) =
    ((mi + 1) * loPct / 100, (mi + 1) * hiPct / 100)

  private def inBand(c: Column, b: (Long, Long)) = c >= b._1 && c < b._2

  /** Batch 1 — the oracle-replayable CDC batch: delete the [10%,13%)
    * id band, re-language [40%,42%) to 'zz', and insert 100 fresh
    * docs above the current max id. */
  def changeBatch1(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val mi = maxDocId(spark, dir)
    val deletes = docs.filter(inBand(col("doc_id"), band(mi, 10, 13)))
      .withColumn("op", lit(DeleteOp))
    val updates = docs.filter(inBand(col("doc_id"), band(mi, 40, 42)))
      .withColumn("lang", lit("zz"))
      .withColumn("op", lit(UpsertOp))
    val text = concat(lit("merged doc "), col("id").cast("string"))
    val inserts = spark.range(1, 101).select(
      (lit(mi) + col("id")).as("doc_id"),
      text.as("text"),
      lit("new").as("lang"),
      lit("merge").as("source"),
      length(text).cast("long").as("n_chars"))
      .withColumn("op", lit(UpsertOp))
    deletes.unionByName(updates).unionByName(inserts)
  }

  /** Batch 2 — built FROM THE CURRENT TABLE (the realistic CDC loop):
    * delete the [70%,72%) band, re-source [20%,22%) to 'rev2'; bands
    * off the ORIGINAL corpus max so the oracle sees the same bounds. */
  def changeBatch2(spark: SparkSession, dir: String, vroot: String): DataFrame = {
    val mi = maxDocId(spark, dir)
    val cur = readCurrent(spark, vroot)
    cur.filter(inBand(col("doc_id"), band(mi, 70, 72)))
      .withColumn("op", lit(DeleteOp))
      .unionByName(
        cur.filter(inBand(col("doc_id"), band(mi, 20, 22)))
          .withColumn("source", lit("rev2"))
          .withColumn("op", lit(UpsertOp)))
  }

  /** Batch 3 (the CDF chain only) — built from the current table like
    * batch 2: DELETE the [40%,42%) band batch 1 re-languaged, and
    * re-source [20%,22%) again to 'rev3'. Chosen so the NET endpoint
    * diff and the per-commit feed genuinely disagree: the net diff
    * surfaces [40,42) as plain deletes of their ORIGINAL preimages
    * (the 'zz' intermediate cancels) and [20,22) as one update pair
    * whose 'rev2' intermediate cancels, while the feed sees every
    * intermediate tagged with its commit. */
  def changeBatch3(spark: SparkSession, dir: String, vroot: String): DataFrame = {
    val mi = maxDocId(spark, dir)
    val cur = readCurrent(spark, vroot)
    cur.filter(inBand(col("doc_id"), band(mi, 40, 42)))
      .withColumn("op", lit(DeleteOp))
      .unionByName(
        cur.filter(inBand(col("doc_id"), band(mi, 20, 22)))
          .withColumn("source", lit("rev3"))
          .withColumn("op", lit(UpsertOp)))
  }

  /** Run `body` with the write-time change log enabled, restoring the
    * caller's conf after. */
  private[sources] def withChangeFeed[A](spark: SparkSession)(body: => A): A = {
    val prior = spark.conf.getOption("spark.graft.merge.changeFeed")
    spark.conf.set("spark.graft.merge.changeFeed", "true")
    try body
    finally prior match {
      case Some(v) => spark.conf.set("spark.graft.merge.changeFeed", v)
      case None => spark.conf.unset("spark.graft.merge.changeFeed")
    }
  }

  /** The MIXED logged/computed chain the CDF queries read: base (v1),
    * batch 1 committed WITHOUT the change log (v2 — the feed must
    * fall back to the computed catalog-pruned diff), batches 2 and 3
    * committed WITH it (v3, v4 — served from the write-time log).
    * Same [[Snapshots.ensure]]-style idempotence as [[ensureChain]];
    * the relay feed dir and its stream sink are derived state of this
    * chain, wiped together on rebuild. */
  def ensureCdfChain(spark: SparkSession, dir: String): String = {
    val src = s"$dir/documents.parquet"
    val fp = Snapshots.fingerprint(spark, src)
    val vroot = s"${root(dir)}/chaincdf"
    val want = s"$BatchFormat-cdf:$fp"
    if (!Snapshots.current(spark, vroot).exists(_.fingerprint == want)) {
      val f = Snapshots.fs(spark, vroot)
      f.delete(new Path(vroot), true)
      Seq("feed", "feedsink", "feedcp").foreach(sfx =>
        f.delete(new Path(s"${vroot}_$sfx"), true))
      Snapshots.commit(spark, vroot, s"base:$fp",
        statsFor = p => statsWithBlooms(spark, p)) { p =>
        Compaction.compactDir(spark, src, p, "doc_id")
      }
      merge(spark, vroot, changeBatch1(spark, dir), s"m1:$fp") // v2: unlogged
      withChangeFeed(spark) {
        merge(spark, vroot, changeBatch2(spark, dir, vroot), s"m2:$fp") // v3
        merge(spark, vroot, changeBatch3(spark, dir, vroot), want) // v4
      }
    }
    vroot
  }

  /** The registered CDF aggregate: per (commit, change type, lang,
    * source) counts/sums — compact, hash-stable, and every change
    * row contributes, so a single wrong or missing feed row flips
    * the oracle hash. */
  private def feedStats(feed: DataFrame, withVersion: Boolean): DataFrame = {
    val keys =
      (if (withVersion)
        Seq(col("_commit_version").cast("long").as("commit_version"))
      else Nil) ++
        Seq(col("_change_type").as("change_type"), col("lang"), col("source"))
    feed.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        sum(col("doc_id")).cast("long").as("sum_ids"))
  }

  /** q:`change_feed` — the PER-COMMIT feed over the mixed chain:
    * v2 computed (no log was written), v3/v4 from the write-time log,
    * stitched by [[changeFeed]]; the oracle rebuilds each commit's
    * diff from the batch definitions, so a logged/computed divergence
    * or a missing intermediate fails the hash. */
  def changeFeedScan(spark: SparkSession, dir: String): DataFrame =
    feedStats(changeFeed(spark, ensureCdfChain(spark, dir), 1, 4),
      withVersion = true)

  /** q:`changes_between` — the NET endpoint diff over the same chain:
    * rows that cancel across commits ([40,42) insert-then-delete of
    * the 'zz' intermediate, [20,22)'s 'rev2' hop) must NOT appear,
    * which is exactly where this differs from q:`change_feed`. */
  def changesBetweenScan(spark: SparkSession, dir: String): DataFrame =
    feedStats(changesBetween(spark, ensureCdfChain(spark, dir), 1, 4),
      withVersion = false)

  /** q:`stream_change_feed` — the same per-commit feed consumed the
    * production way: [[publishChangeFeed]] relays every version into
    * the feed dir (v2 has no log, so the relay publishes the computed
    * diff — the r10 completeness fix on the registered surface), a
    * plain file-source STREAM discovers the relayed versions, and a
    * checkpointed parquet sink lands them exactly-once (a bench rep
    * resumes the checkpoint, finds nothing new, re-reads the same
    * committed output). Shares q:`change_feed`'s oracle: the
    * transport must never change the rows. */
  def streamChangeFeedScan(spark: SparkSession, dir: String): DataFrame = {
    val vroot = ensureCdfChain(spark, dir)
    val feedDir = s"${vroot}_feed"
    publishChangeFeed(spark, vroot, feedDir)
    val sink = s"${vroot}_feedsink"
    // startAfterVersion=Some(1): this consumer needs every change
    // after the base — the registered query exercises the fail-fast
    // floor check (trivially satisfied here; the feed never expires)
    val q = streamChangeFeed(spark, vroot, feedDir, startAfterVersion = Some(1))
      .writeStream.format("parquet")
      .option("path", sink)
      .option("checkpointLocation", s"${vroot}_feedcp")
      .outputMode("append").start()
    // capture is OPPORTUNISTIC here: this checkpoint survives the JVM
    // (it lives under the table root), so a re-run that finds nothing
    // new has no last batch to record — the audit treats this query's
    // stream digest as optional for exactly that reason
    try { q.processAllAvailable(); graft.PlanCapture.record("graft_stream_change_feed", q) }
    finally q.stop()
    feedStats(spark.read.parquet(sink), withVersion = true)
  }

  /** Base v1 + the given number of merge batches, rebuilt only when
    * the source fingerprint (or chain depth) changed — the
    * [[Snapshots.ensure]] idempotence discipline, keyed on the final
    * chain state. `suffix` separates roots whose lifecycle diverges
    * (the OPTIMIZE query consolidates ITS root; the time-travel query
    * needs its chain's history intact). */
  def ensureChain(spark: SparkSession, dir: String, batches: Int,
                  suffix: String = ""): String = {
    val src = s"$dir/documents.parquet"
    val fp = Snapshots.fingerprint(spark, src)
    val vroot = s"${root(dir)}/chain$batches$suffix"
    // the fingerprint keys on source DATA; the batch-format tag keys
    // on batch SEMANTICS — cached chains from an older batch design
    // must rebuild, not silently serve the old rows
    val want = s"$BatchFormat-m$batches$suffix:$fp"
    // an OPTIMIZEd chain ([[mergeCompactedScan]]) holds the same rows
    // under a consolidated layout — still current, don't rebuild
    val have = Snapshots.current(spark, vroot).map(_.fingerprint)
    if (!have.contains(want) && !have.contains(s"opt:$want")) {
      Snapshots.fs(spark, vroot).delete(new Path(vroot), true)
      Snapshots.commit(spark, vroot, s"base:$fp",
        statsFor = p => statsWithBlooms(spark, p)) { p =>
        Compaction.compactDir(spark, src, p, "doc_id")
      }
      val b1fp = if (batches >= 2) s"m1:$fp" else want
      merge(spark, vroot, changeBatch1(spark, dir), b1fp)
      if (batches >= 2)
        merge(spark, vroot, changeBatch2(spark, dir, vroot), want)
    }
    vroot
  }

  private def scanStats(df: DataFrame): DataFrame =
    df.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        sum(col("doc_id")).cast("long").as("sum_ids"))

  /** The table after batch 1, read through the manifest's file list
    * — content is pure merge semantics, so DuckDB replays it off the
    * raw table with no knowledge of the layout. */
  def mergeScan(spark: SparkSession, dir: String): DataFrame =
    scanStats(readCurrent(spark, ensureChain(spark, dir, 1)))

  /** The table after batch 2 chained on batch 1 — two copy-on-write
    * versions deep, proving carried references survive re-merging. */
  def mergeIncrementalScan(spark: SparkSession, dir: String): DataFrame =
    scanStats(readCurrent(spark, ensureChain(spark, dir, 2)))

  /** TIME TRAVEL over the merge chain: read version 2 — the state
    * batch 1 froze — of the SAME root [[mergeIncrementalScan]] has
    * since advanced past with batch 2. The oracle is merge_scan's:
    * a pinned version must replay exactly what it froze, carried
    * references, schema and deletion state all resolved AT that
    * version. */
  def snapshotAtScan(spark: SparkSession, dir: String): DataFrame = {
    val vroot = ensureChain(spark, dir, 2)
    scanStats(readAt(spark, vroot, 2))
  }

  /** q:`merge_range_read` — the catalog-pruned RANGE read over the
    * two-batch chain: only files whose manifest interval intersects
    * the [5%, 45%) doc_id band open ([[readCurrentRange]]), and the
    * result must be indistinguishable from filtering the full merged
    * table — the band deliberately covers the deleted [10,13) band
    * (must be absent), the re-languaged [40,42) and the re-sourced
    * [20,22) (must carry their post-merge values). Shares
    * [[mergeIncrementalScan]]'s CTE replay plus the range predicate. */
  def mergeRangeReadScan(spark: SparkSession, dir: String): DataFrame = {
    val vroot = ensureChain(spark, dir, 2)
    val b = band(maxDocId(spark, dir), 5, 45)
    scanStats(readCurrentRange(spark, vroot, b._1, b._2))
  }

  /** q:`merge_point_read` — the catalog-pruned POINT-LOOKUP read
    * (the "fetch these documents by id" GDPR/backfill shape): probe
    * the chain's interval+bloom catalog with every doc_id ≡ 0
    * (mod 97) up to past the insert band ([[readCurrentKeys]]); keys
    * that hit deleted rows must return nothing, keys landing on
    * batch-1 inserts must return them. Oracle: the merged table
    * filtered to the same congruence class. */
  def mergePointReadScan(spark: SparkSession, dir: String): DataFrame = {
    val vroot = ensureChain(spark, dir, 2)
    val mi = maxDocId(spark, dir)
    // multiples of 97 in [0, mi+200): a superset of the merged
    // table's ids in the class (inserts stop at mi+100), so the
    // semi-join result is exactly the oracle's `doc_id % 97 = 0`
    val keys = spark.range(0, mi + 200, 97).select(col("id").as("doc_id"))
    scanStats(readCurrentKeys(spark, vroot, keys))
  }

  /** q:`feed_batch_read` — the consumer-CATCH-UP read off the relayed
    * feed dir: [[readChangeFeed]] serves the whole (1, 4] range as ONE
    * parquet load (O(1) plan cost at any depth — the depth-50 receipt
    * in BENCH_SCALE `r10_cdf_depth`), and the rows must be exactly the
    * per-commit feed's — q:`change_feed`'s oracle, shared verbatim:
    * the transport must never change the rows. */
  def feedBatchReadScan(spark: SparkSession, dir: String): DataFrame = {
    val vroot = ensureCdfChain(spark, dir)
    val feedDir = s"${vroot}_feed"
    publishChangeFeed(spark, vroot, feedDir)
    feedStats(readChangeFeed(spark, vroot, feedDir, 1, 4), withVersion = true)
  }

  /** The same batch-1 chain keyed on a STRING surrogate key
    * (`'d' || doc_id`) — the composite/string-key path: canonical
    * 64-bit hash for stats/blooms/layout, exact string equality for
    * the delete-and-replace. Content is identical to [[mergeScan]]
    * (the key's SHAPE must never change what a merge means), so the
    * two share one oracle. */
  def mergeStringKeyScan(spark: SparkSession, dir: String): DataFrame = {
    val src = s"$dir/documents.parquet"
    val fp = Snapshots.fingerprint(spark, src)
    val vroot = s"${root(dir)}/chainstr"
    val want = s"$BatchFormat-str:$fp"
    if (!Snapshots.current(spark, vroot).exists(_.fingerprint == want)) {
      Snapshots.fs(spark, vroot).delete(new Path(vroot), true)
      val withKey = spark.read.parquet(src)
        .withColumn("doc_key", concat(lit("d"), col("doc_id")))
      Snapshots.commit(spark, vroot, s"base:$fp",
        statsFor = p => statsWithBlooms(spark, p, Seq("doc_key"))) { p =>
        writeRangeSorted(withKey, Seq("doc_key"),
          Compaction.binPackFileCount(spark, spark.read.parquet(src)), p)
      }
      merge(spark, vroot,
        changeBatch1(spark, dir)
          .withColumn("doc_key", concat(lit("d"), col("doc_id"))),
        want, Seq("doc_key"))
    }
    scanStats(readCurrent(spark, vroot))
  }

  /** SCHEMA EVOLUTION mid-chain: batch 2's upserts carry a `rev`
    * column the table never had. The merge widens the schema, the
    * carried files (never rewritten) null-fill it at read, and the
    * aggregate proves exactly the upserted band carries the value —
    * the oracle replays the widened semantics off the raw table. */
  def mergeEvolveScan(spark: SparkSession, dir: String): DataFrame = {
    val src = s"$dir/documents.parquet"
    val fp = Snapshots.fingerprint(spark, src)
    val vroot = s"${root(dir)}/chainevolve"
    val want = s"$BatchFormat-evolve:$fp"
    if (!Snapshots.current(spark, vroot).exists(_.fingerprint == want)) {
      Snapshots.fs(spark, vroot).delete(new Path(vroot), true)
      Snapshots.commit(spark, vroot, s"base:$fp",
        statsFor = p => statsWithBlooms(spark, p)) { p =>
        Compaction.compactDir(spark, src, p, "doc_id")
      }
      merge(spark, vroot, changeBatch1(spark, dir), s"m1:$fp")
      merge(spark, vroot,
        changeBatch2(spark, dir, vroot)
          .withColumn("rev", when(col("op") === UpsertOp, lit(2L))),
        want)
    }
    readCurrent(spark, vroot)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        sum(col("doc_id")).cast("long").as("sum_ids"),
        sum(col("rev")).cast("long").as("sum_rev"))
  }

  /** The table after batch 1 plus a MERGE-ON-READ delete of the
    * [55%,57%) id band — zero files rewritten, the band lives in the
    * version's deletion sidecar and is anti-joined at read time.
    * Content is still pure merge semantics for the oracle. */
  def mergeMorScan(spark: SparkSession, dir: String): DataFrame = {
    val src = s"$dir/documents.parquet"
    val fp = Snapshots.fingerprint(spark, src)
    val vroot = s"${root(dir)}/chainmor"
    val want = s"$BatchFormat-mor:$fp"
    if (!Snapshots.current(spark, vroot).exists(_.fingerprint == want)) {
      Snapshots.fs(spark, vroot).delete(new Path(vroot), true)
      Snapshots.commit(spark, vroot, s"base:$fp",
        statsFor = p => statsWithBlooms(spark, p)) { p =>
        Compaction.compactDir(spark, src, p, "doc_id")
      }
      merge(spark, vroot, changeBatch1(spark, dir), s"$BatchFormat-m1:$fp")
      val mi = maxDocId(spark, dir)
      deleteMor(spark, vroot,
        spark.read.parquet(src)
          .filter(inBand(col("doc_id"), band(mi, 55, 57)))
          .select("doc_id"),
        want)
    }
    scanStats(readCurrent(spark, vroot))
  }

  /** OPTIMIZE after merging — the lifecycle's last step: merges leave
    * the current version's file list scattered across version dirs
    * (carried refs + per-batch rewrites); this consolidates them into
    * one fresh compacted version with NO carries, then expires every
    * older version — the moment retention can finally reclaim the
    * dirs the carries were keeping alive. Runs on its OWN chain root
    * (`opt` suffix): consolidation destroys history, and the
    * time-travel query needs [[ensureChain]]'s plain root intact.
    * Content is untouched, so the batch-2 oracle replays this scan
    * unchanged. */
  def mergeCompactedScan(spark: SparkSession, dir: String): DataFrame = {
    val vroot = ensureChain(spark, dir, 2, "opt")
    if (!Snapshots.current(spark, vroot).get.fingerprint.startsWith("opt:"))
      optimize(spark, vroot)
    scanStats(readCurrent(spark, vroot))
  }
}
