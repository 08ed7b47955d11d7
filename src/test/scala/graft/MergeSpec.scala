package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.{Compaction, Merge, Snapshots}

/** The copy-on-write contract of the storage MERGE: a CDC batch must
  * rewrite ONLY the files whose key interval contains a change key,
  * carry every other file by reference (byte-identical, same
  * version dir), keep the no-duplicate-key invariant even for
  * inserts landing inside an untouched interval's gap, and interact
  * correctly with retention — a version dir stays alive while any
  * surviving manifest still carries a file inside it. */
class MergeSpec extends SparkSpec {

  private def tmpRoot(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_merge_$name").toString

  /** Base table: ids 0,2,4,…,198 (even — odd ids are interval gaps)
    * over ~8 files with disjoint key ranges, committed with footer
    * stats. */
  private def commitBase(root: String): Unit = {
    val s = spark
    import s.implicits._
    val df = (0L until 200L by 2).map(i => (i, s"doc $i ${"x" * 64}"))
      .toDF("doc_id", "text")
    Snapshots.commit(spark, root, "base",
      statsFor = p => Merge.statsWithBlooms(spark, p)) { p =>
      df.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.parquet(p)
    }
  }

  private def changes(rows: (Long, String, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "op")
  }

  private def fileVersions(root: String): Map[String, Int] =
    Snapshots.fileStats(spark, root).map { st =>
      val segs = new Path(st.path).toUri.getPath.split('/')
      st.path -> segs(segs.length - 2).stripPrefix("v").toInt
    }.toMap

  test("a narrow batch rewrites only interval-hit files; the rest are carried verbatim") {
    val root = tmpRoot("cow")
    commitBase(root)
    val v1Files = Snapshots.fileStats(spark, root).map(_.path)
    assert(v1Files.size >= 6, s"base should be several files, got ${v1Files.size}")
    val fs = Snapshots.fs(spark, root)
    def meta(p: String) = { val st = fs.getFileStatus(new Path(p)); (st.getLen, st.getModificationTime) }
    val v1Meta = v1Files.map(p => p -> meta(p)).toMap

    // one update inside the first file's range, one delete in the last's
    val snap = Merge.merge(spark, root,
      changes((0L, "rewritten", Merge.UpsertOp), (198L, "", Merge.DeleteOp)), "m1")
    assert(snap.version == 2)

    val vers = fileVersions(root)
    val carried = vers.filter(_._2 == 1).keys.toSeq
    val rewritten = vers.filter(_._2 == 2).keys.toSeq
    assert(rewritten.nonEmpty && carried.size >= v1Files.size - 2,
      s"expected at most 2 of ${v1Files.size} files rewritten; carried=${carried.size}")
    // carried files are the SAME files: path, length, mtime untouched
    carried.foreach(p => assert(meta(p) == v1Meta(p), s"carried file mutated: $p"))

    val cur = Merge.readCurrent(spark, root)
    assert(cur.count() == 99) // 100 - 1 delete
    assert(cur.filter(col("doc_id") === 0L).select("text").head().getString(0) == "rewritten")
    assert(cur.filter(col("doc_id") === 198L).isEmpty)
  }

  test("an insert into an untouched interval's gap lands exactly once") {
    val root = tmpRoot("gap")
    commitBase(root)
    // 101 is odd — absent, but inside some file's [min,max] interval
    // (the key bloom proves the absence, so NO file is rewritten);
    // 9999 is beyond every interval
    val nBase = Snapshots.fileStats(spark, root).size
    Merge.merge(spark, root,
      changes((101L, "gap doc", Merge.UpsertOp), (9999L, "tail doc", Merge.UpsertOp)), "m1")
    val cur = Merge.readCurrent(spark, root)
    assert(cur.filter(col("doc_id") === 101L).count() == 1)
    assert(cur.filter(col("doc_id") === 9999L).count() == 1)
    assert(cur.count() == 102)
    // bloom-precise pruning: every base file carried, one insert file
    val vers = fileVersions(root)
    assert(vers.count(_._2 == 1) == nBase,
      s"gap inserts must not rewrite bloom-negative files: $vers")
    assert(vers.count(_._2 == 2) == 1, "the inserts land in one new file")
    // and the table stays skipping-plannable: every file has stats
    val stats = Snapshots.fileStats(spark, root)
    assert(stats.map(_.nRows).sum == 102)
    // re-merging the same key replaces, never duplicates
    Merge.merge(spark, root, changes((9999L, "tail v2", Merge.UpsertOp)), "m2")
    val again = Merge.readCurrent(spark, root)
    assert(again.filter(col("doc_id") === 9999L).count() == 1)
    assert(again.filter(col("doc_id") === 9999L).select("text").head().getString(0) == "tail v2")
  }

  test("an empty batch commits a carry-all version; a delete-everything batch still publishes") {
    val root = tmpRoot("edge")
    commitBase(root)
    val v1 = Snapshots.current(spark, root).get
    // the Delta empty-transaction behavior: version history and
    // idempotence fingerprints advance, no file moves
    val noop = Merge.merge(spark, root, changes(), "noop")
    assert(noop.version == 2 && noop.fingerprint == "noop")
    assert(fileVersions(root).values.forall(_ == 1),
      "an empty batch must carry every file, write none")
    assert(Merge.readCurrent(spark, root).count() == 100)
    // delete every row
    val all = Merge.readCurrent(spark, root).select("doc_id")
      .withColumn("text", lit("")).withColumn("op", lit(Merge.DeleteOp))
    val snap = Merge.merge(spark, root, all, "wipe")
    assert(snap.version == 3)
    // the wiped table keeps its schema-bearing empty file under an
    // empty sentinel interval — still readable, still merge-able
    val stats = Snapshots.fileStats(spark, root)
    assert(stats.nonEmpty && stats.map(_.nRows).sum == 0,
      "a wiped table must keep a schema-bearing file list")
    assert(Merge.readCurrent(spark, root).count() == 0)
    Merge.merge(spark, root, changes((1L, "reborn", Merge.UpsertOp)), "rebirth")
    val cur = Merge.readCurrent(spark, root)
    assert(cur.count() == 1 && cur.select("text").head().getString(0) == "reborn")
  }

  test("expire keeps a version dir alive while a surviving manifest carries its files") {
    val root = tmpRoot("retain")
    commitBase(root)
    Merge.merge(spark, root, changes((0L, "v2", Merge.UpsertOp)), "m1")
    val before = Merge.readCurrent(spark, root).orderBy("doc_id").collect().toSeq

    // v2's manifest carries most files from v000000001 — expiring down
    // to 1 version must delete v1's MANIFEST but keep its data dir
    val deleted = Snapshots.expire(spark, root, keepVersions = 1)
    assert(deleted == Seq(1))
    assert(Snapshots.at(spark, root, 1).isEmpty, "v1 no longer resolves")
    val fs = Snapshots.fs(spark, root)
    assert(fs.exists(new Path(root, "v000000001")),
      "carried-from dir must survive retention")
    assert(Merge.readCurrent(spark, root).orderBy("doc_id").collect().toSeq == before)

    // a full rewrite (compaction through the snapshot layer) drops the
    // carries; NOW expire reclaims both old dirs
    Snapshots.commit(spark, root, "rewrite",
      statsFor = p => Compaction.footerStats(spark, p)) { p =>
      Merge.readCurrent(spark, root).repartitionByRange(2, col("doc_id"))
        .sortWithinPartitions(col("doc_id")).write.parquet(p)
    }
    Snapshots.expire(spark, root, keepVersions = 1)
    assert(!fs.exists(new Path(root, "v000000001")) &&
      !fs.exists(new Path(root, "v000000002")),
      "unreferenced dirs reclaimed once the carries are gone")
    assert(Merge.readCurrent(spark, root).orderBy("doc_id").collect().toSeq == before)
  }

  test("a killed merge is invisible: readers stay on the committed version") {
    val root = tmpRoot("crash")
    commitBase(root)
    val v1 = Snapshots.current(spark, root).get
    intercept[RuntimeException] {
      Snapshots.commit(spark, root, "killed") { _ =>
        throw new RuntimeException("executor lost mid-merge")
      }
    }
    assert(Snapshots.current(spark, root).get == v1)
    assert(Merge.readCurrent(spark, root).count() == 100)
    // and the next merge commits cleanly over the leftovers
    val snap = Merge.merge(spark, root, changes((0L, "after crash", Merge.UpsertOp)), "m1")
    assert(snap.version >= 2 && Merge.readCurrent(spark, root).count() == 100)
  }

  test("OPTIMIZE consolidates the cross-dir file list and lets expire reclaim carried dirs") {
    val vroot = tmpRoot("optimize")
    commitBase(vroot)
    Merge.merge(spark, vroot, changes((0L, "v2", Merge.UpsertOp)), "m1")
    Merge.merge(spark, vroot, changes((100L, "v3", Merge.UpsertOp)), "m2")
    val before = Merge.readCurrent(spark, vroot).orderBy("doc_id").collect().toSeq
    // pre-OPTIMIZE: the current file list spans version dirs
    assert(fileVersions(vroot).values.toSet.size > 1,
      "the merged chain should carry files from multiple versions")
    Merge.optimize(spark, vroot)
    assert(Merge.readCurrent(spark, vroot).orderBy("doc_id").collect().toSeq
      == before, "OPTIMIZE must not change a row")
    // post-OPTIMIZE: one version dir holds everything, older reclaimed
    val vers = fileVersions(vroot).values.toSet
    assert(vers.size == 1, s"expected one consolidated dir, got $vers")
    val fs = Snapshots.fs(spark, vroot)
    val dirs = fs.listStatus(new Path(vroot)).map(_.getPath.getName)
      .filter(_.matches("v\\d{9}")).toSeq
    assert(dirs.size == 1, s"expire should reclaim the carried dirs, left $dirs")
    // and the registered lifecycle query serves the optimized chain
    // idempotently (second call commits nothing)
    Merge.mergeCompactedScan(spark, Sf001)
    val reg = Merge.ensureChain(spark, Sf001, 2, "opt")
    val v = Snapshots.current(spark, reg).get.version
    Merge.mergeCompactedScan(spark, Sf001)
    assert(Snapshots.current(spark, reg).get.version == v)
  }

  test("merge-on-read delete rewrites nothing; COW re-upsert resurrects; OPTIMIZE materializes") {
    val s = spark
    import s.implicits._
    val root = tmpRoot("mor")
    commitBase(root)
    val nBase = Snapshots.fileStats(spark, root).size

    // MOR delete of three present keys: zero files rewritten
    Merge.deleteMor(spark, root, Seq(10L, 50L, 90L).toDF("doc_id"), "mor1")
    assert(fileVersions(root).values.forall(_ == 1) &&
      Snapshots.fileStats(spark, root).size == nBase,
      "a merge-on-read delete must carry every file untouched")
    val cur = Merge.readCurrent(spark, root)
    assert(cur.count() == 97 &&
      cur.filter(col("doc_id").isin(10L, 50L, 90L)).isEmpty)
    // ...while the physical bytes still hold the rows
    assert(spark.read.parquet(Snapshots.dataFiles(spark, root): _*)
      .filter(col("doc_id") === 10L).count() == 1)

    // a COW upsert of a MOR-deleted key resurrects it exactly once
    Merge.merge(spark, root, changes((50L, "back", Merge.UpsertOp)), "m1")
    val after = Merge.readCurrent(spark, root)
    assert(after.count() == 98)
    assert(after.filter(col("doc_id") === 50L).select("text")
      .head().getString(0) == "back")
    assert(after.filter(col("doc_id").isin(10L, 90L)).isEmpty,
      "unrelated MOR deletions must survive the COW merge")
    // an empty batch preserves the remaining deletion list
    Merge.merge(spark, root, changes(), "noop")
    assert(Merge.morDeletes(spark, root).get
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 90L))

    // OPTIMIZE materializes the filter and clears the list
    Merge.optimize(spark, root)
    assert(Merge.morDeletes(spark, root).isEmpty)
    val opt = spark.read.parquet(Snapshots.dataFiles(spark, root): _*)
    assert(opt.filter(col("doc_id").isin(10L, 90L)).isEmpty,
      "OPTIMIZE must physically remove MOR-deleted rows")
    assert(Merge.readCurrent(spark, root).count() == 98)
  }

  test("key blooms: no false negatives, useful rejection, stable round trip") {
    val s = spark
    import s.implicits._
    val keys = (0L until 500L).map(_ * 7L)
    val dir = s"${java.nio.file.Files.createTempDirectory("graft_bloom")}/keys"
    keys.toDF("doc_id").coalesce(1).write.parquet(dir)
    val blooms = graft.sources.KeyBloom.bloomsFor(spark.read.parquet(dir), "doc_id")
    assert(blooms.size == 1)
    val bits = graft.sources.KeyBloom.decode(blooms.values.head).get
    // a bloom over a file's EXACT key set can never miss a member
    keys.foreach(k => assert(graft.sources.KeyBloom.mightContain(bits, k)))
    // and rejects the vast majority of absent keys (adaptive sizing
    // gives 500 keys ~10 bits each ≈ ~1% theoretical fp rate;
    // assert a loose 10% bound)
    val absent = (1L to 2000L).map(_ * 7L + 3L)
    val fps = absent.count(graft.sources.KeyBloom.mightContain(bits, _))
    assert(fps < absent.size / 10, s"false-positive rate too high: $fps/${absent.size}")
    assert(graft.sources.KeyBloom.decode("").isEmpty)
    // adaptive sizing: ~10 bits/key (whole words), floored and capped
    assert(bits.length * 64 == graft.sources.KeyBloom.bitsFor(500))
    assert(graft.sources.KeyBloom.bitsFor(10) == graft.sources.KeyBloom.MinBits)
    assert(graft.sources.KeyBloom.bitsFor(1000000) == graft.sources.KeyBloom.MaxBits)
    // a 10k-key file keeps a useful fp rate (a FIXED 4096-bit bloom
    // saturates at ~2.4 keys/bit and answers "maybe" for everything —
    // every merge would conservatively rewrite every big file)
    val bigDir = s"${java.nio.file.Files.createTempDirectory("graft_bloom_big")}/keys"
    (0L until 10000L).map(_ * 3L).toDF("doc_id").coalesce(1).write.parquet(bigDir)
    val bigBits = graft.sources.KeyBloom.decode(
      graft.sources.KeyBloom.bloomsFor(spark.read.parquet(bigDir), "doc_id").values.head).get
    assert(bigBits.length * 64 == graft.sources.KeyBloom.bitsFor(10000))
    val bigAbsent = (1L to 4000L).map(_ * 3L + 1L)
    val bigFps = bigAbsent.count(graft.sources.KeyBloom.mightContain(bigBits, _))
    assert(bigFps < bigAbsent.size / 10,
      s"10k-key bloom must stay discriminative: $bigFps/${bigAbsent.size} fps")
  }

  test("string and composite keys: exact replace, bloom-precise pruning on the hash domain") {
    val s = spark
    import s.implicits._
    val root = tmpRoot("strkey")
    // composite (tenant, name) key — the real-CDC shape
    val df = (0 until 200).map(i => (s"t${i % 4}", s"doc$i", i.toLong))
      .toDF("tenant", "name", "payload")
    val keys = Seq("tenant", "name")
    Snapshots.commit(spark, root, "base",
      statsFor = p => Merge.statsWithBlooms(spark, p, keys)) { p =>
      // hash-sorted layout: files tile the canonical (hash) domain
      df.withColumn("__k", xxhash64(col("tenant").cast("string"), col("name").cast("string")))
        .repartitionByRange(8, col("__k")).sortWithinPartitions("__k").drop("__k")
        .write.parquet(p)
    }
    val nBase = Snapshots.fileStats(spark, root).size
    assert(nBase >= 6)

    // upsert one present key, delete another, insert a fresh one
    val batch = Seq(
      ("t1", "doc5", 999L, Merge.UpsertOp),
      ("t2", "doc6", 0L, Merge.DeleteOp),
      ("t9", "brand-new", 7L, Merge.UpsertOp))
      .toDF("tenant", "name", "payload", "op")
    Merge.merge(spark, root, batch, "m1", keys)
    val cur = Merge.readCurrent(spark, root)
    assert(cur.count() == 200) // -1 delete +1 insert
    assert(cur.filter(col("tenant") === "t1" && col("name") === "doc5")
      .select("payload").head().getLong(0) == 999L)
    assert(cur.filter(col("tenant") === "t2" && col("name") === "doc6").isEmpty)
    assert(cur.filter(col("tenant") === "t9").count() == 1)
    // pruning is exact on the hash domain: at most the 2 files holding
    // the touched keys rewrite (blooms keep hash-span files carried)
    val vers = fileVersions(root)
    assert(vers.count(_._2 == 1) >= nBase - 2,
      s"hash-key pruning should carry hash-miss files: $vers")
    // a second merge of an ABSENT key inside some hash interval:
    // blooms prove absence, nothing rewrites
    Merge.merge(spark, root,
      Seq(("t3", "nonexistent", 1L, Merge.UpsertOp)).toDF("tenant", "name", "payload", "op"),
      "m2", keys)
    val vers2 = fileVersions(root)
    assert(vers2.count(_._2 <= 2) == vers.size,
      s"bloom-negative hash keys must not rewrite files: $vers2")
    // the manifest records the merge key; a merge with DIFFERENT key
    // columns would probe the recorded blooms in the wrong canonical
    // domain — it must fail fast, not silently duplicate rows
    assert(Merge.recordedKeyCols(spark, root).contains(keys))
    val wrongKey = intercept[IllegalArgumentException] {
      Merge.merge(spark, root,
        Seq(("t0", "doc1", 5L, Merge.UpsertOp)).toDF("tenant", "name", "payload", "op"),
        "m3", Seq("payload"))
    }
    assert(wrongKey.getMessage.contains("merged on"), wrongKey.getMessage)
  }

  test("schema evolution through the merge: carried files null-fill the added column") {
    val s = spark
    import s.implicits._
    val root = tmpRoot("evolve")
    commitBase(root)
    val v1Files = Snapshots.fileStats(spark, root).map(_.path).toSet

    // the batch carries a column the table never had
    val batch = Seq((0L, "rewritten", 7L, Merge.UpsertOp))
      .toDF("doc_id", "text", "score", "op")
    Merge.merge(spark, root, batch, "m1")
    val cur = Merge.readCurrent(spark, root)
    assert(cur.columns.toSeq == Seq("doc_id", "text", "score"),
      s"schema must widen in place: ${cur.columns.toSeq}")
    // most files were CARRIED (never rewritten) yet read back with the
    // widened schema, null-filled
    val carried = Snapshots.fileStats(spark, root).map(_.path).toSet intersect v1Files
    assert(carried.size >= v1Files.size - 2, "evolution must not rewrite the table")
    assert(cur.filter(col("doc_id") === 0L).select("score").head().getLong(0) == 7L)
    assert(cur.filter(col("score").isNull).count() == 99,
      "carried rows null-fill the added column")
    // a later batch WITHOUT the column upserts under the widened schema
    Merge.merge(spark, root, changes((2L, "partial", Merge.UpsertOp)), "m2")
    val after = Merge.readCurrent(spark, root)
    assert(after.filter(col("doc_id") === 2L).select("text").head().getString(0) == "partial")
    assert(after.filter(col("doc_id") === 2L).select("score").head().isNullAt(0))
    assert(after.filter(col("doc_id") === 0L).select("score").head().getLong(0) == 7L)
  }

  test("a bulk merge-on-read delete keeps every key off the driver") {
    val s = spark
    import s.implicits._
    val root = tmpRoot("bulk")
    commitBase(root)
    // a GDPR-scale deletion batch: one million keys (covers ids >= 100)
    val bulk = spark.range(50L, 1000000L).select(col("id").as("doc_id"))
    Merge.deleteMor(spark, root, bulk, "gdpr")
    val cur = Merge.readCurrent(spark, root)
    // the plan must anti-join a parquet sidecar — never a literal key
    // list (LocalTableScan / InSet) materialized driver-side
    val plan = cur.queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"), s"driver-side key list in plan:\n$plan")
    assert(cur.count() == 25) // even ids 0..48 survive
    assert(cur.agg(max("doc_id")).head().getLong(0) == 48L)
    // a follow-up COW merge re-upserting one deleted key still works
    Merge.merge(spark, root, changes((100L, "back", Merge.UpsertOp)), "m1")
    val after = Merge.readCurrent(spark, root)
    assert(after.count() == 26)
    assert(after.filter(col("doc_id") === 100L).count() == 1)
  }

  test("time travel reads a merge chain exactly as each version froze it") {
    val root = tmpRoot("travel")
    commitBase(root)
    Merge.merge(spark, root, changes((0L, "v2-text", Merge.UpsertOp),
      (198L, "", Merge.DeleteOp)), "m1")
    Merge.deleteMor(spark, root, changes((2L, "", Merge.DeleteOp)).select("doc_id"), "mor")
    Merge.merge(spark, root, changes((4L, "v4-text", Merge.UpsertOp)), "m2")

    // v1: the pristine base
    assert(Merge.readAt(spark, root, 1).count() == 100)
    // v2: after batch 1 (one rewrite, one delete)
    val v2 = Merge.readAt(spark, root, 2)
    assert(v2.count() == 99 &&
      v2.filter(col("doc_id") === 0L).select("text").head().getString(0) == "v2-text")
    // v3: the MOR delete applied ITS version's sidecar
    assert(Merge.readAt(spark, root, 3).count() == 98)
    assert(Merge.readAt(spark, root, 3).filter(col("doc_id") === 2L).isEmpty)
    // v4 == current
    assert(Merge.readAt(spark, root, 4).count() == 98)
    assert(Merge.readCurrent(spark, root).filter(col("doc_id") === 4L)
      .select("text").head().getString(0) == "v4-text")
    // retention expiry: v1 stops resolving once expired
    Snapshots.expire(spark, root, keepVersions = 1)
    intercept[IllegalStateException] { Merge.readAt(spark, root, 1) }
    assert(Merge.readCurrent(spark, root).count() == 98, "current survives expiry")
  }

  test("OPTIMIZE can preserve a z-order clustering through maintenance") {
    val s = spark
    import s.implicits._
    // 2-d table keyed by id, clustered on (x, y)
    val n = 200000
    val df = spark.range(n.toLong).select(col("id").as("doc_id"),
      (col("id") * 2654435761L % 65536L).as("x"),
      (col("id") * 40503L % 65536L).as("y"))
    val root = tmpRoot("zopt")
    Snapshots.commit(spark, root, "base",
      statsFor = p => Merge.statsWithBlooms(spark, p)) { p =>
      df.withColumn("zv", graft.sources.ZOrder.zValue(col("x"), col("y")))
        .repartitionByRange(4, col("zv")).sortWithinPartitions("zv").drop("zv")
        .write.option("parquet.block.size", 8 * 1024).parquet(p)
    }
    Merge.merge(spark, root, Seq((5L, 1L, 1L, Merge.UpsertOp))
      .toDF("doc_id", "x", "y", "op"), "m1")
    Merge.optimize(spark, root, zorderBy = Some(("x", "y")),
      writeOptions = Map("parquet.block.size" -> (8 * 1024).toString))

    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val box = Merge.readCurrent(spark, root)
        .filter(col("x") >= 10000 && col("x") < 16553 &&
          col("y") >= 30000 && col("y") < 36553)
      val out = box.collect().length.toLong
      val scan = box.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScanExec leaf"))
      val scanned = scan.metrics("numOutputRows").value
      assert(out > 0)
      // row-group stats bound BOTH dims post-OPTIMIZE: the scan skips
      // the vast majority of the table (a linear re-sort would read
      // every group the x predicate spans)
      assert(scanned * 5 < n,
        s"z-preserving OPTIMIZE should keep 2-dim pruning: scanned $scanned of $n")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("null-keyed rows ride through rewrites; key-shape mismatches fail fast") {
    val s = spark
    import s.implicits._
    val root = tmpRoot("nullkey")
    // base holds two null-keyed rows INSIDE the table (CDC keys are
    // non-null by contract, table rows need not be)
    val df = ((0L until 100L).map(i => (Option(i), s"doc $i")) ++
      Seq((Option.empty[Long], "orphan a"), (Option.empty[Long], "orphan b")))
      .toDF("doc_id", "text")
    Snapshots.commit(spark, root, "base",
      statsFor = p => Merge.statsWithBlooms(spark, p)) { p =>
      df.repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id")
        .write.parquet(p)
    }
    // a merge touching the file that holds the null rows (nulls sort
    // first — doc_id 0's file) must carry them through the rewrite
    // and the commit's bloom pass must not choke on them
    Merge.merge(spark, root, changes((0L, "rewritten", Merge.UpsertOp)), "m1")
    val cur = Merge.readCurrent(spark, root)
    assert(cur.count() == 102)
    assert(cur.filter(col("doc_id").isNull).count() == 2,
      "null-keyed rows must survive a rewrite of their file")
    assert(cur.filter(col("doc_id") === 0L).select("text").head().getString(0) == "rewritten")

    // null-keyed rows have no row identity: the rewrite of their file
    // must NOT surface them as phantom delete+insert pairs in the
    // change feed (they're excluded from both sides, like the
    // write-time log which can never key-match them)
    val cdf = Merge.changesBetween(spark, root, 1, 2)
    assert(cdf.filter(col("doc_id").isNull).isEmpty,
      "null-keyed carried rows must not appear in the diff")
    assert(cdf.select("doc_id", "_change_type").as[(Long, String)]
      .collect().toSet == Set((0L, "update_preimage"), (0L, "update_postimage")))

    // a batch whose key SHAPE disagrees with the table's (string vs
    // integral) would probe the wrong canonical domain — fail fast
    val bad = Seq(("0", "sneaky", Merge.UpsertOp)).toDF("doc_id", "text", "op")
    val ex = intercept[IllegalArgumentException] {
      Merge.merge(spark, root, bad, "bad")
    }
    assert(ex.getMessage.contains("key type"), ex.getMessage)
    // deleteMor enforces the same parity (its logged-feed probe would
    // otherwise canonicalize into the wrong domain silently)
    val exMor = intercept[IllegalArgumentException] {
      Merge.deleteMor(spark, root, Seq("7").toDF("doc_id"), "badmor")
    }
    assert(exMor.getMessage.contains("key type"), exMor.getMessage)
  }

  test("a concurrent commit between read and publish is a conflict, and mergeRetrying re-derives") {
    val root = tmpRoot("conflict")
    commitBase(root)

    // the lost-update interleave: while OUR merge is between its
    // state read and its commit, a competing merge lands. Without the
    // optimistic parent check our commit would publish a carry list
    // derived from v1 and silently drop the winner's row.
    val won = new java.util.concurrent.atomic.AtomicBoolean(false)
    def foreignOnce(): Unit = if (won.compareAndSet(false, true))
      Merge.merge(spark, root, changes((2L, "foreign-win", Merge.UpsertOp)), "foreign")

    // a bare merge must FAIL the parent check, not lose the update
    val ex = intercept[Snapshots.CommitConflict] {
      Merge.mergeImpl(spark, root,
        changes((0L, "mine", Merge.UpsertOp)), "mine", Seq("doc_id"),
        () => foreignOnce())
    }
    assert(ex.version == 2, "conflict must name the parent that won")
    assert(Merge.readCurrent(spark, root)
      .filter(col("doc_id") === 2L).select("text").head().getString(0) == "foreign-win")

    // mergeRetrying re-reads the advanced table and lands on top:
    // BOTH writers' rows survive (serialized as foreign-then-mine)
    won.set(false)
    val root2 = tmpRoot("conflict2")
    commitBase(root2)
    def foreign2(): Unit = if (won.compareAndSet(false, true))
      Merge.merge(spark, root2, changes((2L, "foreign-win", Merge.UpsertOp)), "foreign")
    val snap = Merge.mergeRetryingHooked(spark, root2,
      changes((0L, "mine", Merge.UpsertOp)), "mine", Seq("doc_id"),
      maxAttempts = 5, beforeCommit = () => foreign2())
    assert(snap.version == 3, s"retry should land past the winner, got v${snap.version}")
    val cur = Merge.readCurrent(spark, root2)
    assert(cur.filter(col("doc_id") === 0L).select("text").head().getString(0) == "mine")
    assert(cur.filter(col("doc_id") === 2L).select("text").head().getString(0) == "foreign-win")
    assert(cur.count() == 100)
  }

  test("property: random COW/MOR chains equal the computational replay, both key shapes") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    spark.conf.set("spark.graft.merge.changeFeed", "true")
    try for (trial <- 0 until 3; hashKeys <- Seq(false, true)) {
      val root = tmpRoot(s"prop${trial}_$hashKeys")
      val n = 80 + rnd.nextInt(80)
      // string key exercises the hash-canonical path; long the natural
      def keyOf(i: Long): String = s"k$i"
      val base = (0L until n.toLong).map(i => (i, keyOf(i), s"txt$i")).toDF("id", "key", "text")
      val keyCols = if (hashKeys) Seq("key") else Seq("id")
      Snapshots.commit(spark, root, "base",
        statsFor = p => Merge.statsWithBlooms(spark, p, keyCols)) { p =>
        base.repartitionByRange(5, col("id")).sortWithinPartitions("id").write.parquet(p)
      }
      // model: the expected surviving (id -> text) map
      var model = (0L until n.toLong).map(i => i -> s"txt$i").toMap
      for (b <- 1 to 4) {
        val prevModel = model
        val ops = (0 until 15).map { _ =>
          val id = rnd.nextInt(n * 3 / 2).toLong // some absent / insert ids
          if (rnd.nextBoolean()) (id, s"v$b-$id", Merge.UpsertOp)
          else (id, "", Merge.DeleteOp)
        }
        // within one batch a key must carry ONE intent (CDC batches are
        // already deduped by the extractor) — keep the last op per key
        val dedup = ops.groupBy(_._1).map(_._2.last).toSeq
        if (b == 3) {
          // a MOR-delete batch mid-chain
          val dels = dedup.map(_._1)
          Merge.deleteMor(spark, root,
            dels.map(i => (i, keyOf(i))).toDF("id", "key").select(keyCols.map(col): _*),
            s"mor$b")
          model = model -- dels
        } else {
          val batch = dedup.map { case (i, t, op) => (i, keyOf(i), t, op) }
            .toDF("id", "key", "text", "op")
          Merge.merge(spark, root, batch, s"m$b", keyCols)
          dedup.foreach { case (i, t, op) =>
            if (op == Merge.UpsertOp) model += (i -> t) else model -= i
          }
        }
        val got = Merge.readCurrent(spark, root)
          .select("id", "text").as[(Long, String)].collect().toMap
        assert(got == model,
          s"trial=$trial hash=$hashKeys batch=$b: table diverged from replay " +
            s"(missing=${(model.keySet -- got.keySet).take(5)}, " +
            s"extra=${(got.keySet -- model.keySet).take(5)})")

        // CDF pin (trial 0 keeps runtime bounded): the per-commit
        // change set derived from the model must equal BOTH the
        // computed diff and the write-time log
        if (trial == 0) {
          val wantChanges: Set[(Long, String, String)] =
            (prevModel.keySet ++ model.keySet).flatMap { i =>
              (prevModel.get(i), model.get(i)) match {
                case (None, Some(t)) => Seq((i, "insert", t))
                case (Some(t), None) => Seq((i, "delete", t))
                case (Some(a), Some(bT)) if a != bT =>
                  Seq((i, "update_preimage", a), (i, "update_postimage", bT))
                case _ => Seq.empty
              }
            }
          val v = b + 1 // base is v1
          val computed = Merge.changesBetween(spark, root, v - 1, v)
            .select("id", "_change_type", "text")
            .as[(Long, String, String)].collect().toSet
          assert(computed == wantChanges,
            s"trial=$trial hash=$hashKeys v$v: computed CDF diverged " +
              s"(missing=${(wantChanges -- computed).take(3)}, " +
              s"extra=${(computed -- wantChanges).take(3)})")
          val logged = Merge.loggedChangesAt(spark, root, v).get
            .select("id", "_change_type", "text")
            .as[(Long, String, String)].collect().toSet
          assert(logged == wantChanges,
            s"trial=$trial hash=$hashKeys v$v: logged CDF diverged")
        }
      }
      // OPTIMIZE never changes rows
      Merge.optimize(spark, root, keyCols)
      val opt = Merge.readCurrent(spark, root)
        .select("id", "text").as[(Long, String)].collect().toMap
      assert(opt == model, s"OPTIMIZE changed rows (trial=$trial hash=$hashKeys)")
    } finally spark.conf.unset("spark.graft.merge.changeFeed")
  }

  test("range reads open only interval-hit files across a COW+MOR chain") {
    val s = spark
    import s.implicits._
    val root = tmpRoot("rangeread")
    commitBase(root) // ids 0,2,...,198 over ~8 range-disjoint files
    Merge.merge(spark, root,
      changes((51L, "gap", Merge.UpsertOp), (100L, "upd", Merge.UpsertOp)), "m1")
    Merge.deleteMor(spark, root, Seq(54L).toDF("doc_id"), "mor1")

    val all = Merge.readCurrent(spark, root)
    val want = all.filter(col("doc_id") >= 40L && col("doc_id") < 80L)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val ranged = Merge.readCurrentRange(spark, root, 40L, 80L)
    val got = ranged.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got == want, "range read diverged from filter-on-full-read")
    assert(got(51L) == "gap" && !got.contains(54L),
      "range read must see the COW insert and honor the MOR delete")

    // the pruning proof: the ranged plan's scan holds a strict subset
    // of the table's files (catalog-sized planning, not a table scan)
    val total = Snapshots.fileStats(spark, root).size
    val opened = ranged.inputFiles
      .count(f => !f.contains("/deletes/")) // the MOR sidecar is not table data
    assert(opened > 0 && opened < total,
      s"expected a pruned scan, opened $opened of $total files")

    // an empty slice still returns a schema'd empty frame
    assert(Merge.readCurrentRange(spark, root, 1000L, 2000L).isEmpty)
    // a stats-less snapshot fails fast instead of "pruning" everything
    // to a silently-empty read (the deleteMor guard, on the read side)
    val rootNoStats = tmpRoot("rangenostats")
    Snapshots.commit(spark, rootNoStats, "base") { p =>
      (0L until 10L).map(i => (i, s"t$i")).toDF("doc_id", "text")
        .coalesce(1).write.parquet(p)
    }
    intercept[IllegalArgumentException] {
      Merge.readCurrentRange(spark, rootNoStats, 0L, 5L)
    }
    // key-shape guard: a string-keyed table rejects range reads
    val rootStr = tmpRoot("rangestr")
    val base = (0L until 40L).map(i => (s"k$i", s"t$i")).toDF("key", "text")
    Snapshots.commit(spark, rootStr, "base",
      statsFor = p => Merge.statsWithBlooms(spark, p, Seq("key"))) { p =>
      base.coalesce(2).write.parquet(p)
    }
    Merge.merge(spark, rootStr,
      Seq(("k1", "x", Merge.UpsertOp)).toDF("key", "text", "op"), "m1", Seq("key"))
    intercept[IllegalArgumentException] {
      Merge.readCurrentRange(spark, rootStr, 0L, 10L, "key")
    }
  }

  test("change data feed: catalog-pruned row-level diff between versions") {
    val s = spark
    import s.implicits._
    val root = tmpRoot("cdf")
    commitBase(root) // v1: ids 0,2,...,198
    Merge.merge(spark, root, changes(
      (51L, "gap", Merge.UpsertOp),   // insert (odd id, interval gap)
      (100L, "upd", Merge.UpsertOp),  // update
      (2L, "", Merge.DeleteOp)), "m1") // COW delete
    Merge.deleteMor(spark, root, Seq(54L).toDF("doc_id"), "mor1") // v3

    // v1 -> v2: exactly the three changed keys — the ~30 rows carried
    // verbatim through the rewritten files must NOT appear
    val c12 = Merge.changesBetween(spark, root, 1, 2)
    val m12 = c12.select("doc_id", "_change_type").as[(Long, String)]
      .collect().toSet
    assert(m12 == Set((51L, "insert"), (2L, "delete"),
      (100L, "update_preimage"), (100L, "update_postimage")), s"got $m12")
    assert(c12.filter(col("_change_type") === "update_postimage")
      .select("text").as[String].head() == "upd")
    // the pruning receipt: only non-shared files are referenced
    def norm(p: String) = new Path(p).toUri.getPath
    val v1Files = Snapshots.fileStatsAt(spark, root,
      Snapshots.at(spark, root, 1).get).map(s => norm(s.path)).toSet
    val v2Files = Snapshots.fileStatsAt(spark, root,
      Snapshots.at(spark, root, 2).get).map(s => norm(s.path)).toSet
    val changedFiles = (v1Files union v2Files) -- (v1Files intersect v2Files)
    val opened12 = c12.inputFiles.filterNot(_.contains("/deletes/"))
      .map(norm).toSet
    assert(opened12.nonEmpty && opened12.subsetOf(changedFiles),
      s"CDF must only reference the versions' differing files " +
        s"(opened ${opened12.size}, changed ${changedFiles.size}, " +
        s"total ${(v1Files union v2Files).size})")

    // v2 -> v3 is a pure sidecar flip: one MOR delete, discovered via
    // the bloom-pruned point lookup over SHARED files
    val c23 = Merge.changesBetween(spark, root, 2, 3)
    val m23 = c23.select("doc_id", "_change_type").as[(Long, String)]
      .collect().toSet
    assert(m23 == Set((54L, "delete")), s"got $m23")
    val opened23 = c23.inputFiles.filterNot(_.contains("/deletes/"))
      .map(norm).toSet
    assert(opened23.size < v2Files.size,
      s"sidecar-flip CDF must point-prune the shared files, opened ${opened23.size}")

    // v1 -> v3 composes both; parity with the naive readAt diff
    val c13 = Merge.changesBetween(spark, root, 1, 3)
    val m13 = c13.select("doc_id", "_change_type").as[(Long, String)]
      .collect().toSet
    assert(m13 == Set((51L, "insert"), (2L, "delete"), (54L, "delete"),
      (100L, "update_preimage"), (100L, "update_postimage")), s"got $m13")
    val oldT = Merge.readAt(spark, root, 1).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    val newT = Merge.readAt(spark, root, 3).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    val naive =
      (newT.keySet -- oldT.keySet).map((_, "insert")) ++
        (oldT.keySet -- newT.keySet).map((_, "delete")) ++
        (newT.keySet intersect oldT.keySet).filter(k => newT(k) != oldT(k))
          .flatMap(k => Seq((k, "update_preimage"), (k, "update_postimage")))
    assert(m13 == naive, "CDF diverged from the naive full-table diff")

    // same version: an empty, schema'd feed
    val c22 = Merge.changesBetween(spark, root, 2, 2)
    assert(c22.isEmpty && c22.columns.contains("_change_type"))

    // schema evolution mid-chain: the preimage null-fills the column
    // the postimage introduced
    val rootEv = tmpRoot("cdfevolve")
    commitBase(rootEv)
    Merge.merge(spark, rootEv,
      Seq((10L, "t2", "en", Merge.UpsertOp)).toDF("doc_id", "text", "lang", "op"),
      "m1")
    val ev = Merge.changesBetween(spark, rootEv, 1, 2)
      .select("doc_id", "_change_type", "lang").as[(Long, String, Option[String])]
      .collect().toSet
    assert(ev == Set((10L, "update_preimage", None),
      (10L, "update_postimage", Some("en"))), s"got $ev")

    // a table no merge ever stamped has no row identity to diff on
    val rootPlain = tmpRoot("cdfplain")
    commitBase(rootPlain)
    intercept[IllegalArgumentException] {
      Merge.changesBetween(spark, rootPlain, 1, 1)
    }
  }

  test("changesBetween cost tracks the change, not the table") {
    val s = spark
    import s.implicits._
    // same 1-key change against a 1x and a 5x table: the pruned diff
    // must open the SAME number of data files on both (deterministic
    // receipt); wall-clock vs the naive exceptAll full diff is the
    // info-line receipt
    def build(rows: Long, files: Int): String = {
      val root = tmpRoot(s"cdfscale$files")
      val df = (0L until rows).map(i => (i, s"doc $i ${"x" * 64}"))
        .toDF("doc_id", "text")
      Snapshots.commit(spark, root, "base",
        statsFor = p => Merge.statsWithBlooms(spark, p)) { p =>
        df.repartitionByRange(files, col("doc_id"))
          .sortWithinPartitions(col("doc_id")).write.parquet(p)
      }
      Merge.merge(spark, root, changes((7L, "changed", Merge.UpsertOp)), "m1")
      root
    }
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e6)
    }
    def openedData(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.count(f => !f.contains("/deletes/"))

    val small = build(40000L, 20)
    val big = build(200000L, 100)
    // rep 1 warms the session; rep 2 is the steady measurement
    for (_ <- 1 to 2) Merge.changesBetween(spark, small, 1, 2).count()
    val (cS, tS) = timed(Merge.changesBetween(spark, small, 1, 2).count())
    val (cB, tB) = timed(Merge.changesBetween(spark, big, 1, 2).count())
    assert(cS == 2 && cB == 2) // one update pair each
    val oS = openedData(Merge.changesBetween(spark, small, 1, 2))
    val oB = openedData(Merge.changesBetween(spark, big, 1, 2))
    assert(oS == oB && oB <= 4,
      s"a 1-key diff must open the same few files at any table size " +
        s"(small=$oS big=$oB)")
    def naive(root: String): Long = {
      val a = Merge.readAt(spark, root, 1); val b = Merge.readAt(spark, root, 2)
      b.exceptAll(a).count() + a.exceptAll(b).count()
    }
    naive(small) // warm
    val (_, nS) = timed(naive(small))
    val (_, nB) = timed(naive(big))
    info(f"pruned diff: 1x $tS%.0f ms, 5x $tB%.0f ms; " +
      f"naive full diff: 1x $nS%.0f ms, 5x $nB%.0f ms")
  }

  test("write-time change log equals the computed diff and feeds a file-source stream") {
    val s = spark
    import s.implicits._
    val root = tmpRoot("cdflog")
    spark.conf.set("spark.graft.merge.changeFeed", "true")
    try {
      commitBase(root) // v1: plain base, no log
      Merge.merge(spark, root, changes(
        (51L, "gap", Merge.UpsertOp),
        (100L, "upd", Merge.UpsertOp),
        (0L, s"doc 0 ${"x" * 64}", Merge.UpsertOp), // content-identical upsert
        (2L, "", Merge.DeleteOp)), "m1") // v2
      Merge.deleteMor(spark, root,
        Seq(54L, 999L).toDF("doc_id"), "mor1") // v3; 999 absent → no preimage

      // the log is exactly what the catalog-pruned computed diff says
      for (v <- 2 to 3) {
        val logged = Merge.loggedChangesAt(spark, root, v).get
          .select("doc_id", "_change_type", "text")
          .as[(Long, String, String)].collect().toSet
        val computed = Merge.changesBetween(spark, root, v - 1, v)
          .select("doc_id", "_change_type", "text")
          .as[(Long, String, String)].collect().toSet
        assert(logged == computed, s"v$v: logged $logged != computed $computed")
      }
      // replaying identical content logs nothing (id 0), and an
      // absent delete key logs no preimage (id 999)
      val v2log = Merge.loggedChangesAt(spark, root, 2).get
      assert(v2log.filter(col("doc_id").isin(0L, 999L)).isEmpty)

      // the per-commit feed stitches logs with their commit version
      val want = Set(
        (51L, "insert", 2), (2L, "delete", 2),
        (100L, "update_preimage", 2), (100L, "update_postimage", 2),
        (54L, "delete", 3))
      val feed = Merge.changeFeed(spark, root, 1, 3)
        .select("doc_id", "_change_type", "_commit_version")
        .as[(Long, String, Int)].collect().toSet
      assert(feed == want, s"got $feed")

      // manifest-driven relay: idempotent, exactly the logged versions
      val feedDir = tmpRoot("cdffeed")
      assert(Merge.publishChangeFeed(spark, root, feedDir) == 2)
      assert(Merge.publishChangeFeed(spark, root, feedDir) == 0)

      // a plain file-source stream over the relayed feed sees it all
      val q = Merge.streamChangeFeed(spark, root, feedDir)
        .writeStream.format("memory").queryName("cdf_stream")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val streamed = spark.sql(
        "select doc_id, _change_type, _commit_version from cdf_stream")
        .as[(Long, String, Int)].collect().toSet
      assert(streamed == want, s"streamed $streamed")

      // a later merge relays incrementally; a fresh stream catches up
      Merge.merge(spark, root, changes((51L, "gap2", Merge.UpsertOp)), "m2") // v4
      assert(Merge.publishChangeFeed(spark, root, feedDir) == 1)
      val q2 = Merge.streamChangeFeed(spark, root, feedDir)
        .writeStream.format("memory").queryName("cdf_stream2")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q2.awaitTermination(120000)
      val streamed2 = spark.sql(
        "select doc_id, _change_type, _commit_version from cdf_stream2")
        .as[(Long, String, Int)].collect().toSet
      assert(streamed2 == want + ((51L, "update_preimage", 4)) +
        ((51L, "update_postimage", 4)), s"streamed2 $streamed2")

      // an empty batch stamps a no-change log: the feed reads it as
      // empty without computing anything
      Merge.merge(spark, root, changes(), "m3") // v5, carry-all
      val v5log = Merge.loggedChangesAt(spark, root, 5).get
      assert(v5log.isEmpty && v5log.inputFiles.isEmpty)
      // OPTIMIZE is row-preserving and stamps the same sentinel —
      // crucial because its retention sweep EXPIRES the parent the
      // computed fallback would need
      Merge.optimize(spark, root) // v6, expires v1..v5
      assert(Snapshots.at(spark, root, 5).isEmpty, "optimize should expire v5")
      val optLog = Merge.loggedChangesAt(spark, root, 6).get
      assert(optLog.isEmpty && optLog.inputFiles.isEmpty)
      assert(Merge.changeFeed(spark, root, 5, 6).isEmpty)
      // an empty (from, to] range is schema'd-empty without resolving
      // any snapshot — even one retention already expired
      val empty55 = Merge.changeFeed(spark, root, 5, 5)
      assert(empty55.isEmpty && empty55.columns.contains("_change_type"))
    } finally spark.conf.unset("spark.graft.merge.changeFeed")
  }

  test("point-lookup reads open only bloom-hit files, both key shapes") {
    val s = spark
    import s.implicits._
    // natural long key over the COW+MOR chain
    val root = tmpRoot("pointread")
    commitBase(root)
    Merge.merge(spark, root,
      changes((51L, "gap", Merge.UpsertOp)), "m1")
    Merge.deleteMor(spark, root, Seq(100L).toDF("doc_id"), "mor1")
    val got = Merge.readCurrentKeys(spark, root,
      Seq(0L, 51L, 100L, 777L).toDF("doc_id"))
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    // 0 exists, 51 is the COW insert, 100 is MOR-deleted, 777 absent
    assert(got.keySet == Set(0L, 51L) && got(51L) == "gap",
      s"point read returned ${got.keySet}")
    val opened = Merge.readCurrentKeys(spark, root, Seq(0L, 51L).toDF("doc_id"))
      .inputFiles.count(f => !f.contains("/deletes/"))
    val total = Snapshots.fileStats(spark, root).size
    assert(opened > 0 && opened < total,
      s"expected a bloom-pruned scan, opened $opened of $total files")
    // a gap key NOT in the table opens nothing the blooms can refute:
    // id 53 lies inside an interval but in no file — bloom-pruned read
    assert(Merge.readCurrentKeys(spark, root, Seq(53L).toDF("doc_id")).isEmpty)

    // string (hashed-canonical) key: ranges are meaningless but point
    // probes work through the hash-domain blooms
    val rootStr = tmpRoot("pointstr")
    val base = (0L until 60L).map(i => (s"k$i", s"t$i")).toDF("key", "text")
    Snapshots.commit(spark, rootStr, "base",
      statsFor = p => Merge.statsWithBlooms(spark, p, Seq("key"))) { p =>
      base.withColumn("__gk", xxhash64(col("key").cast("string")))
        .repartitionByRange(4, col("__gk")).sortWithinPartitions(col("__gk"))
        .drop("__gk").write.parquet(p)
    }
    Merge.merge(spark, rootStr,
      Seq(("k7", "v2", Merge.UpsertOp)).toDF("key", "text", "op"), "m1", Seq("key"))
    val gotStr = Merge.readCurrentKeys(spark, rootStr,
      Seq("k7", "k20", "nope").toDF("key"))
      .select("key", "text").as[(String, String)].collect().toMap
    assert(gotStr == Map("k7" -> "v2", "k20" -> "t20"))
    // key-shape guard: probing with the wrong column fails fast
    intercept[IllegalArgumentException] {
      Merge.readCurrentKeys(spark, rootStr, Seq(1L).toDF("doc_id"))
    }
  }

  test("the chunked bloom probe prunes exactly like the fused single-broadcast probe") {
    // past the broadcast budget the probe splits into interval-probe →
    // per-chunk bloom-refine; force one-bloom-per-chunk at toy size
    // and prove BOTH the pruning precision (gap insert rewrites
    // nothing it shouldn't) and the merged content are unchanged
    def run(root: String): (Set[Int], Map[Long, String]) = {
      val s = spark
      import s.implicits._
      commitBase(root)
      // 51: a gap key inside some file's interval (bloom prunes it);
      // 0 and 198: real keys at both edges (must touch their files)
      Merge.merge(spark, root,
        changes((51L, "gap", Merge.UpsertOp), (0L, "zero", Merge.UpsertOp),
          (198L, "", Merge.DeleteOp)), "m1")
      val vers = fileVersions(root).values.toSet
      val rows = Merge.readCurrent(spark, root)
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      (vers, rows)
    }
    val (_, fused) = run(tmpRoot("probe_fused"))
    spark.conf.set("spark.graft.merge.bloomChunkBytes", "100")
    val (_, chunked) = try run(tmpRoot("probe_chunked"))
      finally spark.conf.unset("spark.graft.merge.bloomChunkBytes")
    assert(chunked == fused, "chunked probe changed merge content")
    assert(chunked(51L) == "gap" && chunked(0L) == "zero" && !chunked.contains(198L))

    // pruning parity, measured: the same gap-only batch must rewrite
    // the same (bloom-pruned) file set under both probe forms
    def touchedCount(root: String): Int = {
      commitBase(root)
      Merge.merge(spark, root, changes((51L, "gap", Merge.UpsertOp)), "m1")
      fileVersions(root).values.count(_ == 2)
    }
    val fusedTouched = touchedCount(tmpRoot("probe_fused2"))
    spark.conf.set("spark.graft.merge.bloomChunkBytes", "100")
    val chunkedTouched = try touchedCount(tmpRoot("probe_chunked2"))
      finally spark.conf.unset("spark.graft.merge.bloomChunkBytes")
    assert(chunkedTouched == fusedTouched,
      s"chunked probe touched $chunkedTouched files, fused $fusedTouched")
  }

  test("a fully checkpointed chain (COW, MOR, OPTIMIZE) equals the inline chain") {
    // every commit above the (lowered) threshold routes its stats
    // block through the parquet sidecar — the whole merge machinery
    // (interval+bloom pruning, carries, MOR sidecar, OPTIMIZE,
    // retention) must behave identically to the inline-manifest form
    val s = spark
    import s.implicits._
    def runChain(root: String): Map[Long, String] = {
      commitBase(root)
      Merge.merge(spark, root,
        changes((0L, "rewritten", Merge.UpsertOp), (51L, "gap", Merge.UpsertOp),
          (198L, "", Merge.DeleteOp)), "m1")
      Merge.deleteMor(spark, root, Seq(10L, 12L).toDF("doc_id"), "mor1")
      Merge.merge(spark, root,
        changes((10L, "back", Merge.UpsertOp), (100L, "upd", Merge.UpsertOp)), "m2")
      Merge.optimize(spark, root)
      Merge.readCurrent(spark, root)
        .select("doc_id", "text").as[(Long, String)].collect().toMap
    }
    val inline = runChain(tmpRoot("cpchain_inline"))
    spark.conf.set("spark.graft.manifest.checkpointFiles", "1")
    val viaCp = try runChain(tmpRoot("cpchain_cp"))
      finally spark.conf.unset("spark.graft.manifest.checkpointFiles")
    assert(viaCp == inline, "checkpointed chain diverged from the inline chain")
    assert(viaCp(10L) == "back" && !viaCp.contains(12L) && viaCp(51L) == "gap")
  }

  test("the registered chain matches a plain-SQL replay of both batches") {
    val dir = Sf001
    val viaStorage = Merge.mergeIncrementalScan(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val mi = docs.agg(max("doc_id")).head().getLong(0)
    def inBand(lo: Long, hi: Long) =
      col("doc_id") >= (mi + 1) * lo / 100 && col("doc_id") < (mi + 1) * hi / 100
    val text = concat(lit("merged doc "), col("id").cast("string"))
    val m = docs.filter(!inBand(10, 13))
      .withColumn("lang", when(inBand(40, 42), "zz").otherwise(col("lang")))
      .select("doc_id", "lang", "source", "n_chars")
      .unionByName(spark.range(1, 101).select(
        (lit(mi) + col("id")).as("doc_id"), lit("new").as("lang"),
        lit("merge").as("source"), length(text).cast("long").as("n_chars")))
    val m2 = m.filter(!inBand(70, 72))
      .withColumn("source", when(inBand(20, 22), "rev2").otherwise(col("source")))
    val expected = m2.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        sum(col("doc_id")).cast("long").as("sum_ids"))
    assert(viaStorage.exceptAll(expected).isEmpty &&
      expected.exceptAll(viaStorage).isEmpty)
  }

  test("feed read cost at a 50-commit chain depth: logged, computed, mixed (BENCH_SCALE r10_cdf_depth)") {
    val s = spark
    import s.implicits._
    val depth = 50
    // logEvery: 1 = every commit logs its changes, 0 = none (the feed
    // computes every diff), 2 = every other (the mixed chain)
    def buildChain(name: String, logEvery: Int): String = {
      val root = tmpRoot(name)
      Snapshots.commit(spark, root, "base",
        statsFor = p => Merge.statsWithBlooms(spark, p)) { p =>
        (0L until 40L).map(i => (i, s"t$i")).toDF("doc_id", "text")
          .repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id")
          .write.parquet(p)
      }
      for (b <- 1 to depth) {
        if (logEvery > 0 && b % logEvery == 0)
          spark.conf.set("spark.graft.merge.changeFeed", "true")
        else spark.conf.unset("spark.graft.merge.changeFeed")
        Merge.merge(spark, root,
          changes(((b % 40).toLong, s"v$b", Merge.UpsertOp)), s"m$b")
      }
      spark.conf.unset("spark.graft.merge.changeFeed")
      root
    }
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e6)
    }
    val logged = buildChain("depth_logged", 1)
    val computed = buildChain("depth_computed", 0)
    val mixed = buildChain("depth_mixed", 2)
    def feedCount(root: String): Long =
      Merge.changeFeed(spark, root, 1, depth + 1).count()
    // steady-state: first run warms plan/session paths, second is timed
    feedCount(logged); feedCount(computed); feedCount(mixed)
    val (nL, tL) = timed(feedCount(logged))
    val (nC, tC) = timed(feedCount(computed))
    val (nM, tM) = timed(feedCount(mixed))
    assert(nL == nC && nC == nM,
      s"the three transports must serve the same rows: $nL/$nC/$nM")
    assert(nL == 2L * depth, s"one update pair per commit expected, got $nL")
    // relay: the cold 50-version publish, then the incremental poll
    // after ONE new commit — poll cost must track the new versions
    val feedDir = tmpRoot("depth_feeddir")
    val (pubN, tCold) = timed(Merge.publishChangeFeed(spark, logged, feedDir))
    assert(pubN == depth)
    spark.conf.set("spark.graft.merge.changeFeed", "true")
    try Merge.merge(spark, logged, changes((0L, "tip", Merge.UpsertOp)), "tip")
    finally spark.conf.unset("spark.graft.merge.changeFeed")
    val (pub1, tPoll1) = timed(Merge.publishChangeFeed(spark, logged, feedDir))
    assert(pub1 == 1)
    // timing asserts are RATIO-gated with the slack INVERTED (r11
    // advice): the fast path must BEAT the slow one by 3x, so a poll
    // that degrades to the cold-relay cost (the O(depth) regression
    // this gate exists to catch) fails. The measured margin is ~50x
    // at depth 50. The FAST side is min-of-3 (reps 2-3 are steady
    // no-new-version polls — same listing + done-set + floor-read
    // scan, minus one O(1) publish): a single fast measurement under
    // a fully-contended suite run can absorb seconds of scheduler
    // noise and flip a 20x real margin, while the SLOW side only ever
    // gets slower under contention, which is the conservative
    // direction for this gate.
    val tPoll = Seq(tPoll1,
      timed(Merge.publishChangeFeed(spark, logged, feedDir))._2,
      timed(Merge.publishChangeFeed(spark, logged, feedDir))._2).min
    assert(tPoll * 3 < tCold,
      f"an incremental poll ($tPoll%.0f ms) must beat the cold " +
        f"$depth-version relay ($tCold%.0f ms) by 3x")
    // the BATCH read off the relayed dir: one parquet load, O(1) plan
    // cost at any depth — must serve exactly the union path's rows
    Merge.readChangeFeed(spark, logged, feedDir, 1, depth + 1).count() // warm
    val reads = (1 to 3).map(_ => timed(
      Merge.readChangeFeed(spark, logged, feedDir, 1, depth + 1).count()))
    val nR = reads.head._1
    val tR = reads.map(_._2).min
    assert(nR == nL, s"relay batch read diverged from the union path: $nR vs $nL")
    assert(tR * 3 < tL,
      f"the one-scan relay read ($tR%.0f ms) must beat the " +
        f"per-version union ($tL%.0f ms) by 3x at depth $depth")
    // gaps throw, never silently truncate: version depth+3 exists on
    // the table (the poll test's tip was depth+2, already relayed)
    // but was never relayed
    spark.conf.set("spark.graft.merge.changeFeed", "true")
    try Merge.merge(spark, logged, changes((1L, "tip2", Merge.UpsertOp)), "tip2")
    finally spark.conf.unset("spark.graft.merge.changeFeed")
    intercept[IllegalArgumentException] {
      Merge.readChangeFeed(spark, logged, feedDir, 1, depth + 3)
    }
    // expired versions throw too
    Merge.expireFeed(spark, feedDir, keepVersions = 5)
    intercept[IllegalArgumentException] {
      Merge.readChangeFeed(spark, logged, feedDir, 1, depth + 1)
    }
    System.err.println(
      f"[scale] r10_cdf_depth: depth=$depth rows=$nL logged=$tL%.0f ms " +
        f"computed=$tC%.0f ms mixed=$tM%.0f ms relay_batch_read=$tR%.0f ms " +
        f"relay_cold=$tCold%.0f ms relay_poll1=$tPoll%.0f ms")
  }

  test("relay covers a MIXED logged/unlogged chain; unlogged versions relay the computed diff") {
    val s = spark
    import s.implicits._
    val root = tmpRoot("mixedrelay")
    commitBase(root) // v1: plain base — not key-stamped, nothing to relay
    // v2 WITHOUT the change-feed conf: no write-time log
    Merge.merge(spark, root, changes(
      (51L, "gap", Merge.UpsertOp), (2L, "", Merge.DeleteOp)), "m1")
    // v3 WITH it: logged
    spark.conf.set("spark.graft.merge.changeFeed", "true")
    try Merge.merge(spark, root, changes((100L, "upd", Merge.UpsertOp)), "m2")
    finally spark.conf.unset("spark.graft.merge.changeFeed")
    assert(Merge.loggedChangesAt(spark, root, 2).isEmpty, "v2 must be unlogged")
    assert(Merge.loggedChangesAt(spark, root, 3).isDefined, "v3 must be logged")

    val feedDir = tmpRoot("mixedfeed")
    // BOTH versions publish — the unlogged one as the computed diff
    assert(Merge.publishChangeFeed(spark, root, feedDir) == 2)
    assert(Merge.publishChangeFeed(spark, root, feedDir) == 0, "relay is idempotent")
    val q = Merge.streamChangeFeed(spark, root, feedDir)
      .writeStream.format("memory").queryName("mixed_cdf")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql(
      "select doc_id, _change_type, _commit_version from mixed_cdf")
      .as[(Long, String, Int)].collect().toSet
    val want = Set(
      (51L, "insert", 2), (2L, "delete", 2),
      (100L, "update_preimage", 3), (100L, "update_postimage", 3))
    assert(streamed == want, s"mixed-chain stream incomplete: $streamed")
    // the batch relay read serves the same rows — INCLUDING reading
    // straight through v1's empty done-marker dir (a range spanning a
    // nothing-to-relay version must not throw or phantom rows)
    val batchRead = Merge.readChangeFeed(spark, root, feedDir, 0, 3)
      .select("doc_id", "_change_type", "_commit_version")
      .as[(Long, String, Int)].collect().toSet
    assert(batchRead == want, s"batch relay read diverged: $batchRead")

    // an unlogged version whose PARENT is expired cannot be computed:
    // the relay must THROW naming the version, never mark it done
    val root2 = tmpRoot("expiredrelay")
    commitBase(root2)
    Merge.merge(spark, root2, changes((0L, "a", Merge.UpsertOp)), "m1") // v2 unlogged
    Merge.merge(spark, root2, changes((0L, "b", Merge.UpsertOp)), "m2") // v3 unlogged
    Snapshots.expire(spark, root2, keepVersions = 1) // v1, v2 gone
    val feedDir2 = tmpRoot("expiredfeed")
    val ex = intercept[IllegalStateException] {
      Merge.publishChangeFeed(spark, root2, feedDir2)
    }
    assert(ex.getMessage.contains("version 3") || ex.getMessage.contains("version 2"),
      s"error must name the unrelayable version: ${ex.getMessage}")
  }

  test("null-keyed upsert rows never enter the logged feed; OPTIMIZE enforces the key stamp") {
    val s = spark
    import s.implicits._
    val root = tmpRoot("nullfeed")
    spark.conf.set("spark.graft.merge.changeFeed", "true")
    try {
      commitBase(root)
      // one real change + one NULL-keyed upsert (no row identity —
      // rides along as carried data, must NOT be tracked by the feed)
      val batch = Seq((Option(51L), "gap", Merge.UpsertOp),
        (Option.empty[Long], "keyless", Merge.UpsertOp))
        .toDF("doc_id", "text", "op")
      Merge.merge(spark, root, batch, "m1") // v2
      val logged = Merge.loggedChangesAt(spark, root, 2).get
      assert(logged.filter(col("doc_id").isNull).isEmpty,
        "a null-keyed row has no identity — it must not log")
      val computed = Merge.changesBetween(spark, root, 1, 2)
        .select("doc_id", "_change_type", "text")
        .as[(Option[Long], String, String)].collect().toSet
      val loggedSet = logged.select("doc_id", "_change_type", "text")
        .as[(Option[Long], String, String)].collect().toSet
      assert(loggedSet == computed, s"logged $loggedSet != computed $computed")
      // the keyless row still physically landed (the merge contract)
      assert(Merge.readCurrent(spark, root)
        .filter(col("text") === "keyless").count() == 1)
      // a REPLAYED identical batch logs nothing — including no
      // phantom re-insert of the keyless row
      Merge.merge(spark, root, batch, "m1-replay") // v3
      assert(Merge.loggedChangesAt(spark, root, 3).get.isEmpty)
    } finally spark.conf.unset("spark.graft.merge.changeFeed")

    // OPTIMIZE must keep the table's merge key: re-stamping a
    // string-keyed table onto doc_id would re-home its catalog into
    // a different canonical domain and row identity
    val rootStr = tmpRoot("optkey")
    val base = (0L until 40L).map(i => (s"k$i", i, s"t$i")).toDF("key", "doc_id", "text")
    Snapshots.commit(spark, rootStr, "base",
      statsFor = p => Merge.statsWithBlooms(spark, p, Seq("key"))) { p =>
      base.coalesce(2).write.parquet(p)
    }
    Merge.merge(spark, rootStr,
      Seq(("k1", 1L, "x", Merge.UpsertOp)).toDF("key", "doc_id", "text", "op"),
      "m1", Seq("key"))
    intercept[IllegalArgumentException] {
      Merge.optimize(spark, rootStr) // default doc_id != stamped [key]
    }
    Merge.optimize(spark, rootStr, Seq("key")) // the stamped key passes
  }

  test("table-expired versions advance the feed floor — observable truncation, never fake-empty markers") {
    val s = spark
    import s.implicits._
    val root = tmpRoot("expfloor")
    spark.conf.set("spark.graft.merge.changeFeed", "true")
    try {
      commitBase(root) // v1
      for (b <- 1 to 5)
        Merge.merge(spark, root, changes((0L, s"r$b", Merge.UpsertOp)), s"m$b") // v2..v6, all logged
      Snapshots.expire(spark, root, keepVersions = 2) // keep v5, v6 — logs of v2..v4 gone WITH their dirs
      val feedDir = tmpRoot("expfloordir")
      // first relay AFTER table retention: only the live suffix is
      // relayable; the expired prefix becomes the FLOOR (the feed
      // explicitly starts at v5), never "relayed empty" markers that
      // would read as no-change versions
      assert(Merge.publishChangeFeed(spark, root, feedDir) == 2)
      val f = Snapshots.fs(spark, feedDir)
      val dirs = f.listStatus(new Path(feedDir)).map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit)).sorted
      assert(dirs.toSeq == Seq("v000000005", "v000000006"),
        s"expired versions must not leave done-markers: ${dirs.toSeq}")
      // the surviving range batch-reads; the truncated range THROWS
      assert(Merge.readChangeFeed(spark, root, feedDir, 4, 6).count() == 4L)
      intercept[IllegalArgumentException] {
        Merge.readChangeFeed(spark, root, feedDir, 1, 6)
      }
      assert(Merge.publishChangeFeed(spark, root, feedDir) == 0, "floor persisted")
    } finally spark.conf.unset("spark.graft.merge.changeFeed")
  }

  test("expireFeed bounds the relay dir and never lets expired versions re-publish") {
    val s = spark
    import s.implicits._
    val root = tmpRoot("feedret")
    spark.conf.set("spark.graft.merge.changeFeed", "true")
    try {
      commitBase(root)
      for (b <- 1 to 4)
        Merge.merge(spark, root, changes((0L, s"rev$b", Merge.UpsertOp)), s"m$b")
      val feedDir = tmpRoot("feedretdir")
      assert(Merge.publishChangeFeed(spark, root, feedDir) == 4) // v2..v5
      // keep the newest 2 relayed versions (v4, v5)
      assert(Merge.expireFeed(spark, feedDir, keepVersions = 2) == 3) // v1 marker + v2 + v3
      val f = Snapshots.fs(spark, feedDir)
      val left = f.listStatus(new Path(feedDir)).map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit)).sorted
      assert(left.toSeq == Seq("v000000004", "v000000005"), s"survivors: ${left.toSeq}")
      // a later relay poll must NOT resurrect the expired versions
      assert(Merge.publishChangeFeed(spark, root, feedDir) == 0)
      // RENAME-ONLY floor protocol (r15): the floor value rides the
      // marker NAME, published by one rename — verify a versioned
      // marker exists and interleave the crash state it can leave
      def floorMarkers() = f.listStatus(new Path(feedDir))
        .map(_.getPath.getName).filter(_.startsWith("._expired_below.v")).sorted
      assert(floorMarkers().nonEmpty, s"versioned floor marker expected")
      // (a) a crash after staging but before the rename leaves a stray
      // stage file — it never parses as a floor and the published
      // markers are untouched, so the floor holds
      val stray = new Path(feedDir, "._expired_below.stage_deadbeef")
      val out = f.create(stray, true); out.write("1".getBytes("UTF-8")); out.close()
      assert(Merge.publishChangeFeed(spark, root, feedDir) == 0,
        "a stray staging file must not reset the floor")
      f.delete(stray, false)
      // a NEW stream over the survivors reads exactly the surviving suffix
      val q = Merge.streamChangeFeed(spark, root, feedDir)
        .writeStream.format("memory").queryName("feedret_stream")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val got = spark.sql(
        "select doc_id, _change_type, _commit_version from feedret_stream")
        .as[(Long, String, Int)].collect().toSet
      assert(got == Set(
        (0L, "update_preimage", 4), (0L, "update_postimage", 4),
        (0L, "update_preimage", 5), (0L, "update_postimage", 5)), s"got $got")
      // a fresh commit still relays after retention
      Merge.merge(spark, root, changes((0L, "rev5", Merge.UpsertOp)), "m5") // v6
      assert(Merge.publishChangeFeed(spark, root, feedDir) == 1)
      // expiring everything floors above the max version
      assert(Merge.expireFeed(spark, feedDir, keepVersions = 0) == 3)
      assert(Merge.publishChangeFeed(spark, root, feedDir) == 0)
    } finally spark.conf.unset("spark.graft.merge.changeFeed")
  }

  test("an unstamped v>1 commit makes the relay THROW, matching the batch transport") {
    val s = spark
    import s.implicits._
    val root = tmpRoot("unstamped")
    commitBase(root) // v1: bare base — fine, nothing to relay
    Merge.merge(spark, root, changes((0L, "a", Merge.UpsertOp)), "m1") // v2
    // v3: a bare Snapshots.commit interleaved into the chain — no key
    // stamp, no change log. It may have changed data, and nobody can
    // compute what: the batch changeFeed throws for this version
    // (changesBetween's key-stamp requirement), so a silent
    // relayed-empty marker would make the two transports diverge.
    Snapshots.commit(spark, root, "interloper") { p =>
      Seq((1L, "smuggled")).toDF("doc_id", "text").write.parquet(p)
    }
    val feedDir = tmpRoot("unstampedfeed")
    val ex = intercept[IllegalStateException] {
      Merge.publishChangeFeed(spark, root, feedDir)
    }
    assert(ex.getMessage.contains("version 3") &&
      ex.getMessage.contains("key stamp"), s"got: ${ex.getMessage}")
    // the batch transport refuses the same version (its own error)
    intercept[IllegalArgumentException] {
      Merge.changeFeed(spark, root, 1, 3).count()
    }
  }

  test("streamChangeFeed fails fast for a NEW stream over an expired prefix; a checkpointed stream resumes") {
    val s = spark
    import s.implicits._
    val root = tmpRoot("streamfloor")
    spark.conf.set("spark.graft.merge.changeFeed", "true")
    try {
      commitBase(root)
      for (b <- 1 to 4)
        Merge.merge(spark, root, changes((0L, s"r$b", Merge.UpsertOp)), s"m$b") // v2..v5
      val feedDir = tmpRoot("streamfloordir")
      assert(Merge.publishChangeFeed(spark, root, feedDir) == 4)
      val cpDir = tmpRoot("streamfloorcp")
      val sinkDir = s"${tmpRoot("streamfloorsink")}/out"
      def run(startAfter: Option[Int]): Unit = {
        val q = Merge.streamChangeFeed(spark, root, feedDir, startAfter)
          .writeStream.format("parquet")
          .option("path", sinkDir).option("checkpointLocation", cpDir)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      run(Some(1)) // fresh checkpoint over the full feed: floor is 1
      assert(spark.read.parquet(sinkDir).count() == 8) // 4 update pairs
      // retention truncates the feed below v4 (the v1 base marker and
      // v2/v3 go)
      assert(Merge.expireFeed(spark, feedDir, keepVersions = 2) == 3)
      // a NEW stream that needs every change after v1 FAILS FAST —
      // the default file source would silently serve only the suffix
      intercept[IllegalArgumentException] {
        Merge.streamChangeFeed(spark, root, feedDir, startAfterVersion = Some(1))
      }
      // starting at the floor (needs v4+) is satisfiable
      Merge.streamChangeFeed(spark, root, feedDir, startAfterVersion = Some(3))
      // the EXISTING checkpointed stream resumes past the truncation:
      // its checkpoint, not the directory listing, is its position
      Merge.merge(spark, root, changes((0L, "r5", Merge.UpsertOp)), "m5") // v6
      assert(Merge.publishChangeFeed(spark, root, feedDir) == 1)
      run(None)
      assert(spark.read.parquet(sinkDir).count() == 10)
    } finally spark.conf.unset("spark.graft.merge.changeFeed")
  }
}
