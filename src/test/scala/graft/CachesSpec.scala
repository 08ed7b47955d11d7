package graft

import org.apache.spark.storage.StorageLevel

/** releaseAll must free ONLY graft-created checkpoint blocks: a frame
  * the user cached (or checkpointed) deliberately survives a
  * Bench/Verify-style release loop. */
class CachesSpec extends SparkSpec {

  test("releaseAll frees graft checkpoints but leaves user caches and checkpoints alone") {
    val s = spark
    import s.implicits._

    val user = (1L to 100L).toDF("id").cache()
    assert(user.count() == 100)
    val userCp = (1L to 50L).toDF("id").localCheckpoint()
    assert(userCp.count() == 50)

    val graftFrame = Caches.checkpoint((1L to 10L).toDF("id"))
    assert(graftFrame.count() == 10)

    def persistedIds = s.sparkContext.getPersistentRDDs.keySet
    val beforeRelease = persistedIds
    Caches.releaseAll(s)
    // async unpersist: wait for the graft blocks to drop out
    val deadline = System.nanoTime() + 10_000_000_000L
    while (persistedIds.size > beforeRelease.size - 1 && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(persistedIds.size < beforeRelease.size,
      s"graft checkpoint not released: $beforeRelease -> $persistedIds")

    // user-owned data is still persisted AND still collectable — the
    // r3-advice failure mode was releaseAll dropping a user's
    // localCheckpoint blocks, making the frame unrecoverable
    assert(user.storageLevel != StorageLevel.NONE)
    assert(user.count() == 100)
    assert(userCp.count() == 50)
    user.unpersist()
  }

  test("a second releaseAll after the registry is drained is a no-op") {
    Caches.releaseAll(spark) // must not throw with an empty registry
  }

  test("reclaimBroadcasts frees a dead query's broadcast blocks and spares live ones") {
    val s = spark
    val sc = s.sparkContext
    import org.apache.spark.sql.graft.Bridge

    // build the garbage in a SEPARATE frame: stack slots of the
    // current method are GC roots, and a Dataset local would keep its
    // broadcast reachable through QueryExecution
    def leakBroadcastJoin(): Unit = {
      import s.implicits._
      val small = (0L until 64L).toDF("id")
      assert(s.range(0, 4096).toDF("id")
        .join(org.apache.spark.sql.functions.broadcast(small), "id")
        .count() == 64)
    }

    val before = Bridge.broadcastBlockIds(sc)
    leakBroadcastJoin()
    val leaked = Bridge.broadcastBlockIds(sc) -- before
    assert(leaked.nonEmpty, "the broadcast join must leave blocks behind")

    // a broadcast the caller still references must survive the GC pass
    val held = sc.broadcast(Array.fill(1 << 10)(7L))

    // under-threshold call is a measured no-op (single stats scan)
    val noop = Caches.reclaimBroadcasts(sc, minBytes = Long.MaxValue)
    assert(noop._1 == noop._2)

    // forced reclaim (threshold 0): the dead join's blocks die; GC
    // timing is best-effort per call, so poll with a deadline
    Caches.reclaimBroadcasts(sc, minBytes = 0L)
    val deadline = System.nanoTime() + 20_000_000_000L
    var residue = Bridge.broadcastBlockIds(sc) intersect leaked
    while (residue.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(200)
      Caches.reclaimBroadcasts(sc, minBytes = 0L)
      residue = Bridge.broadcastBlockIds(sc) intersect leaked
    }
    assert(residue.isEmpty, s"dead broadcast blocks survived reclaim: $residue")
    assert(held.value.length == 1024,
      "a still-referenced broadcast must survive reclaim")
    held.destroy()
  }

  test("checkpointLazy runs no job at mark time, materializes+truncates on the first action, and releases") {
    val s = spark
    import s.implicits._
    val sc = s.sparkContext
    val jobsBefore = sc.statusTracker.getJobIdsForGroup(null).length
    val lazyCp = Caches.checkpointLazy(
      (1L to 20L).toDF("id").selectExpr("id", "id * 2 as twice"))
    assert(sc.statusTracker.getJobIdsForGroup(null).length == jobsBefore,
      "marking a lazy checkpoint must not run a job")
    // the first action materializes the blocks AND answers the query
    // in the same job — the one-job-per-iteration contract
    // nearDupGroups' convergence fold relies on
    assert(lazyCp.agg(org.apache.spark.sql.functions.sum("twice"))
      .head().getLong(0) == 420L)
    // a second action serves from the persisted blocks
    assert(lazyCp.count() == 20)
    // and the blocks are graft-registered: releaseAll frees them
    val before = sc.getPersistentRDDs.size
    Caches.releaseAll(s)
    val deadline = System.nanoTime() + 10_000_000_000L
    while (sc.getPersistentRDDs.size >= before && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(sc.getPersistentRDDs.size < before,
      "lazy checkpoint blocks must be releasable like eager ones")
  }

  test("storedBytes measures a checkpoint's blocks, rejects a plain frame, reads 0 once released") {
    val s = spark
    def rows(n: Long) = Caches.checkpoint(s.range(0, n, 1, 4)
      .selectExpr("id", "repeat(cast(id as string), 8) as payload"))
    val small = rows(1000)
    val large = rows(10000)
    val (smallBytes, largeBytes) = (Caches.storedBytes(small), Caches.storedBytes(large))
    assert(smallBytes > 0 && largeBytes > smallBytes, s"$smallBytes vs $largeBytes")

    val e = intercept[IllegalArgumentException](Caches.storedBytes(s.range(10).toDF()))
    assert(e.getMessage.contains("checkpoint"), e.getMessage)

    Caches.releaseAll(s) // blocking: the blocks are gone when it returns
    assert(Caches.storedBytes(small) == 0 && Caches.storedBytes(large) == 0)
  }
}
