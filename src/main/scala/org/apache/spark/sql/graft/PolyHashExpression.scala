/** Engine-native Catalyst extensions. Hosted under
  * org.apache.spark.sql.* because Expression-building blocks
  * (AbstractDataType, ExpressionUtils) are private[sql] in Spark 4 —
  * the standard packaging for third-party Catalyst extensions.
  */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen expression for the portable base-31 polynomial
  * hash (fold over code points mod 2^31-1).
  *
  * Why custom: the built-ins formulation is three nested
  * higher-order functions (`aggregate(transform(sequence(...)))`)
  * evaluated through interpreted lambda machinery per shingle — the
  * hottest expression in the engine (every character window of every
  * document flows through it before the 60-way min aggregate). This
  * is one tight loop over the UTF8String bytes, participates in
  * whole-stage codegen via a static call, and allocates nothing on
  * the ASCII fast path. Semantics are exactly
  * PortableHash.charFoldHashHof (and the DuckDB oracle) — verified
  * in PolyHashSpec.
  */
case class PolyHash(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash"

  override def nullSafeEval(input: Any): Any =
    PolyHashUtil.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graft.PolyHashUtil.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

/** x mod P for P = 2^31-1 without a division: the Mersenne fold
  * x = (x & P) + (x >>> 31), applied twice, then one conditional
  * subtract. Exact for 0 <= x < 2^62 — every intermediate of the
  * native hash kernels, whose largest is the sketch's (P-1)^2 + P-1.
  * graft.Config.P is a field, not a compile-time constant, so a
  * `% P` in those loops is a real 64-bit divide per (shingle, hash);
  * the built-in `%` forms (PortableHash.affine, the polyhash
  * built-ins, the oracle) stay as the references the specs compare
  * against. */
object ModP {
  private final val P = 0x7fffffffL
  require(graft.Config.P == P, s"the Mersenne fold needs P = 2^31-1, not ${graft.Config.P}")

  def fold(x: Long): Long = {
    var y = (x & P) + (x >>> 31) // < 2^32
    y = (y & P) + (y >>> 31)      // <= P + 1
    if (y >= P) y - P else y
  }
}

object PolyHashUtil {
  private final val Base = graft.Config.CharBase

  /** Fold over code points; ASCII fast path iterates raw bytes with
    * zero allocation. */
  def hash(s: UTF8String): Long = {
    val nBytes = s.numBytes
    if (nBytes == s.numChars) { // pure ASCII: byte == code point
      var acc = 0L
      var i = 0
      while (i < nBytes) {
        acc = ModP.fold(acc * Base + (s.getByte(i) & 0xffL))
        i += 1
      }
      acc
    } else {
      val str = s.toString
      var acc = 0L
      var i = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        acc = ModP.fold(acc * Base + cp)
        i += Character.charCount(cp)
      }
      acc
    }
  }
}

/** Column <-> Expression bridge for code outside org.apache.spark.sql. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The persisted RDD id behind a just-created `localCheckpoint`
    * Dataset (its logical plan is a LogicalRDD wrapping the marked
    * RDD — private[sql], hence bridged). EXACT attribution for
    * graft.Caches' checkpoint registry: the previous before/after
    * diff of `sc.getPersistentRDDs` mis-attributed a CONCURRENT
    * thread's pinned cache blocks into the between-queries release
    * set (r14 — surfaced the moment AnnRecall overlapped its four
    * family gates: rep 2 then read a released checkpoint block). */
  def checkpointRddId(df: org.apache.spark.sql.Dataset[_]): Option[Int] =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd.id)
      case _ => None
    }

  /** Memory + disk bytes of RDD `rddId`'s stored blocks across every
    * block manager, as the driver's block-manager master records them
    * (private[spark], hence bridged). A driver RPC, no job; blocks
    * report in before their task ends, so it is exact once the job
    * that stored them has finished, and 0 once they are removed. */
  def rddStoredBytes(rddId: Int): Long =
    org.apache.spark.SparkEnv.get.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks)
      .collect { case (org.apache.spark.storage.RDDBlockId(`rddId`, _), s) =>
        s.memSize + s.diskSize }
      .sum

  /** Unload every loaded state-store provider (private[sql] —
    * bridged for the streaming harness): providers and their
    * in-memory version maps outlive the query that created them, and
    * the shared maintenance thread keeps ticking over all of them. A
    * stopped harness query never resumes, so dropping them is pure
    * hygiene; a live query reloads its providers on its next batch. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  /** The FINAL micro-batch's executed physical plan of a streaming
    * query, as a string — None before any batch ran (e.g. a
    * checkpointed query that resumed and found nothing new).
    * StreamExecution internals are private[sql]; bridged so
    * PlanAuditSpec can digest the streaming surface with the same
    * shuffle/cartesian gate as the batch queries (r12 verdict). */
  def lastExecutedPlan(q: org.apache.spark.sql.streaming.StreamingQuery): Option[String] =
    q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        Option(w.streamingQuery.lastExecution).map(_.executedPlan.toString)
      case _ => None
    }

  /** (count, bytes) of broadcast blocks resident in THIS JVM's block
    * manager — in local mode, the only store. BlockManager's
    * block-enumeration API is private[spark]; bridged for
    * [[graft.Caches]]' between-query broadcast hygiene (r13 scale
    * diagnosis layer 2): SQL broadcast-exchange relations die only
    * via ContextCleaner GC, so a chained run accumulates GB-scale
    * broadcast blocks in the unified pool and later queries' memory
    * acquisitions grind through single-threaded eviction. Counting
    * bytes here is what lets releaseAll decide a GC is worth its
    * pause — and what puts a "broadcast residue after release"
    * receipt in the bench artifacts. */
  def broadcastBlockStats(sc: org.apache.spark.SparkContext): (Int, Long) = {
    val bm = org.apache.spark.SparkEnv.get.blockManager
    val ids = bm.getMatchingBlockIds(_.isBroadcast)
    val bytes = ids.iterator
      .flatMap(id => bm.getStatus(id))
      .map(s => s.memSize + s.diskSize).sum
    (ids.size, bytes)
  }

  /** Names of the resident broadcast blocks — CachesSpec pins the
    * reclaim assertion to the specific blocks a dead query leaked,
    * so live broadcasts owned by other suites/caches can't flake it. */
  def broadcastBlockIds(sc: org.apache.spark.SparkContext): Set[String] =
    org.apache.spark.SparkEnv.get.blockManager
      .getMatchingBlockIds(_.isBroadcast).map(_.name).toSet

  /** Block until the listener bus has delivered every queued event
    * (private[spark] — bridged for Bench's per-query metrics
    * attribution: task-end events post asynchronously, so a snapshot
    * taken right after collect() would credit this query's last tasks
    * to the next one). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The engine's SQL function tier, one (name, builder) entry per
    * function, each declared with its arity: the builder checks the
    * argument count and names the function when it is wrong.
    * GraftExtensions injects these at session creation;
    * [[registerAll]] registers the same entries on a live session. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = {
    def intLit(e: Expression, fn: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$fn expects an integer literal parameter, got $other")
    }
    def fn(name: String, arity: Int)(build: Seq[Expression] => Expression) =
      (name, (es: Seq[Expression]) => {
        require(es.length == arity, s"$name expects $arity argument" +
          s"${if (arity == 1) "" else "s"}, got ${es.length}")
        build(es)
      })
    Seq(
      fn("graft_polyhash", 1)(es => PolyHash(es(0))),
      fn("graft_shingle_hashes", 2)(es =>
        ShingleHashes(es(0), intLit(es(1), "graft_shingle_hashes"))),
      fn("graft_minhash_sketch", 1)(es => MinHashSketch(es(0))),
      fn("graft_vec_dot", 2)(es => VecDot(es(0), es(1))),
      fn("graft_array_agree_count", 2)(es => ArrayAgreeCount(es(0), es(1))),
      fn("graft_sorted_intersect_count", 2)(es => SortedIntersectCount(es(0), es(1))),
      fn("graft_feature_hash_vec", 2)(es =>
        FeatureHashVec(es(0), intLit(es(1), "graft_feature_hash_vec"))),
      fn("graft_simhash_bits", 2)(es =>
        SimHashBits(es(0), intLit(es(1), "graft_simhash_bits"))),
      fn("graft_shingle_windows", 2)(es =>
        ShingleWindows(es(0), intLit(es(1), "graft_shingle_windows"))),
      fn("graft_word_bigrams", 1)(es => WordBigrams(es(0))))
  }

  /** Register the [[sqlFunctions]] tier on an EXISTING session (the
    * spark.sql.extensions route only applies at session creation).
    * Idempotent: a name the session's registry already holds — e.g.
    * injected by GraftExtensions — keeps its builder. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, build) =>
      val id = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
      if (!registry.functionExists(id))
        registry.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}
