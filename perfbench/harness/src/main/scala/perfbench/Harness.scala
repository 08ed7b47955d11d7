package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions.{col, count, expr, lit, xxhash64}

import graft.Caches
import graft.operators.{IncrementalIngest, MinHashLsh, Par}

/** One timed op: its wall time, counters and (when checked) output
  * digest and row count. */
final case class OpRecord(id: Int, name: String, seconds: Double, c: Counters,
                          digest: Long = 0L, rows: Long = -1L,
                          extra: Map[String, Double] = Map.empty,
                          traced: Boolean = false, warm: Boolean = false)

/** The JVM side of the benchmark: builds the session the way
  * graft.Bench does, sets a workload up several times (the last set-up
  * is kept), runs a few untimed warm-up ops, then its ops in a closed
  * loop for the requested seconds, and writes every measurement to one
  * JSON file for run.py.
  *
  * Usage: Harness WORKLOAD INPUT_DIR WORK_DIR SECONDS TRACE(0|1)
  */
object Harness {
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  val SetupReps = 3
  /** The first full-size ops after set-up run on code the JIT has not
    * compiled yet and take 30-60% longer than the rest; they are checked
    * like every op but left out of the metrics. */
  val WarmOps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, input, work, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val w: Workload = workload match {
      case "dedup_batch" => new DedupBatch(input)
      case "ingest_stream" => new IngestStream(input, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupTimes = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var rec: Recorder = null
    for (rep <- 0 until SetupReps) {
      if (spark != null) { w.close(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(work)
      // listeners go on before set-up: a stream started there runs on a
      // clone of the session that copies its listeners at start
      rec = Recorder.attach(spark, traced)
      w.setup(spark, rep)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val tracer = new Tracer(spark, traced, rec)
    val ops = ArrayBuffer.empty[OpRecord]
    tracer.traced = false
    while (ops.size < WarmOps && w.hasNext)
      ops += w.step(spark, tracer, ops.size).copy(warm = true)
    val canaryBefore = canary(spark)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a traced run alternates traced and untraced ops: the untraced
    // ones time the same work without tracing, which gives the overhead
    val minOps = math.max(w.fixedSpan.getOrElse(1), if (traced) 2 else 1)
    var timed = 0
    while (timed < minOps || (elapsed < seconds && w.hasNext)) {
      tracer.traced = traced && timed % 2 == 0
      val o = w.step(spark, tracer, ops.size)
      ops += (if (tracer.traced) o.copy(traced = true, extra = o.extra ++ residue(spark))
              else o)
      timed += 1
    }
    val measured = elapsed
    val canaryAfter = canary(spark)
    val checks = w.finish(spark)
    val out = Json.obj(
      "workload" -> Json.str(workload),
      "traced" -> Json.bool(traced),
      "setup_s" -> Json.arr(setupTimes.map(x => Json.num(x))),
      "measured_s" -> Json.num(measured),
      "fixed_span" -> w.fixedSpan.map(n => Json.num(n)).getOrElse("null"),
      "ops" -> Json.arr(ops.map(opJson)),
      "canary_s" -> Json.arr(Seq(canaryBefore, canaryAfter).map(x => Json.num(x))),
      "peak_rss_mb" -> Json.num(vmHwmMb()),
      "env" -> Json.obj(
        "nproc" -> Json.num(Cores),
        "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
        "spark" -> Json.obj(settings.map { case (k, v) => k -> Json.str(v) }: _*)),
      "checks" -> checks,
      "spans" -> Json.arr(tracer.spans.map(spanJson)),
      "jobs" -> Json.arr(rec.jobLog.asScala.toSeq.map { case (id, g, s, e) =>
          Json.obj("job" -> Json.num(id), "group" -> Json.str(g),
            "start_ms" -> Json.num(s), "end_ms" -> Json.num(e))
      }))
    Files.writeString(Paths.get(s"$work/result.json"), out + "\n")
    w.close()
    spark.stop()
  }

  /** graft.Bench.main's session settings, plus local dirs kept in the
    * benchmark's work directory. */
  def settings: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> Cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.network.timeout" -> "600s",
    "spark.executor.heartbeatInterval" -> "60s",
    "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024 * 1024).toString,
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.legacy.allowHashOnMapType" -> "true")

  def session(work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$Cores]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    settings.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  /** graft.Bench's contention canary: 32 Mrows of xxhash64 + bit_xor
    * over 32 partitions; moves only with CPU steal and scheduling. */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 32L * 1024 * 1024, 1L, 32)
      .selectExpr("bit_xor(xxhash64(id))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** What the op's release left behind: pinned RDDs and broadcast MB. */
  def residue(spark: SparkSession): Map[String, Double] = Map(
    "caches.pinned_rdds" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
    "caches.bcast_after_mb" -> org.apache.spark.sql.graft.Bridge
      .broadcastBlockStats(spark.sparkContext)._2 / 1048576.0)

  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** The frame graft.Bench forces: every output column hashed, plus the
    * row count. */
  def forcing(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)").as("digest"), count(lit(1)).as("rows"))

  /** build → plan → exec → release of one engine call, each a span.
    * Returns (digest, rows). */
  def run(spark: SparkSession, t: Tracer)(build: => DataFrame): (Long, Long) = {
    val df = t.span("build")(build)
    val f = t.span("plan") {
      val f = forcing(df)
      f.queryExecution.executedPlan
      f
    }
    val row = t.span("exec")(f.collect().head)
    t.span("release")(Caches.releaseAll(spark))
    (if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1))
  }

  /** In a traced step, forces each prefix of a chain as its own op
    * first, so a layer's self time is the difference of successive
    * prefixes. Returns "<prefix>.<field>" -> value. */
  def prefixes(spark: SparkSession, t: Tracer, id: Int)(
      ps: (String, () => DataFrame)*): Map[String, Double] =
    if (!t.traced) Map.empty
    else ps.flatMap { case (name, build) =>
      val ((_, rows), s, c) = t.op(id, name)(run(spark, t)(build()))
      Seq(s"$name.s" -> s, s"$name.rows" -> rows.toDouble,
        s"$name.task_s" -> c.taskMs / 1000.0,
        s"$name.shuffle_mb" -> c.shuffleWrite / 1048576.0,
        s"$name.read_mb" -> c.inputBytes / 1048576.0,
        s"$name.skew" -> c.readSkew)
    }.toMap

  def opJson(o: OpRecord): String = Json.obj(Seq(
    "id" -> Json.num(o.id), "name" -> Json.str(o.name), "s" -> Json.num(o.seconds),
    "digest" -> Json.num(o.digest), "rows" -> Json.num(o.rows),
    "traced" -> Json.bool(o.traced), "warm" -> Json.bool(o.warm),
    "c" -> countersJson(o.c)) ++ o.extra.map { case (k, v) => k -> Json.num(v) }: _*)

  def countersJson(c: Counters): String = Json.obj(
    c.productElementNames.zip(c.productIterator).map {
      case (k, v: Long) => k -> Json.num(v)
      case (k, v: Double) => k -> Json.num(v)
      case (k, v) => k -> Json.str(v.toString)
    }.toSeq: _*)

  def spanJson(s: Span): String = Json.obj(Seq(
    "id" -> Json.num(s.id), "name" -> Json.str(s.name), "parent" -> Json.num(s.parent),
    "op" -> Json.num(s.op), "start_ns" -> Json.num(s.startNs), "end_ns" -> Json.num(s.endNs)) ++
    s.counters.map(c => "c" -> countersJson(c)).toSeq: _*)
}

/** A workload: set-up (timed as part of setup_s), a step that runs one
  * timed op, a finish that gathers what run.py checks, and a close that
  * stops what set-up started. */
trait Workload {
  def setup(spark: SparkSession, rep: Int): Unit
  def close(): Unit = ()
  def hasNext: Boolean = true
  /** For a workload whose state grows with every op: the number of
    * timed ops every run makes and its end-to-end metrics cover, so that
    * runs of any speed are compared at the same point of the stream. */
  def fixedSpan: Option[Int] = None
  def step(spark: SparkSession, t: Tracer, id: Int): OpRecord
  def finish(spark: SparkSession): String
}

/** MinHashLsh.similarPairs over the whole seeded corpus, once per op. */
final class DedupBatch(input: String) extends Workload {
  private def docs(spark: SparkSession): DataFrame =
    Par.widen(spark.read.parquet(s"$input/documents.parquet"))

  def setup(spark: SparkSession, rep: Int): Unit = {
    // warm the chain's codegen and scan path on a slice of the corpus
    // (same source file, so the same unbounded-corpus plan shape)
    val slice = docs(spark).filter(col("doc_id") < 5000)
    Harness.forcing(MinHashLsh.similarPairs(slice)).collect()
    Caches.releaseAll(spark)
  }

  def step(spark: SparkSession, t: Tracer, id: Int): OpRecord = {
    val d = docs(spark)
    val extra = Harness.prefixes(spark, t, id)(
      "signatures" -> (() => MinHashLsh.signatures(d)),
      "bands" -> (() => MinHashLsh.bands(d)),
      "candidatePairs" -> (() => MinHashLsh.candidatePairs(d)))
    val ((digest, rows), s, c) =
      t.op(id, "similarPairs")(Harness.run(spark, t)(MinHashLsh.similarPairs(d)))
    OpRecord(id, "similarPairs", s, c, digest, rows, extra)
  }

  /** The verified pairs, collected once more after the timed loop, for
    * run.py's independent Jaccard check; their digest must equal every
    * op's. */
  def finish(spark: SparkSession): String = {
    val rows = MinHashLsh.similarPairs(docs(spark)).collect()
    Caches.releaseAll(spark)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id_l", "long").add("id_r", "long").add("jaccard", "double")
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val d = Harness.forcing(df).collect().head
    Json.obj(
      "digest" -> Json.num(if (d.isNullAt(0)) 0L else d.getLong(0)),
      "pairs" -> Json.arr(rows.toSeq.map(r =>
        Json.arr(Seq(Json.num(r.getLong(0)), Json.num(r.getLong(1)),
          java.lang.Double.toString(r.getDouble(2)))))))
  }
}

/** The continuous ingest loop, IncrementalIngest.ingestDedupStream:
  * a file-source stream whose micro-batches each run ingestBatch against
  * a persistent parquet corpus and band index. Set-up starts the stream
  * and lands the base store as its first micro-batch; each op drops one
  * 2,000-doc batch file into the source directory and waits until the
  * stream has ingested and reported it. */
final class IngestStream(input: String, work: String) extends Workload {
  private var corpus = ""
  private var index = ""
  private var source = ""
  private var query: StreamingQuery = null
  private var next = 0
  private val batches = Iterator.from(0).map(j => f"$input/batch_$j%04d.parquet")
    .takeWhile(p => Files.exists(Paths.get(p))).toIndexedSeq

  def setup(spark: SparkSession, rep: Int): Unit = {
    corpus = s"$work/store$rep/corpus"
    index = s"$work/store$rep/index"
    source = s"$work/store$rep/arrivals"
    Files.createDirectories(Paths.get(source))
    val base = s"$input/base.parquet"
    val arrivals = spark.readStream.schema(spark.read.parquet(base).schema)
      .option("maxFilesPerTrigger", 1).parquet(source)
    query = IncrementalIngest.ingestDedupStream(arrivals, corpus, index,
      s"$work/store$rep/checkpoint")
    arrive(base, 0L)
    Caches.releaseAll(spark)
  }

  override def close(): Unit = if (query != null) query.stop()

  override def hasNext: Boolean = next < batches.size

  // each batch adds ~2,000 docs to a 10k-doc store and ~5% to the next
  // op's shuffle: a median over however many ops fit would rise when
  // the engine gets faster
  override def fixedSpan: Option[Int] = Some(5)

  /** Lands `file` in the source directory (renamed in, so the stream
    * never sees a partial file) and blocks until micro-batch `batchId`
    * has run and posted its progress. */
  private def arrive(file: String, batchId: Long): Unit = {
    val tmp = Paths.get(s"$source/.${Paths.get(file).getFileName}")
    Files.copy(Paths.get(file), tmp)
    Files.move(tmp, Paths.get(source).resolve(Paths.get(file).getFileName),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    query.processAllAvailable()
    while (Option(query.lastProgress).forall(_.batchId < batchId)) Thread.sleep(1)
  }

  /** (parquet files, bytes) in the corpus and index stores. */
  private def storeFiles(): (Long, Long) = {
    val files = Seq(corpus, index).flatMap(dir => Files.walk(Paths.get(dir))
      .toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")))
    (files.size.toLong, files.map(p => Files.size(p)).sum)
  }

  def step(spark: SparkSession, t: Tracer, id: Int): OpRecord = {
    val batchId = next + 1L
    val path = batches(next)
    next += 1
    val (filesBefore, bytesBefore) = storeFiles()
    def stores(): (DataFrame, DataFrame) = (
      spark.read.parquet(index).filter(col("ingest_batch") =!= batchId).drop("ingest_batch"),
      spark.read.parquet(corpus).filter(col("ingest_batch") =!= batchId).drop("ingest_batch"))
    val pre = Harness.prefixes(spark, t, id)(
      "bands" -> (() => MinHashLsh.bands(spark.read.parquet(path))),
      "incrementalCandidates" -> (() =>
        MinHashLsh.incrementalCandidates(stores()._1, spark.read.parquet(path))),
      "filterBatch" -> (() => {
        val (b, c) = stores()
        IncrementalIngest.filterBatch(spark.read.parquet(path), b, c)
      }))
    val (_, s, c) = t.op(id, "ingestBatch") {
      t.span("exec")(arrive(path, batchId))
      t.span("release")(Caches.releaseAll(spark))
    }
    val (filesAfter, bytesAfter) = storeFiles()
    val extra = pre ++ Map(
      "write.files" -> (filesAfter - filesBefore).toDouble,
      "write.mb" -> (bytesAfter - bytesBefore) / 1048576.0,
      "store.files" -> filesAfter.toDouble,
      "store.read_frac" -> (if (bytesBefore > 0) c.inputBytes.toDouble / bytesBefore else 0.0))
    OpRecord(id, "ingestBatch", s, c, extra = extra)
  }

  /** Per batch id, the doc ids the store kept. */
  def finish(spark: SparkSession): String = {
    val kept = spark.read.parquet(corpus).select("ingest_batch", "doc_id").collect()
      .groupBy(_.getInt(0)).map { case (b, rs) => b -> rs.map(_.getLong(1)).sorted }
    Json.obj(
      "batches" -> Json.arr((1 to next).map(b => Json.str(batches(b - 1)))),
      "kept" -> Json.obj(kept.toSeq.sortBy(_._1).map { case (b, ids) =>
        b.toString -> Json.arr(ids.toSeq.map(x => Json.num(x))) }: _*))
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
