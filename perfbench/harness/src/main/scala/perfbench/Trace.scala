package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level counters summed over an interval. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    // task wall time, and the CPU time the task threads actually got
    // (unlike wall time, the latter does not grow with CPU steal)
    taskMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0,
    inputBytes: Long = 0, outputBytes: Long = 0,
    spill: Long = 0, peakTaskMem: Long = 0,
    // shuffle-write of stages that read input files: the scan (and the
    // Par.widen repartition that follows it in the same stage)
    scanShuffleWrite: Long = 0,
    // largest / median reduce-task shuffle read of the stage that read
    // the most shuffle bytes (0 when no stage read shuffle)
    readSkew: Double = 0.0,
    // ms of the interval covered by at least one running job
    jobCoveredMs: Long = 0,
    // analysis + optimization + planning of every Dataset action
    planMs: Long = 0,
    scanFiles: Long = 0,
    streamBatches: Long = 0, streamAddBatchMs: Long = 0,
    streamPlanningMs: Long = 0, streamWalCommitMs: Long = 0,
    streamCommitOffsetsMs: Long = 0)

/** One listener for every counter the benchmark reads. Events post
  * asynchronously, so [[snapshot]] drains the listener bus first and
  * then takes and resets everything seen since the previous snapshot.
  * The benchmark runs one client in a closed loop, so everything
  * between two snapshots belongs to the span that was open. */
final class Recorder(spark: SparkSession) extends SparkListener {
  private val sc: SparkContext = spark.sparkContext
  private case class StageAgg(var taskMs: Long = 0, var input: Long = 0,
                              var shuffleWrite: Long = 0,
                              reads: ArrayBuffer[Long] = ArrayBuffer.empty)
  private val lock = new Object
  private var c = Counters()
  private val stages = scala.collection.mutable.HashMap.empty[Int, StageAgg]
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, Long]
  private val intervals = ArrayBuffer.empty[(Long, Long)]
  /** (jobId, group, startMs, endMs) of every job, for the span file. */
  val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Long)]
  private val groups = new ConcurrentHashMap[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobStart(e.jobId) = e.time
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => groups.put(e.jobId, g))
    c = c.copy(jobs = c.jobs + 1, stages = c.stages + e.stageInfos.size)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    val s = jobStart.remove(e.jobId).getOrElse(e.time)
    intervals += ((s, e.time))
    jobLog.add((e.jobId, Option(groups.remove(e.jobId)).getOrElse(""), s, e.time))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m == null) return
    lock.synchronized {
      val st = stages.getOrElseUpdate(t.stageId, StageAgg())
      st.taskMs += m.executorRunTime
      st.input += m.inputMetrics.bytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.reads += m.shuffleReadMetrics.totalBytesRead
      c = c.copy(
        tasks = c.tasks + 1,
        taskMs = c.taskMs + m.executorRunTime,
        cpuNs = c.cpuNs + m.executorCpuTime,
        gcMs = c.gcMs + m.jvmGCTime,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
        outputBytes = c.outputBytes + m.outputMetrics.bytesWritten,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory))
    }
  }

  private[perfbench] def addPlan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val files = Recorder.scanFiles(qe)
    lock.synchronized { c = c.copy(planMs = c.planMs + ms, scanFiles = c.scanFiles + files) }
  }

  private[perfbench] def addProgress(d: java.util.Map[String, java.lang.Long]): Unit = {
    def g(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    lock.synchronized {
      c = c.copy(streamBatches = c.streamBatches + 1,
        streamAddBatchMs = c.streamAddBatchMs + g("addBatch"),
        streamPlanningMs = c.streamPlanningMs + g("queryPlanning"),
        streamWalCommitMs = c.streamWalCommitMs + g("walCommit"),
        streamCommitOffsetsMs = c.streamCommitOffsetsMs + g("commitOffsets"))
    }
  }

  /** Counters since the previous snapshot, with job coverage clipped to
    * the wall-clock interval [fromMs, toMs]. */
  def snapshot(fromMs: Long, toMs: Long): Counters = {
    org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)
    lock.synchronized {
      val busiest = stages.values.filter(_.reads.exists(_ > 0))
        .maxByOption(_.reads.sum)
      val skew = busiest.map { s =>
        val r = s.reads.sorted
        val med = r(r.size / 2).toDouble
        if (med > 0) r.last / med else r.last.toDouble
      }.getOrElse(0.0)
      val scanWrite = stages.values.filter(_.input > 0).map(_.shuffleWrite).sum
      val out = c.copy(readSkew = skew, scanShuffleWrite = scanWrite,
        jobCoveredMs = Recorder.covered(intervals.toSeq, fromMs, toMs))
      c = Counters()
      stages.clear()
      intervals.clear()
      out
    }
  }
}

object Recorder extends AdaptiveSparkPlanHelper {
  /** Length of the union of `iv` clipped to [from, to]. */
  def covered(iv: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s >= end) { total += e - s; end = e }
        else if (e > end) { total += e - end; end = e }
      }
    total
  }

  def scanFiles(qe: QueryExecution): Long =
    try collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    catch { case _: Throwable => 0L }

  def attach(spark: SparkSession, traced: Boolean): Recorder = {
    val r = new Recorder(spark)
    spark.sparkContext.addSparkListener(r)
    if (traced) {
      spark.listenerManager.register(new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = r.addPlan(qe)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = r.addPlan(qe)
      })
      spark.streams.addListener(new StreamingQueryListener {
        def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          r.addProgress(e.progress.durationMs)
        def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })
    }
    r
  }
}

/** A recorded span: name, wall interval, parent span, op id, and the
  * counters of the work that ran inside it (leaf spans, traced runs). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long, counters: Option[Counters])

/** Spans around each call the benchmark makes into the engine. With
  * tracing off only ops are timed and counted; with it on every call is
  * a span with its own job group and counters. Spans stay in memory
  * until the run writes them out. */
final class Tracer(spark: SparkSession, var traced: Boolean, rec: Recorder) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[(Int, String)] = Nil
  private var opId = -1
  private var opTotal = Counters()

  /** Runs `body` as op `id`; returns its result, wall seconds and
    * counters. */
  def op[T](id: Int, name: String)(body: => T): (T, Double, Counters) = {
    opId = id
    rec.snapshot(0L, 0L) // drop anything left over from between ops
    opTotal = Counters()
    val (ms0, t0) = (System.currentTimeMillis(), System.nanoTime())
    val out = span(name)(body)
    val t1 = System.nanoTime()
    add(rec.snapshot(ms0, System.currentTimeMillis()))
    (out, (t1 - t0) / 1e9, opTotal)
  }

  private def add(c: Counters): Unit = {
    val o = opTotal
    opTotal = Counters(o.jobs + c.jobs, o.stages + c.stages, o.tasks + c.tasks,
      o.taskMs + c.taskMs, o.cpuNs + c.cpuNs, o.gcMs + c.gcMs, o.shuffleWrite + c.shuffleWrite,
      o.shuffleRead + c.shuffleRead, o.inputBytes + c.inputBytes,
      o.outputBytes + c.outputBytes, o.spill + c.spill,
      math.max(o.peakTaskMem, c.peakTaskMem), o.scanShuffleWrite + c.scanShuffleWrite,
      math.max(o.readSkew, c.readSkew), o.jobCoveredMs + c.jobCoveredMs,
      o.planMs + c.planMs, o.scanFiles + c.scanFiles,
      o.streamBatches + c.streamBatches, o.streamAddBatchMs + c.streamAddBatchMs,
      o.streamPlanningMs + c.streamPlanningMs, o.streamWalCommitMs + c.streamWalCommitMs,
      o.streamCommitOffsetsMs + c.streamCommitOffsetsMs)
  }

  /** A child span of the open span; leaf spans carry their counters. */
  def span[T](name: String)(body: => T): T = {
    if (!traced && stack.nonEmpty) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val group = s"op$opId/$name#$id"
    stack = (id, group) :: stack
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(group, name, interruptOnCancel = false)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      val leaf = !spans.exists(_.parent == id)
      // the span's own bookkeeping (draining the listener bus) stays
      // inside it, so an op's spans tile its wall time
      val c = if (traced && leaf) {
        val s = rec.snapshot(ms0, System.currentTimeMillis())
        add(s)
        Some(s)
      } else None
      spans += Span(id, name, parent, opId, t0, System.nanoTime(), c)
      if (traced) stack.headOption match {
        case Some((_, g)) => sc.setJobGroup(g, g, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }
}
