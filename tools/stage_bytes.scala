// Per-stage shuffle-write bytes and times of one engine chain, for
// spark-shell. Run it through tools/stage_bytes.sh, which defines
// `chain` (a DataFrame => DataFrame over the engine's classes), `reps`
// and `cores` ahead of this file and sets DOCS to a documents.parquet
// path. The chain's
// input is Par.widen of that parquet (the frame perfbench's
// dedup_batch hands to its op), and the output is forced the way
// perfbench forces an op: one xxhash64 bit_xor digest and a row count.
import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._

// the shell's own session lacks the engine's settings (its extensions
// are static): replace it with the one the engine's mains use
spark.stop()
val session = graft.Harness.session(cores)

val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
session.sparkContext.addSparkListener(new SparkListener {
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val w = i.taskMetrics.shuffleWriteMetrics
    val taskS = i.taskMetrics.executorRunTime / 1000.0
    val wallS = (for (s <- i.submissionTime; c <- i.completionTime) yield (c - s) / 1000.0)
      .getOrElse(Double.NaN)
    stages.add(f"stage ${i.stageId}%3d ${w.bytesWritten / 1048576.0}%7.2f MB " +
      f"${w.recordsWritten}%8d records ${i.numTasks}%4d tasks ${taskS}%6.2f task_s " +
      f"${wallS}%6.2f wall_s ${i.name}")
  }
})
(1 to reps).foreach { rep =>
  val docs = graft.operators.Par.widen(session.read.parquet(sys.env("DOCS")))
  val out = chain(docs)
  val row = out.select(xxhash64(out.columns.toIndexedSeq.map(col): _*).as("h"))
    .agg(expr("bit_xor(h)"), count(lit(1))).head()
  graft.Caches.releaseAll(session)
  org.apache.spark.sql.graft.Bridge.drainListenerBus(session.sparkContext)
  println(s"rep $rep")
  while (!stages.isEmpty) println(stages.poll())
  println(s"digest ${row.get(0)} rows ${row.getLong(1)}")
}
System.exit(0)
