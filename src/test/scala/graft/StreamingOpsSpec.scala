package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.SessionEvent

class StreamingOpsSpec extends SparkSpec {

  test("streaming window counts aggregate a memory stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // (sec, event_type, value, user_id)
    val input = MemoryStream[(Long, String, Double, Long)]
    val df = input.toDF()
      .select(timestamp_micros($"_1" * 1000000L).as("ts_ts"), $"_2".as("event_type"),
        $"_3".as("value"), $"_4".as("user_id"))
    val q = StreamingOps.windowCounts(df).writeStream
      .format("memory").queryName("wc").outputMode("complete").start()
    try {
      input.addData((0L, "click", 1.10, 1L), (599L, "click", 2.20, 1L), (600L, "view", 4.40, 1L))
      q.processAllAvailable()
      val rows = s.table("wc").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.toSet == Set((0L, "click", 2L, 3.30), (600L, "view", 1L, 4.40)))
    } finally q.stop()
  }

  test("stream-static broadcast join enriches events with dimension rows") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, Long)] // (user_id, event_id)
    val df = input.toDF().select($"_1".as("user_id"), $"_2".as("event_id"))
    val q = StreamingOps.enrichStream(df, dim).writeStream
      .format("memory").queryName("enriched").outputMode("append").start()
    try {
      input.addData((1L, 10L), (2L, 11L), (9L, 12L))
      q.processAllAvailable()
      val rows = s.table("enriched").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
      assert(rows == Set((1L, 10L, Some("gold")), (2L, 11L, Some("silver")),
        (9L, 12L, None)))
    } finally q.stop()
  }

  test("stream-stream interval join pairs targets with in-window matches only") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mkDf = (input: MemoryStream[(Long, Long, Long)]) => input.toDF()
      .select($"_1".as("user_id"), $"_2".as("event_id"),
        timestamp_micros($"_3" * 1000000L).as("ts_ts"))
    val targets = MemoryStream[(Long, Long, Long)] // (user_id, event_id, sec)
    val matches = MemoryStream[(Long, Long, Long)]
    val q = StreamingOps.rangeJoinStream(mkDf(targets), mkDf(matches), windowSec = 600)
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      matches.addData((1L, 100L, 500L), (1L, 101L, 2000L), (2L, 102L, 900L))
      targets.addData((1L, 1L, 1000L), (2L, 2L, 1000L), (3L, 3L, 1000L))
      q.processAllAvailable()
      val rows = s.table("ssj").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // user 1: click at 500 is within [400, 1000] of target at 1000;
      // click at 2000 is AFTER the target -> excluded. user 2: 900 in
      // range. user 3: no matches -> absent (inner join).
      assert(rows == Set((1L, 1L, 100L), (2L, 2L, 102L)))
    } finally q.stop()
  }

  test("streaming as-of: latest-at-or-before state, exact (us, event_id) tie order") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mkDf = (input: MemoryStream[(Long, Long, Long)]) => input.toDF()
      .select($"_1".as("user_id"), $"_2".as("event_id"), $"_3".as("us"))
    val targets = MemoryStream[(Long, Long, Long)] // (user_id, event_id, us)
    val matches = MemoryStream[(Long, Long, Long)]
    // batch 1 is loaded BEFORE the query starts so both sides land in
    // ONE micro-batch (a running MemoryStream may trigger between
    // addData calls, which would deliver a later click before an
    // earlier target — the out-of-order feed the operator's contract
    // excludes and the lockstep harness never produces):
    // user 1 - clicks at 100 and 300, target BETWEEN them; tie case
    // user 2 - click shares the target's us, click id 20 < target id
    // 21 -> counts (the batch window's tie order); user 3 - click AT
    // the target's us with id 31 > target id 30 -> must NOT count;
    // user 4 - no click at all -> null row still emitted
    matches.addData((1L, 10L, 100L), (1L, 11L, 300L),
      (2L, 20L, 500L), (3L, 31L, 500L))
    targets.addData((1L, 1L, 200L), (2L, 21L, 500L), (3L, 30L, 500L), (4L, 40L, 999L))
    val q = StreamingOps.asOfJoinStream(mkDf(targets), mkDf(matches))
      .toDF().writeStream.format("memory").queryName("saj").outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2 (event times after batch 1): a later click then a
      // later target — whether they share a micro-batch or not, the
      // target must see the newest click via state (12 at 350)
      matches.addData((1L, 12L, 350L))
      targets.addData((1L, 2L, 400L))
      q.processAllAvailable()
      val rows = s.table("saj").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
      assert(rows.size == 5, s"expected one row per target, got $rows")
      assert(rows(1L) == 10L)   // target 1 at 200: latest click <= 200 is 10
      assert(rows(2L) == 12L)   // target 2 at 400: state carries click 12 (350)
      assert(rows(21L) == 20L)  // tie, click id sorts first -> counts
      assert(rows(30L) == -1L)  // tie, click id sorts after -> excluded
      assert(rows(40L) == -1L)  // no click ever -> null match emitted
    } finally q.stop()
  }

  test("durable sink: watermark-finalized windows land in parquet via checkpointed writeStream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-sink").toString
    val input = MemoryStream[(Long, String, Double, Long)]
    val df = input.toDF()
      .select(timestamp_micros($"_1" * 1000000L).as("ts_ts"), $"_2".as("event_type"),
        $"_3".as("value"), $"_4".as("user_id"))
    // append mode: a window is emitted exactly once, when the
    // watermark passes its end — the exactly-once durable layout
    val q = StreamingOps.windowCounts(df, watermark = "10 minutes").writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .start()
    try {
      input.addData((0L, "click", 1.10, 1L), (300L, "click", 2.20, 1L))
      q.processAllAvailable()
      // advance event time far past window [0,600) + watermark
      input.addData((7200L, "view", 9.90, 2L))
      q.processAllAvailable()
      val rows = s.read.parquet(s"$dir/out").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2), r.getDouble(3)))
      // only the finalized window is on disk; the late-horizon one is
      // still open in state
      assert(rows.toSet == Set((0L, "click", 2L, 3.30)))
    } finally q.stop()
  }

  test("streaming pipeline: dedup then quality gate then hash sample") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val (a, b) = Config.coeffs(0)
    // pick ids on both sides of the 10% sample boundary
    val inSample = (0L until 1000L).filter(i => ((a * i + b) % Config.P) % 100 < 10)
    val goodText = "a sentence long enough to clear the twenty character gate easily"
    val input = MemoryStream[(Long, String, Long)] // (doc_id, text, sec)
    val df = input.toDF().select($"_1".as("doc_id"), $"_2".as("text"),
      timestamp_micros($"_3" * 1000000L).as("ts_ts"))
    val q = StreamingOps.pipelineStream(df).writeStream
      .format("memory").queryName("pipe").outputMode("append").start()
    try {
      val keepId = inSample.head
      val dropIdSample = (0L until 1000L).find(i => !inSample.contains(i)).get
      input.addData(
        (keepId, goodText, 10L),
        (dropIdSample, goodText + " x", 12L),    // out of sample
        (inSample(1), "too short", 13L))         // fails quality gate
      q.processAllAvailable()
      // dup text arrives in a LATER micro-batch: the stored
      // representative wins deterministically
      input.addData((keepId + 1000000L, goodText, 11L))
      q.processAllAvailable()
      val rows = s.table("pipe").collect().map(_.getLong(0)).toSet
      assert(rows == Set(keepId))
    } finally q.stop()
  }

  test("native session windows close on gap") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String, Double, Long)]
    val df = input.toDF()
      .select(timestamp_micros($"_1" * 1000000L).as("ts_ts"), $"_2".as("event_type"),
        $"_3".as("value"), $"_4".as("user_id"))
    val q = StreamingOps.sessionWindows(df, gap = "30 minutes").writeStream
      .format("memory").queryName("sw").outputMode("complete").start()
    try {
      input.addData((0L, "click", 1.0, 7L), (1000L, "click", 2.0, 7L), (4000L, "click", 3.0, 7L))
      q.processAllAvailable()
      val rows = s.table("sw").collect().map(r => (r.getLong(2), r.getLong(3), r.getDouble(4)))
      // two sessions for user 7: {2 events, 3.0} and {1 event, 3.0}
      assert(rows.toSet == Set((7L, 2L, 3.0), (7L, 1L, 3.0)))
    } finally q.stop()
  }

  test("streaming exact dedup drops digest replays within the watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // (sec, doc_id, text)
    val input = MemoryStream[(Long, Long, String)]
    val df = input.toDF()
      .select(timestamp_micros($"_1" * 1000000L).as("ts_ts"),
        $"_2".as("doc_id"), $"_3".as("text"))
    val q = StreamingOps.exactDedupStream(df).writeStream
      .format("memory").queryName("edd").outputMode("append").start()
    try {
      // epochs start above 0: a row with event time <= the initial
      // watermark (0) would be dropped as late before dedup even runs
      input.addData((100000L, 1L, "same text"))
      q.processAllAvailable()
      // doc 2 replays doc 1's digest in a LATER batch -> dropped by state
      input.addData((100010L, 2L, "same text"), (100020L, 3L, "other"))
      q.processAllAvailable()
      val kept = s.table("edd").collect().map(_.getAs[Long]("doc_id")).sorted
      assert(kept.toSeq == Seq(1L, 3L))
    } finally q.stop()
  }

  test("streaming near-dup detection pairs a new doc with an earlier near-dup") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.nearDupStream(input.toDS()).writeStream
      .format("memory").queryName("nds").outputMode("append").start()
    try {
      input.addData(
        1L -> "the quick brown fox jumps over the lazy dog",
        3L -> "completely unrelated content zzz qqq www yyy")
      q.processAllAvailable()
      assert(s.table("nds").count() == 0) // nothing similar yet
      // a near-dup of doc 1 arrives in a LATER batch
      input.addData(2L -> "the quick brown fox jumps over the lazy dog")
      q.processAllAvailable()
      val pairs = s.table("nds").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pairs.map(p => (p._1, p._2)) == Set((1L, 2L)), s"got $pairs")
      assert(pairs.forall(_._3 == 1.0))
    } finally q.stop()
  }

  test("streaming near-dup pairs every member of a 70-copy bucket in one micro-batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.nearDupStream(input.toDS()).writeStream
      .format("memory").queryName("ndsflood").outputMode("append").start()
    try {
      val t = "the quick brown fox jumps over the lazy dog"
      input.addData((1L to 70L).map(_ -> t): _*)
      q.processAllAvailable()
      // every band of the 70 copies is one bucket; each pair is emitted
      // once per band, so count the distinct pairs
      val pairs = s.table("ndsflood").select("id_l", "id_r").distinct().count()
      assert(pairs == 70L * 69 / 2)
    } finally q.stop()
  }

  test("stateful sessionization emits sessions after watermark timeout") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[SessionEvent]
    val q = StreamingOps.sessionizeStateful(input.toDS(), gapSec = 1800).writeStream
      .format("memory").queryName("ss").outputMode("append").start()
    try {
      // epoch-0 events sit exactly on the initial watermark and get
      // dropped as late — start well past zero
      input.addData(
        SessionEvent(7L, 1L, 10000L * 1000000L, 1.0),
        SessionEvent(7L, 2L, 11000L * 1000000L, 2.0))
      q.processAllAvailable()
      // push watermark far past session end + gap so the timeout fires
      input.addData(SessionEvent(8L, 3L, 100000L * 1000000L, 5.0))
      q.processAllAvailable()
      input.addData(SessionEvent(8L, 4L, 100001L * 1000000L, 5.0))
      q.processAllAvailable()
      val rows = s.table("ss").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      assert(rows.contains((7L, 10000L, 11000L, 2L, 3.0)), s"got ${rows.mkString(", ")}")
    } finally q.stop()
  }
}
