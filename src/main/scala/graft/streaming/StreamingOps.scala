package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming counterparts of the batch event operators
  * (the reference has no streaming at all — SURVEY.md §2.2 — these
  * are north-star extensions).
  *
  * All transforms are readStream-compatible: they take an unbounded
  * DataFrame/Dataset with an event-time `ts_ts: timestamp` column
  * and compose with `writeStream`. Watermarks bound state; session
  * logic exists in BOTH the native `session_window` form (preferred
  * — Catalyst-managed state) and a `flatMapGroupsWithState` form
  * (the custom-state escape hatch for semantics session_window can't
  * express, e.g. value-dependent gaps).
  */
object StreamingOps {

  /** Tumbling-window counts/sums per event type with a watermark —
    * late data beyond the watermark is dropped, state is bounded. */
  def windowCounts(events: DataFrame, windowLen: String = "10 minutes",
                   watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts_ts", watermark)
      .groupBy(window(col("ts_ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), (col("value_cents").cast("double") / 100.0).as("sum_value"))

  /** Native session windows: gap-based sessions per user, closed by
    * the watermark. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts_ts", watermark)
      .groupBy(session_window(col("ts_ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"),
        (col("value_cents").cast("double") / 100.0).as("sum_value"))

  /** Stream-static enrichment join: each streaming event picks up
    * its user's dimension row. The static side is broadcast per
    * micro-batch (no stream state at all — the canonical way to
    * attach slowly-changing dimensions to a 100 TB/day stream;
    * `broadcast()` keeps the per-batch plan from ever shuffling the
    * stream side). */
  def enrichStream(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left")

  /** Stream-STREAM interval join — the streaming counterpart of
    * EventsOps.rangeJoin: each target event joined to the same
    * user's match events from the preceding windowSec. Both sides
    * carry a watermark and the join condition bounds m_ts to a
    * window around ts_ts, which is exactly what Spark's
    * stream-stream join needs to know when buffered state on either
    * side can be dropped — without the time-range condition state
    * would grow forever. Inner join: targets with no in-window match
    * are omitted (left-outer would need the watermark to pass before
    * emitting nulls). */
  def rangeJoinStream(targets: DataFrame, matches: DataFrame,
                      windowSec: Int = 600,
                      watermark: String = "30 minutes"): DataFrame = {
    val t = targets
      .select(col("user_id"), col("event_id").as("target_id"), col("ts_ts"))
      .withWatermark("ts_ts", watermark)
    val m = matches
      .select(col("user_id").as("m_user"), col("event_id").as("match_id"),
        col("ts_ts").as("m_ts"))
      .withWatermark("m_ts", watermark)
    t.join(m, col("user_id") === col("m_user") &&
        col("m_ts") >= col("ts_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
        col("m_ts") <= col("ts_ts"))
      .select(col("user_id"), col("target_id"), col("match_id"),
        col("ts_ts"), col("m_ts"))
  }

  /** Streaming EXACT dedup: one representative of each content
    * digest passes, replays are dropped (within one micro-batch the
    * surviving row is arrival-order dependent, the standard
    * streaming-dedup contract). `dropDuplicatesWithinWatermark`
    * bounds state by event time (a plain dropDuplicates would grow
    * state forever on an unbounded corpus) — the trade is that a
    * duplicate arriving after the watermark expires its original is
    * re-emitted. */
  def exactDedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_md5", md5(col("text")))
      // the dedup exchange and its state need only the 16-byte digest
      // — computing it map-side and dropping the payload here shuffles
      // ~KB-sized texts down to a fixed-width row (guide §2.3); the
      // emitted schema never carried `text` downstream anyway
      .drop("text")
      .withWatermark("ts_ts", watermark)
      .dropDuplicatesWithinWatermark("text_md5")

  /** Streaming counterpart of TrainingPipeline.kept: exact dedup
    * (watermark-bounded state) → quality gate → deterministic hash
    * sample. The gate applies the SAME predicates as the batch
    * `TextAnalysis.qualityFilter` (length, token count, stopword
    * ratio, type-token ratio — all row-local, stateless), and the
    * sample membership is the same affine hash, so a doc's gate and
    * sample fate is identical in either mode. The one semantic
    * divergence from the batch pipeline is the dedup stage: EXACT
    * content dedup here vs near-dup (MinHash-verified) in batch —
    * near-dup membership needs corpus-wide candidate state, which in
    * streaming is [[nearDupStream]]'s job. */
  def pipelineStream(docs: DataFrame, watermark: String = "1 hour",
                     pct: Int = graft.operators.Sampling.DefaultPct): DataFrame = {
    val (a, b) = graft.Config.coeffs(0)
    val toks = graft.operators.TextAnalysis.tokensCol(col("text"))
    val stop = Seq("the", "a", "of", "in", "and")
    // gate COLUMNS are computed map-side BEFORE the dedup so the text
    // itself never crosses the dedup exchange (guide §2.3/§8: shuffle
    // the per-row proxy, not the payload). The gate FILTERS still run
    // after the dedup: they depend on doc_id via the hash sample, so
    // filtering first could let a failing original stop suppressing a
    // passing duplicate — column computation commutes with the dedup
    // (equal texts ⇒ equal columns), the filter does not.
    docs
      .withColumn("text_md5", md5(col("text")))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_types", size(array_distinct(toks)).cast("long"))
      .withColumn("n_stopwords",
        size(filter(toks, t => t.isin(stop: _*))).cast("long"))
      .drop("text")
      .withWatermark("ts_ts", watermark)
      .dropDuplicatesWithinWatermark("text_md5")
      .filter(col("n_tokens") >= 5 &&
        col("n_chars") >= 20 && col("n_chars") <= 10000 &&
        // stopword_ratio <= 0.5 and type_token_ratio >= 0.3, integer
        // arithmetic — bit-identical to TextAnalysis.qualityFilter
        col("n_stopwords") * 2 <= col("n_tokens") &&
        col("n_types") * 10 >= col("n_tokens") * 3)
      // doc_id reduced mod P BEFORE the multiply (same as
      // Sampling.hashSample): a*(P-1)+b fits signed 64-bit, a raw
      // 2^32+ id would overflow and diverge from the batch sampler
      .filter(((lit(a) * pmod(col("doc_id"), lit(graft.Config.P)) + lit(b)) %
        lit(graft.Config.P)) % 100 < pct)
      .select("doc_id", "ts_ts", "n_chars", "n_tokens")
  }

  case class BandMember(band: Int, band_key: Array[Byte], doc_id: Long, hset: Array[Int])
  case class CandidatePair(id_l: Long, id_r: Long, jaccard: Double)

  /** Incremental near-duplicate detection over a document STREAM:
    * each arriving doc is shingled/hashed/banded statelessly (the
    * same seeded pipeline as batch — graft.operators.MinHashLsh),
    * then a stateful per-LSH-bucket membership set emits a verified
    * pair the moment a new doc collides with a previously seen one.
    * Exactly the batch semantics, computed online.
    *
    * State is the per-bucket member list: doc_id + the sorted int
    * shingle-hash set ([[graft.operators.Shingling.shingleHashSet]])
    * that rowwiseBands emits, so a pair's Jaccard is the batch
    * verify's double ([[graft.operators.Shingling.jaccard]]) bit for
    * bit. STATE-SCHEMA BREAK: a checkpoint whose state holds long sets
    * (an older build's) does not resume here. Per-bucket state is
    * unbounded — every arrival is stored, so every pair is emitted, as
    * in the uncapped batch path; a production deployment would add
    * state TTL for unbounded streams.
    * Output may repeat a pair discovered in several buckets within
    * one batch; downstream dedup is `dropDuplicates` on the sink
    * side (kept raw here to stay in append mode statelessly). */
  def nearDupStream(docs: org.apache.spark.sql.Dataset[(Long, String)],
                    threshold: Double = graft.Config.Threshold)
      : org.apache.spark.sql.Dataset[CandidatePair] = {
    import graft.operators.MinHashLsh
    implicit val bmEnc = Encoders.product[BandMember]
    implicit val cpEnc = Encoders.product[CandidatePair]
    // the bucket key is the packed band_key; groupByKey groups on the
    // ENCODED key, so two equal byte arrays are one bucket (Array
    // identity never decides it)
    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.BINARY)
    // state = the sorted int sets rowwiseBands emits
    // (Shingling.shingleHashSet), not Set[Long]: kryo writes an int[]
    // as a compact block (a boxed HashSet costs per-element object
    // headers on every store read/write, every micro-batch), and the
    // verify becomes a merge-walk instead of hash probes — measured
    // 9.7 → 5.0 s on the sf0.1 harness query (with long arrays)
    implicit val stEnc = Encoders.kryo[List[(Long, Array[Int])]]

    val banded = MinHashLsh.rowwiseBands(docs.toDF("doc_id", "text"))
      .as[BandMember]

    banded
      .groupByKey(m => (m.band, m.band_key))
      .flatMapGroupsWithState[List[(Long, Array[Int])], CandidatePair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, Array[Byte]), rows: Iterator[BandMember], state: GroupState[List[(Long, Array[Int])]]) =>
          var members = state.getOption.getOrElse(Nil)
          val out = scala.collection.mutable.ListBuffer.empty[CandidatePair]
          rows.toSeq.sortBy(_.doc_id).foreach { m =>
            if (!members.exists(_._1 == m.doc_id)) {
              val hs = m.hset
              members.foreach { case (oid, ohs) =>
                val inter = sortedIntersectCount(hs, ohs)
                val jac = inter.toDouble / (hs.length + ohs.length - inter)
                if (jac >= threshold)
                  out += CandidatePair(math.min(oid, m.doc_id), math.max(oid, m.doc_id), jac)
              }
              members = (m.doc_id, hs) :: members
            }
          }
          state.update(members)
          out.iterator
      }
  }

  /** |a ∩ b| for sorted distinct arrays — one merge walk, no boxing. */
  private def sortedIntersectCount(a: Array[Int], b: Array[Int]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  case class AsOfEvent(user_id: Long, event_id: Long, us: Long, kind: Int)

  /** Per-user as-of state: the latest match seen plus the high-water
    * event time already processed. `match_id` < 0 means no match has
    * arrived yet (the state still tracks `max_us` so the in-order
    * contract is enforced from the first event, not the first
    * match).
    *
    * STATE-SCHEMA BREAK (r8): widened from 2 fields (match_id,
    * match_us) to 3 when the high-water contract landed. A restart
    * from a checkpoint written by the 2-field encoder fails state
    * deserialization — resuming an old checkpoint against this
    * encoder is NOT supported. The harness feed key was bumped
    * ([[graft.streaming.StreamingQueries]] `aj2:`) so no pre-change
    * checkpoint directory is ever resumed; a production deployment
    * does the same (new checkpoint dir) or replays from the source. */
  case class AsOfState(match_id: Long, match_us: Long, max_us: Long)
  case class AsOfOut(event_id: Long, user_id: Long, target_us: Long,
                     prev_match_id: Option[Long], prev_match_us: Option[Long],
                     gap_us: Option[Long])

  /** Continuous AS-OF enrichment: each target event (kind=1) joined
    * to the same user's LATEST match event (kind=0) at-or-before its
    * time — the streaming form of [[graft.operators.EventsOps
    * .asOfJoin]]. Spark's built-in stream-stream join can only
    * express this as an interval join that BUFFERS every match row
    * inside the watermark on both sides; this operator instead keeps
    * exactly ONE (id, time) pair per user — O(keys) state regardless
    * of stream length or join window, the state shape a 100 TB
    * clickstream needs. Correctness requires what the lockstep
    * harness provides and a production time-partitioned feed also
    * provides: micro-batches arrive in event-time order ACROSS
    * batches (within a batch the group sorts by (us, event_id), the
    * exact tie order of the batch window formulation — a click at a
    * target's own timestamp counts iff its event_id sorts first).
    * That contract is ENFORCED, not assumed (r7 advice): the state
    * carries the per-user high-water event time, and an event
    * arriving below it fails the query fast with the offending
    * (user, event, time) — one silently out-of-order batch would
    * otherwise yield wrong prev_match rows forever after. */
  def asOfJoinStream(targets: DataFrame, matches: DataFrame): Dataset[AsOfOut] = {
    implicit val evEnc = Encoders.product[AsOfEvent]
    implicit val stEnc = Encoders.product[AsOfState]
    implicit val outEnc = Encoders.product[AsOfOut]
    implicit val keyEnc = Encoders.scalaLong
    val tagged = targets
      .select(col("user_id"), col("event_id"), col("us"), lit(1).as("kind"))
      .unionAll(matches
        .select(col("user_id"), col("event_id"), col("us"), lit(0).as("kind")))
      .as[AsOfEvent]
    tagged
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, AsOfOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[AsOfEvent], state: GroupState[AsOfState]) =>
          var st = state.getOption.getOrElse(AsOfState(-1L, 0L, Long.MinValue))
          val out = scala.collection.mutable.ListBuffer.empty[AsOfOut]
          rows.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            // in-order contract check: the within-batch sort handles a
            // disordered batch, but an event BELOW the high-water mark
            // of a previous batch means history this operator already
            // emitted against is wrong — fail fast, don't emit garbage
            if (e.us < st.max_us)
              throw new IllegalStateException(
                s"asOfJoinStream: out-of-order micro-batch for user $uid — " +
                  s"event ${e.event_id} at us=${e.us} arrived after the " +
                  s"high-water mark us=${st.max_us}; feed micro-batches in " +
                  "event-time order (time-partitioned source) or widen to " +
                  "the watermarked interval join")
            val prev = if (st.match_id >= 0) Some(st) else None
            if (e.kind == 0) st = AsOfState(e.event_id, e.us, e.us)
            else {
              st = st.copy(max_us = e.us)
              out += AsOfOut(e.event_id, uid, e.us,
                prev.map(_.match_id), prev.map(_.match_us),
                prev.map(e.us - _.match_us))
            }
          }
          state.update(st)
          out.iterator
      }
  }

  case class SessionEvent(user_id: Long, event_id: Long, us: Long, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, cents: Long)
  case class SessionOut(user_id: Long, start_sec: Long, end_sec: Long,
                        n_events: Long, sum_value: Double)

  /** Custom-state sessionization via flatMapGroupsWithState with an
    * event-time timeout: a session closes (and is emitted) when the
    * watermark passes last-event + gap. The per-group state is O(1)
    * — one open session — regardless of stream length. */
  def sessionizeStateful(events: Dataset[SessionEvent], gapSec: Long = 1800,
                         watermark: String = "30 minutes"): Dataset[SessionOut] = {
    implicit val outEnc = Encoders.product[SessionOut]
    implicit val stEnc = Encoders.product[SessionState]
    implicit val keyEnc = Encoders.scalaLong
    val gapUs = gapSec * 1000000L

    def flush(uid: Long, st: SessionState): SessionOut =
      SessionOut(uid, st.start / 1000000L, st.last / 1000000L, st.n, st.cents / 100.0)

    events
      .withColumn("ts_ts", timestamp_micros(col("us")))
      .withWatermark("ts_ts", watermark)
      .as[SessionEvent](Encoders.product[SessionEvent])
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(flush(uid, _)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.us, e.event_id))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val cents = math.round(e.value * 100)
              cur match {
                case Some(st) if e.us - st.last <= gapUs =>
                  cur = Some(SessionState(st.start, math.max(st.last, e.us), st.n + 1, st.cents + cents))
                case Some(st) =>
                  closed ::= flush(uid, st)
                  cur = Some(SessionState(e.us, e.us, 1, cents))
                case None =>
                  cur = Some(SessionState(e.us, e.us, 1, cents))
              }
            }
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(st.last / 1000L + gapSec * 1000L)
            }
            closed.reverseIterator
          }
      }
  }
}
