package graft.operators

import graft.Caches.CheckpointSyntax
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.expressions.Window

/** Event-stream operators over the `events` table (batch forms; the
  * Structured Streaming counterparts live in graft.streaming).
  *
  * The parquet carries TIMESTAMP(NANOS) which Spark 4 won't map to a
  * timestamp type — sessions set
  * `spark.sql.legacy.parquet.nanosAsLong=true` (see graft.Harness)
  * and we normalize to integer epoch MICROseconds here, exactly what
  * DuckDB sees after its ns→us truncation, so ordering and bucketing
  * agree across engines bit-for-bit. All window/session arithmetic
  * is integer (`div`), never floating.
  */
object EventsOps {

  /** Epoch microseconds of the ts column, whatever type it surfaced
    * as (long nanos under the legacy flag, or a timestamp type). */
  def microsCol(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => expr("ts div 1000")
    case TimestampType => unix_micros(col("ts"))
    case TimestampNTZType => unix_micros(col("ts").cast("timestamp")) // session tz is UTC
    case other => throw new IllegalStateException(s"unexpected ts type $other")
  }

  private def withUs(events: DataFrame): DataFrame =
    events.withColumn("us", microsCol(events))
      .withColumn("sec", expr("us div 1000000"))

  /** Integer cents of the 2-decimal `value` column — exact, so sums
    * are partition-order-independent (double summation would be
    * nondeterministic under shuffle). */
  private def valueCents: Column = round(col("value") * 100, 0).cast("long")

  /** 10-minute tumbling window aggregation per event_type. */
  def windowAgg(events: DataFrame, windowSec: Int = 600): DataFrame =
    withUs(events)
      .withColumn("window_start_sec", expr(s"sec div $windowSec") * windowSec)
      .groupBy("event_type", "window_start_sec")
      .agg(count(lit(1)).as("n_events"),
        sum(valueCents).as("value_cents"))
      .select(col("event_type"), col("window_start_sec"), col("n_events"),
        (col("value_cents").cast("double") / 100.0).as("sum_value"))

  /** Gap-based sessionization: a new session starts when the gap to
    * the user's previous event exceeds gapSec. One row per session
    * with bounds and aggregates; deterministic ordering via
    * (us, event_id) tiebreak. */
  def sessionize(events: DataFrame, gapSec: Int = 1800): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val withGap = withUs(events)
      .withColumn("prev_sec", lag(col("sec"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > gapSec, 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withGap.groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min(col("sec")).as("start_sec"),
        max(col("sec")).as("end_sec"),
        sum(valueCents).as("cents"))
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("start_sec"), col("end_sec"),
        (col("end_sec") - col("start_sec")).as("duration_sec"),
        (col("cents").cast("double") / 100.0).as("sum_value"))
  }

  /** AS-OF join: each `targetType` event matched to the same user's
    * LATEST preceding `matchType` event (standard time-series
    * enrichment the reference lacks — SURVEY.md §2.2 "no as-of
    * join"). Expressed as one pass over the union with
    * last(...ignoreNulls).over(user, time) — no join at all, so at
    * scale it costs a single shuffle on user_id instead of a
    * range-join explosion. Deterministic via (us, event_id) order;
    * targets with no preceding match keep nulls. */
  def asOfJoin(events: DataFrame, matchType: String = "click",
               targetType: String = "purchase"): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    withUs(events)
      .withColumn("m_id", when(col("event_type") === matchType, col("event_id")))
      .withColumn("m_us", when(col("event_type") === matchType, col("us")))
      .withColumn("prev_match_id", last(col("m_id"), ignoreNulls = true).over(w))
      .withColumn("prev_match_us", last(col("m_us"), ignoreNulls = true).over(w))
      .filter(col("event_type") === targetType)
      .select(col("event_id"), col("user_id"), col("us").as("target_us"),
        col("prev_match_id"), col("prev_match_us"),
        (col("us") - col("prev_match_us")).as("gap_us"))
  }

  /** The same as-of join on the NATIVE whole-operator path: logical
    * AsOfJoinNode → AsOfJoinStrategy → AsOfJoinExec (hash-clustered
    * per side + in-partition sorted merge scan, O(1) state — see
    * AsOfJoinPlan.scala). Output is bit-identical to [[asOfJoin]]
    * (same oracle SQL); at scale it shuffles each side once on
    * user_id instead of windowing over the union of both streams. */
  def asOfJoinNative(events: DataFrame, matchType: String = "click",
                     targetType: String = "purchase"): DataFrame = {
    import org.apache.spark.sql.graft.AsOfJoinApi
    val us = withUs(events)
    val targets = us.filter(col("event_type") === targetType)
      .select(col("event_id"), col("user_id"), col("us"))
    val matches = us.filter(col("event_type") === matchType)
      .select(col("event_id").as("prev_match_id"), col("user_id").as("m_user"),
        col("us").as("prev_match_us"))
    AsOfJoinApi.join(targets, matches,
        leftKey = "user_id", rightKey = "m_user",
        leftTime = "us", rightTime = "prev_match_us",
        leftSeq = "event_id", rightSeq = "prev_match_id")
      .select(col("event_id"), col("user_id"), col("us").as("target_us"),
        col("prev_match_id"), col("prev_match_us"),
        (col("us") - col("prev_match_us")).as("gap_us"))
  }

  /** Bounded-interval RANGE join: each `targetType` event paired with
    * every same-user `matchType` event within ±windowSec. A naive
    * `t.user = m.user AND abs(t.us - m.us) <= w` join makes Spark
    * plan a per-user cross product with a post-filter (inequality
    * conditions can't hash-partition); instead we BUCKET time into
    * windowSec-wide blocks and equi-join on (user, bucket), probing
    * each target's own block ±1 — any in-range pair shares one of
    * those three buckets, so candidates are bounded by bucket
    * occupancy and the join stays a hash/sort-merge equi-join at any
    * scale. The |Δt| filter then removes the out-of-range remainder
    * exactly. */
  def rangeJoin(events: DataFrame, matchType: String = "click",
                targetType: String = "purchase",
                windowSec: Int = 600): DataFrame = {
    // NO checkpoint: both sides derive from the same scan but each is
    // a heavily-filtered sliver — re-scanning twice with pushed
    // filters is far cheaper than materializing the FULL events frame
    // (at 100 TB a full-frame checkpoint is O(corpus) executor disk;
    // at sf0.1 it was the r02 25s pathology, fixed to sub-second)
    val us = withUs(events)
    val wUs = windowSec * 1000000L
    // the probe key carries RangeJoinRule's reserved marker prefix:
    // it tells the optimizer rule this join is ALREADY bucketed (the
    // explicit opt-out that replaced the old structural sniff)
    val bucket = s"${org.apache.spark.sql.graft.RangeJoinRule.BucketMarkerPrefix}_manual"
    val targets = us.filter(col("event_type") === targetType)
      .select(col("user_id"), col("event_id").as("target_id"), col("us").as("target_us"),
        explode(array(expr(s"us div $wUs") - 1, expr(s"us div $wUs"),
          expr(s"us div $wUs") + 1)).as(bucket))
    val matches = us.filter(col("event_type") === matchType)
      .select(col("user_id"), col("event_id").as("match_id"), col("us").as("match_us"),
        expr(s"us div $wUs").as(bucket))
    targets.join(matches, Seq("user_id", bucket))
      .filter(abs(col("target_us") - col("match_us")) <= wUs)
      .select(col("user_id"), col("target_id"), col("match_id"),
        col("target_us"), col("match_us"),
        (col("match_us") - col("target_us")).as("delta_us"))
    // no distinct needed: a match row has exactly ONE bucket, so each
    // (target, match) pair can only join through that single bucket
  }

  /** The same range join written NAIVELY — plain key equality plus
    * `abs(Δt) <= w` — and left to the engine: RangeJoinRule (the
    * optimizer-rule tier, see RangeJoinRule.scala) rewrites it into
    * the bucketed equi-join form automatically, so callers never
    * hand-roll the [[rangeJoin]] transform. Oracle-identical to the
    * hand-bucketed query. */
  def rangeJoinNative(events: DataFrame, matchType: String = "click",
                      targetType: String = "purchase",
                      windowSec: Int = 600): DataFrame = {
    org.apache.spark.sql.graft.RangeJoinRule.register(events.sparkSession)
    // no checkpoint — same rationale as [[rangeJoin]]
    val us = withUs(events)
    val wUs = windowSec * 1000000L
    val targets = us.filter(col("event_type") === targetType)
      .select(col("user_id"), col("event_id").as("target_id"), col("us").as("target_us"))
    val matches = us.filter(col("event_type") === matchType)
      .select(col("user_id").as("m_user"), col("event_id").as("match_id"),
        col("us").as("match_us"))
    targets.join(matches, col("user_id") === col("m_user") &&
        abs(col("target_us") - col("match_us")) <= lit(wUs))
      .select(col("user_id"), col("target_id"), col("match_id"),
        col("target_us"), col("match_us"),
        (col("match_us") - col("target_us")).as("delta_us"))
  }

  /** Structured JSON parsing via from_json (schema'd, codegen'd) —
    * metric deciles of the extracted k, with distinct-type counts. */
  def jsonDeciles(events: DataFrame): DataFrame =
    events
      .withColumn("k",
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k"))
      .withColumn("k_decile", expr("k div 10"))
      .groupBy("k_decile")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  /** JSON property extraction (props like {"k": 87}) + per-type
    * rollup of the extracted metric. */
  def propsAgg(events: DataFrame): DataFrame =
    events
      .withColumn("k",
        nullif(regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1), lit("")).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  /** Funnel conversion: per user, did a purchase follow the FIRST
    * click within the conversion window? Reported per click-day.
    * Two hash aggs + one equi-join on user_id — at scale the
    * purchase side is filtered before the join and the existence
    * test is a max-of-indicator, never a per-user sort. */
  def funnel(events: DataFrame, convWithinSec: Long = 3600): DataFrame = {
    val e = withUs(events)
    val clicks = e.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min(col("us")).as("click_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("p_us"))
    clicks.join(purchases, Seq("user_id"), "left")
      .groupBy(col("user_id"), col("click_us"))
      .agg(max(when(col("p_us") > col("click_us") &&
          col("p_us") <= col("click_us") + convWithinSec * 1000000L, 1L)
        .otherwise(0L)).as("converted"))
      .groupBy(expr("click_us div 1000000 div 86400").as("click_day"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_converted"))
  }

  /** Day-over-day retention: of the users active on day d, how many
    * were also active on d+1. Distinct (user, day) pairs self-joined
    * with a shifted day — the classic cohort-retention shape, all
    * integer day arithmetic. */
  def retention(events: DataFrame): DataFrame = {
    // materialized: both sides of the self-join and the activity agg
    // read this frame — without it the events scan + distinct runs
    // once per consumer
    val days = withUs(events)
      .select(col("user_id"), expr("us div 1000000 div 86400").as("day"))
      .distinct().graftCheckpoint()
    val active = days.groupBy("day").agg(count(lit(1)).as("n_active"))
    val retained = days.join(
        days.select(col("user_id"), (col("day") - 1).as("day")),
        Seq("user_id", "day"))
      .groupBy("day").agg(count(lit(1)).as("n_retained"))
    active.join(retained, Seq("day"), "left")
      .select(col("day"), col("n_active"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"))
  }
}
