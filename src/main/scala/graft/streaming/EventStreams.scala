package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` stream.
  *
  * The reference is batch-only (SURVEY §2.8 — its single streaming-ish
  * element is the async job-state callback); this module extends the
  * engine with the standard streaming trio a large-scale event pipeline
  * needs — watermarked tumbling-window aggregation, sessionization on
  * the engine's own `session_window` (the batch builder
  * [[graft.queries.Events.sessions]], watermarked), and streaming dedup —
  * written so the batch queries in [[graft.queries.Events]] are the exact
  * batch twins of these plans. The per-user keyed twins below keep their
  * own state in `flatMapGroupsWithState`.
  *
  * Scale: state is keyed by user_id / event key — Spark partitions state
  * across executors by key hash; watermarks bound state size; parquet
  * source paths become Kafka topics in production with no plan change.
  */
object EventStreams {

  /** events schema parameterized on the physical `ts` type the lake
    * currently ships (see Tables.events — it has changed across rounds).
    */
  def rawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming read of an events parquet directory, ts → µs timestamp.
    *
    * Structured Streaming needs an explicit schema, and declaring the
    * wrong physical type silently mangles values (a timestamp[us] column
    * read as LongType yields raw µs that the nanos path divides to ms).
    * So discover the physical `ts` type with one batch footer read at
    * stream setup — O(1), not a data scan — and branch exactly like
    * Tables.events: LongType ⇒ legacy nanos ⇒ integer-divide to µs;
    * TIMESTAMP_NTZ ⇒ reinterpret as UTC instant (session TZ is pinned
    * UTC); TimestampType ⇒ pass through.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // A stream-source directory may legitimately be EMPTY at start (it
    // fills over time); schema inference then throws, so fall back to
    // the lake's current encoding (timestamp[us] NTZ).
    val tsType =
      try spark.read.parquet(dir).schema("ts").dataType
      catch { case _: org.apache.spark.sql.AnalysisException => TimestampNTZType }
    val raw = spark.readStream.schema(rawSchema(tsType)).parquet(dir)
    graft.Tables.normalizeEventTs(raw, tsType)
  }

  /** Tumbling 1-hour windowed counts/sums per event_type with a 2-hour
    * watermark — the streaming twin of Events.e1WindowAgg.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")) / lit(100.0))
          .as("sum_value"))
      // timestamp_ntz to match the batch twin's gate-hardened schema
      // (naive µs on both engines — see Events.e1WindowAgg)
      .select(col("window.start").cast("timestamp_ntz").as("hour"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming half of the e4 top-users twin: per-(window, event_type,
    * user_id) counts maintained incrementally — state is one counter per
    * active key and the watermark retires closed windows. This is the
    * unbounded, heavy part; the exact top-k over each closed window is a
    * bounded follow-up ([[topUsersPerWindow]]), the standard
    * streaming-pre-agg / serving-rank split.
    */
  def windowedUserCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("timestamp_ntz").as("hour"),
        col("event_type"), col("user_id"), col("n"))

  /** Per-(hour window, user) activity counts — the streaming-partials
    * asset behind e13's decayed leaderboard: the stream maintains these
    * incrementally (watermarked tumbling windows, closed windows are
    * immutable), and the leaderboard is a read-time re-weighting of
    * them ([[graft.queries.Events.decayedFromPartials]]) — raw events
    * are never revisited when the decay anchor advances. Type-agnostic
    * twin of [[windowedUserCounts]]. It is also e21's streamed partials:
    * the heatmap finisher (`Events.heatmapOfPartials`) accepts this
    * per-(hour, user) asset directly, so the dashboard grid is a bounded
    * read over closed windows (the e13/e17 split).
    */
  def hourlyUserActivity(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("timestamp_ntz").as("hour"),
        col("user_id"), col("n"))

  /** Streaming twin of Events.e22NativeSessions: the SAME native
    * session aggregation ([[graft.queries.Events.sessionFrame]]
    * shared verbatim) under a 2-hour watermark — the engine merges a
    * user's [ts, ts+30min) extents incrementally (UpdatingSessions +
    * session-merging state store ops) and in append mode a session
    * emits exactly once, when the watermark passes its end and no
    * in-gap event can still extend it. State per user is the open
    * sessions' bounds + aggregates, O(open sessions), evicted on close.
    */
  def nativeSessions(events: DataFrame): DataFrame =
    graft.queries.Events.sessionFrame(events.withWatermark("ts", "2 hours"))

  /** Ranking half of the e4 twin: exact top-k users per (window, type)
    * over the streamed counts, via the same two-phase salted top-k the
    * batch side uses (per-(window,type) ranking is a few-group hotspot;
    * salting bounds every task — [[graft.queries.TopK.saltedTopK]]).
    */
  def topUsersPerWindow(counts: DataFrame, k: Int = 5): DataFrame =
    graft.queries.TopK.saltedTopK(counts,
        Seq(col("hour"), col("event_type")),
        Seq(col("n").desc, col("user_id")), k, saltBy = col("user_id"))
      .select(col("hour"), col("event_type"), col("rk"), col("user_id"), col("n"))

  /** Streaming twin of Events.e8ApproxUsers: HLL++ sketches AS the
    * streaming state — mergeable and register-max-commutative, so the
    * running estimate is identical to the batch estimate over the same
    * rows regardless of arrival order, and state per event_type is the
    * sketch size (KBs), never the user-id set.
    */
  def approxUsersStream(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        count(lit(1)).as("n_events"))

  /** Streaming twin of Events.e9IntervalJoin: every (click, view) pair
    * within the preceding 30 minutes, same user, as Spark's built-in
    * watermarked stream-stream inner join with an event-time range
    * condition. The engine shuffles both sides on user_id and sizes the
    * view-side state buffer from the watermark and the range bound, so
    * state GC is the engine's. `StreamingSpec` pins it equal to the
    * batch e9 pairs.
    */
  def intervalPairsJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "30 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    views.join(clicks,
        expr("""user_id = v_user_id
          AND view_ts >= click_ts - interval 30 minutes
          AND view_ts < click_ts"""))
      .select(col("user_id"), col("click_id"), col("view_id"),
        ((unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
          / lit(1000000.0)).as("gap_sec"))
  }

  /** Streaming twin of Events.e12UnconvertedViews: a watermarked
    * LEFT-OUTER stream-stream join — the capability whose semantics are
    * worth pinning, because the null (unconverted) rows are emitted
    * only when the WATERMARK CLOSES a view's match window: an open
    * stream cannot prove a click will never come until event time has
    * provably passed view_ts + 30 min. Downstream sees one row per
    * (view, click) match as they join, plus one null-click row per
    * unconverted view after close — `StreamingSpec` aggregates those to
    * the batch verdicts and pins that tail views (window still open at
    * end of input) are exactly the ones withheld.
    */
  def unconvertedViews(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "30 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    views.join(clicks,
        expr("""user_id = v_user_id
          AND click_ts > view_ts
          AND click_ts <= view_ts + interval 30 minutes"""),
        "left_outer")
      .select(col("v_user_id").as("user_id"), col("view_id"),
        col("click_id"))
  }

  /** Streaming exact dedup on event_id within the watermark horizon —
    * `dropDuplicates` keyed state, bounded by the watermark.
    */
  def dedupedStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicates("event_id")

  /** A row of one user's event stream: the key, the event time and the
    * batch twins' tiebreak, `event_id`, that every keyed twin below
    * reads. */
  sealed trait Stamped {
    def user_id: Long; def ts: java.sql.Timestamp; def event_id: Long
  }

  case class EventIn(user_id: Long, ts: java.sql.Timestamp, value: Double)
  /** The (user, event, type, time) row: the input of the twins that read
    * only an event's type and time. */
  case class TypeIn(user_id: Long, event_id: Long, event_type: String,
      ts: java.sql.Timestamp) extends Stamped

  private def micros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000 + (ts.getNanos / 1000) % 1000

  /** One user's rows in the batch twins' window order, (µs, event_id). */
  private def inOrder[R <: Stamped](rows: Iterator[R]): Seq[R] =
    rows.toSeq.sortBy(r => (micros(r.ts), r.event_id))

  /** `round(value * 100)` cast to long, HALF_UP like Spark's `round`:
    * the batch twins' integer cents. */
  private def cents(v: Double): Long =
    BigDecimal(v * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  case class SessionOut(user_id: Long, n_events: Long, duration_sec: Double,
      sum_value: Double)

  /** Streaming twin of Events.e2Sessionize: e2's per-session figures
    * ([[graft.queries.Events.sessionStats]], shared verbatim) under a
    * 30-minute watermark, one row per closed session. In append mode a
    * session emits once, when the watermark passes its last event + 30
    * min and no in-gap event can still extend it; rows may arrive in any
    * order within the watermark, and older rows are dropped by the
    * engine's late-data filter.
    */
  def sessionize(events: Dataset[EventIn]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    graft.queries.Events.sessionStats(
        events.toDF.withWatermark("ts", "30 minutes"))
      .select(col("user_id"), col("n_events"), col("duration_sec"),
        col("sum_value"))
      .as[SessionOut]
  }

  case class SessTypeFact(user_id: Long, session_start_ms: Long,
      event_type: String)

  /** Streaming producer for the e25 session co-occurrence facts: batch
    * e25's per-session type sets ([[graft.queries.Events.sessionTypeSets]],
    * shared verbatim) under a 30-minute watermark, exploded, so each
    * closed session emits one (user, session start, type) fact per
    * distinct type it contained, with the same arrival-order rule as
    * [[sessionize]]. The pair/lift
    * finisher is the SHARED batch code
    * ([[graft.queries.Events.sessionPairLiftOf]]) over these facts, so
    * stream ≡ batch is a property of one code path, not two kept in sync
    * by hand.
    */
  def sessionTypeFacts(events: Dataset[TypeIn]): Dataset[SessTypeFact] = {
    import events.sparkSession.implicits._
    graft.queries.Events.sessionTypeSets(
        events.toDF.withWatermark("ts", "30 minutes"))
      .select(col("user_id"),
        unix_millis(col("sw.start")).as("session_start_ms"),
        explode(col("types")).as("event_type"))
      .as[SessTypeFact]
  }

  /** The per-user carry builder behind the standing-state twins. Rows
    * are keyed on user_id and folded in the batch twins' (µs, event_id)
    * order through `step`, which reads the carry so far and returns the
    * next carry plus at most one output row; `atEnd` may add one row
    * from the trigger's final carry. The carry is written back after
    * each trigger and never times out (Append, NoTimeout): it is one
    * small record per user that must outlive any horizon, because the
    * batch windows carry it unboundedly and a timeout would change the
    * answer. Outputs agree with the batch twin exactly when the stream
    * delivers each user's rows in order; Append mode cannot retract a
    * row emitted before an older one arrives.
    */
  private def carry[R <: Stamped : Encoder, S : Encoder, U : Encoder](
      events: Dataset[R])(step: (Long, Option[S], R) => (Option[S], Option[U]),
      atEnd: (Long, S) => Option[U] = (_: Long, _: S) => None): Dataset[U] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[S, U](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[R], state: GroupState[S]) =>
          var cur = state.getOption
          val out = Seq.newBuilder[U]
          inOrder(rows).foreach { r =>
            val (next, emit) = step(userId, cur, r)
            cur = next
            out ++= emit
          }
          cur.foreach(state.update)
          (out.result() ++ cur.flatMap(atEnd(userId, _))).iterator
      }
  }

  /** Last view seen per user — the entire as-of state: O(1) per key. */
  case class AsofState(viewId: Long, viewUs: Long)
  case class AsofOut(user_id: Long, event_id: Long, view_id: Option[Long],
      lag_sec: Option[Double])

  /** Streaming as-of join — the twin of Events.e6AsofJoin, on the
    * [[carry]] builder: each purchase is matched to the user's most
    * recent view at or before it, and the carry is that view's (id, µs).
    */
  def asofViews(events: Dataset[TypeIn]): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    carry[TypeIn, AsofState, AsofOut](events) { (userId, last, e) =>
      e.event_type match {
        case "view" => (Some(AsofState(e.event_id, micros(e.ts))), None)
        case "purchase" =>
          (last, Some(AsofOut(userId, e.event_id, last.map(_.viewId),
            last.map(s => (micros(e.ts) - s.viewUs) / 1000000.0))))
        case _ => (last, None) // other event types don't participate
      }
    }
  }

  case class FunnelVerdict(user_id: Long, viewed: Boolean,
      clicked_24h: Boolean, converted_72h: Boolean, ttc_sec: Option[Double])

  /** Per-user timed-funnel state: best-known first view (MaxValue when
    * none) plus the click/purchase timestamps still able to qualify —
    * clicks survive only within (watermark, fv+24h], purchases within
    * (watermark, fv+72h], so state is bounded by the per-user event rate
    * inside one conversion horizon, never by history length.
    */
  case class TimedFunnelState(fv: Long, clicks: List[Long],
      purchases: List[Long])

  /** Streaming twin of Events.e14TimedFunnel: the conversion-window
    * pattern every product-analytics pipeline runs live. The verdict
    * FINALIZES exactly once, when the watermark passes first_view + 72 h
    * — the point at which it is immutable: the first view can no longer
    * decrease (any late view would lie below the watermark) and no
    * in-horizon click/purchase can still arrive. Until then events
    * accumulate in pruned per-user state; out-of-order arrival within
    * the watermark is handled by keeping candidate timestamps, not
    * verdict bits, so a late-arriving EARLIER view correctly re-derives
    * the qualifying click from retained candidates. Users with no view
    * finalize (all-false) once the watermark clears their last activity
    * plus the horizon. A user active again after finalization opens a
    * NEW funnel — the standard conversion-window semantics; batch
    * parity is exact whenever per-user activity fits one horizon
    * (spec-pinned on the harness corpus and a two-burst replay).
    */
  def timedFunnel(events: Dataset[TypeIn]): Dataset[FunnelVerdict] = {
    import events.sparkSession.implicits._
    val clickGapUs = 24L * 3600 * 1000 * 1000
    val purchGapUs = 72L * 3600 * 1000 * 1000
    events.withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TimedFunnelState, FunnelVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[TypeIn],
            state: GroupState[TimedFunnelState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            if (s.fv == Long.MaxValue)
              Iterator.single(FunnelVerdict(userId, viewed = false,
                clicked_24h = false, converted_72h = false, None))
            else {
              val tc = s.clicks.filter(c => c > s.fv && c <= s.fv + clickGapUs)
                .minOption
              val tp = tc.flatMap(c => s.purchases
                .filter(p => p > c && p <= s.fv + purchGapUs).minOption)
              Iterator.single(FunnelVerdict(userId, viewed = true,
                tc.isDefined, tp.isDefined,
                tp.map(p => (p - s.fv) / 1000000.0)))
            }
          } else {
            var s = state.getOption
              .getOrElse(TimedFunnelState(Long.MaxValue, Nil, Nil))
            var newest = Long.MinValue
            rows.foreach { e =>
              val t = micros(e.ts)
              newest = math.max(newest, t)
              e.event_type match {
                case "view" => if (t < s.fv) s = s.copy(fv = t)
                case "click" => s = s.copy(clicks = t :: s.clicks)
                case "purchase" => s = s.copy(purchases = t :: s.purchases)
                case _ =>
              }
            }
            val wUs = state.getCurrentWatermarkMs * 1000
            // prune: with fv known the qualifying windows are fixed upper
            // bounds (fv only decreases, and only to ≥ watermark — where
            // it is already final); without a view, any future fv is
            // ≥ watermark, so nothing at or below it can ever qualify
            s =
              if (s.fv != Long.MaxValue)
                s.copy(clicks = s.clicks.filter(_ <= s.fv + clickGapUs),
                  purchases = s.purchases.filter(_ <= s.fv + purchGapUs))
              else s.copy(clicks = s.clicks.filter(_ > wUs),
                purchases = s.purchases.filter(_ > wUs))
            state.update(s)
            val horizonMs =
              if (s.fv != Long.MaxValue) (s.fv + purchGapUs) / 1000
              else (newest + purchGapUs) / 1000
            state.setTimeoutTimestamp(
              math.max(horizonMs, state.getCurrentWatermarkMs + 1))
            Iterator.empty
          }
      }
  }
  /** Recent view timestamps per user — pruned to the 30-min horizon on
    * every batch, so state is bounded by the per-user view rate, not
    * history length.
    */
  case class RangeState(viewUs: List[Long])
  case class RangeOut(user_id: Long, event_id: Long, views_30m: Long)

  /** Streaming twin of Events.e7RangeCount: for each click, how many of
    * the user's views fell in the strictly-preceding 30 minutes. Keyed
    * state is the user's view timestamps within the horizon (a true
    * sliding range, so unlike the windowed aggregations it cannot be a
    * tumbling-window groupBy); state is pruned against the newest
    * timestamp seen per key, and idle keys are garbage-collected by an
    * event-time timeout once the watermark passes their horizon.
    */
  def rangeViewCounts(events: Dataset[TypeIn]): Dataset[RangeOut] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000 * 1000
    val gapMs = 30L * 60 * 1000
    events.withWatermark("ts", "30 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RangeState, RangeOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[TypeIn], state: GroupState[RangeState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var views = state.getOption.map(_.viewUs).getOrElse(Nil)
            val out = Seq.newBuilder[RangeOut]
            var newest = views.headOption.getOrElse(Long.MinValue)
            inOrder(rows).foreach { e =>
              val t = micros(e.ts)
              newest = math.max(newest, t)
              e.event_type match {
                case "view" => views = t :: views
                case "click" =>
                  out += RangeOut(userId, e.event_id,
                    views.count(v => v >= t - gapUs && v < t).toLong)
                case _ =>
              }
            }
            views = views.filter(_ > newest - gapUs) // horizon prune
            if (views.nonEmpty) {
              state.update(RangeState(views))
              state.setTimeoutTimestamp(
                math.max(newest / 1000 + gapMs, state.getCurrentWatermarkMs + 1))
            } else state.remove()
            out.result().iterator
          }
      }
  }

  case class LocfIn(event_id: Long, user_id: Long, event_type: String,
      ts: java.sql.Timestamp, value: Option[Double]) extends Stamped
  /** The last purchase amount seen per user — the entire LOCF state. */
  case class LocfState(lastPurchase: Double)
  case class LocfOut(event_id: Long, user_id: Long, event_type: String,
      last_purchase: Option[Double])

  /** Streaming twin of Events.e11GapFill on the [[carry]] builder: every
    * event carries the user's most recent purchase amount forward
    * (LOCF), and the carry is that one double. A purchase updates the
    * carry BEFORE emitting its own row, matching the window frame's
    * `currentRow` upper bound; null purchase amounts are skipped,
    * matching the batch twin's last(..., ignoreNulls = true).
    */
  def locfStream(events: Dataset[LocfIn]): Dataset[LocfOut] = {
    import events.sparkSession.implicits._
    carry[LocfIn, LocfState, LocfOut](events) { (userId, last, e) =>
      val next =
        if (e.event_type == "purchase" && e.value.isDefined)
          e.value.map(LocfState)
        else last
      (next, Some(LocfOut(e.event_id, userId, e.event_type,
        next.map(_.lastPurchase))))
    }
  }

  case class RetIn(user_id: Long, ts: java.sql.Timestamp)
  /** First-activity hour plus which retention facts were already
    * emitted — O(1) per user, and removable once both offsets fire or
    * the watermark passes the 24-hour horizon.
    */
  case class RetState(h0Us: Long, ret1Done: Boolean, ret24Done: Boolean)
  /** One retention fact per (user, kind): `new` at first sight, `ret1h`
    * / `ret24h` the first time the user is active exactly that offset
    * after their first-activity hour.
    */
  case class RetFact(user_id: Long, cohort_us: Long, kind: String)

  /** Streaming half of the e10 twin: per-user first-seen-hour state
    * emitting each retention fact exactly once. This is the unbounded,
    * heavy part — the batch twin's `min(h)`-per-user shuffle becomes
    * keyed state here. A user whose 1-hour and 24-hour facts have both
    * fired (or whose h0+24h horizon passed via the event-time timeout)
    * collapses to an O(1) TOMBSTONE — both done-flags set, no further
    * timeout — rather than being removed: the state doubles as the
    * record that `new` was already emitted, and removing it would let
    * any later activity re-emit `new` into a later cohort. Unbounded
    * tombstone count is the price of exactly-once facts, the same
    * one-small-record-per-user trade locfStream makes. The
    * cohort matrix itself is the bounded follow-up
    * ([[retentionMatrix]]) — the same streaming-pre-agg / serving-finish
    * split as the e4 top-users twin. In-order delivery caveat as in
    * [[asofViews]]: a row older than a user's recorded first hour would
    * retroactively move the batch twin's cohort; Append mode cannot
    * retract, so the twin assumes per-user in-order arrival.
    */
  def retentionFacts(events: Dataset[RetIn]): Dataset[RetFact] = {
    import events.sparkSession.implicits._
    val hourUs = 3600L * 1000000
    events.withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RetState, RetFact](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[RetIn], state: GroupState[RetState]) =>
          if (state.hasTimedOut) {
            // Watermark passed h0+24h: neither offset can fire anymore.
            // Do NOT remove the state — it is also the only record that
            // this user's `new` fact was already emitted. Removing it
            // would make any later activity re-emit `new` with a later
            // cohort (and potentially spurious ret1h/ret24h against the
            // new h0), inflating later cohorts vs the batch twin's
            // min(h)-per-user semantics. Collapse to a tombstone (both
            // flags done) and set no further timeout — O(1)/user
            // unbounded state, the same justification as locfStream's
            // NoTimeout.
            state.getOption.foreach(s =>
              state.update(s.copy(ret1Done = true, ret24Done = true)))
            Iterator.empty
          } else {
            val hours = rows.map(e => {
              // floorMod on UTC epoch micros ≡ the batch twin's
              // date_trunc("hour") ONLY when the session tz offset is a
              // whole hour — the repo pins spark.sql.session.timeZone=
              // UTC everywhere, so this holds; revisit if that changes.
              val t = micros(e.ts); t - java.lang.Math.floorMod(t, hourUs)
            }).toSeq.sorted
            val out = Seq.newBuilder[RetFact]
            var st = state.getOption match {
              case Some(s) => s
              case None =>
                out += RetFact(userId, hours.min, "new")
                RetState(hours.min, ret1Done = false, ret24Done = false)
            }
            hours.foreach { h =>
              if (!st.ret1Done && h == st.h0Us + hourUs) {
                st = st.copy(ret1Done = true)
                out += RetFact(userId, st.h0Us, "ret1h")
              }
              if (!st.ret24Done && h == st.h0Us + 24 * hourUs) {
                st = st.copy(ret24Done = true)
                out += RetFact(userId, st.h0Us, "ret24h")
              }
            }
            // Both facts fired → tombstone (update WITHOUT a timeout:
            // the state must outlive the 24h horizon to suppress `new`
            // re-emission on later activity — see the hasTimedOut
            // branch). Otherwise keep the live state with its horizon
            // timeout so an inactive user still collapses to the
            // tombstone once the watermark passes h0+25h.
            state.update(st)
            if (!(st.ret1Done && st.ret24Done))
              state.setTimeoutTimestamp(math.max(
                st.h0Us / 1000 + 25 * 3600 * 1000,
                state.getCurrentWatermarkMs + 1))
            out.result().iterator
          }
      }
  }

  /** Bounded finish of the e10 twin: roll the per-user retention facts
    * up to the cohort matrix. Each fact is emitted exactly once per
    * (user, kind) upstream, so plain conditional counts — no distinct —
    * reproduce the batch twin's `countDistinct` exactly.
    */
  def retentionMatrix(facts: DataFrame): DataFrame =
    facts.groupBy(col("cohort_us"))
      .agg(count(when(col("kind") === "new", 1)).as("n_users"),
        count(when(col("kind") === "ret1h", 1)).as("ret_1h"),
        count(when(col("kind") === "ret24h", 1)).as("ret_24h"))
      .select(timestamp_micros(col("cohort_us")).cast("timestamp_ntz")
          .as("cohort_hour"),
        col("n_users"), col("ret_1h"), col("ret_24h"))

  case class StreakDay(user_id: Long, day: Long)
  /** Merged, sorted, non-adjacent runs of consecutive active days —
    * O(#streaks) per user, strictly smaller than the distinct-day set
    * the batch twin shuffles, and the minimal information from which the
    * e16 rollup is answerable.
    */
  case class StreakState(runs: List[(Long, Long)])
  case class StreakOut(user_id: Long, active_days: Long, n_streaks: Long,
      longest_streak: Long)

  /** Day projection shared with the batch twin: the day index is
    * computed by the SAME Catalyst expression as
    * [[graft.queries.Events.e16ActivityStreaks]] (datediff vs the corpus
    * epoch in the session tz), so the stateful half can never disagree
    * with batch on what "a day" is.
    */
  def streakDays(events: DataFrame): Dataset[StreakDay] = {
    import events.sparkSession.implicits._
    events.select(col("user_id"),
        datediff(to_date(col("ts")),
          lit(java.sql.Date.valueOf("2024-01-01"))).cast("long").as("day"))
      .as[StreakDay]
  }

  /** Insert one day into a merged run list, bridging adjacent runs.
    * Idempotent (a day already inside a run is a no-op), so duplicate
    * events and replays cannot distort the rollup.
    */
  private[graft] def mergeDay(runs: List[(Long, Long)],
      d: Long): List[(Long, Long)] = {
    val i = runs.indexWhere(_._2 >= d - 1) // first run ending at/after d−1
    if (i < 0) runs :+ ((d, d))
    else {
      val (s, e) = runs(i)
      if (d >= s && d <= e) runs // already covered
      else if (d >= s - 1) {
        // touches run i; may bridge to run i+1 (left bridge impossible:
        // run i−1 ends ≤ d−2 by the indexWhere bound)
        val ns = math.min(s, d); val ne = math.max(e, d)
        if (i + 1 < runs.length && runs(i + 1)._1 == ne + 1)
          runs.patch(i, Seq((ns, runs(i + 1)._2)), 2)
        else runs.patch(i, Seq((ns, ne)), 1)
      } else runs.patch(i, Seq((d, d)), 0) // strictly before run i
    }
  }

  /** Streaming twin of Events.e16ActivityStreaks: gaps-and-islands as
    * keyed state. Each user's state is the merged run list; every
    * invocation folds the batch's days in (order-irrelevant — interval
    * merge is commutative in the final state, so unlike the locf/asof
    * twins this one needs NO in-order-arrival caveat) and emits the
    * current rollup. Update mode: the latest emit per user is the
    * answer, and `active_days` is monotone so "latest" is recoverable
    * from the sink without batch ids. Standing state, NoTimeout — a
    * production deployment would age out runs older than the engagement
    * horizon (the state is already interval-compressed, so even a
    * years-long history is a handful of pairs).
    */
  def streaksStream(days: Dataset[StreakDay]): Dataset[StreakOut] = {
    import days.sparkSession.implicits._
    days.groupByKey(_.user_id)
      .flatMapGroupsWithState[StreakState, StreakOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[StreakDay],
            state: GroupState[StreakState]) =>
          val runs = rows.foldLeft(
            state.getOption.map(_.runs).getOrElse(Nil)) {
            (acc, r) => mergeDay(acc, r.day)
          }
          state.update(StreakState(runs))
          Iterator.single(StreakOut(userId,
            runs.map(r => r._2 - r._1 + 1).sum, runs.length,
            if (runs.isEmpty) 0L else runs.map(r => r._2 - r._1 + 1).max))
      }
  }

  /** Last (view|click) per user — the entire attribution state. */
  case class AttrState(tUs: Long, tId: Long, tType: String)
  case class AttrOut(event_id: Long, user_id: Long,
      value_cents: Option[Long], touch_event_id: Long, touch_type: String,
      lag_sec: Option[Double])

  /** Streaming twin of Events.e18Attribution on the [[carry]] builder:
    * the carry is the user's last touch, and a purchase is attributed
    * the moment it arrives, against the touch carried so far. A touch
    * updates the carry BEFORE a later purchase reads it — exactly the
    * −1-row window frame.
    */
  def attributionStream(events: Dataset[LocfIn]): Dataset[AttrOut] = {
    import events.sparkSession.implicits._
    val dayUs = 24L * 3600 * 1000 * 1000
    carry[LocfIn, AttrState, AttrOut](events) { (userId, touch, e) =>
      val us = micros(e.ts)
      e.event_type match {
        case "purchase" =>
          val t = touch.filter(t => us - t.tUs <= dayUs)
          // HALF_UP like the batch twin's round() expressions
          (touch, Some(AttrOut(e.event_id, userId, e.value.map(cents),
            t.fold(-1L)(_.tId), t.fold("none")(_.tType),
            t.map(t => BigDecimal((us - t.tUs).toDouble / 1e6)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))))
        case "view" | "click" =>
          (Some(AttrState(us, e.event_id, e.event_type)), None)
        case _ => (touch, None)
      }
    }
  }

  /** Last event type per user — the entire transition-mining state. */
  case class TransState(lastType: String)
  case class TransPair(prev_type: String, next_type: String)

  /** Streaming twin of Events.e19TransitionMatrix's pair extraction, on
    * the [[carry]] builder: each arrival emits its (prev → next) pair
    * against the type carried so far, then becomes the carry, so a pair
    * is emitted exactly once per event with a predecessor. The matrix
    * itself is a read-time aggregation over the emitted pair stream
    * ([[graft.queries.Events.matrixOfPairs]] — the retentionFacts →
    * retentionMatrix split), so raw events are never revisited as the
    * matrix is re-read.
    */
  def transitionPairs(events: Dataset[LocfIn]): Dataset[TransPair] = {
    import events.sparkSession.implicits._
    carry[LocfIn, TransState, TransPair](events) { (_, last, e) =>
      (Some(TransState(e.event_type)),
        last.map(p => TransPair(p.lastType, e.event_type)))
    }
  }

  /** Live (prev → next) transition COUNTS over the [[transitionPairs]]
    * stream: a complete-mode streaming aggregation whose state is
    * bounded by |event types|² regardless of event volume, refreshed
    * incrementally by Spark's StateStore (each trigger merges only the
    * new pairs into the running counts — emitted pairs are never
    * rescanned). The e28/e31 finishers read a live matrix by applying
    * [[graft.queries.Events.matrixOfCounts]] (the batch e19 arithmetic,
    * shared verbatim) to this tiny table — O(|types|²) per dashboard
    * refresh where re-aggregating the pair stream would be O(events).
    * Complete mode is the right trade HERE because the result set is
    * driver-sized by construction; an unbounded-key aggregate would
    * need watermarked windows instead.
    */
  def transitionCounts(pairs: Dataset[TransPair]): DataFrame =
    pairs.groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))

  /** Last event timestamp per user — the entire gap-mining state. */
  case class GapState(lastUs: Long)
  case class GapFact(event_type: String, gap_us: Long)
  /** The full gap fact: user + type + gap. e23 reads the (type, gap)
    * projection, e26 the (user, gap) one — ONE keyed state serves both. */
  case class FullGapFact(user_id: Long, event_type: String, gap_us: Long)

  /** Streaming twin of Events.e23's gap extraction
    * ([[graft.queries.Events.gapFrame]]): the (type, gap) projection of
    * [[fullGapFacts]]. The percentile read is a read-time finisher over
    * the emitted gap facts ([[graft.queries.Events.gapPercentilesOf]]
    * shared verbatim), so raw events are never revisited as the
    * dashboard re-reads.
    */
  def gapFacts(events: Dataset[LocfIn]): Dataset[GapFact] = {
    import events.sparkSession.implicits._
    fullGapFacts(events).map(f => GapFact(f.event_type, f.gap_us))
  }

  /** Running per-user gap moments — the e26 ingest state: last arrival
    * timestamp plus the EXACT integer moment triple (n, Σgap_s,
    * Σgap_s²). O(1) per user regardless of history length. */
  case class RegularityState(lastUs: Long, n: Long, s: Long, q: Long)
  case class RegularityAlert(user_id: Long, n_gaps: Long, sum_gap_s: Long,
      sum_sq_gap_s: Long, regular: Boolean)

  /** Ingest-time bot-regularity verdicts — e26's TRUE streaming half
    * (the post-hoc half is [[fullGapFacts]] → `botRegularityOf`, which
    * re-aggregates facts; this one never re-reads anything), on the
    * [[carry]] builder: each user's carry is the exact moment triple,
    * and each trigger emits the user's CURRENT verdict once they cross
    * the ≥ 20-event threshold. The verdict is the same integer
    * cross-multiplication as batch — 4·(n·Σx² − S²) < S², in BigInt.
    * The moments accumulate with `Math.*Exact`, so a Σgap² past
    * Long.MaxValue fails the stream where batch e26 fails its ANSI cast
    * of the DECIMAL(38,0) sum, instead of emitting a wrapped sum and a
    * garbage verdict (batch only casts users with ≥ 19 gaps; the stream
    * fails on any user's overflow). The latest alert per user is always
    * equal to what batch e26 would say over the same replay —
    * StreamingSpec pins it.
    */
  def regularityAlerts(events: Dataset[LocfIn]): Dataset[RegularityAlert] = {
    import events.sparkSession.implicits._
    carry[LocfIn, RegularityState, RegularityAlert](events)({ (_, st, e) =>
      val us = micros(e.ts)
      (Some(st.fold(RegularityState(us, 0L, 0L, 0L)) { s =>
        val g = (us - s.lastUs) / 1000000L
        RegularityState(us, s.n + 1, Math.addExact(s.s, g),
          Math.addExact(s.q, Math.multiplyExact(g, g)))
      }), None)
    }, { (userId, st) =>
      // s = 0 over ≥19 gaps ⇒ all gaps sub-second — flagged directly,
      // same rule as batch botRegularityOf
      if (st.n < 19) None
      else Some(RegularityAlert(userId, st.n, st.s, st.q, (st.s > 0 &&
        4 * (BigInt(st.n) * st.q - BigInt(st.s) * st.s) <
          BigInt(st.s) * st.s) || st.s == 0))
    })
  }

  /** Per-user event-type counts — e29's ingest state: bounded at
    * |event types| entries per user regardless of history. */
  case class TypeEntropyState(counts: Map[String, Long])
  case class TypeEntropyAlert(user_id: Long, n_events: Long, n_types: Long,
      type_entropy: Double)

  /** Ingest-time behavioral-entropy verdicts — e29's streaming half, on
    * the [[carry]] builder: each user's carry is the per-type count map
    * (O(|types|), the smallest sufficient statistic for the entropy),
    * and every trigger emits the user's CURRENT entropy with EXACTLY the
    * batch arithmetic — per-count ln snapped to micro-nats (half-up),
    * exact long accumulation, one double subtract rounded at 6 — so the
    * latest alert per user always equals batch e29 over the same replay
    * (StreamingSpec pins it). Pairs with [[regularityAlerts]] as the two
    * real-time legs of the e30 bot-triage conjunction.
    */
  def typeEntropyAlerts(events: Dataset[LocfIn]): Dataset[TypeEntropyAlert] = {
    import events.sparkSession.implicits._
    carry[LocfIn, TypeEntropyState, TypeEntropyAlert](events)({ (_, st, e) =>
      val counts = st.fold(Map.empty[String, Long])(_.counts)
      (Some(TypeEntropyState(counts.updated(e.event_type,
        counts.getOrElse(e.event_type, 0L) + 1L))), None)
    }, { (userId, st) =>
      val n = st.counts.values.sum
      val sclnc = st.counts.values
        .map(c => c * math.round(math.log(c.toDouble) * 1e6)).sum
      val entropy = BigDecimal(math.log(n.toDouble)
          - sclnc.toDouble / (n * 1e6))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      Some(TypeEntropyAlert(userId, n, st.counts.size.toLong, entropy))
    })
  }

  /** The one gap-mining state machine, on the [[carry]] builder: each
    * arrival emits its inter-event gap against the user's carried last
    * timestamp, then becomes the carry. It emits the FULL fact, so e23
    * (per-type percentiles, via [[gapFacts]]) and e26 (per-user
    * regularity) share one keyed state.
    */
  def fullGapFacts(events: Dataset[LocfIn]): Dataset[FullGapFact] = {
    import events.sparkSession.implicits._
    carry[LocfIn, GapState, FullGapFact](events) { (userId, last, e) =>
      val us = micros(e.ts)
      (Some(GapState(us)),
        last.map(p => FullGapFact(userId, e.event_type, us - p.lastUs)))
    }
  }

  /** e36's streaming twin (r12 verdict, directive 4): the power-of-two
    * gap histogram as a read-time finisher over the [[fullGapFacts]]
    * sink — the batch finisher `Events.gapHistogramOf` applied
    * VERBATIM to the streamed facts, so raw events are never revisited
    * as the dashboard re-bins (the e23 `gapPercentilesOf` split; the
    * keyed gap state is the same O(1)-per-user machine both share).
    */
  def gapHistogramFromFacts(facts: DataFrame): DataFrame =
    graft.queries.Events.gapHistogramOf(
      facts.select(col("event_type"), col("gap_us")))

  /** e37's streaming twin (r12 verdict, directive 4): real-time robust
    * outlier ALERTS against a broadcast (event_type, med, mad_micro)
    * calibration table (`Events.valueMedMad`, recomputed batch-side
    * per release/day — medians are not streamable; the 3·MAD verdict
    * is). Stream-static equi-join on the |types|-row table, the same
    * micro-snapped deviation spelling as batch
    * (`Events.deviationMicro`), so the 3×-boundary can never drift
    * between the alert and the batch audit. Emits one row per
    * outlying arrival — the page a metrics on-call actually receives,
    * where batch e37 is the per-type retrospective.
    */
  def valueOutlierAlerts(events: DataFrame, medMad: DataFrame): DataFrame =
    events.filter(col("value").isNotNull)
      .join(broadcast(medMad), Seq("event_type"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), graft.queries.Events.deviationMicro,
        col("mad_micro"))
      .filter(col("dev_micro") > col("mad_micro") * 3L)

  /** Bounded finish of the e17 twin: the anomaly detector over the
    * STREAMED hourly table ([[windowedAgg]]'s closed windows) — the
    * same read-time-finisher split as e13's decayed leaderboard; raw
    * events are never revisited when the baseline window slides.
    */
  def anomalyFromStreamedHours(partials: DataFrame): DataFrame =
    graft.queries.Events.anomalyFromHourly(partials.select(
      (unix_micros(col("hour").cast("timestamp")) / lit(3600000000L))
        .cast("long").as("hour_idx"),
      col("event_type"), col("n")))

  /** Runs a streaming query to completion over a static directory (the
    * local smoke path: batch parquet drives the stream synchronously).
    */
  def runToMemorySink(df: DataFrame, name: String,
      outputMode: String = "append"): StreamingQuery = {
    val q = df.writeStream.outputMode(outputMode)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}
