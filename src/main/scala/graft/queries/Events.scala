package graft.queries

import graft.Tables
import graft.queries.QueryScope.HoldOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table, written batch-first so
  * the identical aggregations re-run under Structured Streaming (see
  * [[graft.streaming.EventStreams]]): tumbling-window aggregation,
  * gap-based sessionization, and JSON property extraction.
  *
  * Scale: all three group on (windowed-time, type) or user_id — natural
  * high-cardinality shuffle keys; the session operator partitions by
  * user, so state per task is one user's events.
  */
object Events {

  /** Tumbling 1-hour windows per event_type: the batch twin of the
    * streaming windowed aggregation.
    */
  def e1WindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      // timestamp_ntz: parquet-written as naive µs — the same physical
      // unit+zone DuckDB's date_trunc returns, so the dtype-sensitive
      // driver hash sees identical datetime64[us] on both sides (the
      // zoned TimestampType writes INT96 ns / tz-aware, a q12-class
      // drift away from a red row)
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")) / lit(100.0))
          .as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  /** Gap-based sessionization (e2): [[sessionStats]] per session,
    * numbered per user in start order — session starts are distinct
    * within a user, so `row_number` is the session index. Only the kept
    * rows are numbered: the first 3000 sessions by (user, start) hold a
    * prefix of each user's sessions, so their row numbers are the
    * global ones, and the numbering sorts 3000 rows, not every session.
    */
  def e2Sessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    sessionStats(Tables.events(spark, dir))
      .orderBy(col("user_id"), col("sw.start"))
      .limit(3000)
      .select(col("user_id"),
        row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("sw.start"))).cast("long").as("session_seq"),
        col("n_events"), col("duration_sec"), col("sum_value"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** The session rule, spelled once: a user's session continues while
    * the next event is at most 30 minutes after the previous one. This
    * is the engine's own `session_window`: each event spans [ts, ts +
    * 30 min), and spans that overlap or touch merge, so an exact
    * 30-minute gap stays one session and 30 min + 1 µs starts a new
    * one. `sw` is the merged window (start = first event, end = last
    * event + 30 min); `aggs` are the per-session aggregates. The rule
    * needs no row order, so a stream twin that adds a watermark gets
    * the batch sessions whatever order its rows arrive in within the
    * watermark.
    */
  private[graft] def sessions(events: DataFrame, aggs: Column*): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(aggs.head, aggs.tail: _*)

  /** e2's per-session figures on [[sessions]]: event count, duration
    * from µs bounds, and the value sum in grid cents (order-insensitive).
    * e2, e22 and the sessionize stream twin project it.
    */
  private[graft] def sessionStats(events: DataFrame): DataFrame =
    sessions(events, count(lit(1)).as("n_events"),
      ((max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
        / lit(1000000.0)).as("duration_sec"),
      (sum(round(col("value") * 100).cast("long")) / lit(100.0))
        .as("sum_value"))

  /** JSON property extraction + aggregation: parse `props` (JSON string),
    * pull `$.k`, aggregate per event_type. JSON path evaluation stays in
    * codegen (`get_json_object`), no UDF.
    */
  def e3JsonExtract(spark: SparkSession, dir: String): DataFrame =
    jsonExtractFrame(Tables.events(spark, dir)).orderBy(col("event_type"))

  /** e3's aggregate, shared verbatim with its streaming twin: run on a
    * stream, JSON property extraction stays codegen and the per-type
    * min/max/sum state is O(1) per key.
    */
  private[graft] def jsonExtractFrame(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  /** Top-5 busiest users per event type by event count — grouped agg
    * feeding a two-phase salted top-k ([[TopK.saltedTopK]]): with only a
    * handful of event types, a plain per-type window would funnel every
    * user row of a type into one task; the salted form bounds each task
    * at ~1/32 of a type and returns the identical rows.
    */
  def e4TopUsers(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    TopK.saltedTopK(counts, Seq(col("event_type")),
        Seq(col("n").desc, col("user_id")), k = 5, saltBy = col("user_id"))
      .select(col("event_type"), col("rk"), col("user_id"), col("n"))
      .orderBy(col("event_type"), col("rk"))
  }

  /** Hourly top-3 users per event type — the time-windowed leaderboard,
    * and the exact batch twin of the streaming split in
    * [[graft.streaming.EventStreams.windowedUserCounts]] →
    * `topUsersPerWindow`: counts per (hour, type, user) first (map-side
    * partials, one shuffle), then the two-phase salted rank per
    * (hour, type) so even a hot window never funnels into one task.
    */
  def e4bWindowedTopUsers(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"),
        col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    TopK.saltedTopK(counts, Seq(col("hour"), col("event_type")),
        Seq(col("n").desc, col("user_id")), k = 3, saltBy = col("user_id"))
      .select(col("hour"), col("event_type"), col("rk"), col("user_id"), col("n"))
      .orderBy(col("hour"), col("event_type"), col("rk"))
      .limit(3000)
  }

  /** Conversion funnel: users whose first view precedes their first
    * click precedes their first purchase — per-user min-timestamps per
    * stage (conditional aggregation, one shuffle on user_id), then
    * ordering predicates. The standard product-analytics funnel shape.
    */
  def e5Funnel(spark: SparkSession, dir: String): DataFrame =
    funnelFrame(Tables.events(spark, dir)).orderBy(col("user_id"))

  /** e5's per-user funnel, shared verbatim with its streaming twin: on a
    * stream the per-user state is three conditional-min timestamps, an
    * ordinary streaming aggregate (O(1) state per user), with the
    * ordering predicates projected after the aggregation exactly as in
    * batch.
    */
  private[graft] def funnelFrame(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", unix_micros(col("ts"))))
          .as("first_view"),
        min(when(col("event_type") === "click", unix_micros(col("ts"))))
          .as("first_click"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("first_purchase"))
      .select(col("user_id"),
        col("first_view").isNotNull.as("viewed"),
        (col("first_click").isNotNull && col("first_view").isNotNull &&
          col("first_click") > col("first_view")).as("clicked_after_view"),
        (col("first_purchase").isNotNull && col("first_click").isNotNull &&
          col("first_view").isNotNull &&
          col("first_click") > col("first_view") &&
          col("first_purchase") > col("first_click")).as("full_funnel"))

  /** As-of join: each purchase matched to the user's most recent view at
    * or before it. Composed from existing operators (the preference-order
    * rule: compose before custom plans): tag-union both sides is implicit
    * — ONE pass over events, ONE window per user carrying the last view
    * forward (`last(..., ignoreNulls)` over unbounded-preceding rows).
    * No join node at all, so there is nothing to mis-partition at scale:
    * a single shuffle on user_id, O(1) running state per row — the plan
    * an `ASOF JOIN` physical operator would aspire to.
    *
    * Tie semantics (shared timestamp) are pinned by the (ts, event_id)
    * ordering, mirrored exactly in the oracle — native DuckDB ASOF JOIN
    * is deliberately NOT used there because its strict `<`/`<=` choice
    * would not reproduce this tiebreak.
    */
  def e6AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("view_id",
        last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true)
          .over(w))
      .withColumn("view_us",
        last(when(col("event_type") === "view", col("us")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("view_id"),
        ((col("us") - col("view_us")) / lit(1000000.0)).as("lag_sec"))
      .orderBy(col("user_id"), col("event_id"))
      .limit(3000)
  }

  /** Nearest-direction as-of join (e27): each purchase matched to its
    * NEAREST view either side (pandas `merge_asof(direction='nearest')`
    * semantics) — e6 answers "what did they last see", this answers
    * "what exposure is this purchase closest to", the attribution read
    * when post-purchase confirmation views exist. One user_id window
    * pass computes BOTH candidates (backward `last` over the preceding
    * frame, forward `first` over the following frame, ignoreNulls);
    * the winner is the smaller |Δ| with ties to the earlier (backward)
    * view. Exact µs integers decide; only the reported delta divides.
    * Same single-shuffle shape as e6 — no self-join, no bucketing.
    */
  def e27NearestAsof(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val back = base.rowsBetween(Window.unboundedPreceding, 0)
    val fwd = base.rowsBetween(0, Window.unboundedFollowing)
    val isView = col("event_type") === "view"
    Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("b_id",
        last(when(isView, col("event_id")), ignoreNulls = true).over(back))
      .withColumn("b_us",
        last(when(isView, col("us")), ignoreNulls = true).over(back))
      .withColumn("f_id",
        first(when(isView, col("event_id")), ignoreNulls = true).over(fwd))
      .withColumn("f_us",
        first(when(isView, col("us")), ignoreNulls = true).over(fwd))
      .filter(col("event_type") === "purchase")
      .withColumn("use_back",
        col("f_us").isNull ||
          (col("b_us").isNotNull &&
            (col("us") - col("b_us")) <= (col("f_us") - col("us"))))
      .filter(col("b_us").isNotNull || col("f_us").isNotNull)
      .select(col("user_id"), col("event_id"),
        when(col("use_back"), col("b_id")).otherwise(col("f_id"))
          .as("view_id"),
        when(col("use_back"), lit("backward")).otherwise(lit("forward"))
          .as("direction"),
        ((when(col("use_back"), col("b_us")).otherwise(col("f_us"))
          - col("us")) / lit(1000000.0)).as("delta_sec"))
      .orderBy(col("user_id"), col("event_id"))
      .limit(3000)
  }

  /** Time-range aggregation: views in the 30 minutes strictly before
    * each click, per user — the range-join pattern expressed as a
    * VALUE-based window frame (`rangeBetween` on µs), so it is one
    * shuffle on user_id and, unlike row frames, independent of
    * tie-ordering (the frame bound `-1` excludes same-µs rows by value).
    * The equi+interval join formulation of the same question needs a
    * time-bucketized self-join at scale; the range frame is strictly
    * better when one side is "events of the same key".
    */
  def e7RangeCount(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = 30L * 60 * 1000 * 1000
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-gapUs, -1)
    Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("views_30m",
        coalesce(sum(when(col("event_type") === "view", 1).otherwise(0)).over(w),
          lit(0)).cast("long"))
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("views_30m"))
      .orderBy(col("user_id"), col("event_id"))
      .limit(3000)
  }

  /** Bucketized interval self-join: every (click, view) PAIR where the
    * view fell in the 30 minutes strictly before the click, same user —
    * e7's question as an actual join (pairs, not counts), because
    * sometimes downstream needs the matched rows. A naive formulation is
    * an equi+inequality join whose range predicate lands in the
    * post-shuffle filter of a join keyed only on user_id — fine until one
    * user is hot. The scale pattern: quantize time into gap-width buckets
    * and equi-join on (user, bucket) ∪ (user, bucket−1) — every candidate
    * pair is at most one bucket apart, so the join key carries the time
    * locality and the range predicate only filters within-bucket pairs.
    * Join keys are (user × bucket) — far finer than user alone.
    */
  def e9IntervalJoin(spark: SparkSession, dir: String): DataFrame =
    intervalJoinPairsAuto(Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts"))))

  /** Unconverted views (e12): for every view, did ANY click by the same
    * user follow within 30 minutes — the impression-conversion metric
    * that is e9's complement (e9 enumerates the matches; e12 must also
    * name the non-matches, which is what makes it a LEFT join and gives
    * its streaming twin the watermark-close semantics worth pinning).
    * Same bucketized discipline as e9, probing forward: a following
    * click lies in the view's gap-bucket or the next one, so the match
    * join keys on (user, bucket) ∪ (user, bucket+1) and the range
    * predicate filters within buckets; matches aggregate per view and
    * LEFT-join back to the full view set (unmatched ⇒ unconverted).
    */
  def e12UnconvertedViews(spark: SparkSession, dir: String): DataFrame =
    unconvertedViewsOf(Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts"))))

  private[graft] def unconvertedViewsOf(ev: DataFrame): DataFrame = {
    val gapUs = GapUs
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("us").as("view_us"), expr(s"us div $gapUs").as("bucket"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("us").as("click_us"),
        expr(s"us div $gapUs").as("c_bucket"))
    val probes = views.select(col("user_id"), col("view_id"),
        col("view_us"), col("bucket").as("probe_bucket"))
      .union(views.select(col("user_id"), col("view_id"),
        col("view_us"), (col("bucket") + 1).as("probe_bucket")))
    // a click has ONE bucket, the two probes carry disjoint bucket
    // keys — no pair can match twice, so the count needs no distinct
    val matched = probes.join(clicks,
        col("user_id") === col("c_user_id") &&
          col("probe_bucket") === col("c_bucket") &&
          col("click_us") > col("view_us") &&
          col("click_us") <= col("view_us") + gapUs)
      .groupBy(col("view_id")).agg(count(lit(1)).as("n"))
    views.join(matched, Seq("view_id"), "left")
      .select(col("user_id"), col("view_id"),
        coalesce(col("n"), lit(0L)).as("n_clicks_30m"),
        col("n").isNotNull.as("converted"))
      .orderBy(col("view_id"))
      .limit(3000)
  }

  /** e9 with the salted-join hatch AUTO-ENGAGED: a cheap df probe on
    * the views side — groupBy (user, bucket), partial-agg collapses
    * each key to one row per map partition, existence check on any key
    * over the threshold — decides whether the corpus needs the salted
    * composition, the same probe-then-engage pattern as
    * [[TextDedup.capShingleDf]]. A burst corpus (any user with more
    * than `burstThreshold` views inside one 30-minute bucket) takes the
    * salted path; a plain corpus keeps the bucketized equi-join and its
    * plan shape. Both paths are pair-identical (spec-pinned), so the
    * switch is purely a physical-distribution decision — which is why
    * it can be automated on a probe instead of left as a manual knob.
    */
  def intervalJoinPairsAuto(ev: DataFrame, burstThreshold: Long = 5000,
      buckets: Int = 8): DataFrame = {
    val burst = !ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), expr(s"us div $GapUs").as("bucket"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > burstThreshold)
      .isEmpty
    intervalJoinPairs(ev, if (burst) Some(buckets) else None)
  }

  private val GapUs = 30L * 60 * 1000 * 1000

  /** e9's core over any (user_id, event_id, event_type, us) frame.
    *
    * Residual skew boundary (honest): a user bursting within one gap
    * width still concentrates in ~2 (user, bucket) keys — the bucket key
    * bounds the blowup to one gap of history, not all of it. For that
    * scale `saltBuckets` engages the composition with
    * [[SkewJoin.saltedEquiJoin]]: the (user, bucket) pair collapses into
    * one synthetic equi-key, probes spread over `b` deterministic salts
    * (by click_id), views replicate ×b, and the range predicate stays a
    * residual filter within (user, bucket, salt). Row-identical to the
    * plain join — spec-pinned on a burst corpus.
    */
  def intervalJoinPairs(ev: DataFrame, saltBuckets: Option[Int] = None): DataFrame = {
    val gapUs = GapUs
    // integer `div`, not `/`: µs-since-epoch exceeds 2^53, so a double
    // divide would corrupt bucket boundaries
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("us").as("click_us"),
        expr(s"us div $gapUs").as("bucket"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("event_id").as("view_id"),
        col("us").as("view_us"),
        expr(s"us div $gapUs").as("v_bucket"))
    // each click probes its own bucket and the previous one — the two
    // equi-joins cover the whole 30-min window exactly once each.
    val probes = clicks.select(col("user_id"), col("click_id"),
        col("click_us"), col("bucket").as("probe_bucket"))
      .union(clicks.select(col("user_id"), col("click_id"),
        col("click_us"), (col("bucket") - 1).as("probe_bucket")))
    val inRange = col("view_us") >= col("click_us") - gapUs &&
      col("view_us") < col("click_us")
    val joined = saltBuckets match {
      case None =>
        probes.join(views,
          col("user_id") === col("v_user_id") &&
            col("probe_bucket") === col("v_bucket") && inRange)
      case Some(b) =>
        SkewJoin.saltedEquiJoin(
            probes.withColumn("jk",
              concat_ws(":", col("user_id"), col("probe_bucket"))),
            views.withColumn("jk",
              concat_ws(":", col("v_user_id"), col("v_bucket"))),
            "jk", saltBy = col("click_id"), buckets = b)
          .where(inRange)
    }
    joined
      .select(col("user_id"), col("click_id"), col("view_id"),
        ((col("click_us") - col("view_us")) / lit(1000000.0)).as("gap_sec"))
      .orderBy(col("user_id"), col("click_id"), col("view_id"))
      .limit(3000)
  }

  /** HLL++ distinct users per event type — the mergeable-sketch form of
    * a distinct count: map-side sketches merge in the shuffle, so memory
    * per task is the sketch size, not the user-id set. Sketch estimates
    * are engine-specific, so the raw estimate cannot hash-match a DuckDB
    * oracle; instead the gate output is the BOUNDED-ERROR CHECK itself:
    * the exact distinct count (oracle-reproducible) plus `approx_ok` =
    * |hll − exact| / exact ≤ 0.06 (3σ of the requested rsd 0.02). The
    * oracle asserts TRUE, so a sketch drifting out of tolerance turns
    * the row red — every entry in the gate is now checked against
    * something, not `no_oracle`. The exact count rides the same Expand
    * rewrite as any mixed distinct/non-distinct agg; the sketch stays
    * the production operator (partial-agg mergeable, O(sketch) memory).
    */
  def e8ApproxUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id"), 0.02).as("hll"))
      .select(col("event_type"), col("exact_users"), col("n_events"),
        (abs(col("hll") - col("exact_users")) <=
          col("exact_users") * lit(0.06)).as("approx_ok"))
      .orderBy(col("event_type"))

  /** Cohort retention (e10): users grouped by their first-activity hour;
    * how many were active exactly 1 hour / 24 hours after that first
    * hour — the canonical product-analytics retention matrix, reduced to
    * two offsets so it stays oracle-gateable. Shape at scale: one
    * shuffle for first-hour per user, one distinct on (user, hour), an
    * equi-join on user_id (both sides pre-aggregated, orders of
    * magnitude smaller than raw events), and a final few-group rollup.
    * The conditional distinct counts ride Spark's Expand-based
    * multi-distinct rewrite — keyed by (cohort, user), so no hot single
    * task.
    */
  def e10CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
    val firsts = ev.groupBy(col("user_id")).agg(min(col("h")).as("h0"))
    val activity = ev.distinct()
    firsts.join(activity, Seq("user_id"))
      .groupBy(col("h0"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(when(
          unix_micros(col("h")) - unix_micros(col("h0")) === hourUs,
          col("user_id"))).as("ret_1h"),
        countDistinct(when(
          unix_micros(col("h")) - unix_micros(col("h0")) === 24 * hourUs,
          col("user_id"))).as("ret_24h"))
      .select(col("h0").cast("timestamp_ntz").as("cohort_hour"),
        col("n_users"), col("ret_1h"), col("ret_24h"))
      .orderBy(col("cohort_hour"))
  }

  /** Gap-fill / LOCF (e11): carry each user's most recent purchase
    * amount forward onto every subsequent event — the classic
    * last-observation-carried-forward feature backfill an event
    * pipeline runs before training on tabular event features. One
    * window partitioned by user_id (per-task state = one user's
    * events, the natural key); `last(_, ignoreNulls=true)` over an
    * unbounded-preceding frame is Spark's IGNORE-NULLS forward fill,
    * value-identical to DuckDB's `last_value(... IGNORE NULLS)` since
    * the carried double passes through un-rearranged.
    */
  def e11GapFill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("last_purchase",
        last(when(col("event_type") === "purchase", col("value")),
          ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("event_type"), col("last_purchase"))
      .orderBy(col("event_id"))
      .limit(3000)
  }

  /** Time-decayed activity leaderboard (e13): each user's events are
    * weighted by 2^(−age) with a one-hour half-life, age measured in
    * whole hour buckets from the corpus's latest hour — the "what's hot
    * right now" ranking every engagement surface runs. Hour-bucket
    * quantization is what makes the decay EXACT (weight = 10⁶ div 2^age
    * in integer micro-units, age capped at 30 where the weight hits 0)
    * and what makes the operator incrementally maintainable: the score
    * is a weighted sum of per-(hour, user) partials, which is exactly
    * the asset the streaming side materializes
    * ([[graft.streaming.EventStreams.hourlyUserActivity]]) — the
    * leaderboard re-weights closed windows at read time instead of
    * touching raw events (spec-pinned equal). Global top-20 rides the
    * TakeOrderedAndProject sink (q8's shape), never a full sort.
    */
  def e13DecayedScore(spark: SparkSession, dir: String): DataFrame =
    decayedFromPartials(hourlyPartials(spark, dir))

  private[graft] def hourlyPartials(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"),
        col("user_id"))
      .agg(count(lit(1)).as("n"))

  /** The leaderboard finalize over (hour, user_id, n) partials — shared
    * by the batch query and the read side of the streaming-partials
    * asset, because that sharing IS the architecture: the stream
    * maintains the partials, the leaderboard is a re-weighting of them.
    */
  private[graft] def decayedFromPartials(partials: DataFrame): DataFrame = {
    val us = unix_micros(col("hour").cast("timestamp"))
    val tmax = partials.agg(max(us).as("max_us"))
    partials.crossJoin(broadcast(tmax))
      .withColumn("age_h",
        expr("(max_us - unix_micros(CAST(hour AS TIMESTAMP))) div 3600000000"))
      .withColumn("w_micro", expr(
        "1000000 div shiftleft(CAST(1 AS BIGINT), CAST(least(age_h, 30) AS INT))"))
      .groupBy(col("user_id"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("n") * col("w_micro")).as("score_micro"))
      .select(col("user_id"), col("n_events"),
        round(col("score_micro").cast("double") / 1e6, 6).as("score"))
      .orderBy(col("score").desc, col("user_id"))
      .limit(20)
  }

  /** Timed funnel (e14): e5's conversion chain with deadlines — the first
    * view, the first click STRICTLY after it within 24 hours, the first
    * purchase strictly after that click within 72 hours of the view.
    * Three chained whole-partition windows on the SAME user_id
    * partitioning (each min references the previous window's column), so
    * the plan is one shuffle feeding three stacked Window operators — no
    * self-joins, no second exchange — then the per-user collapse rides
    * the existing partitioning.
    */
  def e14TimedFunnel(spark: SparkSession, dir: String): DataFrame =
    e14Of(Tables.events(spark, dir))

  private[graft] def e14Of(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wu = Window.partitionBy(col("user_id"))
    val clickGapUs = 24L * 3600 * 1000 * 1000
    val purchGapUs = 72L * 3600 * 1000 * 1000
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("fv",
        min(when(col("event_type") === "view", col("us"))).over(wu))
      .withColumn("tc",
        min(when(col("event_type") === "click" && col("us") > col("fv") &&
          col("us") <= col("fv") + clickGapUs, col("us"))).over(wu))
      .withColumn("tp",
        min(when(col("event_type") === "purchase" && col("us") > col("tc") &&
          col("us") <= col("fv") + purchGapUs, col("us"))).over(wu))
      .groupBy(col("user_id"))
      .agg(min("fv").as("fv"), min("tc").as("tc"), min("tp").as("tp"))
      .select(col("user_id"),
        col("fv").isNotNull.as("viewed"),
        col("tc").isNotNull.as("clicked_24h"),
        col("tp").isNotNull.as("converted_72h"),
        when(col("tp").isNotNull,
          (col("tp") - col("fv")) / lit(1000000.0)).as("ttc_sec"))
      .orderBy(col("user_id"))
  }

  /** Exact distributed quintile score: rank by `order` via the p8
    * prefix-sum shape (range-repartition, per-partition running count,
    * broadcast partition offsets — never a global sort), then
    * score = 5 − rank₀·5 div n. Integer arithmetic end to end, so the
    * quintile boundary cannot drift across engines or partitionings.
    */
  private def withExactScore(users: DataFrame, order: Seq[Column],
      out: String, nParts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // nParts sizes the USER-table sort, not the events scan — the score
    // is invariant to it (range partitions are pid-ordered and rank =
    // rank_in + offset is the global rank under ANY split), so it is a
    // pure perf dial: size it to user-table rows on a cluster. Tying it
    // to the session shuffle knob was tried and MEASURED in r18 (64
    // partitions over a 15k-user table at the sf10 rehearsal): ~25%
    // slower — hundreds of rows per task is pure launch overhead.
    val parts = users.repartitionByRange(nParts, order: _*)
      .withColumn("pid", spark_partition_id()).held()
    parts.count() // freeze the range sample + pid assignment
    val wIn = Window.partitionBy(col("pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOff = Window.partitionBy(pmod(col("pid"), lit(1))).orderBy(col("pid")) // ≤ nParts rows, one group by design; non-foldable key keeps the empty-spec warning meaningful
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parts.groupBy(col("pid")).agg(count(lit(1)).as("pn"))
      .withColumn("offset", coalesce(sum(col("pn")).over(wOff), lit(0L)))
      .select(col("pid"), col("offset"))
    val total = parts.agg(count(lit(1)).as("n_total"))
    parts.withColumn("rank_in", coalesce(sum(lit(1L)).over(wIn), lit(0L)))
      .join(broadcast(offsets), Seq("pid"))
      .crossJoin(broadcast(total))
      .withColumn(out, lit(5L) - expr("(rank_in + offset) * 5 div n_total"))
      .drop("pid", "rank_in", "offset", "n_total")
  }

  /** RFM segmentation (e15): the classic customer-value grid — per user,
    * recency (days since last event vs the corpus horizon), frequency
    * (event count), monetary (purchase value), each scored into an EXACT
    * quintile (5 = best) by distributed rank, composed into the
    * three-digit segment code ("555" = champions). Quintiles are
    * integer-exact over a deterministic total order (metric, user_id),
    * so the segmentation is reproducible at any parallelism; each score
    * is one range-repartition of the already-aggregated user table —
    * the events table is scanned once.
    */
  def e15RfmSegments(spark: SparkSession, dir: String): DataFrame =
    rfmFromProfiles(rfmProfileFrame(Tables.events(spark, dir)))

  /** Per-user RFM profile — the incremental half of e15, shared verbatim
    * with the streaming twin (which runs this exact plan on the stream):
    * max/count/sum are all mergeable, so the standing profile state is
    * O(1) per user and the streamed asset equals the batch aggregate
    * over the same rows at any arrival order. On a stream it is a
    * standing-profile state (no watermark), the same trade as
    * [[funnelFrame]]; [[rfmFromProfiles]] is the bounded finish.
    */
  private[graft] def rfmProfileFrame(events: DataFrame): DataFrame =
    events
      .withColumn("day", datediff(to_date(col("ts")),
        lit(java.sql.Date.valueOf("2024-01-01"))).cast("long"))
      .groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L))
          .as("monetary_cents"))

  /** Bounded finish of the e15 twin: quintile-score the (already tiny,
    * one-row-per-user) profile table. The corpus horizon is recovered
    * from the profiles themselves (max over last_day ≡ max over event
    * days), so the finisher needs nothing but the streamed asset.
    */
  private[graft] def rfmFromProfiles(profiles: DataFrame): DataFrame = {
    val prof = profiles.held()
    // ONE action fills the profile cache AND returns the corpus horizon
    // — a 1-row bounded aggregate collected driver-side (the e31
    // pattern, r18); the broadcast crossJoin it replaces re-ran the
    // profile aggregate once per leg materialization
    val mdRow = prof.agg(max(col("last_day"))).head
    val md: Column =
      if (mdRow.isNullAt(0)) lit(null).cast("long") else lit(mdRow.getLong(0))
    val base = prof.withColumn("recency_days", md - col("last_day"))
    // The three scores stay CHAINED (r17 shape). The §2.6 alternative —
    // three concurrent slim legs re-attached by user_id joins — was
    // built and MEASURED FIRST (r18): flat at sf1 (3.00 s both ways)
    // and slower at sf10 (5.66→6.95 s min, 6.30→7.77 s median, 5-pass
    // e15-only A/B) — the legs are a few percent of the query, so the
    // join-back's extra exchanges/stages cost more than the removed
    // driver gating. Rejected, recorded here; the wins kept are the
    // driver-collected horizon above (one profile aggregate instead of
    // one per consumer) and the scale-adaptive nParts in the scorer.
    val scored = withExactScore(withExactScore(withExactScore(base,
        Seq(col("recency_days"), col("user_id")), "r_score"),
        Seq(col("frequency").desc, col("user_id")), "f_score"),
        Seq(col("monetary_cents").desc, col("user_id")), "m_score")
    scored.select(col("user_id"), col("recency_days"), col("frequency"),
        (col("monetary_cents") / lit(100.0)).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .as("segment"))
      .orderBy(col("user_id"))
  }

  /** Activity streaks (e16): per user, the gaps-and-islands rollup over
    * DISTINCT active days — total active days, number of streaks, and
    * the longest run of consecutive days. The engagement metric every
    * product dashboard carries, and the canonical island pattern
    * (day − row_number is constant within a run). One shuffle on
    * user_id; islands collapse inside the same partitioning.
    */
  def e16ActivityStreaks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")),
          lit(java.sql.Date.valueOf("2024-01-01"))).cast("long").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).as("active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"))
      .orderBy(col("user_id"))
  }

  /** Hourly per-type event counts on an integer hour grid — e17's
    * incremental half, the same closed-window partials asset shape as
    * e13's ([[graft.streaming.EventStreams.windowedAgg]] maintains the
    * equivalent under a watermark; the spec drives the finisher from
    * the streamed table).
    */
  private[graft] def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy((unix_micros(date_trunc("hour", col("ts")))
          / lit(3600000000L)).cast("long").as("hour_idx"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Bounded finish of e17 over the (hour_idx, event_type, n) partials:
    * trailing-24h baseline and the anomaly verdict. The flag is ALL
    * INTEGER — with k prior buckets, s1 = Σx, s2 = Σx², d = k·n − s1:
    * z² = d²/(k·s2 − s1²), so |z| ≥ 3 ⟺ d² ≥ 9·(k·s2 − s1²) — an exact
    * integer cross-multiply; no float ever enters the decision, so the
    * verdict is bit-stable across engines and partitionings. The
    * variance numerator is floored at k² (σ ≥ 1 count): a perfectly
    * flat baseline must not turn a ±1 wiggle into an infinite z — the
    * spike has to clear 3 real counts. z² is reported over the same
    * floored denominator (round 6, always defined).
    */
  private[graft] def anomalyFromHourly(hourly: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_idx"))
      .rangeBetween(-24, -1)
    hourly
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .filter(col("k") >= 12)
      .withColumn("d", col("k") * col("n") - col("s1"))
      .withColumn("var_eff", greatest(
        col("k") * col("s2") - col("s1") * col("s1"),
        col("k") * col("k")))
      .select(
        timestamp_micros(col("hour_idx") * 3600000000L)
          .cast("timestamp_ntz").as("hour"),
        col("event_type"), col("n"), col("k"),
        round(col("s1").cast("double") / col("k"), 6).as("baseline_mean"),
        round(col("d").cast("double") * col("d").cast("double")
          / col("var_eff").cast("double"), 6).as("z_sq"),
        (col("d") * col("d") >= col("var_eff") * 9L).as("is_anomaly"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Hourly volume anomalies (e17): per event type, each hour's count
    * against its trailing-24-hour baseline — the pipeline-health monitor
    * every event platform runs (a crawler dying or a bot spike shows up
    * here first). Split as partials + finisher so the streaming side
    * maintains the hourly counts incrementally and the detector is a
    * read-time window over closed buckets (the e13 discipline); the
    * ≥12-bucket warm-up keeps early hours from self-flagging.
    */
  def e17AnomalyHours(spark: SparkSession, dir: String): DataFrame =
    anomalyFromHourly(hourlyTypeCounts(Tables.events(spark, dir)))

  /** Last-touch attribution (e18): every purchase credits the latest
    * view-or-click by the same user strictly before it and within 24
    * hours — the conversion-credit join every ads/analytics pipeline
    * runs. The "latest preceding touch" is the e11 LOCF construct
    * (`last(_, ignoreNulls)` over the user's time-ordered frame ending
    * at −1 row), so touch id/type/time are read from the SAME carried
    * row; the deadline check and lag are exact integer µs. One shuffle
    * on user_id; unattributed purchases keep the −1 sentinel (gate-safe
    * like d13's near_dup_of).
    */
  def e18Attribution(spark: SparkSession, dir: String): DataFrame =
    attributionOf(Tables.events(spark, dir))

  private[graft] def attributionOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayUs = 24L * 3600 * 1000 * 1000
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type") === "view" || col("event_type") === "click"
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("t_us", last(when(isTouch, col("us")), ignoreNulls = true).over(w))
      .withColumn("t_id", last(when(isTouch, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("t_type", last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("attributed",
        col("t_us").isNotNull && col("us") - col("t_us") <= dayUs)
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("value_cents"),
        when(col("attributed"), col("t_id")).otherwise(-1L)
          .as("touch_event_id"),
        when(col("attributed"), col("t_type")).otherwise("none")
          .as("touch_type"),
        when(col("attributed"),
          round((col("us") - col("t_us")).cast("double") / 1e6, 6))
          .as("lag_sec"))
      .orderBy(col("event_id"))
  }

  /** Markov transition matrix (e19): the behavioral model behind
    * next-action prediction and funnel design — per user, each event's
    * predecessor in event-time order (`lag` over the e2 window), then
    * global (prev → next) counts and the row-normalized transition
    * probability. The probability is one half-up micro-unit integral
    * division against the row total (the v3 discipline), so the matrix
    * is bit-identical across engines and partitionings. Shape at scale:
    * one shuffle on user_id for the lag (per-task state = one user's
    * events), then the pair aggregation collapses to |types|² rows
    * map-side before the tiny final shuffle — the row-total window runs
    * over that driver-sized table, never the event log.
    */
  def e19TransitionMatrix(spark: SparkSession, dir: String): DataFrame =
    transitionMatrixOf(Tables.events(spark, dir))

  private[graft] def transitionMatrixOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    matrixOfPairs(events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .select(col("prev_type"), col("event_type").as("next_type")))
  }

  /** The count→normalize finisher over a (prev_type, next_type) pair
    * stream — shared with the streaming twin
    * ([[graft.streaming.EventStreams.transitionPairs]]), so the two
    * surfaces cannot drift in the probability arithmetic.
    */
  private[graft] def matrixOfPairs(pairs: DataFrame): DataFrame =
    matrixOfCounts(pairs
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n")))

  /** The normalize half of [[matrixOfPairs]] over an ALREADY-counted
    * (prev_type, next_type, n) table — what a live reader applies to
    * the streaming count sink
    * ([[graft.streaming.EventStreams.transitionCounts]]): O(|types|²)
    * work per refresh, never a rescan of the emitted pair stream.
    */
  private[graft] def matrixOfCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val wp = Window.partitionBy(col("prev_type"))
    counts
      .withColumn("n_from", sum(col("n")).over(wp))
      .select(col("prev_type"), col("next_type"), col("n"), col("n_from"),
        round(intDiv(col("n") * 1000000L + intDiv(col("n_from"), lit(2L)),
          col("n_from")).cast("double") / 1e6, 6).as("prob"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** Top user-path trigrams (e24): the frequent-sequence read of the
    * behavioral log — per user, every ordered TRIPLE of consecutive
    * events (the e19 lag machinery one step deeper), rolled up to the
    * global top-20 paths. Where e19's bigram matrix answers "what
    * follows X", the trigram table answers "what three-step flows
    * dominate" — the query behind funnel DISCOVERY (e5/e14 check a
    * path someone already hypothesized; this surfaces the paths worth
    * checking). Count-descending with full lexicographic tie-break so
    * the LIMIT truncates a total order.
    *
    * Shape at scale: one shuffle on user_id for the two leads (the
    * per-task state is one user's events, the e2 bound); the trigram
    * rollup collapses map-side to ≤ |types|³ rows before a tiny final
    * shuffle; the global sort runs on that driver-sized table, never
    * the event log.
    */
  def e24PathTrigrams(spark: SparkSession, dir: String): DataFrame =
    pathTrigramsOf(Tables.events(spark, dir))

  private[graft] def pathTrigramsOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
      .limit(20)
  }

  /** Inactivity/churn audit (e20): per user the recency clock every
    * retention dashboard starts from — last activity, event count, whole
    * days inactive relative to the corpus horizon (the max event time,
    * one broadcast scalar), the churn verdict at the 7-day dial and the
    * graded recency tier (active / cooling / churned) whose lower
    * boundary is live at every corpus scale. Days are one truncating
    * integral division of exact µs longs, so the verdicts are engine-
    * and order-stable. One shuffle on user_id; the horizon join
    * broadcasts a single row.
    */
  def e20ChurnTable(spark: SparkSession, dir: String): DataFrame =
    churnFromProfiles(churnProfileFrame(Tables.events(spark, dir)))

  /** Per-user recency profile — e20's incremental half, shared verbatim
    * with the streaming twin (count/max are mergeable, so the standing
    * state is O(1) per user and arrival-order-free — the e15 profile
    * split). Streamed, it is a standing asset that
    * [[churnFromProfiles]] finishes at read time, so recency degrades
    * correctly BETWEEN arrivals: the profile stores only last_us, and
    * the horizon is re-derived per read.
    */
  private[graft] def churnProfileFrame(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("us")).as("last_us"))

  /** Bounded finish of the e20 twin: verdicts over the (one-row-per-user)
    * profile asset; the horizon is recovered from the profiles (max of
    * last_us ≡ max event time), so the finisher needs nothing else.
    */
  private[graft] def churnFromProfiles(profiles: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val horizon = profiles.agg(max(col("last_us")).as("h_us"))
    profiles
      .crossJoin(broadcast(horizon))
      .select(col("user_id"), col("n_events"), col("last_us"),
        intDiv(col("h_us") - col("last_us"), lit(86400000000L))
          .as("days_inactive"))
      .withColumn("churned", col("days_inactive") >= 7L)
      .withColumn("tier", when(col("days_inactive") === 0L, "active")
        .when(col("days_inactive") < 7L, "cooling").otherwise("churned"))
      .orderBy(col("user_id"))
      .limit(3000)
  }

  /** Hour-grain event counts — e21's partials frame, the batch twin of
    * the streamed hourly asset rolled up over users (the e13/e17 split:
    * the stream maintains closed-window partials, the dashboard read is
    * a bounded finisher over them).
    */
  private[graft] def hourlyCountsFrame(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"))
      .agg(count(lit(1)).as("n"))

  /** Bounded finish of e21 over (hour, n) partials: both heatmap axes
    * are PURE INTEGER arithmetic on the hour-bucket's epoch µs
    * (day-of-week from the epoch-day count, anchored on 1970-01-01 =
    * Thursday; never an engine date function, whose week-start
    * conventions differ), and the cell share of total is one half-up
    * micro division. Accepts finer-keyed partials too (e.g. the
    * streamed per-(hour, user) asset) — the grid rollup re-aggregates
    * whatever splits the hour carries.
    */
  private[graft] def heatmapOfPartials(partials: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val dayUs = 86400000000L
    val cells = partials
      .select(unix_micros(col("hour").cast("timestamp")).as("us"), col("n"))
      .select(pmod(intDiv(col("us"), lit(dayUs)) + 4L, lit(7L)).as("dow"),
        intDiv(pmod(col("us"), lit(dayUs)), lit(3600000000L)).as("hour"),
        col("n"))
    val g = cells.groupBy(col("dow"), col("hour")).agg(sum(col("n")).as("n"))
    val tot = g.agg(sum(col("n")).as("n_total"))
    g.crossJoin(broadcast(tot))
      .select(col("dow"), col("hour"), col("n"),
        round(intDiv(col("n") * 1000000L + intDiv(col("n_total"), lit(2L)),
          col("n_total")).cast("double") / 1e6, 6).as("share"))
      .orderBy(col("dow"), col("hour"))
  }

  /** Weekly activity heatmap (e21): the day-of-week × hour-of-day event
    * grid every ops dashboard opens with — composed as hour-grain
    * partials ([[hourlyCountsFrame]], the mergeable half the stream
    * maintains) finished by the ≤168-row grid rollup
    * ([[heatmapOfPartials]], shared verbatim with the streaming twin).
    */
  def e21ActivityHeatmap(spark: SparkSession, dir: String): DataFrame =
    heatmapOfPartials(hourlyCountsFrame(Tables.events(spark, dir)))

  /** Shared session frame of e22 and its streaming twin: [[sessionStats]]
    * with the merged window's bounds as columns (start = first event,
    * end = last event + 30 min).
    */
  private[graft] def sessionFrame(events: DataFrame): DataFrame =
    sessionStats(events)
      .select(col("user_id"),
        col("sw.start").cast("timestamp_ntz").as("session_start"),
        col("sw.end").cast("timestamp_ntz").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Native session windows (e22): e2's sessions with their window
    * bounds — the merging-session aggregation Spark plans for
    * [[sessions]] (UpdatingSessions + MergingSessions exec), and the
    * same operator runs watermarked on the stream
    * ([[graft.streaming.EventStreams.nativeSessions]]). The oracle
    * replays the merge rule (a new session at a gap over 30 min) in
    * SQL, so the operator's session semantics are hash-gated against
    * DuckDB.
    */
  def e22NativeSessions(spark: SparkSession, dir: String): DataFrame =
    sessionFrame(Tables.events(spark, dir))
      .orderBy(col("user_id"), col("session_start"))
      .limit(3000)

  /** Inter-event gap percentiles (e23): per event type, the
    * distribution of the µs gap separating a user's consecutive events
    * — the latency-histogram read behind "median time between
    * sessions" and p99 engagement-lull dashboards. One user_id window
    * computes the lag; the exact `percentile` aggregate interpolates
    * with the canonical h = p·(n−1) formula both engines share (the
    * q16 precedent), over exact integer µs inputs — presentation
    * divides to seconds and rounds. The 100-TB variant swaps in
    * `approx_percentile` (mergeable t-digest, bounded memory) under
    * the q16b bounded-error gate discipline; the exact form here IS
    * the oracle twin.
    */
  def e23GapPercentiles(spark: SparkSession, dir: String): DataFrame =
    gapPercentilesOf(gapFrame(Tables.events(spark, dir)))

  /** e23's gap extraction: per user, the µs delta between consecutive
    * events, attributed to the LATER event's type. The streaming twin
    * ([[graft.streaming.EventStreams.gapFacts]]) emits the identical
    * facts from O(1) last-timestamp state per user.
    */
  private[graft] def gapFrame(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(col("event_type"), (col("us") - col("prev_us")).as("gap_us"))
  }

  /** Bounded finish of e23 over (event_type, gap_us) facts — shared
    * verbatim with the streaming read. */
  private[graft] def gapPercentilesOf(gaps: DataFrame): DataFrame =
    gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        round(expr("percentile(gap_us, 0.5)") / 1e6, 6).as("p50_gap_sec"),
        round(expr("percentile(gap_us, 0.9)") / 1e6, 6).as("p90_gap_sec"),
        round(expr("percentile(gap_us, 0.99)") / 1e6, 6).as("p99_gap_sec"))
      .orderBy(col("event_type"))

  /** Automation detection by inter-event regularity (e26): humans
    * arrive bursty, schedulers arrive metronomic — the coefficient of
    * variation of a user's inter-event gaps separates them (the
    * classic bot heuristic behind crawler/abuse filters, and a
    * training-data curation read: machine-generated event streams
    * poison behavioral corpora). Per user with ≥ 20 events, the gap
    * moments accumulate as EXACT integers (count, Σgap, Σgap² in
    * whole seconds) and the cv < ½ verdict is one integer
    * cross-multiplication — 4·(n·Σx² − S²) < S², i.e. var < mean²/4 —
    * decided in DECIMAL(38,0) (n·Σx² wraps a Long once a hot user
    * passes ~10⁶ year-scale gaps; DuckDB promotes to HUGEINT). The
    * reported cv divides after one IEEE sqrt of the same exact
    * integer, so both engines round the same double.
    *
    * Scale: one user_id window for the lag (the e23 shuffle, reused
    * shape), then a partial-aggregating groupBy on the same key —
    * nothing exceeds 3 longs per user. Streaming twin:
    * [[graft.streaming.EventStreams.fullGapFacts]] feeds the same
    * finisher from O(1) last-timestamp state per user.
    */
  def e26BotRegularity(spark: SparkSession, dir: String): DataFrame =
    botRegularityOf(userGapFrame(Tables.events(spark, dir)))

  /** e26's gap extraction: per-user µs deltas, keyed by user — the
    * e23 [[gapFrame]] with the user retained instead of the type. */
  private[graft] def userGapFrame(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(col("user_id"), (col("us") - col("prev_us")).as("gap_us"))
  }

  /** Bounded finish of e26 over (user_id, gap_us) facts — shared with
    * the streaming read. Presentation-gated ([[botRegularityCoreOf]] +
    * the 2000-row user_id cut). */
  private[graft] def botRegularityOf(gaps: DataFrame): DataFrame =
    botRegularityCoreOf(gaps).orderBy(col("user_id")).limit(2000)

  /** e26's UNGATED verdict table — every qualifying user, no
    * presentation limit. Compositions (e30) must read this, not the
    * gated view: nesting two independently-LIMITed legs truncates by
    * user_id, not by risk, so on a corpus with > 2000 users a bot past
    * the id cut would silently vanish from the composed triage. */
  private[graft] def botRegularityCoreOf(gaps: DataFrame): DataFrame = {
    // Σgap² accumulates in DECIMAL(38,0) from the first multiply: a
    // Long accumulator wraps silently on an extreme-skew user
    // (year-scale gaps × many events) exactly where DuckDB's
    // HUGEINT-promoted sum errors on its BIGINT cast instead —
    // wrapped-verdict-vs-hard-failure cross-engine divergence. With the
    // decimal accumulator the verdict math never touches a Long; only
    // the presentation cast below can overflow, and there both engines
    // fail hard (ANSI cast ↔ DuckDB CAST), neither wraps.
    val gapDec = col("gap_s").cast("decimal(19,0)")
    val agg = gaps
      .withColumn("gap_s", expr("gap_us div 1000000"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).as("sum_gap_s"),
        sum((gapDec * gapDec).cast("decimal(38,0)")).as("sq_dec"))
      .filter(col("n_gaps") >= 19) // ≥ 20 events ⇒ ≥ 19 gaps
    val n = col("n_gaps").cast("decimal(38,0)")
    val s = col("sum_gap_s").cast("decimal(38,0)")
    val q = col("sq_dec")
    // sum = 0 with ≥19 gaps means EVERY gap floored below one second —
    // sub-second automation, the most regular stream possible; the cv
    // compare needs s > 0, so that case is flagged directly (a whole-
    // second moment table would otherwise be blind to fast bots)
    agg.select(col("user_id"), col("n_gaps"), col("sum_gap_s"),
      col("sq_dec").cast("long").as("sum_sq_gap_s"),
      ((col("sum_gap_s") > 0 && (lit(4) * (n * q - s * s) < s * s)) ||
        col("sum_gap_s") === 0).as("regular"),
      when(col("sum_gap_s") > 0,
        round(sqrt((n * q - s * s).cast("double")) /
          col("sum_gap_s").cast("double"), 6)).as("cv"))
  }

  /** Stationary behavior profile (e28): the long-run occupancy of the
    * e19 transition matrix — where user behavior settles if the
    * observed dynamics keep running (the steady-state read product
    * teams put next to the raw matrix: "at equilibrium, X% of actions
    * are purchases"). Three unrolled power-iteration steps π ← πP from
    * the uniform start — the v12 fixed-depth discipline that keeps an
    * iterative estimator oracle-expressible. EVERYTHING is exact
    * integer arithmetic: the matrix entries are e19's half-up
    * micro-probabilities, π carries in micro units, each step's mass
    * products accumulate in DECIMAL(38,0) and renormalize by one
    * half-up integral division (dangling next-types that never emit
    * re-inject their mass through the renormalizer, the PageRank
    * convention). |types| is small by nature, so each step is a
    * broadcast join over the persisted matrix — the corpus is touched
    * exactly once, by e19's pair extraction.
    */
  def e28StationaryProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    import spark.implicits._
    // r17: the three unrolled π ← πP steps run DRIVER-SIDE over the
    // collected ≤|types|² matrix — the e31 removal-effect finisher's
    // pattern (guide §1.2: the distributed corpus pass is e19's pair
    // extraction; the iteration state is quantizer-sized, and the
    // former per-step join + groupBy + localCheckpoint paid ~3 jobs ×
    // 2 shuffles to move a ≤25-row frame). Identical integer
    // arithmetic: BigInt products and truncating half-up divisions
    // mirror the DECIMAL(38,0) sums and LEGACY intDiv of the
    // distributed spelling term for term, on the same key sets.
    val mat = transitionMatrixOf(Tables.events(spark, dir))
      .select(col("prev_type"), col("next_type"),
        intDiv(col("n") * 1000000L + intDiv(col("n_from"), lit(2L)),
          col("n_from")).as("p_micro"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val types = mat.map(_._1).distinct
    val cnt = types.length.toLong
    var pi: Map[String, Long] =
      types.map(t => t -> (1000000L + cnt / 2) / cnt).toMap
    for (_ <- 1 to 3) {
      val x = mat.filter(r => pi.contains(r._1))
        .groupBy(_._2)
        .map { case (next, rows) =>
          next -> rows.map(r => BigInt(pi(r._1)) * r._3).sum }
      val z = x.values.sum
      pi = x.map { case (t, xi) => t -> ((xi * 1000000L + z / 2) / z).toLong }
    }
    pi.toSeq.map { case (t, m) => (t, m, m.toDouble / 1e6) }
      .toDF("event_type", "pi_micro", "stationary")
      .orderBy(col("event_type"))
  }

  /** Behavioral-diversity entropy (e29): Shannon entropy of each user's
    * event-type distribution — the single-note-actor signal that
    * complements e26's timing regularity (a scraper clicks one thing
    * metronomically: LOW type entropy AND low gap cv; a human browses:
    * high both). H = ln n − (Σ c·ln c)/n with each per-(user, type)
    * count's ln snapped to integer micro-nats (the t27 discipline), so
    * the per-user accumulation is exact under any partitioning and only
    * the final presentation subtracts doubles. One shuffle on the
    * (user, type) key, then a user-key partial agg — the e26 cost
    * class.
    */
  def e29TypeEntropy(spark: SparkSession, dir: String): DataFrame =
    typeEntropyOf(Tables.events(spark, dir))
      .orderBy(col("user_id")).limit(2000)

  /** e29's UNGATED entropy table — every user, no presentation limit;
    * the composition-safe leg (see [[botRegularityCoreOf]]). */
  private[graft] def typeEntropyOf(events: DataFrame): DataFrame = {
    def lnMicro(c: Column): Column =
      round(log(c.cast("double")) * 1e6).cast("long")
    events
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("c") * lnMicro(col("c"))).as("sclnc"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        round(log(col("n_events").cast("double")) -
          col("sclnc").cast("double") / (col("n_events") * lit(1e6)), 6)
          .as("type_entropy"))
  }

  /** Bot triage (e30): the composed verdict the abuse pipeline
    * actually consumes — metronomic timing (e26's cv < ½) AND
    * single-note behavior (e29's type entropy < ½ nat) ⇒ bot. Either
    * signal alone false-positives (shift workers are regular; casual
    * readers are single-note); the conjunction is the standard triage
    * cut. Composed from the UNGATED finishers
    * ([[botRegularityCoreOf]] ⋈ [[typeEntropyOf]]) with ONE 2000-row
    * presentation limit after the join — nesting the two
    * independently-LIMITed legs would truncate by user_id rather than
    * risk, silently dropping any bot whose id falls past either leg's
    * cut on a > 2000-user corpus. Entropy threshold compares the gated
    * round-6 double against a literal, so the verdict cannot drift
    * cross-engine.
    */
  def e30BotTriage(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    botRegularityCoreOf(userGapFrame(events))
      .select(col("user_id"), col("n_gaps"), col("regular"), col("cv"))
      .join(typeEntropyOf(events)
        .select(col("user_id"), col("n_events"), col("n_types"),
          col("type_entropy")), Seq("user_id"))
      .select(col("user_id"), col("n_events"), col("regular"), col("cv"),
        col("type_entropy"),
        (col("type_entropy") < 0.5).as("low_entropy"),
        (col("regular") && col("type_entropy") < 0.5).as("bot"))
      .orderBy(col("user_id"))
      .limit(2000)
  }

  /** Markov removal-effect attribution (e31): the data-driven
    * multi-touch attribution model — each configured channel's credit
    * is how much CONVERSION DISAPPEARS when the channel is removed
    * from the behavior chain (paths through it fail; no
    * renormalization — the standard removal-effect convention).
    * Conversion = probability of reaching the absorbing 'purchase'
    * state within 4 steps of e19's transition matrix, starting from
    * the observed first-event distribution; the channel list is
    * CONFIG (the four non-conversion types), exactly as production
    * attribution configures its channels.
    *
    * Exactness: the matrix entries are e19's half-up micro
    * probabilities; the chain iterates in micro units with one
    * half-up division per (state, step); effects and shares are
    * half-up micro divisions — integer end to end, so the oracle's
    * fully-unrolled CTE pyramid (5 chains × 4 steps, the v12/e28
    * fixed-depth discipline) lands on identical bits. The chain math
    * itself runs DRIVER-SIDE over the collected ≤|types|² matrix —
    * the corpus-sized work (pair extraction, first-event ranking)
    * stays distributed, and the finisher consumes a bounded
    * quantizer-sized aggregate, the KMeans-centroid pattern.
    */
  def e31MarkovAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    import spark.implicits._
    val channels = Seq("click", "error", "signup", "view")
    val mat = transitionMatrixOf(Tables.events(spark, dir))
      .select(col("prev_type"), col("next_type"),
        intDiv(col("n") * 1000000L + intDiv(col("n_from"), lit(2L)),
          col("n_from")).as("p_micro"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val fe = Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val types = (mat.map(_._1) ++ mat.map(_._2)).distinct
    val p = mat.map { case (a, b, m) => (a, b) -> m }.toMap
    val nUsers = fe.map(_._2).sum
    val sAll = fe.map { case (t, n) =>
      t -> (n * 1000000L + nUsers / 2) / nUsers }.toMap
    def conv(removed: Option[String]): Long = {
      var c: Map[String, Long] = types.map(t =>
        t -> (if (t == "purchase") 1000000L else 0L)).toMap
      (1 to 4).foreach { _ =>
        c = types.map { j =>
          j -> (if (j == "purchase") 1000000L
            else if (removed.contains(j)) 0L
            else {
              val s = types.filter(l => !removed.contains(l))
                .map(l => p.getOrElse((j, l), 0L) * c(l)).sum
              (s + 500000L) / 1000000L
            })
        }.toMap
      }
      val tot = types.filter(t => !removed.contains(t))
        .map(t => sAll.getOrElse(t, 0L) * c(t)).sum
      (tot + 500000L) / 1000000L
    }
    val base = conv(None)
    val effects = channels.map { x =>
      val cx = conv(Some(x))
      val eff = if (base > 0) 1000000L - (cx * 1000000L + base / 2) / base
        else 0L
      (x, cx, eff)
    }
    val sumEff = effects.map(_._3).sum
    effects.map { case (x, cx, eff) =>
      (x, base.toDouble / 1e6, cx.toDouble / 1e6, eff.toDouble / 1e6,
        if (sumEff > 0)
          Some(((eff * 1000000L + sumEff / 2) / sumEff).toDouble / 1e6)
        else None)
    }.toDF("event_type", "base_conv", "removed_conv", "removal_effect",
      "attribution_share")
      .orderBy(col("event_type"))
  }

  /** Session-level event-type co-occurrence with lift (e25): which
    * behaviors happen TOGETHER in one visit — the association-rule
    * read of the e2 sessions (market-basket over sessions instead of
    * q32's orders). Each session contributes its DISTINCT type set;
    * pairs are counted across sessions and scored with lift =
    * P(a,b)/(P(a)·P(b)) = support·n_sessions/(cnt_a·cnt_b), snapped
    * half-up to micro-units as ONE integral division (the q28 share
    * discipline) so both engines agree bit-for-bit. Scale: the
    * session self-join fans out ≤ |event types| rows per session
    * (bounded at 5 here), the pair key space is C(|types|,2), and the
    * two scalar aggregates (n_sessions, per-type counts) broadcast —
    * the only real shuffle keys on user_id for the session window.
    */
  def e25SessionPairs(spark: SparkSession, dir: String): DataFrame =
    pairLiftOfSets(sessionTypeSets(Tables.events(spark, dir)))

  /** Each e2 session's sorted DISTINCT event-type set, `types`, keyed on
    * (user_id, sw) — what e25 scores. The streaming producer
    * [[graft.streaming.EventStreams.sessionTypeFacts]] explodes the same
    * frame into one fact per type, and [[sessionPairLiftOf]] collapses
    * the facts back to sets, so replay ≡ batch is provable on the
    * shared finisher.
    */
  private[graft] def sessionTypeSets(events: DataFrame): DataFrame =
    sessions(events, typeSet)

  /** The pair/lift finisher over (skey, event_type) facts: one skey
    * shuffle collapses each session to its sorted type set. */
  private[graft] def sessionPairLiftOf(st: DataFrame): DataFrame =
    pairLiftOfSets(st.groupBy(col("skey")).agg(typeSet))

  private def typeSet: Column =
    array_sort(collect_set(col("event_type"))).as("types")

  /** Pair-support + lift over per-session sorted type sets (`types`). */
  private[graft] def pairLiftOfSets(sessionSets: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    // r18 (guide §2.3/§2.4 — the q32 pattern): each session is its
    // sorted DISTINCT type set (bounded by the event-type vocabulary),
    // pairs generate MAP-SIDE from the sorted array (ta < tb by
    // construction — the old self-join condition), and n_sessions /
    // per-type counts aggregate over the SAME held frame — where the
    // former spelling paid a (skey, type) distinct exchange, a skey
    // self-join, and a second skey distinct for the session count.
    val sets = sessionSets.select(col("types")).held()
    sets.count() // share the sessionize pass across the three reads
    val totals = sets.agg(count(lit(1)).as("n_sessions"))
    val typeCounts = sets.select(explode(col("types")).as("event_type"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    val pairs = sets
      .select(col("types"), posexplode(col("types")).as(Seq("i", "ta")))
      .select(col("ta"),
        explode(slice(col("types"), col("i") + 2, size(col("types"))))
          .as("tb"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("support"))
    // lift arithmetic in DECIMAL(38,0): support·n_sessions·10⁶ wraps a
    // Long once sessions pass ~10⁸ (a 100-TB event lake does), and the
    // DuckDB twin promotes to HUGEINT.
    val den = (col("cnt_a").cast("decimal(38,0)") * col("cnt_b"))
    pairs
      .join(broadcast(typeCounts.select(col("event_type").as("ta"),
        col("cnt").as("cnt_a"))), Seq("ta"))
      .join(broadcast(typeCounts.select(col("event_type").as("tb"),
        col("cnt").as("cnt_b"))), Seq("tb"))
      .crossJoin(broadcast(totals))
      .select(col("ta"), col("tb"), col("support"),
        col("cnt_a"), col("cnt_b"),
        (intDiv(col("support").cast("decimal(38,0)") * col("n_sessions")
          * 1000000L + intDiv(den, lit(2L)), den).cast("double") / 1e6)
          .as("lift"))
      .orderBy(col("ta"), col("tb"))
  }

  /** Multi-touch model comparison (e32): first-touch, last-touch, and
    * linear attribution credited per channel over the SAME journeys,
    * side by side with each other — the model-selection table an
    * attribution team reads before standardizing on one convention
    * (e18 ships last-touch alone; e31 ships removal-effect alone; the
    * disagreement BETWEEN models is itself the product signal — a
    * channel whose first-touch share dwarfs its last-touch share is a
    * prospector, the reverse a closer). A journey is all non-purchase
    * events by the purchase's user in the 24 h before it (e18's
    * window, e9's interval-join shape: the fan-out is bounded by a
    * user's activity inside one day, never the whole history).
    *
    * Exactness: first/last are row_number picks under the exact
    * (µs, event_id) order; linear credit is one half-up micro
    * division per (purchase, channel) — m_touches/n_touches — summed
    * as longs, so per-channel totals are order-independent integers
    * end to end. Scale: one shuffle on user_id for the interval join,
    * then every aggregate keys on the 4-value channel space and
    * collapses map-side.
    */
  def e32TouchComparison(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val dayUs = 24L * 3600 * 1000 * 1000
    val ev = Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("us").as("p_us"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id").as("t_id"),
        col("event_type").as("channel"), col("us").as("t_us"))
    val journeys = purchases.join(touches, Seq("user_id"))
      .filter(col("t_us") < col("p_us") && col("t_us") >= col("p_us") - dayUs)
      .held()
    journeys.count() // three model reads share the interval join (see d3)
    val wAsc = Window.partitionBy(col("p_id"))
      .orderBy(col("t_us"), col("t_id"))
    val wDesc = Window.partitionBy(col("p_id"))
      .orderBy(col("t_us").desc, col("t_id").desc)
    val ends = journeys
      .withColumn("rn_f", row_number().over(wAsc))
      .withColumn("rn_l", row_number().over(wDesc))
      .filter(col("rn_f") === 1 || col("rn_l") === 1)
      .groupBy(col("channel"))
      .agg(sum(when(col("rn_f") === 1, 1L).otherwise(0L)).as("n_first"),
        sum(when(col("rn_l") === 1, 1L).otherwise(0L)).as("n_last"))
    val perPurchase = journeys.groupBy(col("p_id"))
      .agg(count(lit(1)).as("n_touches"))
    val linear = journeys.groupBy(col("p_id"), col("channel"))
      .agg(count(lit(1)).as("m"))
      .join(perPurchase, Seq("p_id"))
      .select(col("channel"),
        intDiv(col("m") * 1000000L + intDiv(col("n_touches"), lit(2L)),
          col("n_touches")).as("lm"))
      .groupBy(col("channel"))
      .agg(sum(col("lm")).as("linear_micro"))
    // linear is the base: every channel with ANY touch credit has a
    // linear row, but a channel can go its whole life without ever
    // being a journey's first or last touch — left-join, not inner
    linear.join(ends, Seq("channel"), "left")
      .select(col("channel"),
        coalesce(col("n_first"), lit(0L)).as("n_first"),
        coalesce(col("n_last"), lit(0L)).as("n_last"),
        col("linear_micro"),
        round(col("linear_micro").cast("double") / 1e6, 6).as("linear_credit"))
      .orderBy(col("channel"))
  }

  /** Hour-of-day uniformity test (e33): per event type, the χ²
    * goodness-of-fit statistic of the 24-bin hour histogram against a
    * uniform profile — the behavioral-seasonality screen that separates
    * human traffic (strong diurnal signature → astronomically large χ²)
    * from schedulers and replayed logs (flat profile → χ² near the
    * 23-df expectation), complementing e26/e29/e30's per-user bot
    * signals with a population-level one. EXACT integer end to end: with
    * observed counts O_h and total n, χ² = Σ(O_h − n/24)²/(n/24)
    * rearranges to Σ(24·O_h − n)² / (24·n), so the statistic is one
    * half-up micro division of two exact integers; the α = 0.001
    * verdict compares micro-units against the literal χ²₀.₉₉₉(23) =
    * 49.728 critical value — no distribution function crosses an
    * engine. Shape at scale: one partial-agg groupBy to ≤ |types|·24
    * rows, then a |types|-row rollup; the squared term promotes to
    * DECIMAL(38,0) before summing because (24·O)² wraps a Long once a
    * type logs ~4·10⁸ events in one hour at lake scale.
    */
  def e33HourUniformity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val byHour = Tables.events(spark, dir)
      .select(col("event_type"), hour(col("ts")).cast("long").as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("o"))
    // absent hours contribute (0 − n/24)² too: fan each type across a
    // literal 24-hour frame and left-join the observed counts
    val frame = byHour.select(col("event_type")).distinct()
      .withColumn("h", explode(lit((0L until 24L).toArray)))
    val full = frame.join(byHour, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("o"), lit(0L)).as("o"))
    // dev promotes to decimal BEFORE the square — (24·O − n)² wraps a
    // Long once a type logs ~4·10⁸ events in one hour, and a Long-space
    // square would wrap exactly where the promotion matters (the DuckDB
    // oracle multiplies HUGEINTs, so the gate would diverge)
    val dev = col("o").cast("decimal(38,0)") * 24L -
      col("n").cast("decimal(38,0)")
    full
      .withColumn("n", sum(col("o")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        sum(dev * dev).as("ss"))
      .withColumn("chi2_micro", intDiv(col("ss") * 1000000L
          + intDiv(col("n_events").cast("decimal(38,0)") * 24L, lit(2L)),
        col("n_events").cast("decimal(38,0)") * 24L).cast("long"))
      .select(col("event_type"), col("n_events"),
        round(col("chi2_micro").cast("double") / 1e6, 6).as("chi2"),
        (col("chi2_micro") >= 49728000L).as("non_uniform"))
      .orderBy(col("event_type"))
  }

  /** Diurnal periodicity strength (e34): per event type, the lag-24
    * autocorrelation of the hourly event-count series over the full
    * observed timeline — the sharpest population-level diurnal signal:
    * e33's χ² says the 24-bin profile is non-flat, this says the shape
    * actually REPEATS day over day (human traffic ≈ strong positive r;
    * uniform schedulers ≈ 0; replayed or constant-rate logs decorrelate).
    * Series construction: one partial-agg groupBy to (type, epoch-hour)
    * counts, a GLOBAL one-row min/max hour broadcast, and a per-type
    * explode of the hour spine with absent hours as 0 — the series is
    * timeline-bounded (|types|·|hours| rows grows with calendar time,
    * never with corpus size), so the per-type lead-24 window partition
    * is bounded for the same reason e33's 24-row frame is. The six
    * correlation moments accumulate as EXACT integers (products promote
    * to DECIMAL(38,0)/HUGEINT from the first multiply, the e26
    * discipline); r then takes the v13 route — the identical
    * num/√denx·√deny expression over the SAME exact integers on both
    * engines, the only float crossing, snapped to micro at the end.
    * Types whose series is constant on either leg (denominator 0) emit
    * defined = false with r = 0.
    */
  def e34DiurnalAutocorr(spark: SparkSession, dir: String): DataFrame =
    diurnalAutocorrOf(Tables.events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("c")))

  /** The e34 finisher over any (event_type, h, c) hourly count frame —
    * exactly the standing table the streaming ingest
    * ([[graft.streaming.EventStreams.windowedAgg]]) maintains, so the
    * live path and the batch query share every step after the count
    * (`StreamingSpec` pins replay ≡ batch through this seam).
    */
  /** The zero-filled (event_type, h, x) hourly series over the global
    * span — e34's lag-24 read and e35's lag sweep both window over this
    * ONE spine construction, so the series definition cannot fork.
    */
  private[graft] def hourSpineOf(byHour: DataFrame): DataFrame = {
    val span = byHour.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    // aliases mint fresh attribute ids so the spine→counts left join
    // can't trip self-join reference conflicts (the spine derives FROM
    // byHour; with a streamed memory-table input Spark would otherwise
    // reject the plan)
    val spine = byHour.select(col("event_type").as("et")).distinct()
      .crossJoin(broadcast(span))
      .select(col("et"), explode(sequence(col("h0"), col("h1"))).as("sh"))
    spine.as("sp").join(byHour.as("bh"),
        col("sp.et") === col("bh.event_type") && col("sp.sh") === col("bh.h"),
        "left")
      .select(col("sp.et").as("event_type"), col("sp.sh").as("h"),
        coalesce(col("bh.c"), lit(0L)).as("x"))
  }

  private[graft] def diurnalAutocorrOf(byHour: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val full = hourSpineOf(byHour)
    val wLead = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = full.withColumn("y", lead(col("x"), 24).over(wLead))
      .filter(col("y").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
    val num = col("n_pairs") * col("sxy") - col("sx") * col("sy")
    val denx = col("n_pairs") * col("sxx") - col("sx") * col("sx")
    val deny = col("n_pairs") * col("syy") - col("sy") * col("sy")
    m.select(col("event_type"), col("n_pairs"),
        (denx > 0 && deny > 0).as("defined"),
        when(denx > 0 && deny > 0,
          round(num.cast("double") * 1e6
            / (sqrt(denx.cast("double")) * sqrt(deny.cast("double"))))
            .cast("long"))
          .otherwise(lit(0L)).as("r_micro"))
      .withColumn("r24", round(col("r_micro").cast("double") / 1e6, 6))
      .withColumn("diurnal", col("defined") && col("r_micro") >= 300000L)
      .orderBy(col("event_type"))
  }

  /** Periodicity signature sweep (e35): e34's autocorrelation at lags
    * {1, 12, 24, 168} hours — the four lags that separate traffic
    * shapes a single lag can't: smooth drift (high r@1 only), half-day
    * split shifts (r@12), circadian users (r@24), weekly business
    * cycles (r@168 above r@24). The p28/d33 sweep discipline on the
    * events side: ONE [[hourSpineOf]] pass, all four lead columns over
    * the SAME per-type window spec (one Window operator, one exchange),
    * then a generator explode stacks (lag, x, y) pairs and the e34
    * moment algebra runs per (type, lag) — the corpus is scanned once
    * regardless of how many lags are audited. Exactness is e34's:
    * integer moments, the single shared float crossing per row.
    */
  def e35LagSweep(spark: SparkSession, dir: String,
      lags: Seq[Int] = Seq(1, 12, 24, 168)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val full = hourSpineOf(Tables.events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("c")))
    val wLead = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val withLeads = lags.foldLeft(full) { (df, l) =>
      df.withColumn(s"y$l", lead(col("x"), l).over(wLead))
    }
    val stacked = withLeads
      .select(col("event_type"), col("x"),
        explode(array(lags.map(l =>
          struct(lit(l.toLong).as("lag"), col(s"y$l").as("y"))): _*))
          .as("p"))
      .select(col("event_type"), col("p.lag").as("lag"), col("x"),
        col("p.y").as("y"))
      .filter(col("y").isNotNull)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = stacked.groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
    val num = col("n_pairs") * col("sxy") - col("sx") * col("sy")
    val denx = col("n_pairs") * col("sxx") - col("sx") * col("sx")
    val deny = col("n_pairs") * col("syy") - col("sy") * col("sy")
    m.select(col("event_type"), col("lag"), col("n_pairs"),
        (denx > 0 && deny > 0).as("defined"),
        when(denx > 0 && deny > 0,
          round(num.cast("double") * 1e6
            / (sqrt(denx.cast("double")) * sqrt(deny.cast("double"))))
            .cast("long"))
          .otherwise(lit(0L)).as("r_micro"))
      .withColumn("r", round(col("r_micro").cast("double") / 1e6, 6))
      .orderBy(col("event_type"), col("lag"))
  }

  /** Inter-event gap distribution (e36): per event type, the power-of-
    * two histogram of the gap (in whole seconds) between a user's
    * consecutive events, with half-up shares — e23 reads three
    * percentile points off this distribution; e36 is the full shape the
    * bot/batching screens actually look at (sub-second spikes = scripted
    * bursts, a day-scale mode = humans returning; one distribution per
    * type makes the contrast readable). COMPOSES the shared
    * [[gapFrame]] extraction (one user-keyed lag pass, the same facts
    * the streaming gapFacts twin emits) and d32's generated CASE ladder
    * — no log2 float crossing; the share's per-type total rides a
    * window over the ≤ |types|·buckets aggregate (the e33 bounded-frame
    * argument). Zero-gap pairs (same-second arrivals) land in the
    * bucket_lo = 1 bucket with everything under 2 s.
    */
  def e36GapHistogram(spark: SparkSession, dir: String): DataFrame =
    gapHistogramOf(gapFrame(Tables.events(spark, dir)))

  /** The e36 histogram finisher over a (event_type, gap_us) fact frame
    * — shared VERBATIM with the streaming twin (the e23
    * `gapPercentilesOf` split: [[graft.streaming.EventStreams.
    * fullGapFacts]] emits the same facts at ingest, and the dashboard
    * re-reads this finisher over the fact sink without revisiting raw
    * events; `StreamingSpec` pins replay ≡ batch).
    */
  private[graft] def gapHistogramOf(gaps: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val g = gaps
      .select(col("event_type"),
        expr(graft.queries.TextDedup.pow2CaseSql("(gap_us div 1000000)"))
          .cast("long").as("bucket_lo"))
      .groupBy(col("event_type"), col("bucket_lo"))
      .agg(count(lit(1)).as("n_gaps"))
    g.withColumn("n_type", sum(col("n_gaps")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))))
      .select(col("event_type"), col("bucket_lo"), col("n_gaps"),
        round(intDiv(col("n_gaps") * 1000000L
            + intDiv(col("n_type"), lit(2L)),
          col("n_type")).cast("double") / 1e6, 6).as("share"))
      .orderBy(col("event_type"), col("bucket_lo"))
  }

  /** Robust value-outlier triage (e37): per event type, median/MAD of
    * the `value` payload and the count of |v − med| > 3·MAD outliers —
    * the screen a metrics pipeline runs before trusting aggregates
    * (mean/stddev-based z-scores are themselves corrupted by the
    * outliers they hunt; median/MAD is the standard robust pair). Two
    * bounded passes: medians per type (the e23 percentile idiom), MAD
    * from the absolute deviations against the BROADCAST median table,
    * then the outlier verdict as an integer micro comparison —
    * deviations and MAD snap to micro units first, so no float
    * inequality crosses an engine at the 3×-boundary. Output is one
    * row per type with a half-up outlier share.
    */
  def e37ValueOutliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val v = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
      .held()
    v.count() // eager: median pass + deviation pass both read it
    val dev = v.join(broadcast(valueMedianOf(v)), Seq("event_type"))
      .select(col("event_type"), col("med"), deviationMicro)
      .held()
    dev.count() // eager: MAD pass + verdict pass both read it
    val mad = dev.groupBy(col("event_type"))
      .agg(round(expr("percentile(dev_micro, 0.5)")).cast("long")
        .as("mad_micro"))
    val out = dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(col("med")).as("median"),
        max(round(col("mad_micro").cast("double") / 1e6, 6)).as("mad"),
        sum(when(col("dev_micro") > col("mad_micro") * 3L, 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("n_events"), col("median"), col("mad"),
        col("n_outliers"),
        round(intDiv(col("n_outliers") * 1000000L
            + intDiv(col("n_events"), lit(2L)),
          col("n_events")).cast("double") / 1e6, 6).as("outlier_share"))
      .orderBy(col("event_type"))
      .held()
    out.count() // |types| rows: pin the verdict, free the value frames
    v.unpersist(); dev.unpersist()
    out
  }

  /** Per-type median of a (event_type, value) frame — the first half of
    * e37's robust pair, split out for the calibration seam below. */
  private[graft] def valueMedianOf(v: DataFrame): DataFrame =
    v.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))

  /** e37's micro-snapped absolute deviation |value − med| — the ONE
    * spelling of the outlier distance, shared by the batch verdict and
    * the streaming alert twin so the 3×-boundary can never drift
    * between them. */
  private[graft] def deviationMicro: Column =
    round(round(abs(col("value") - col("med")), 6) * 1e6)
      .cast("long").as("dev_micro")

  /** The (event_type, med, mad_micro) calibration table e37 derives —
    * the BROADCAST side of the streaming outlier-alert twin
    * ([[graft.streaming.EventStreams.valueOutlierAlerts]]): a
    * production monitor recomputes this per release/day batch-side and
    * ships it to the ingest stream, which flags arrivals in real time
    * against yesterday's robust calibration (medians are not
    * streamable; the 3·MAD verdict is). |types| rows, so the broadcast
    * is free at any corpus scale.
    */
  private[graft] def valueMedMad(spark: SparkSession,
      dir: String): DataFrame = {
    val v = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val med = valueMedianOf(v)
    val mad = v.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), deviationMicro)
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(dev_micro, 0.5)")).cast("long")
        .as("mad_micro"))
    med.join(mad, Seq("event_type"))
  }

  /** The UNSCOPED registry — plan-inspection specs read this so
    * building a frame never executes it; every external surface goes
    * through [[all]], whose entries run under [[QueryScope.scoped]]
    * (held intermediates park at scope exit and die at the next gated
    * call or [[QueryScope.releaseAll]] — r15 cache hygiene).
    */
  private[graft] val raw: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e37_value_outliers" -> (e37ValueOutliers _),
    "e36_gap_histogram" -> (e36GapHistogram _),
    "e35_lag_sweep" -> ((s: SparkSession, d: String) => e35LagSweep(s, d)),
    "e34_diurnal_autocorr" -> (e34DiurnalAutocorr _),
    "e33_hour_uniformity" -> (e33HourUniformity _),
    "e32_touch_comparison" -> (e32TouchComparison _),
    "e25_session_pairs" -> (e25SessionPairs _),
    "e26_bot_regularity" -> (e26BotRegularity _),
    "e27_nearest_asof" -> (e27NearestAsof _),
    "e28_stationary_profile" -> (e28StationaryProfile _),
    "e29_type_entropy" -> (e29TypeEntropy _),
    "e30_bot_triage" -> (e30BotTriage _),
    "e31_markov_attribution" -> (e31MarkovAttribution _),
    "e23_gap_percentiles" -> (e23GapPercentiles _),
    "e19_transition_matrix" -> (e19TransitionMatrix _),
    "e24_path_trigrams" -> (e24PathTrigrams _),
    "e20_churn_table" -> (e20ChurnTable _),
    "e21_activity_heatmap" -> (e21ActivityHeatmap _),
    "e22_native_sessions" -> (e22NativeSessions _),
    "e17_anomaly_hours" -> (e17AnomalyHours _),
    "e18_attribution" -> (e18Attribution _),
    "e13_decayed_score" -> (e13DecayedScore _),
    "e14_timed_funnel" -> (e14TimedFunnel _),
    "e15_rfm_segments" -> (e15RfmSegments _),
    "e16_activity_streaks" -> (e16ActivityStreaks _),
    "e1_window_agg" -> (e1WindowAgg _),
    "e10_cohort_retention" -> (e10CohortRetention _),
    "e11_gap_fill" -> (e11GapFill _),
    "e2_sessionize" -> (e2Sessionize _),
    "e3_json_extract" -> (e3JsonExtract _),
    "e4_top_users" -> (e4TopUsers _),
    "e4b_windowed_top_users" -> (e4bWindowedTopUsers _),
    "e5_funnel" -> (e5Funnel _),
    "e6_asof_join" -> (e6AsofJoin _),
    "e7_range_count" -> (e7RangeCount _),
    "e9_interval_join" -> (e9IntervalJoin _),
    "e12_unconverted_views" -> (e12UnconvertedViews _),
    "e8_approx_users" -> (e8ApproxUsers _),
  )

  /** Every gated entry runs under a [[QueryScope.scoped]] cache
    * scope: held intermediates park at scope exit and die at the next
    * gated call or `QueryScope.releaseAll()` (r15 cache hygiene).
    */
  val all: Map[String, (SparkSession, String) => DataFrame] =
    QueryScope.scopedAll(raw)
}
