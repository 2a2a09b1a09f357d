package graft

import graft.queries.Events
import graft.streaming.EventStreams
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  /** The file stream source wants a directory; the harness table is a
    * single parquet file — stage it into a temp dir.
    */
  lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streaming windowed agg equals the batch twin") {
    import spark.implicits._
    val stream = EventStreams.readEvents(spark, streamDir)
    // append-mode windows only emit below the watermark; complete mode
    // over the static file emits everything — compare against batch
    val q = EventStreams.windowedAgg(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName("win_agg")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("win_agg")
      .select($"hour", $"event_type", $"n", $"sum_value")
      .collect().map(_.toSeq).toSet
    val batch = Events.e1WindowAgg(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streaming windowed top-users equals the per-window batch rank (e4 twin)") {
    import org.apache.spark.sql.functions._
    val stream = EventStreams.readEvents(spark, streamDir)
    val q = EventStreams.windowedUserCounts(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName("user_counts")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = EventStreams.topUsersPerWindow(spark.table("user_counts"), k = 5)
      .collect().map(_.toSeq).toSet
    // batch reference: identical per-(hour, type) counting + salted rank
    val counts = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"),
        col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val batch = EventStreams.topUsersPerWindow(counts, k = 5)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streaming approx distinct users matches batch sketch exactly, exact count within 5% (e8 twin)") {
    val stream = EventStreams.readEvents(spark, streamDir)
    val q = EventStreams.approxUsersStream(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName("approx_users")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("approx_users")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = Events.e8ApproxUsers(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // HLL++ register-merge is order-invariant → stream estimate ≡ batch
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // and the sketch is honest: within the 2% sketch's 5% envelope of exact
    val exact = Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.countDistinct("user_id").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, d) =>
      val est = streamed(t)._1
      assert(math.abs(est - d).toDouble / d < 0.05, s"$t: est=$est exact=$d")
    }
  }

  test("streaming JSON extraction equals the batch twin (e3)") {
    import spark.implicits._
    val stream = EventStreams.readEvents(spark, streamDir)
    val q = Events.jsonExtractFrame(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName("json_extract")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("json_extract")
      .select($"event_type", $"n", $"sum_k", $"min_k", $"max_k")
      .collect().map(_.toSeq).toSet
    val batch = Events.e3JsonExtract(spark, dir).collect().map(_.toSeq).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streaming timed funnel finalizes at the horizon and equals batch e14 (two-burst)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L // ms
    def ts(offMin: Long) = new java.sql.Timestamp(base + offMin * 60000)
    val b1 = Seq(
      (1L, 10L, "view", ts(0)), (1L, 11L, "click", ts(60)),
      (2L, 20L, "view", ts(0)),
      (3L, 30L, "click", ts(30)),          // never views → all-false
      (4L, 40L, "click", ts(90)))          // view arrives LATER, earlier ts
    val b2 = Seq(
      (1L, 12L, "purchase", ts(120)),      // converts: ttc 7200 s
      (2L, 21L, "click", ts(1500)),        // 25 h after view — deadline bites
      (2L, 22L, "purchase", ts(1560)),
      (4L, 41L, "view", ts(45)))           // late-but-in-watermark earlier view
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val q = EventStreams.timedFunnel(
        mem.toDS().toDF("user_id", "event_id", "event_type", "ts")
          .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
          .as[EventStreams.TypeIn])
      .writeStream.outputMode("append").format("memory")
      .queryName("timed_funnel").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      assert(spark.table("timed_funnel").count() == 0,
        "open horizons must withhold verdicts")
      // two sentinel batches: the watermark applied in batch N is
      // computed from batch N−1's max event time
      mem.addData((9L, 90L, "view", ts(8000))); q.processAllAvailable()
      mem.addData((9L, 91L, "view", ts(16000))); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("timed_funnel")
      .filter(col("user_id") =!= 9L).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), if (r.isNullAt(4)) -1.0 else r.getDouble(4)))).toMap
    val batch = graft.queries.Events.e14Of(
        (b1 ++ b2).toDF("user_id", "event_id", "event_type", "ts"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), if (r.isNullAt(4)) -1.0 else r.getDouble(4)))).toMap
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // the scenarios must genuinely separate: converted, deadline-missed,
    // never-viewed, and late-earlier-view-recovers-the-click
    assert(streamed(1L) == ((true, true, true, 7200.0)))
    assert(streamed(2L) == ((true, false, false, -1.0)))
    assert(streamed(3L) == ((false, false, false, -1.0)))
    assert(streamed(4L) == ((true, true, false, -1.0)))
  }

  test("streaming funnel equals the batch twin (e5)") {
    import spark.implicits._
    val stream = EventStreams.readEvents(spark, streamDir)
    val q = Events.funnelFrame(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName("funnel")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("funnel")
      .select($"user_id", $"viewed", $"clicked_after_view", $"full_funnel")
      .collect().map(_.toSeq).toSet
    val batch = Events.e5Funnel(spark, dir).collect().map(_.toSeq).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("native stream-stream interval join equals the batch twin (e9)") {
    val stream = EventStreams.readEvents(spark, streamDir)
    val q = EventStreams.intervalPairsJoin(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("interval_pairs_join")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("interval_pairs_join")
      .collect().map(_.toSeq).toSet
    val batch = Events.e9IntervalJoin(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("left-outer stream-stream join: unconverted views emit on watermark close only (e12 twin)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, unix_micros}
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L // ms
    def ts(offMin: Long) = new java.sql.Timestamp(base + offMin * 60000)
    // user 1: v100 converted by c101 (+10m); v102 (+5m) has NO click in
    // (v, v+30m] — c101 at +10m DOES convert it too (within 30m of +5m)…
    // make v102 at +40m instead so nothing follows it.
    // user 2: v200, click at +31m — outside the window, unconverted.
    val real = Seq(
      (1L, 100L, "view", ts(0)), (1L, 101L, "click", ts(10)),
      (1L, 102L, "view", ts(40)),
      (2L, 200L, "view", ts(0)), (2L, 201L, "click", ts(31)))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val q = EventStreams.unconvertedViews(
        mem.toDS().toDF("user_id", "event_id", "event_type", "ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("unconv").start()
    try {
      mem.addData(real: _*)
      q.processAllAvailable()
      // nothing emitted for the unmatched views yet: their windows are
      // still open (watermark from THIS batch applies next batch)
      val early = spark.table("unconv")
        .filter(col("click_id").isNull).count()
      assert(early == 0, s"open windows must withhold null rows, got $early")
      // sentinels push the watermark past every window — on BOTH sides:
      // the global watermark is the MIN of the view- and click-side
      // watermarks, so a view-only sentinel would leave it pinned at the
      // last real click
      mem.addData((9L, 900L, "view", ts(10000)), (9L, 902L, "click", ts(10000)))
      q.processAllAvailable()
      mem.addData((9L, 901L, "view", ts(20000)), (9L, 903L, "click", ts(20000)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("unconv")
      .filter(col("user_id") =!= 9L)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // v100 matched by c101; v102 and v200 closed unconverted
    assert(rows == Set((1L, 100L, 101L), (1L, 102L, -1L), (2L, 200L, -1L)),
      s"rows=$rows")
    // and the aggregated verdicts equal the batch twin on the same events
    val batch = graft.queries.Events.unconvertedViewsOf(
        real.toDF("user_id", "event_id", "event_type", "ts")
          .withColumn("us", unix_micros(col("ts"))))
      .select(col("view_id"), col("n_clicks_30m"), col("converted"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val streamedAgg = rows.groupBy(_._2).map { case (vid, rs) =>
      val n = rs.count(_._3 >= 0)
      (vid, n.toLong, n > 0)
    }.toSet
    assert(streamedAgg == batch, s"stream=$streamedAgg batch=$batch")
  }

  test("streaming dedup keeps one row per event_id") {
    val stream = EventStreams.readEvents(spark, streamDir)
    val q = EventStreams.dedupedStream(stream)
      .groupBy().count()
      .writeStream.outputMode("complete").format("memory")
      .queryName("dedup_count")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val n = spark.table("dedup_count").collect()(0).getLong(0)
    val distinct = graft.Tables.events(spark, dir)
      .select("event_id").distinct().count()
    assert(n == distinct)
  }

  test("streaming as-of join equals the batch twin (e6)") {
    import spark.implicits._
    val stream = EventStreams.readEvents(spark, streamDir)
      .select($"user_id", $"event_id", $"event_type", $"ts")
      .as[EventStreams.TypeIn]
    val q = EventStreams.asofViews(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("asof")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("asof")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toSet
    val batch = Events.e6AsofJoin(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streaming range-count equals the batch twin (e7)") {
    import spark.implicits._
    val stream = EventStreams.readEvents(spark, streamDir)
      .select($"user_id", $"event_id", $"event_type", $"ts")
      .as[EventStreams.TypeIn]
    val q = EventStreams.rangeViewCounts(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("range_counts")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("range_counts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Events.e7RangeCount(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  /** Runs sessionize over the given event bursts (one addData +
    * processAllAvailable per burst) and returns the emitted sessions as
    * a sorted multiset: two equal sessions stay two rows.
    */
  private def runSessions(name: String,
      bursts: Seq[Seq[EventStreams.EventIn]]): Seq[EventStreams.SessionOut] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.EventIn]
    val q = EventStreams.sessionize(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      bursts.foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(name).as[EventStreams.SessionOut].collect().toSeq
      .sortBy(s => (s.user_id, s.n_events, s.duration_sec, s.sum_value))
  }

  test("event-time sessionization: sessions close on watermark passage, and a two-burst replay equals the single-burst run") {
    import spark.implicits._
    val base = 1700000000000L
    def ev(u: Long, offMin: Long, v: Double, us: Int = 0) = {
      val ts = new java.sql.Timestamp(base + offMin * 60000)
      ts.setNanos(us * 1000)
      EventStreams.EventIn(u, ts, v)
    }
    // user 1: two sessions split by a 40-min gap; user 2: one session;
    // user 3: an exact 30-min gap, one session; user 4: 30 min + 1 µs,
    // two equal one-event sessions; user 5: +0 and +20 min, then +10
    // min, one 1200 s session; user 99 is the watermark pusher (its own
    // trailing session stays open — no later event ever moves the
    // watermark past it)
    val late = ev(5, 10, 4.0)
    val all = Seq(
      ev(1, 0, 1.0), ev(1, 5, 2.0),   // session A: 2 events, 300 s, sum 3
      ev(2, 0, 4.0),                  // session C: 1 event
      ev(3, 0, 1.0), ev(4, 0, 1.0), ev(5, 0, 1.0), ev(5, 20, 2.0),
      late,
      ev(3, 30, 2.0), ev(4, 30, 1.0, us = 1),
      ev(1, 45, 3.0),                 // session B: 1 event (40-min gap)
      ev(99, 600, 0.0))               // pushes watermark to +570 min
    val expected = Seq(
      EventStreams.SessionOut(1, 1, 0.0, 3.0),
      EventStreams.SessionOut(1, 2, 300.0, 3.0),
      EventStreams.SessionOut(2, 1, 0.0, 4.0),
      EventStreams.SessionOut(3, 2, 1800.0, 3.0),
      EventStreams.SessionOut(4, 1, 0.0, 1.0),
      EventStreams.SessionOut(4, 1, 0.0, 1.0),
      EventStreams.SessionOut(5, 3, 1200.0, 7.0))
    // replay as one burst and as historical bursts: the sessions must be
    // identical — sessions close on WATERMARK passage, not pipeline
    // wall-clock (a processing-time close fails this: trailing sessions
    // would wait 30 wall-clock minutes). The late-row replay
    // sends user 5's +10 after its +20; the permutation sends rows newest
    // first within each user, every row still above the watermark.
    val replays = Seq(
      "one burst" -> Seq(all),
      "two bursts" -> Seq(all.take(3), all.drop(3)),
      "late row" -> Seq(all.takeWhile(_ ne late), all.dropWhile(_ ne late)),
      "permuted" -> Seq(
        Seq(ev(5, 20, 2.0), ev(1, 5, 2.0)),
        Seq(late, ev(4, 0, 1.0), ev(3, 0, 1.0), ev(2, 0, 4.0), ev(1, 0, 1.0)),
        Seq(ev(5, 0, 1.0), ev(4, 30, 1.0, us = 1), ev(3, 30, 2.0)),
        Seq(ev(99, 600, 0.0), ev(1, 45, 3.0))))
    replays.zipWithIndex.foreach { case ((label, bursts), i) =>
      val got = runSessions(s"sessions_replay_$i", bursts)
      assert(got == expected, s"$label got $got")
    }
    // the batch queries over the same rows: e2 gives the same sessions,
    // and e22's operator keeps e2's > rule at the 30-minute boundary
    val tmp = java.nio.file.Files.createTempDirectory("sessions_spec")
    all.filter(_.user_id != 99).zipWithIndex
      .map { case (e, i) => (i.toLong, e.ts, e.user_id, "view", e.value, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    val e2 = Events.e2Sessionize(spark, tmp.toString).collect()
      .map(r => EventStreams.SessionOut(r.getLong(0), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
      .toSeq.sortBy(s => (s.user_id, s.n_events, s.duration_sec, s.sum_value))
    assert(e2 == expected, s"batch e2 got $e2")
    val e22 = Events.e22NativeSessions(spark, tmp.toString).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(e22.filter(_._1 == 3) == Seq((3L, 2L)), s"exact 30 min: $e22")
    assert(e22.filter(_._1 == 4) == Seq((4L, 1L), (4L, 1L)),
      s"30 min + 1 µs: $e22")
  }

  test("streamed sessions equal the batch e2 rows (sessionize twin)") {
    import spark.implicits._
    // the harness corpus plus one far-later sentinel user, whose event
    // moves the watermark past every real session so all of them close
    val events = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"value").as[EventStreams.EventIn]
      .collect().toSeq
    val sentinel = EventStreams.EventIn(-1L, new java.sql.Timestamp(
      events.map(_.ts.getTime).max + 24L * 3600 * 1000), 0.0)
    val streamed = runSessions("sessions_e2", Seq(events :+ sentinel))
      .filter(_.user_id != -1L)
      .map(s => (s.user_id, s.n_events, s.duration_sec, s.sum_value))
    val batch = Events.e2Sessionize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSeq
    // e2 keeps its first 3000 rows by (user_id, session_seq): compare
    // only the users whose sessions all fall inside that cut
    val inCut: Long => Boolean =
      if (batch.size < 3000) _ => true
      else { val edge = batch.map(_._1).max; u => u < edge }
    assert(streamed.filter(s => inCut(s._1)).sorted ==
      batch.filter(s => inCut(s._1)).sorted)
    assert(batch.count(s => inCut(s._1)) > 100)
  }

  test("streaming LOCF equals the batch twin (e11)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val in = EventStreams.readEvents(spark, streamDir)
      .select($"event_id", $"user_id", $"event_type", $"ts", $"value")
      .as[EventStreams.LocfIn]
    EventStreams.runToMemorySink(EventStreams.locfStream(in).toDF(), "locf")
    val streamed = spark.table("locf")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Long.MinValue, 0)
    val batch = graft.Tables.events(spark, dir)
      .withColumn("last_purchase",
        last(when($"event_type" === "purchase", $"value"),
          ignoreNulls = true).over(w))
      .select($"event_id", $"user_id", $"event_type", $"last_purchase")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streaming retention facts roll up to the batch cohort matrix (e10)") {
    import spark.implicits._
    val in = EventStreams.readEvents(spark, streamDir)
      .select($"user_id", $"ts").as[EventStreams.RetIn]
    EventStreams.runToMemorySink(
      EventStreams.retentionFacts(in).toDF(), "ret_facts")
    val streamed = EventStreams.retentionMatrix(spark.table("ret_facts"))
      .collect().map(r => (r.getAs[java.time.LocalDateTime](0),
        r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = Events.e10CohortRetention(spark, dir)
      .collect().map(r => (r.getAs[java.time.LocalDateTime](0),
        r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("LOCF carry and retention state survive a multi-burst replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L // ms
    def ts(offMin: Long) = new java.sql.Timestamp(base + offMin * 60000)

    // LOCF: purchase in burst 1 must be carried onto burst-2 events
    val locfMem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventStreams.LocfIn]
    val locfQ = EventStreams.locfStream(locfMem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("locf_burst").start()
    try {
      locfMem.addData(
        EventStreams.LocfIn(1, 7, "view", ts(0), Some(0.0)),
        EventStreams.LocfIn(2, 7, "purchase", ts(1), Some(42.5)))
      locfQ.processAllAvailable()
      locfMem.addData(EventStreams.LocfIn(3, 7, "click", ts(2), Some(0.0)))
      locfQ.processAllAvailable()
    } finally locfQ.stop()
    val locfOut = spark.table("locf_burst")
      .as[EventStreams.LocfOut].collect().toSet
    assert(locfOut == Set(
      EventStreams.LocfOut(1, 7, "view", None),
      EventStreams.LocfOut(2, 7, "purchase", Some(42.5)),
      EventStreams.LocfOut(3, 7, "click", Some(42.5))), s"got $locfOut")

    // retention: h0 from burst 1; the +1h and +24h facts arrive in
    // later bursts and must fire against the remembered first hour
    val retMem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventStreams.RetIn]
    val retQ = EventStreams.retentionFacts(retMem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("ret_burst").start()
    try {
      retMem.addData(EventStreams.RetIn(7, ts(5)))           // h0
      retQ.processAllAvailable()
      retMem.addData(EventStreams.RetIn(7, ts(65)))          // h0 + 1h
      retQ.processAllAvailable()
      retMem.addData(EventStreams.RetIn(7, ts(24 * 60 + 5)), // h0 + 24h
        EventStreams.RetIn(8, ts(24 * 60 + 10)))             // new cohort
      retQ.processAllAvailable()
    } finally retQ.stop()
    val h0Us = (base - java.lang.Math.floorMod(base, 3600000L)) * 1000
    val retOut = spark.table("ret_burst")
      .as[EventStreams.RetFact].collect().toSet
    assert(retOut == Set(
      EventStreams.RetFact(7, h0Us, "new"),
      EventStreams.RetFact(7, h0Us, "ret1h"),
      EventStreams.RetFact(7, h0Us, "ret24h"),
      EventStreams.RetFact(8, h0Us + 24L * 3600000000L, "new")), s"got $retOut")
  }

  test("ingest dedup admits first arrival, rejects later copies, and matches d1's hash space") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = graft.streaming.CorpusStreams
      .ingestDedup(mem.toDS().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("ingest_dedup").start()
    try {
      mem.addData((1L, "alpha beta gamma"), (2L, "delta epsilon"))
      q.processAllAvailable()
      // doc 3 is doc 1 up to the d1 normalization (case + whitespace) —
      // must be rejected by the keyed state from the earlier burst
      mem.addData((3L, "  Alpha   BETA  gamma"), (4L, "zeta eta"))
      q.processAllAvailable()
      mem.addData((5L, "delta epsilon")) // exact copy of doc 2
      q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.table("ingest_dedup")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(admitted.map(_._1).toSet == Set(1L, 2L, 4L),
      s"admitted=${admitted.map(_._1).toSet}")
    // the stream's hash space IS d1's: batch-normalizing the full corpus
    // yields exactly the admitted hash set
    val batchHashes = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"),
        (3L, "  Alpha   BETA  gamma"), (4L, "zeta eta"), (5L, "delta epsilon"))
      .toDF("doc_id", "text")
      .select(graft.functions.FastMd5.fastMd5(
        org.apache.spark.sql.functions.regexp_replace(
          org.apache.spark.sql.functions.trim(
            org.apache.spark.sql.functions.lower($"text")), "\\s+", " ")))
      .distinct().as[String].collect().toSet
    assert(admitted.map(_._2).toSet == batchHashes)
  }

  test("streaming quality admission equals the batch p4 decision row-for-row") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, (1 to 44).map(i => s"word$i").mkString(" ") + " the of and is to done"),
      (2L, "too short to pass the length gate"),
      (3L, (1 to 30).map(_ => "buy now").mkString(" ")),
      (4L, (1 to 25).map(i => s"a$i").mkString(" ")))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = graft.streaming.CorpusStreams
      .qualityAdmission(mem.toDS().toDF("doc_id", "text")
        .withColumn("lang", lit("en")))
      .writeStream.outputMode("append").format("memory")
      .queryName("quality_admission").start()
    try {
      // split across two micro-batches: the decision is stateless, so
      // batching must not matter
      mem.addData(docs.take(2): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("quality_admission")
      .collect().map(_.toSeq).toSet
    val batch = graft.queries.Ingest.admissionDecision(
        graft.queries.Ingest.admissionSignals(
          docs.toDF("doc_id", "text").withColumn("lang", lit("en"))))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed.size == 4)
    // and the mix is real: one kept, three distinct reject reasons
    val reasons = spark.table("quality_admission")
      .select(col("reject_reason")).as[String].collect().toSet
    assert(reasons == Set("kept", "too_short", "repetitive", "low_quality"))
  }

  test("streaming PII scrub equals the batch redaction row-for-row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "contact user1@example.com or call 555-0042 from 10.1.2.3"),
      (2L, "no pii in this one"),
      (3L, "double a@b.co c@d.org trailing"))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = graft.queries.Ingest
      .piiScrubOf(mem.toDS().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("pii_scrub").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("pii_scrub").collect().map(_.toSeq).toSet
    val batch = graft.queries.Ingest.piiScrubOf(docs.toDF("doc_id", "text"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"stream=$streamed")
    val counts = spark.table("pii_scrub")
      .select($"doc_id", $"n_emails", $"n_phones", $"n_ips")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(counts(1L) == ((1, 1, 1)))
    assert(counts(2L) == ((0, 0, 0)))
    assert(counts(3L) == ((2, 0, 0)))
  }

  test("streaming incremental dedup: exact gate + near-dup alerts equal the batch d13 verdicts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map("w" + _).mkString(" ")
    val standing = Seq(
      (1L, base),
      (2L, "alpha beta gamma delta five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (10L, base),                                   // exact copy of 1
      (11L, base + " tail"),                         // near dup of 1 (38/39)
      (12L, (1 to 20).map("q" + _).mkString(" ")),   // unique
      (13L, base),                                   // within-stream copy of 10
      (14L, base + "\t"),                            // trailing tab: 38/39
      (15L, "alpha beta gamma delta five six seven eight nine ten\n")) // 8/9
    // exact admission: stream-static anti join + within-stream state
    val memA = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val qa = graft.streaming.CorpusStreams
      .ingestDedupAgainst(memA.toDS().toDF("doc_id", "text"), standing)
      .writeStream.outputMode("append").format("memory")
      .queryName("incr_exact").start()
    try {
      memA.addData(arrivals.take(2): _*)
      qa.processAllAvailable()
      memA.addData(arrivals.drop(2): _*)
      qa.processAllAvailable()
    } finally qa.stop()
    val admitted = spark.table("incr_exact")
      .select(col("doc_id")).as[Long].collect().toSet
    // 10 exact-dups standing doc 1 → rejected; 13 loses to 10's
    // within-stream state even though 10 itself was rejected (the hash
    // is what's seen, matching d1's normalization space)
    assert(admitted == Set(11L, 12L, 14L, 15L), s"admitted=$admitted")

    // near-dup alerts: stream-static shingle join + streaming agg
    val memB = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val qb = graft.streaming.CorpusStreams
      .nearDupAlerts(memB.toDS().toDF("doc_id", "text"), standing)
      .writeStream.outputMode("complete").format("memory")
      .queryName("incr_alerts").start()
    try {
      memB.addData(arrivals: _*)
      qb.processAllAvailable()
    } finally qb.stop()
    val alerts = spark.table("incr_alerts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch d13 on the same tagged corpus finds the same near pairs
    val batch = graft.queries.Ingest.incrementalDedupOf(
        (standing.withColumn("is_new", org.apache.spark.sql.functions.lit(false)))
          .unionByName(arrivals.toDF("doc_id", "text")
            .withColumn("is_new", org.apache.spark.sql.functions.lit(true))))
      .filter(col("near_dup_of") >= 0)
      .select(col("doc_id"), col("near_dup_of"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(alerts.map(a => (a._1, a._2)).groupBy(_._1).view
      .mapValues(_.map(_._2).min).toMap ==
      batch.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap,
      s"alerts=$alerts batch=$batch")
    // exact copies are ALSO jaccard-1.0 alerts; the near-dup value is
    // carried exactly (38 shared / 39 union)
    assert(alerts.contains((11L, 1L, 0.974359)), s"alerts=$alerts")
    assert(alerts.contains((10L, 1L, 1.0)))
    // a trailing tab or newline is one more (empty) token, as in batch
    assert(alerts.contains((14L, 1L, 0.974359)), s"alerts=$alerts")
    assert(alerts.contains((15L, 2L, 0.888889)), s"alerts=$alerts")

    // the streaming shingle space IS the batch index's
    val streamed = graft.queries.TextDedup
      .docShingles(arrivals.toDF("doc_id", "text"))
      .select(col("doc_id"), col("shingle"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batchIdx = graft.queries.TextDedup
      .shingleIndex(arrivals.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batchIdx)
  }

  test("streaming winnow fingerprints equal the batch WIDE selection row-for-row") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // real corpus texts + crafted edges: too-short doc, leading tab,
    // trailing tab and newline (one more, empty, token)
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).limit(40)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val arrivals = corpus ++ Seq(
      (9001L, "one two"), (9002L, "\tlead tab one two three four five six"),
      (9003L, "tab ends this document with several more words\t"),
      (9004L, "newline ends this document with several more words\n"))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = graft.queries.TextDedup
      .winnowLocalSelect(mem.toDS().toDF("doc_id", "text"),
        graft.queries.TextDedup.WinnowW,
        graft.queries.TextDedup.WinnowWideHex)
      .writeStream.outputMode("append").format("memory")
      .queryName("winnow_stream").start()
    try {
      mem.addData(arrivals.take(20): _*); q.processAllAvailable()
      mem.addData(arrivals.drop(20): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("winnow_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // r14 (r13 verdict, directive 2): the ingest probe is pinned
    // against the WIDE selection asset's uncapped base — the space the
    // gated d30 contract and the standing winnowSelectionAsset live in
    // (the cap is applied standing-side, so an arriving doc's probe
    // set is the uncapped per-doc selection).
    val batch = graft.queries.TextDedup
      .winnowLocalSelect(arrivals.toDF("doc_id", "text"),
        graft.queries.TextDedup.WinnowW,
        graft.queries.TextDedup.WinnowWideHex)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"diff=${(streamed diff batch).take(3)} / ${(batch diff streamed).take(3)}")
    assert(streamed.map(_._1).contains(corpus.head._1))
    assert(!streamed.map(_._1).contains(9001L), "sub-window doc must emit nothing")
  }

  test("watermarked near-dup alerts emit once in append mode and equal the unwatermarked verdicts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map("w" + _).mkString(" ")
    val standing = Seq(
      (1L, base),
      (2L, "alpha beta gamma delta five six seven eight nine ten"))
      .toDF("doc_id", "text")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val burst1 = Seq(
      (10L, base, ts("2026-01-01 10:00:00")),               // exact → 1.0
      (11L, base + " tail", ts("2026-01-01 10:01:00")),     // near dup
      (12L, (1 to 20).map("q" + _).mkString(" "), ts("2026-01-01 10:02:00")))
    val burst2 = Seq( // 1h later: advances the watermark past burst 1
      (14L, base + " coda", ts("2026-01-01 11:00:00")))
    val burst3 = Seq( // flushes burst 2's window
      (15L, "zz yy xx", ts("2026-01-01 12:00:00")))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = graft.streaming.CorpusStreams
      .nearDupAlertsWatermarked(
        mem.toDS().toDF("doc_id", "text", "arrival_ts"), standing)
      .writeStream.outputMode("append").format("memory") // append NEEDS the watermark
      .queryName("incr_alerts_wm").start()
    try {
      mem.addData(burst1: _*); q.processAllAvailable()
      mem.addData(burst2: _*); q.processAllAvailable()
      mem.addData(burst3: _*); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("incr_alerts_wm")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // exactly once per pair across all triggers (append re-emission would
    // duplicate), and the verdicts are the unwatermarked ones
    assert(rows.size == rows.toSet.size, s"re-emitted alerts: $rows")
    assert(rows.toSet == Set(
      (10L, 1L, 1.0), (11L, 1L, 0.974359), (14L, 1L, 0.974359)),
      s"rows=$rows")
  }

  test("streaming media feature extraction equals the batch decode (m1 twin)") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    implicit val sqlCtx = spark.sqlContext
    def row(id: Long): Multimodal.MediaRow =
      if (id % 2 == 0)
        Multimodal.MediaRow(id, "image/png",
          Multimodal.MediaGen.imageBytes("png",
            (2 + id % 16).toInt, (2 + id % 12).toInt, id))
      else
        Multimodal.MediaRow(id, "video/gif",
          Multimodal.MediaGen.gifBytes(
            (2 + id % 16).toInt, (2 + id % 12).toInt, (1 + id % 4).toInt, id))
    val rows = (0L until 8L).map(row)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Multimodal.MediaRow]
    val q = graft.streaming.CorpusStreams.mediaFeatures(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("media_feats").start()
    try {
      mem.addData(rows.take(4): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(4): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("media_feats").collect().map(_.toSeq).toSet
    val batch = Multimodal.extractFeatures(rows.toDS(),
        Multimodal.ImageIoDecoder)
      .toDF().collect().map(_.toSeq).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    // the decode was real: a GIF row carries its true multi-frame count
    val frames = spark.table("media_feats")
      .filter(org.apache.spark.sql.functions.col("media_type") === "video/gif")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("n_frames"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    frames.foreach { case (id, nf) => assert(nf == 1 + id % 4, s"doc $id: $nf") }
  }

  test("streaming LM scoring equals batch t16 when the standing corpus is the train split") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // independent md5 split derivation (the PipelineOpsSpec twin) picks
    // the standing corpus exactly like t9 does
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def isTrain(text: String): Boolean = {
      val norm = text.replaceAll("^ +| +$", "")
        .toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
      Integer.parseInt(md5hex(norm).take(4), 16) % 100 < 80
    }
    val rnd = new scala.util.Random(11)
    val vocab = (1 to 20).map("v" + _)
    val docs = (1 to 60).map { i =>
      (i.toLong, (0 until (2 + rnd.nextInt(20)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val standing = docs.filter(d => isTrain(d._2)).toDF("doc_id", "text")
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val flushTs = java.sql.Timestamp.valueOf("2026-01-01 12:00:00")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = graft.streaming.CorpusStreams
      .lmXentAlerts(mem.toDS().toDF("doc_id", "text", "arrival_ts"), standing)
      .writeStream.outputMode("append").format("memory")
      .queryName("lm_alerts").start()
    try {
      mem.addData(docs.map(d => (d._1, d._2, ts0)): _*)
      q.processAllAvailable()
      mem.addData((999L, "flush doc here", flushTs)) // advances the watermark
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("lm_alerts")
      .filter(col("doc_id") =!= 999L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val batch = graft.queries.TextDedup
      .bigramLmXentOf(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(streamed == batch,
      s"stream=${streamed.size} rows, batch=${batch.size} rows; " +
        s"diff=${(streamed.toSet diff batch.toSet).take(3)}")
  }

  test("streaming CCNet bucket assignment equals batch p21 on replayed standing docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(21)
    val vocab = (1 to 25).map("w" + _)
    val langs = Seq("en", "de", "es")
    val docs = (1 to 72).map { i =>
      (i.toLong, langs(i % langs.size), (0 until (3 + rnd.nextInt(15)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val standing = docs.toDF("doc_id", "lang", "text")
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val flushTs = java.sql.Timestamp.valueOf("2026-01-01 12:00:00")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val q = graft.streaming.CorpusStreams
      .perplexityBucketAlerts(
        mem.toDS().toDF("doc_id", "lang", "text", "arrival_ts"), standing)
      .writeStream.outputMode("append").format("memory")
      .queryName("ccnet_buckets").start()
    try {
      // replay the standing docs, plus one UNSEEN doc whose tokens all
      // exist in the LM (novel arrivals get a real score, not a crash)
      mem.addData(docs.map(d => (d._1, d._2, d._3, ts0)): _*)
      mem.addData((500L, "en", vocab.take(6).mkString(" "), ts0))
      q.processAllAvailable()
      mem.addData((999L, "en", "flush doc here", flushTs))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ccnet_buckets")
      .filter(col("doc_id") =!= 999L)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    val batch = graft.queries.TextDedup
      .perplexityBucketsPerDoc(standing)
      .select(col("doc_id"), col("bucket"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // replayed docs: bucket-for-bucket identical to the batch ranking
    docs.foreach { d =>
      assert(streamed(d._1) == batch(d._1),
        s"doc ${d._1}: stream=${streamed(d._1)} batch=${batch(d._1)}")
    }
    // the novel doc got assigned SOME bucket by score
    assert(Set("head", "middle", "tail").contains(streamed(500L)))
    // each lang's replay must hit all three buckets at this size
    val byLang = docs.groupBy(_._2)
    byLang.foreach { case (_, g) =>
      assert(g.map(d => streamed(d._1)).toSet == Set("head", "middle", "tail"))
    }
  }

  test("streaming image dedup admits only novel rasters (m6 twin, incremental across formats)") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    implicit val sqlCtx = spark.sqlContext
    // standing corpus holds raster A (9×7, seed 5)
    val standing = Seq(Multimodal.MediaRow(1L, "image/png",
      Multimodal.MediaGen.imageBytes("png", 9, 7, 5L))).toDS()
    val arrivals = Seq(
      // same raster as standing, DIFFERENT container → must be rejected
      Multimodal.MediaRow(10L, "image/bmp",
        Multimodal.MediaGen.imageBytes("bmp", 9, 7, 5L)),
      // novel raster → admitted
      Multimodal.MediaRow(11L, "image/png",
        Multimodal.MediaGen.imageBytes("png", 16, 12, 123L)),
      // within-stream copy of 11's raster → loses to first arrival
      Multimodal.MediaRow(12L, "image/bmp",
        Multimodal.MediaGen.imageBytes("bmp", 16, 12, 123L)),
      // non-image rows pass through the filter, never hashed
      Multimodal.MediaRow(13L, "video/gif",
        Multimodal.MediaGen.gifBytes(4, 4, 2, 9L)))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Multimodal.MediaRow]
    val q = graft.streaming.CorpusStreams
      .imageDedupAgainst(mem.toDS(), standing)
      .writeStream.outputMode("append").format("memory")
      .queryName("img_dedup").start()
    try {
      mem.addData(arrivals.take(2): _*)
      q.processAllAvailable()
      mem.addData(arrivals.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.table("img_dedup")
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .as[Long].collect().toSet
    assert(admitted == Set(11L), s"admitted=$admitted")
  }

  test("streaming audio dedup admits only novel envelopes (m14 twin)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // driver-side envelope twin (the Round12OpsSpec formula) to pick a
    // scenario that survives testdata regeneration: two real dup groups
    def v(id: Long, i: Int): Long =
      ((id % 65536L) * 2654435761L + i * 40503L) % 65536L - 32768L
    def envelope(id: Long): (Int, Long) = {
      val n = 1000 + (id % 500).toInt * 8
      val sq = (0 until n).map { i => val x = v(id, i); x * x }
      val wins = sq.grouped(500).map(_.toArray).toArray
      val tot = sq.sum
      var fp = 0L
      wins.indices.foreach { w =>
        val quiet = if (wins(w).sum * n < tot * wins(w).length) 1L else 0L
        val rise = if (w > 0 && wins(w).sum > wins(w - 1).sum) 1L else 0L
        fp = fp * 4 + quiet * 2 + rise
      }
      (wins.length, fp)
    }
    val groups = (0L until 500L).groupBy(envelope).values
      .filter(_.size >= 2).toSeq.sortBy(_.head)
    assert(groups.size >= 2, "need two envelope dup groups")
    val ga = groups(0).toSeq; val gb = groups(1).toSeq
    val standing = Seq(ga(0)).toDF("doc_id")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = graft.streaming.CorpusStreams
      .audioDedupAgainst(mem.toDS().toDF("doc_id"), standing)
      .writeStream.outputMode("append").format("memory")
      .queryName("audio_dedup").start()
    try {
      // batch 1: a standing-envelope copy (reject) + a novel track (admit)
      mem.addData(ga(1), gb(0)); q.processAllAvailable()
      // batch 2: in-stream envelope copy — loses to batch 1's arrival
      mem.addData(gb(1)); q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.table("audio_dedup").select(col("doc_id"))
      .as[Long].collect().toSet
    assert(admitted == Set(gb(0)), s"admitted=$admitted")
  }

  test("streaming video dedup admits only novel envelopes (m15 twin)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // driver-side envelope twin picks two real dup groups among ids 0..499
    def byte(id: Long, f: Int, j: Int): Long =
      ((id % 256) * 31 + f.toLong * 7919 + j.toLong * 2654435761L) % 256
    def envelope(id: Long): (Int, Int, Long, Long) = {
      val (w, h, nf) = ((1 + id % 16).toInt, (1 + id % 12).toInt,
        (1 + id % 6).toInt)
      val flen = w * h * 3
      var fp = 0L
      (1 until nf).foreach { f =>
        val d = (0 until flen).map(j => math.abs(byte(id, f, j) -
          byte(id, f - 1, j))).sum
        val sc = (0 until flen).map(j => byte(id, f, j)).sum
        val sp = (0 until flen).map(j => byte(id, f - 1, j)).sum
        fp = fp * 4 + (if (d > 32L * flen) 2L else 0L) +
          (if (sc > sp) 1L else 0L)
      }
      (w, h, nf.toLong, fp)
    }
    val groups = (0L until 500L).groupBy(envelope).values
      .filter(_.size >= 2).toSeq.sortBy(_.head)
    assert(groups.size >= 2, "need two envelope dup groups")
    val ga = groups(0).toSeq; val gb = groups(1).toSeq
    val standing = Seq(ga(0)).toDF("doc_id")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = graft.streaming.CorpusStreams
      .videoDedupAgainst(mem.toDS().toDF("doc_id"), standing)
      .writeStream.outputMode("append").format("memory")
      .queryName("video_dedup").start()
    try {
      mem.addData(ga(1), gb(0)); q.processAllAvailable()
      mem.addData(gb(1)); q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.table("video_dedup").select(col("doc_id"))
      .as[Long].collect().toSet
    assert(admitted == Set(gb(0)), s"admitted=$admitted")
  }

  test("admitted-corpus sink is exactly-once across a kill-and-restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val root = java.nio.file.Files.createTempDirectory("admit_sink")
    val srcDir = root.resolve("src"); java.nio.file.Files.createDirectory(srcDir)
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    val good = (n: Int) => (1 to 44).map(i => s"word$n$i").mkString(" ") +
      " the of and is to different"
    def writeFile(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").withColumn("lang", lit("en"))
        .coalesce(1).write.parquet(srcDir.resolve(name).toString)
    def readSrc = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir.toString + "/*")

    // run 1: two docs (one admitted, one too short), then the query ends
    writeFile("f1", Seq(1L -> good(1), 2L -> "too short to pass"))
    val q1 = graft.streaming.CorpusStreams
      .admittedCorpusSink(readSrc, outDir, ckpt)
    q1.awaitTermination()
    val after1 = spark.read.parquet(outDir).select(col("doc_id"))
      .as[Long].collect().toSet
    assert(after1 == Set(1L), s"run 1 admitted $after1")

    // run 2: same checkpoint, one NEW file — the old file must not be
    // reprocessed (offsets) and doc 1 must not duplicate (sink log)
    writeFile("f2", Seq(3L -> good(3), 4L -> "also way too short"))
    val q2 = graft.streaming.CorpusStreams
      .admittedCorpusSink(readSrc, outDir, ckpt)
    q2.awaitTermination()
    val after2 = spark.read.parquet(outDir)
      .groupBy(col("doc_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after2 == Map(1L -> 1L, 3L -> 1L),
      s"exactly-once violated: $after2")
  }

  test("retention tombstones suppress `new` re-emission after state settles") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L // ms
    def ts(offMin: Long) = new java.sql.Timestamp(base + offMin * 60000)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventStreams.RetIn]
    val q = EventStreams.retentionFacts(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("ret_tomb").start()
    try {
      // user 1 fires ALL facts (→ both-done tombstone); user 2 only `new`
      mem.addData(EventStreams.RetIn(1, ts(5)), EventStreams.RetIn(2, ts(5)))
      q.processAllAvailable()
      mem.addData(EventStreams.RetIn(1, ts(65)),
        EventStreams.RetIn(1, ts(24 * 60 + 5)))
      q.processAllAvailable()
      // user 3 pushes the watermark past user 2's h0+25h horizon, so
      // user 2's event-time timeout fires (→ timeout tombstone)
      mem.addData(EventStreams.RetIn(3, ts(50 * 60)))
      q.processAllAvailable()
      // later activity from BOTH settled users: pre-fix this re-emitted
      // `new` with a 100h cohort (state had been removed); post-fix the
      // tombstones swallow it
      mem.addData(EventStreams.RetIn(1, ts(100 * 60)),
        EventStreams.RetIn(2, ts(100 * 60)))
      q.processAllAvailable()
    } finally q.stop()
    val h0Us = (base - java.lang.Math.floorMod(base, 3600000L)) * 1000
    val got = spark.table("ret_tomb")
      .as[EventStreams.RetFact].collect().toSet
    assert(got == Set(
      EventStreams.RetFact(1, h0Us, "new"),
      EventStreams.RetFact(1, h0Us, "ret1h"),
      EventStreams.RetFact(1, h0Us, "ret24h"),
      EventStreams.RetFact(2, h0Us, "new"),
      EventStreams.RetFact(3, h0Us + 50L * 60 * 60000000L, "new")),
      s"got $got")
  }

  test("streaming hourly partials roll up to the batch decayed leaderboard (e13 twin)") {
    import org.apache.spark.sql.functions._
    val stream = EventStreams.readEvents(spark, streamDir)
    val q = EventStreams.hourlyUserActivity(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName("hourly_activity")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the partials asset itself must equal the batch per-(hour, user)
    // counts (the closed-window immutability the leaderboard relies on)
    val streamedPartials = spark.table("hourly_activity")
    val batchPartials = Events.hourlyPartials(spark, dir)
    assert(streamedPartials.collect().map(_.toSeq).toSet ==
      batchPartials.collect().map(_.toSeq).toSet)
    // the leaderboard is a read-time re-weighting of those partials —
    // finalizing the STREAMED asset must reproduce batch e13 exactly
    val fromStream = Events.decayedFromPartials(streamedPartials)
      .collect().map(_.toSeq).toSeq
    val batch = Events.e13DecayedScore(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(fromStream == batch, s"stream=$fromStream batch=$batch")
    assert(batch.nonEmpty)
  }

  test("streaming embedding dedup equals the batch s9 verdicts on the same split") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.queries.Embeddings.s9IncrementalSemDedup(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))).toMap
    val rows = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val (newRows, standing) = rows.partition(_._1 % 20 == 0)
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val flushTs = java.sql.Timestamp.valueOf("2026-01-01 12:00:00")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Int, Array[Float], java.sql.Timestamp)]
    val q = graft.streaming.CorpusStreams.embeddingDedupAgainst(
        mem.toDS().toDF("vec_id", "label", "embedding", "arrival_ts"),
        standing.toSeq.toDF("vec_id", "label", "embedding"))
      .writeStream.outputMode("append").format("memory")
      .queryName("emb_dedup").start()
    try {
      mem.addData(newRows.toSeq.map(r => (r._1, r._2, r._3, ts0)): _*)
      q.processAllAvailable()
      // watermark flush: a sacrificial row in a label with no twin risk
      mem.addData((999999L, standing.head._2, standing.head._3, flushTs))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("emb_dedup")
      .filter(col("vec_id") =!= 999999L)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))).toMap
    assert(streamed.size == newRows.length,
      s"each arrival verdicts exactly once: ${streamed.size}/${newRows.length}")
    assert(streamed == batch,
      s"stream≠batch; diff=${(streamed.toSet diff batch.toSet).take(3)}")
    assert(batch.values.exists(_._4) && batch.values.exists(!_._4),
      "corpus must exercise both admitted and rejected arrivals")
  }

  test("streaming unified curation: each rejection channel fires independently, verdicts emit once (p9 twin)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def norm(text: String): String = text.replaceAll("^ +| +$", "")
      .toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).foldLeft(0.0)((s, p) => s + p._1.toDouble * p._2.toDouble)
      val na = math.sqrt(a.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
      val nb = math.sqrt(b.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
      BigDecimal(dot / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val goodA = "the ancient library stood near a quiet river and many " +
      "curious students gathered there to study maps languages history " +
      "and other fascinating subjects during long summer afternoons"
    val goodB = "every morning the village baker carried warm fresh loaves " +
      "across narrow cobbled streets while neighbors waved from small " +
      "windows and children followed the wonderful smell toward a market"
    val goodC = "deep beneath the northern mountains patient miners " +
      "followed thin silver veins through winding tunnels and carried " +
      "their heavy lanterns toward another long careful shift underground"
    val goodD = "seven travelers crossed the windy plateau before sunset " +
      "and pitched their canvas tents beside a shallow stream while " +
      "distant thunder rolled over the darkening purple horizon slowly"
    val standingDocs = Seq((100L, goodB)).toDF("doc_id", "text")
    val standingEmb = Seq(
      (100L, 0, Array(1f, 0f, 0f, 0f)),
      (101L, 1, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val flushTs = java.sql.Timestamp.valueOf("2026-01-01 12:00:00")
    // (doc_id, text, lang, label, embedding, arrival_ts)
    val arrivals = Seq(
      // novel, admitted: orthogonal to its cell's standing vector
      (1L, goodA, "en", 0, Array(0f, 0f, 1f, 0f), ts0),
      // exact copy of standing doc 100 → lexical duplicate only
      (2L, goodB, "en", 0, Array(0f, 0f, 0f, 1f), ts0),
      // junk → quality rejection only
      (3L, "spam spam spam", "en", 0, Array(0f, 0f, 1f, 1f), ts0),
      // same cell + same direction as standing vec 101 → semantic dup
      (4L, goodC, "en", 1, Array(0f, 1f, 0f, 0f), ts0),
      // label with no standing cell → the null-join path, admitted
      (5L, goodD, "en", 2, Array(1f, 1f, 0f, 0f), ts0))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, Int, Array[Float],
        java.sql.Timestamp)]
    val q = graft.streaming.CorpusStreams.curationAtIngest(
        mem.toDS().toDF("doc_id", "text", "lang", "label", "embedding",
          "arrival_ts"),
        standingDocs, standingEmb)
      .writeStream.outputMode("append").format("memory")
      .queryName("curation").start()
    try {
      mem.addData(arrivals: _*)
      q.processAllAvailable()
      mem.addData((999L, goodA + " flush marker", "en", 0,
        Array(1f, 0f, 0f, 0f), flushTs))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("curation").filter(col("doc_id") < 900).collect()
    assert(rows.length == arrivals.length,
      s"each verdict must emit exactly once: ${rows.length}")
    val got = rows.map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(5),
      r.getBoolean(6), r.getLong(7), r.getBoolean(8)))).toMap
    // independent twins per channel
    val standingHashes = Set(md5hex(norm(goodB)))
    val cellVecs = Map(0 -> Seq(Array(1f, 0f, 0f, 0f)),
      1 -> Seq(Array(0f, 1f, 0f, 0f)))
    val qKeep = graft.queries.Ingest.admissionDecision(
        graft.queries.Ingest.admissionSignals(
          arrivals.toDF("doc_id", "text", "lang", "label", "embedding",
            "arrival_ts")))
      .collect().map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    arrivals.foreach { case (id, text, _, label, emb, _) =>
      val (split, lex, sem, nSem, keep) = got(id)
      val b = Integer.parseInt(md5hex(norm(text)).take(4), 16) % 100
      val expSplit = if (b < 80) "train" else if (b < 90) "val" else "test"
      assert(split == expSplit, s"doc $id split $split != $expSplit")
      val expLex = standingHashes(md5hex(norm(text)))
      val expSem = cellVecs.getOrElse(label, Nil).count(cos(emb, _) >= 0.3)
      assert(lex == expLex, s"doc $id lex_dup=$lex")
      assert(sem == (expSem > 0) && nSem == expSem,
        s"doc $id sem_dup=$sem n=$nSem want $expSem")
      assert(keep == (qKeep(id) && !expLex && expSem == 0),
        s"doc $id keep=$keep")
    }
    // the corpus must fire every channel: admitted, lex-only, quality-only,
    // sem-only, and the no-cell path
    assert(got(1L)._5 && got(5L)._5, "docs 1 and 5 must be admitted")
    assert(got(2L)._2 && !got(2L)._3, "doc 2 is the lexical-only reject")
    assert(!got(3L)._2 && !got(3L)._3 && !got(3L)._5, "doc 3 fails on quality")
    assert(got(4L)._3 && !got(4L)._2, "doc 4 is the semantic-only reject")
  }

  test("streaming RFM profiles finish to the batch e15 segmentation (e15 twin)") {
    import org.apache.spark.sql.functions._
    val stream = EventStreams.readEvents(spark, streamDir)
    val q = Events.rfmProfileFrame(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName("rfm_profiles")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the standing profile asset equals the batch per-user aggregate
    val streamedProfiles = spark.table("rfm_profiles")
    val batchProfiles = Events.rfmProfileFrame(Tables.events(spark, dir))
    assert(streamedProfiles.collect().map(_.toSeq).toSet ==
      batchProfiles.collect().map(_.toSeq).toSet)
    // quintile-scoring the STREAMED asset reproduces batch e15 exactly
    val fromStream = Events.rfmFromProfiles(streamedProfiles)
      .collect().map(_.toSeq).toSeq
    val batch = Events.e15RfmSegments(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(fromStream == batch, s"stream rows=${fromStream.size}")
    assert(batch.nonEmpty)
  }

  test("streaming churn profiles finish to the batch e20 verdicts (e20 twin)") {
    val stream = EventStreams.readEvents(spark, streamDir)
    val q = Events.churnProfileFrame(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName("churn_profiles")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val fromStream = Events.churnFromProfiles(spark.table("churn_profiles"))
      .collect().map(_.toSeq).toSeq
    val batch = Events.e20ChurnTable(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(fromStream == batch, s"stream rows=${fromStream.size}")
    assert(batch.nonEmpty)
  }

  test("streaming streak state merges out-of-order days across batches (e16 twin)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, datediff, to_date, lit}
    implicit val sqlCtx = spark.sqlContext
    val batch = Events.e16ActivityStreaks(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val days = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")),
          lit(java.sql.Date.valueOf("2024-01-01"))).cast("long").as("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // deliver in REVERSE day order split across two triggers: the state
    // must bridge islands backwards (merge is arrival-order-independent)
    val sorted = days.sortBy(d => (-d._2, d._1))
    val (first, second) = sorted.splitAt(sorted.length / 2)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = EventStreams.streaksStream(
        mem.toDS().toDF("user_id", "day").as[EventStreams.StreakDay])
      .writeStream.outputMode("update").format("memory")
      .queryName("streaks").start()
    try {
      mem.addData(first.toSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // active_days is monotone: the max-active_days emit per user is final
    val streamed = spark.table("streaks")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .groupBy(_._1).map { case (u, emits) =>
        u -> { val f = emits.maxBy(_._2); (f._2, f._3, f._4) } }
    assert(streamed == batch,
      s"diff=${(streamed.toSet diff batch.toSet).take(3)}")
    // corpus must exercise the interesting shapes
    assert(batch.values.exists(_._3 > 1), "a multi-day streak must exist")
    assert(batch.values.exists(v => v._2 > 1), "a gapped user must exist")
  }

  test("streaming encoding gate equals the batch t20 scan row-for-row") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val arrivals = Seq(
      (1L, "a clean ascii document"),
      (2L, "café au lait 漢字 漢字 漢字"),
      (3L, "bell rang"),
      (4L, "lost bytes \uFFFD here"),
      (5L, "digits 123 and spaces\tand\nlines"))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = graft.queries.TextDedup.encodingSanityOf(
        mem.toDS().toDF("doc_id", "t"))
      .writeStream.outputMode("append").format("memory")
      .queryName("enc_gate").start()
    try {
      mem.addData(arrivals: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("enc_gate")
      .collect().map(_.toSeq).toSet
    val batch = graft.queries.TextDedup.encodingSanityOf(
        arrivals.toDF("doc_id", "t"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    val ok = spark.table("enc_gate")
      .collect().map(r => r.getLong(0) -> r.getBoolean(10)).toMap
    assert(ok(1L) && ok(5L), "clean docs admit")
    assert(!ok(2L), "majority-CJK doc exceeds the non-ascii ratio")
    assert(!ok(3L) && !ok(4L), "control/replacement docs flag")
  }

  test("streaming hourly partials finish to the batch anomaly verdicts (e17 twin)") {
    import org.apache.spark.sql.functions.col
    val stream = EventStreams.readEvents(spark, streamDir)
    val q = EventStreams.windowedAgg(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName("e17_hours")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val fromStream = EventStreams.anomalyFromStreamedHours(
        spark.table("e17_hours"))
      .collect().map(_.toSeq).toSeq
    val batch = Events.e17AnomalyHours(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(fromStream == batch, s"stream rows=${fromStream.size}")
    assert(batch.nonEmpty)
  }

  test("streaming hourly partials finish to the batch heatmap grid (e21 twin)") {
    val stream = EventStreams.readEvents(spark, streamDir)
    val q = EventStreams.hourlyUserActivity(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName("e21_partials")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the finisher accepts the per-(hour, user) streamed asset directly
    val fromStream = Events.heatmapOfPartials(spark.table("e21_partials"))
      .collect().map(_.toSeq).toSeq
    val batch = Events.e21ActivityHeatmap(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(fromStream == batch, s"stream rows=${fromStream.size}")
    assert(batch.nonEmpty)
  }

  test("streaming native session windows equal the batch session frame (e22 twin)") {
    import org.apache.spark.sql.functions.col
    val stream = EventStreams.readEvents(spark, streamDir)
    // complete mode over the static file emits every merged session;
    // append mode would withhold sessions above the final watermark
    val q = EventStreams.nativeSessions(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName("e22_sessions")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("e22_sessions")
      .collect().map(_.toSeq).toSet
    val batch = Events.sessionFrame(Tables.events(spark, dir))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
    // the native merge rule differs from e2's only at exact-gap ties:
    // both sessionizations cover the same events
    val nStream = spark.table("e22_sessions")
      .agg(org.apache.spark.sql.functions.sum(col("n_events"))).head.getLong(0)
    val nEvents = Tables.events(spark, dir).count()
    assert(nStream == nEvents, "sessions must partition the event set")
  }

  test("e17 detector fires on a spike and stays quiet on a flat baseline") {
    import spark.implicits._
    // 30 steady hours then a 10x spike; a second type stays flat
    val partials = ((0 until 30).map(h => (h.toLong, "steady", 10L)) ++
      Seq((30L, "steady", 100L)) ++
      (0 until 31).map(h => (h.toLong, "flat", 10L)) ++
      // mild wiggle: within 3 sigma, must NOT flag
      Seq((31L, "flat", 11L))).toDF("hour_idx", "event_type", "n")
    val got = graft.queries.Events.anomalyFromHourly(partials)
      .collect().map(r => (r.getString(1), r.getLong(2)) ->
        ((r.getLong(3), r.getBoolean(6)))).toMap
    assert(got(("steady", 100L))._2, "10x spike must flag")
    assert(!got.exists { case ((t, n), (_, a)) => t == "flat" && a },
      "flat series never flags")
    // warm-up: hours with fewer than 12 prior buckets are absent
    assert(got.values.forall(_._1 >= 12))
  }

  test("streaming last-touch attribution equals the batch e18 verdicts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val stream = EventStreams.readEvents(spark, streamDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
      .as[EventStreams.LocfIn]
    val q = EventStreams.attributionStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("attr")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("attr").collect().map(_.toSeq).toSet
    val batch = Events.e18Attribution(spark, dir).collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"diff=${(streamed diff batch).take(2)} / ${(batch diff streamed).take(2)}")
    // the corpus must exercise attribution, the deadline, and both types
    val byOutcome = spark.table("attr").collect()
      .groupBy(_.getString(4)).view.mapValues(_.length).toMap
    assert(byOutcome.getOrElse("none", 0) > 0, "unattributed purchases exist")
    assert(byOutcome.contains("view") || byOutcome.contains("click"))
  }

  test("streaming transition pairs finish to the batch e19 matrix") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val stream = EventStreams.readEvents(spark, streamDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
      .as[EventStreams.LocfIn]
    val q = EventStreams.transitionPairs(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("transitions")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = Events.matrixOfPairs(spark.table("transitions"))
      .collect().map(_.toSeq).toSet
    val batch = Events.e19TransitionMatrix(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"diff=${(streamed diff batch).take(2)} / ${(batch diff streamed).take(2)}")
    assert(streamed.nonEmpty)
  }

  test("live transition counts finish to the batch e19 matrix") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val stream = EventStreams.readEvents(spark, streamDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
      .as[EventStreams.LocfIn]
    val q = EventStreams.transitionCounts(
        EventStreams.transitionPairs(stream))
      .writeStream.outputMode("complete").format("memory")
      .queryName("trans_counts")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val counts = spark.table("trans_counts")
    // the live read is O(|types|²): the finisher runs over the count
    // table, never the emitted pair stream
    val live = Events.matrixOfCounts(counts).collect().map(_.toSeq).toSet
    val batch = Events.e19TransitionMatrix(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(live == batch,
      s"diff=${(live diff batch).take(2)} / ${(batch diff live).take(2)}")
    assert(live.nonEmpty)
    // state boundedness: the count table is at most |types|² rows
    val nTypes = counts.select(col("prev_type")).union(
      counts.select(col("next_type"))).distinct().count()
    assert(counts.count() <= nTypes * nTypes)
  }

  test("transition state carries the predecessor across batch boundaries") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // burst 1 ends user 1 on a view; burst 2 opens with a purchase —
    // the cross-burst (view → purchase) pair must be emitted by burst 2
    val b1 = Seq(
      EventStreams.LocfIn(1L, 1L, "click", ts(10), None),
      EventStreams.LocfIn(2L, 1L, "view", ts(20), None))
    val b2 = Seq(
      EventStreams.LocfIn(3L, 1L, "purchase", ts(30), None),
      EventStreams.LocfIn(4L, 2L, "view", ts(31), None))
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.LocfIn]
    val q = EventStreams.transitionPairs(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("trans_bursts").start()
    mem.addData(b1: _*); q.processAllAvailable()
    val afterB1 = spark.table("trans_bursts").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(afterB1 == Set(("click", "view")))
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val afterB2 = spark.table("trans_bursts").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(afterB2 == Set(("click", "view"), ("view", "purchase")),
      s"got $afterB2")
  }

  test("streaming gap facts finish to the batch e23 percentiles") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val stream = EventStreams.readEvents(spark, streamDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
      .as[EventStreams.LocfIn]
    val q = EventStreams.gapFacts(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("gaps")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the fact MULTISET matches (gaps repeat; sets would mask drops)
    val streamedFacts = spark.table("gaps").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val batchFacts = Events.gapFrame(Tables.events(spark, dir)).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(streamedFacts == batchFacts,
      s"stream=${streamedFacts.size} batch=${batchFacts.size}")
    // and the shared finisher over the streamed facts IS batch e23
    val fromStream = Events.gapPercentilesOf(
        spark.table("gaps").select(col("event_type"), col("gap_us")))
      .collect().map(_.toSeq).toSeq
    val batch = Events.e23GapPercentiles(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(fromStream == batch)
    assert(batch.nonEmpty)
  }

  test("streaming full gap facts finish to the batch e26 regularity table") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val stream = EventStreams.readEvents(spark, streamDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
      .as[EventStreams.LocfIn]
    val q = EventStreams.fullGapFacts(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("user_gaps")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the shared finisher over the streamed (user, gap) facts IS batch e26
    val fromStream = Events.botRegularityOf(
        spark.table("user_gaps").select(col("user_id"), col("gap_us")))
      .collect().map(_.toSeq).toSeq
    val batch = Events.e26BotRegularity(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(fromStream == batch, s"stream=${fromStream.size} batch=${batch.size}")
    assert(batch.nonEmpty)
    // and the e23 projection of the SAME state machine still matches
    val typed = spark.table("user_gaps")
      .select(col("event_type"), col("gap_us")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val batchTyped = Events.gapFrame(Tables.events(spark, dir)).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(typed == batchTyped)
  }

  test("ingest regularity alerts: latest verdict per user equals batch e26") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max => smax}
    val stream = EventStreams.readEvents(spark, streamDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
      .as[EventStreams.LocfIn]
    val q = EventStreams.regularityAlerts(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("reg_alerts")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // latest alert per user (max n_gaps — monotone per user)
    val alerts = spark.table("reg_alerts").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._1)).toMap
    val batch = Events.e26BotRegularity(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))).toMap
    assert(alerts == batch,
      s"stream users=${alerts.size} batch users=${batch.size}")
    assert(batch.nonEmpty)
  }

  test("ingest type-entropy alerts: latest verdict per user equals batch e29") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val stream = EventStreams.readEvents(spark, streamDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
      .as[EventStreams.LocfIn]
    val q = EventStreams.typeEntropyAlerts(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("ent_alerts")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val alerts = spark.table("ent_alerts").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._1)).toMap
    val batch = Events.e29TypeEntropy(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(alerts == batch,
      s"stream users=${alerts.size} batch users=${batch.size}")
    assert(batch.nonEmpty)
  }

  test("regularity state carries exact moments across batch boundaries") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // 21 metronomic events 10 s apart, split across two bursts: the
    // verdict must fire only once n ≥ 19 gaps, with burst-1 moments kept
    val all = (0 until 21).map(i =>
      EventStreams.LocfIn(i.toLong, 1L, "tick", ts(100 + 10L * i), None))
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventStreams.LocfIn]
    val q = EventStreams.regularityAlerts(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("reg_bursts").start()
    mem.addData(all.take(12): _*); q.processAllAvailable()
    assert(spark.table("reg_bursts").count() == 0) // 11 gaps — silent
    mem.addData(all.drop(12): _*); q.processAllAvailable()
    q.stop()
    val rows = spark.table("reg_bursts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    // 20 gaps of exactly 10 s: n=20, S=200, Q=2000; cv=0 → regular
    assert(rows.toSeq == Seq((1L, 20L, 200L, 2000L, true)), rows.toSeq)
  }

  test("regularity alerts fail on a Σgap² overflow, as batch e26 does") {
    import spark.implicits._
    // 20 events 23 years apart: 19 gaps of ~7.26e8 s, so Σgap² ≈ 1.0e19
    // passes Long.MaxValue (≈ 9.22e18)
    val yearS = 365L * 24 * 3600
    val all = (0 until 20).map(i => EventStreams.LocfIn(i.toLong, 1L,
      "tick", new java.sql.Timestamp(i * 23 * yearS * 1000), None))
    val batch = intercept[Exception](Events.botRegularityCoreOf(
      Events.userGapFrame(all.toDF())).collect())
    assert(batch.getMessage.toUpperCase.contains("OVERFLOW"), batch)
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventStreams.LocfIn]
    val q = EventStreams.regularityAlerts(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("reg_overflow").start()
    mem.addData(all: _*)
    val err = try { intercept[Exception](q.processAllAvailable()) }
      finally q.stop()
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), err)
    assert(spark.table("reg_overflow").count() == 0,
      "no wrapped alert may be emitted")
  }

  test("gap state carries the last timestamp across batch boundaries") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // burst 1 ends user 1 at t=20; burst 2 opens at t=50 — the
    // cross-burst 30 s gap must be emitted by burst 2
    val b1 = Seq(
      EventStreams.LocfIn(1L, 1L, "click", ts(10), None),
      EventStreams.LocfIn(2L, 1L, "view", ts(20), None))
    val b2 = Seq(
      EventStreams.LocfIn(3L, 1L, "purchase", ts(50), None),
      EventStreams.LocfIn(4L, 2L, "view", ts(51), None))
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.LocfIn]
    val q = EventStreams.gapFacts(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("gap_bursts").start()
    mem.addData(b1: _*); q.processAllAvailable()
    val afterB1 = spark.table("gap_bursts").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(afterB1 == Set(("view", 10000000L)))
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val afterB2 = spark.table("gap_bursts").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(afterB2 == Set(("view", 10000000L), ("purchase", 30000000L)),
      s"got $afterB2")
  }

  test("mergeDay bridges, extends, and ignores duplicates") {
    import EventStreams.mergeDay
    assert(mergeDay(Nil, 5) == List((5L, 5L)))
    assert(mergeDay(List((5L, 5L)), 7) == List((5L, 5L), (7L, 7L)))
    assert(mergeDay(List((5L, 5L), (7L, 7L)), 6) == List((5L, 7L)))
    assert(mergeDay(List((5L, 7L)), 6) == List((5L, 7L)))
    assert(mergeDay(List((5L, 7L)), 4) == List((4L, 7L)))
    assert(mergeDay(List((5L, 7L)), 8) == List((5L, 8L)))
    assert(mergeDay(List((5L, 7L)), 3) == List((3L, 3L), (5L, 7L)))
    assert(mergeDay(List((2L, 3L), (9L, 9L)), 5) ==
      List((2L, 3L), (5L, 5L), (9L, 9L)))
  }

  test("streaming token counts finish to the batch Simpson diversity (t32 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String)]
    val q = graft.streaming.CorpusStreams
      .tokenCounts(mem.toDS().toDF("source", "text"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("t32_tf").start()
    try {
      // two bursts so the running counts genuinely update state
      mem.addData(docs.take(docs.length / 2).toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(docs.drop(docs.length / 2).toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val fromStream = graft.queries.TextDedup
      .simpsonOf(spark.table("t32_tf"))
      .collect().map(_.toSeq).toSeq
    val batch = graft.queries.TextDedup.t32SimpsonDiversity(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(fromStream == batch, s"stream rows=${fromStream.size}")
    assert(batch.nonEmpty)
  }

  test("streaming hourly counts finish to the batch diurnal autocorr (e34 twin)") {
    import org.apache.spark.sql.functions._
    val stream = EventStreams.readEvents(spark, streamDir)
    val q = EventStreams.windowedAgg(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName("e34_hours")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the standing hourly table IS e34's series: window start →
    // epoch-hour (UTC session, so the ntz cast is exact), count → c
    val byHour = spark.table("e34_hours")
      .select(col("event_type"),
        expr("unix_micros(cast(hour as timestamp)) div 3600000000")
          .as("h"),
        col("n").as("c"))
    val fromStream = Events.diurnalAutocorrOf(byHour)
      .collect().map(_.toSeq).toSeq
    val batch = Events.e34DiurnalAutocorr(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(fromStream == batch, s"stream rows=${fromStream.size}")
    assert(batch.nonEmpty)
  }

  test("component-ledger maintainer: replayed increment shards converge " +
      "to the batch d34 labels (d34 streaming twin)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val incRows = docs.filter(col("doc_id") % 5 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val m = new graft.streaming.CorpusStreams
      .ComponentLedgerMaintainer(standing)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = m.attach(mem.toDS().toDF("doc_id", "text"))
    try {
      // three shards — components must knit across shard boundaries
      val (sh1, rest) = incRows.splitAt(incRows.length / 3)
      val (sh2, sh3) = rest.splitAt(rest.length / 2)
      for (sh <- Seq(sh1, sh2, sh3) if sh.nonEmpty) {
        mem.addData(sh.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = m.currentLedger.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.queries.TextDedup
      .d34IncrementalComponents(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch,
      s"${streamed.size} streamed vs ${batch.size} batch labels; " +
        s"diff=${(streamed.toSet diff batch.toSet).take(5)}")
    // the replay genuinely crossed a shard boundary: some component
    // holds docs from the standing corpus AND the increment
    val flags = graft.queries.TextDedup
      .d34IncrementalComponents(spark, dir).collect()
      .map(r => (r.getLong(1), r.getBoolean(2)))
    assert(flags.groupBy(_._1).values
      .exists(g => g.exists(_._2) && g.exists(!_._2)))
  }

  test("winnow-ledger maintainer: replayed shards converge to the batch " +
      "d34w labels, and the dividend finisher reproduces batch p34 " +
      "(p34 streaming twin)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val incRows = docs.filter(col("doc_id") % 5 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val m = new graft.streaming.CorpusStreams.WinnowLedgerMaintainer(standing)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = m.attach(mem.toDS().toDF("doc_id", "text"))
    try {
      val (sh1, rest) = incRows.splitAt(incRows.length / 3)
      val (sh2, sh3) = rest.splitAt(rest.length / 2)
      for (sh <- Seq(sh1, sh2, sh3) if sh.nonEmpty) {
        mem.addData(sh.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = m.currentLedger.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.queries.TextDedup
      .d34wIncrementalWinnow(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch,
      s"${streamed.size} streamed vs ${batch.size} batch labels; " +
        s"diff=${(streamed.toSet diff batch.toSet).take(5)}")

    // p34's dividend read off the LIVE ledger ≡ the gated batch rows
    // (at this fixture scale no fingerprint's posting list reaches
    // WinnowSweepCap, so the two-phase closure and winnowLabels' full-
    // corpus capped closure coincide — the cap-free regime where the
    // pairwise ≥2-shared predicate fully determines connectivity)
    val tokens = graft.streaming.CorpusStreams.docTokenCounts(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text")))
    val fromLedger = graft.streaming.CorpusStreams
      .dividendFromLedger(m.currentLedger, tokens)
      .collect().map(_.toSeq).toSeq
    val p34 = graft.queries.TextDedup.p34DedupDividend(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(fromLedger == p34, s"ledger rows=${fromLedger.size}")
    assert(p34.nonEmpty)
  }

  test("ingest contamination verdicts equal the batch d12w rows for " +
      "arrived eval docs; train arrivals emit nothing (r14 verdict, " +
      "directive 1)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val standing = Tables.documents(spark, dir)
    // replay EVERY document as an arrival: train-split arrivals must
    // pass through silently (they extend the train set), eval arrivals
    // must reproduce their batch d12w verdict row-for-row
    val docs = standing.select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val flushTs = java.sql.Timestamp.valueOf("2026-01-01 01:00:00")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, java.sql.Timestamp)]
    val snap = graft.streaming.CorpusStreams.trainFpSnapshot(standing)
    val q = graft.streaming.CorpusStreams.contaminationAtIngest(
        mem.toDS().toDF("doc_id", "text", "arrival_ts"), snap)
      .writeStream.outputMode("append").format("memory")
      .queryName("contam_ingest").start()
    try {
      val (h1, h2) = docs.splitAt(docs.size / 2)
      mem.addData(h1.map(d => (d._1, d._2, ts0)): _*)
      q.processAllAvailable()
      mem.addData(h2.map(d => (d._1, d._2, ts0)): _*)
      q.processAllAvailable()
      // a late arrival pushes the watermark past the window end so the
      // append-mode verdicts emit (the perplexityBucketAlerts idiom);
      // it must be LONG enough to produce winnow selections — a
      // sub-window doc emits no event-time rows and moves no clock
      mem.addData((999999L, "this flush document carries enough novel " +
        "tokens to produce winnow selections and advance the " +
        "watermark clock", flushTs))
      q.processAllAvailable()
    } finally { q.stop(); snap.release() }
    type Verdict = (String, Long, Long, Double)
    val streamed = spark.table("contam_ingest")
      .filter(col("doc_id") =!= 999999L)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))
          : Verdict)).toMap
    // the FULL verdict set, not the gated query's top-2000 surface: a
    // pin against the capped result would fail for a non-semantic
    // reason the day the fixture grows past 2000 eval rows (r15 ADVICE)
    val batch = graft.queries.TextDedup
      .d12wVerdicts(standing.select(col("doc_id"), col("text")))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))
          : Verdict)).toMap
    spark.catalog.clearCache() // d12wVerdicts' spec-side hold (unscoped)
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"${streamed.size} streamed vs ${batch.size} batch verdicts; " +
        s"diff=${(streamed.toSet diff batch.toSet).take(3)} / " +
        s"${(batch.toSet diff streamed.toSet).take(3)}")
    // exactly-once: one verdict row per eval arrival, none for train
    assert(spark.table("contam_ingest")
      .filter(col("doc_id") =!= 999999L).count() == batch.size)
  }

  test("train-fp maintainer: an eval arrival is judged against the " +
      "MAINTAINED train set (catching a duplicate train doc that " +
      "arrived earlier in the same stream), and the accumulated " +
      "verdicts equal the batch d12w set over standing ∪ arrived " +
      "(r15 verdict, directive 1)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // the t9 split is CONTENT-derived, so the planted train/eval dup
    // pair is found by search: same spelling as splitCols (first 4 md5
    // hex nibbles of the normalized text, mod 100)
    def bucketOf(text: String): Long = {
      val norm = text.trim.toLowerCase(java.util.Locale.ROOT)
        .replaceAll("\\s+", " ")
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(norm.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(2).map(b => f"$b%02x").mkString, 16) % 100
    }
    val core = "maintained fingerprint seam witness with a long " +
      "shared interior of novel tokens aquifer breccia coruscate " +
      "dirigible effluvium fenestration gossamer hinterland"
    val trainText = (0 until 100).map(i => s"$core train salt $i")
      .find(t => bucketOf(t) < 80).get
    val evalText = (0 until 100).map(i => s"$core eval salt $i")
      .find(t => bucketOf(t) >= 80).get
    val tId = 777001L
    val eId = 777002L
    // second planted pair, BOTH in the final mixed batch — pins the
    // merge-first ordering deterministically (extend with the batch's
    // train fps BEFORE judging its eval docs, so a same-trigger train
    // duplicate is caught, matching the orderless batch audit)
    val core2 = "same batch witness pair with its own long shared " +
      "interior of novel tokens jacaranda kinetoscope lambency " +
      "marginalia numinous oriflamme palimpsest quillon"
    val trainText2 = (0 until 100).map(i => s"$core2 train salt $i")
      .find(t => bucketOf(t) < 80).get
    val evalText2 = (0 until 100).map(i => s"$core2 eval salt $i")
      .find(t => bucketOf(t) >= 80).get
    val tId2 = 777003L
    val eId2 = 777004L

    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val arrivals = docs.filter(col("doc_id") % 5 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // the stream converges to the batch audit when train content leads
    // its eval duplicates, so the replay orders the corpus arrivals
    // that way: trains across shards 1–2, evals in shard 2 (the MIXED
    // final batch also proves merge-first — its evals must see train
    // docs arriving in the SAME batch)
    val (trainArr, evalArr) = arrivals.partition(a => bucketOf(a._2) < 80)
    val (tr1, tr2) = trainArr.splitAt(trainArr.size / 2)
    val m = new graft.streaming.CorpusStreams.TrainFpMaintainer(standing)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = m.attach(mem.toDS().toDF("doc_id", "text"))
    try {
      // the planted TRAIN doc arrives in shard 1 …
      mem.addData((tr1 :+ (tId, trainText)).toIndexedSeq: _*)
      q.processAllAvailable()
      // … its near-dup EVAL doc in shard 2: a point-in-time snapshot
      // (standing-only) would miss it; the maintained set must not.
      // The second planted pair rides shard 2 TOGETHER — same trigger
      mem.addData((tr2 ++ evalArr :+ (eId, evalText) :+ (tId2, trainText2)
        :+ (eId2, evalText2)).toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    type Verdict = (String, Long, Long, Double)
    val verdictRows = m.verdicts.collect()
    val streamed = verdictRows.map(r => r.getLong(0) ->
      ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))
        : Verdict)).toMap
    // exactly-once: each eval arrival is judged in its arrival batch
    // and never again (the map comparison below would mask duplicates)
    assert(verdictRows.length == streamed.size,
      s"duplicate verdicts: ${verdictRows.length} rows, ${streamed.size} docs")

    // (a) the seam: the planted eval doc is contaminated ONLY via the
    // streamed-in train doc (its tokens are novel vs the corpus)
    assert(streamed.contains(eId), "planted eval arrival got no verdict")
    assert(streamed(eId)._3 > 0,
      "the maintained set must catch the train doc that arrived earlier " +
        s"in the stream; verdict=${streamed(eId)}")
    // merge-first: the pair that arrived in ONE trigger is also caught
    assert(streamed.contains(eId2) && streamed(eId2)._3 > 0,
      "a same-batch train duplicate must be caught (extend before " +
        s"judge); verdict=${streamed.get(eId2)}")
    // d12wVerdicts' spec-side holds are unscoped plain persists — the
    // finally keeps an assertion failure from leaking them into the
    // rest of the shared-session suite
    try {
      // against the standing-only snapshot the same doc is clean — the
      // difference IS the maintenance
      val snapOnly = graft.queries.TextDedup.d12wVerdicts(
          standing.unionByName(Seq((eId, evalText)).toDF("doc_id", "text")))
        .filter(col("doc_id") === eId).collect()
      assert(snapOnly.nonEmpty && snapOnly.forall(_.getLong(3) == 0L),
        "fixture broke: the planted pair must be novel vs the standing corpus")

      // (b) replay ≡ batch: verdicts equal the d12w set over
      // standing ∪ arrived, restricted to the ARRIVED eval docs (train
      // content led its eval duplicates in this replay, the regime where
      // the stream converges to the batch audit)
      val allDocs = standing.unionByName(
        (arrivals :+ (tId, trainText) :+ (eId, evalText)
          :+ (tId2, trainText2) :+ (eId2, evalText2))
          .toDF("doc_id", "text"))
      val arrivedIds =
        (arrivals.map(_._1) :+ tId :+ eId :+ tId2 :+ eId2).toSet
      val batch = graft.queries.TextDedup.d12wVerdicts(allDocs)
        .collect()
        .filter(r => arrivedIds.contains(r.getLong(0)))
        .map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))
            : Verdict)).toMap
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"${streamed.size} streamed vs ${batch.size} batch verdicts; " +
          s"diff=${(streamed.toSet diff batch.toSet).take(3)} / " +
          s"${(batch.toSet diff streamed.toSet).take(3)}")
    } finally spark.catalog.clearCache()
  }

  test("train-fp maintainer: replayed micro-batch ids are skipped " +
      "(foreachBatch is at-least-once) and verdict-buffer compaction " +
      "preserves the log (r16 review findings)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val arrivals = docs.filter(col("doc_id") % 5 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // compactEvery = 2 forces several compactions across the shards,
    // so a row lost or duplicated by compaction fails the equality
    val m = new graft.streaming.CorpusStreams.TrainFpMaintainer(
      standing, compactEvery = 2)
    val shards = arrivals.grouped(math.max(1, arrivals.size / 7)).toSeq
    val mem1 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q1 = m.attach(mem1.toDS().toDF("doc_id", "text"))
    try {
      shards.foreach { sh => mem1.addData(sh: _*); q1.processAllAvailable() }
    } finally q1.stop()
    type Verdict = (Long, String, Long, Long, Double)
    def all(): Seq[Verdict] = m.verdicts.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq.sorted
    val once = all()
    assert(once.nonEmpty)
    assert(once.map(_._1).distinct.size == once.size, "duplicate verdicts")
    val nFps = m.currentFps.count()

    // a PLAIN re-attach fails fast (r16 ADVICE): a genuinely new
    // query's batch ids restart at 0 and the guard would silently
    // drop its first batches — only a caller asserting identical
    // re-delivery may resume
    val memX = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    intercept[IllegalArgumentException] {
      m.attach(memX.toDS().toDF("doc_id", "text"))
    }

    // REPLAY: a second stream re-delivers every shard to the SAME
    // maintainer (resume = true: the caller asserts identical
    // re-delivery). Its batch ids restart at 0 — all ≤ the last
    // completed id — so the guard must skip them all: verdicts and
    // the fp set stay bit-identical (without the guard, every verdict
    // would double and the capped unions would duplicate rows)
    val mem2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q2 = m.attach(mem2.toDS().toDF("doc_id", "text"), resume = true)
    try {
      shards.foreach { sh => mem2.addData(sh: _*); q2.processAllAvailable() }
      assert(all() == once, "replayed batches were re-merged")
      assert(m.currentFps.count() == nFps)
      // a batch id BEYOND the completed ones still merges: after
      // replaying all |shards| batches, the next one's id equals
      // |shards|, which exceeds the last completed id (|shards| − 1)
      mem2.addData(arrivals.head)
      q2.processAllAvailable()
    } finally q2.stop()
    // the re-sent head doc rides a NEW batch id, so it merges: if it
    // was an eval doc it re-judges (a higher-rev row that the
    // latest-per-doc finisher collapses — identical values, because a
    // re-judge against the current set equals the doc's latest
    // revision), if train it re-extends idempotently — either way fps
    // and the verdict surface are unchanged, never doubled
    assert(m.currentFps.count() == nFps)
    val after = all()
    assert(after.size == once.size || after.size == once.size + 1,
      s"${after.size} vs ${once.size}")
  }

  test("train-fp maintainer: an EVAL doc arriving BEFORE its duplicate " +
      "train doc is revised when the train content lands — replay ≡ " +
      "batch d12w becomes order-unconditional (r16 verdict, directive 2)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def bucketOf(text: String): Long = {
      val norm = text.trim.toLowerCase(java.util.Locale.ROOT)
        .replaceAll("\\s+", " ")
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(norm.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(2).map(b => f"$b%02x").mkString, 16) % 100
    }
    val core = "reversed arrival witness pair sharing a long novel " +
      "interior of tokens rhodopsin syzygy tourbillon umbellifer " +
      "verdigris wunderkammer xenolith ytterbium zugzwang"
    val trainText = (0 until 100).map(i => s"$core train salt $i")
      .find(t => bucketOf(t) < 80).get
    val evalText = (0 until 100).map(i => s"$core eval salt $i")
      .find(t => bucketOf(t) >= 80).get
    val tId = 888001L
    val eId = 888002L

    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val arrivals = docs.filter(col("doc_id") % 5 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // the HOSTILE order the r15 cut left to the batch audit: every
    // eval arrival (incl. the planted one) lands in shard 1, every
    // train arrival (incl. the planted duplicate) in shard 2
    val (trainArr, evalArr) = arrivals.partition(a => bucketOf(a._2) < 80)
    val m = new graft.streaming.CorpusStreams.TrainFpMaintainer(standing)
    m.mergeBatch((evalArr :+ (eId, evalText)).toDF("doc_id", "text"))
    // mid-stream: the planted eval doc is provably judged CLEAN right
    // now (its tokens are novel vs standing ∪ the eval arrivals) —
    // the stale verdict the revision must supersede
    val stale = m.verdicts.filter(col("doc_id") === eId).collect()
    assert(stale.length == 1 && stale(0).getLong(3) == 0L,
      s"fixture broke: planted eval must be clean pre-train; $stale")
    m.mergeBatch((trainArr :+ (tId, trainText)).toDF("doc_id", "text"))

    type Verdict = (String, Long, Long, Double)
    val verdictRows = m.verdicts.collect()
    val streamed = verdictRows.map(r => r.getLong(0) ->
      ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))
        : Verdict)).toMap
    assert(verdictRows.length == streamed.size, "duplicate latest verdicts")
    assert(streamed(eId)._3 > 0,
      "the revision must supersede the stale clean verdict once the " +
        s"duplicate train doc arrives; verdict=${streamed(eId)}")
    // the revised log keeps BOTH judgment events for the planted doc
    val logRows = m.verdictLog.filter(col("doc_id") === eId).collect()
    assert(logRows.length == 2, s"expected judge+revision rows: $logRows")
    try {
      val allDocs = standing.unionByName(
        (arrivals :+ (tId, trainText) :+ (eId, evalText))
          .toDF("doc_id", "text"))
      val arrivedIds = (arrivals.map(_._1) :+ tId :+ eId).toSet
      val batch = graft.queries.TextDedup.d12wVerdicts(allDocs)
        .collect()
        .filter(r => arrivedIds.contains(r.getLong(0)))
        .map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))
            : Verdict)).toMap
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"${streamed.size} streamed vs ${batch.size} batch; " +
          s"diff=${(streamed.toSet diff batch.toSet).take(3)} / " +
          s"${(batch.toSet diff streamed.toSet).take(3)}")
    } finally spark.catalog.clearCache()
  }

  test("train-fp maintainer: drained verdict increments union to the " +
      "undrained log, and the maintainer holds only the tail " +
      "(r16 verdict, directive 3)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val arrivals = docs.filter(col("doc_id") % 5 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val shards = arrivals.grouped(math.max(1, arrivals.size / 5)).toSeq
    val a = new graft.streaming.CorpusStreams.TrainFpMaintainer(standing)
    val b = new graft.streaming.CorpusStreams.TrainFpMaintainer(standing)
    val sink = RunAssets.register(
      s"${System.getProperty("java.io.tmpdir")}/graft-verdictsink-" +
      java.util.UUID.randomUUID().toString)
    var drainedAny = false
    shards.zipWithIndex.foreach { case (sh, i) =>
      a.mergeBatch(sh.toDF("doc_id", "text"))
      b.mergeBatch(sh.toDF("doc_id", "text"))
      if (i % 2 == 1) { b.drainTo(sink); drainedAny = true }
    }
    assert(drainedAny)
    type LogRow = (Long, String, Long, Long, Double, Long)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[LogRow] =
      df.select(col("doc_id"), col("split"), col("n_sel"),
          col("n_in_train"), col("overlap"), col("rev"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getLong(5))).toSeq.sorted
    val undrained = rows(a.verdictLog)
    val tail = rows(b.verdictLog)
    val drained = rows(spark.read.parquet(sink))
    // the sink ∪ tail IS the log — nothing lost, nothing duplicated
    assert((drained ++ tail).sorted == undrained,
      s"sink=${drained.size} tail=${tail.size} vs log=${undrained.size}")
    // the maintainer genuinely let go: the tail is only what arrived
    // since the last drain, not the accumulated history
    assert(tail.size < undrained.size,
      s"tail=${tail.size} should be a strict subset of ${undrained.size}")
    // and a final drain empties the buffer completely
    b.drainTo(sink)
    assert(rows(b.verdictLog).isEmpty)
    assert(rows(spark.read.parquet(sink)) == undrained)
    // the maintained set ≡ the from-scratch distinct train-fp set over
    // standing ∪ arrived, both directions
    val fresh = graft.streaming.CorpusStreams.trainFpsOf(
      standing.unionByName(arrivals.toDF("doc_id", "text")))
    assert(a.currentFps.join(fresh, Seq("fp"), "leftanti")
      .unionByName(fresh.join(a.currentFps, Seq("fp"), "leftanti"))
      .count() == 0L)
  }

  test("streamed gap facts finish to the batch gap histogram (e36 twin)") {
    import spark.implicits._
    val in = EventStreams.readEvents(spark, streamDir)
      .select($"event_id", $"user_id", $"event_type", $"ts", $"value")
      .as[EventStreams.LocfIn]
    EventStreams.runToMemorySink(
      EventStreams.fullGapFacts(in).toDF(), "e36_facts")
    val fromStream = EventStreams
      .gapHistogramFromFacts(spark.table("e36_facts"))
      .collect().map(_.toSeq).toSeq
    val batch = Events.e36GapHistogram(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(fromStream == batch, s"stream rows=${fromStream.size} " +
      s"batch rows=${batch.size}")
    assert(batch.nonEmpty)
  }

  test("streaming outlier alerts against the broadcast calibration " +
      "equal the batch 3·MAD verdicts (e37 twin)") {
    import org.apache.spark.sql.functions._
    // the calibration a production monitor recomputes batch-side and
    // ships to the ingest stream
    val medMad = Events.valueMedMad(spark, dir)
    val q = EventStreams.valueOutlierAlerts(
        EventStreams.readEvents(spark, streamDir), medMad)
      .writeStream.outputMode("append").format("memory")
      .queryName("e37_alerts")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("e37_alerts")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    // batch reference: the identical join + snap + 3× predicate
    val batch = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .join(broadcast(medMad), Seq("event_type"))
      .select(col("event_id"), col("event_type"),
        Events.deviationMicro, col("mad_micro"))
      .filter(col("dev_micro") > col("mad_micro") * 3L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty, "the harness corpus has value outliers")
    // cross-check the alert volume against the gated e37 rollup
    val e37Total = Events.e37ValueOutliers(spark, dir)
      .agg(sum(col("n_outliers"))).head.getLong(0)
    assert(streamed.size.toLong == e37Total,
      s"alerts=${streamed.size} vs e37 n_outliers=$e37Total")
  }
}
