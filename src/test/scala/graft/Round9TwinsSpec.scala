package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Independent-twin checks for the round-10 session operators (q32
  * basket pairs, e25 session co-occurrence lift, t24 Zipf fit, s21
  * silhouette, m13 Hamming threshold curve): each test recomputes the
  * semantics driver-side from the raw parquet, sharing no Spark plan
  * with the code under test (m13's twin starts from the decoded phash
  * strings — the banding/cap/pair/histogram logic it adds over the
  * shared decode is recomputed from scratch).
  */
class Round9TwinsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def halfUpMicro(x: Double): Long =
    BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** `(num + den/2) / den` in BigInt — the intDiv LEGACY twin (BigInt
    * `/` truncates toward zero, as both engines do). */
  private def halfUpDiv(num: BigInt, den: BigInt): BigInt =
    (num + den / 2) / den

  test("q32: basket pairs match a driver-side twin") {
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.distinct
    val exp = items.groupBy(_._1).toSeq.flatMap { case (_, ps) =>
      val parts = ps.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- i + 1 until parts.size)
        yield (parts(i), parts(j))
    }.groupBy(identity).map { case ((pa, pb), g) => (pa, pb, g.size.toLong) }
      .filter(_._3 >= 2)
      .toSeq.sortBy(r => (-r._3, r._1, r._2)).take(100)
    val got = graft.queries.Relational.q32BasketPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == exp)
    assert(got.nonEmpty && got.forall(_._3 >= 2))
    assert(got.forall(r => r._1 < r._2), "pairs must be ordered pa < pb")
  }

  test("e25: session pair lift matches a driver-side twin") {
    val events = Tables.events(spark, dir)
      .select(col("user_id"),
        org.apache.spark.sql.functions.unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val gapUs = 30L * 60 * 1000 * 1000
    // sessionize per user, emit (user, seq, type) distinct
    val st = events.groupBy(_._1).toSeq.flatMap { case (uid, evs) =>
      val sorted = evs.sortBy(e => (e._2, e._3))
      var seq = 0L; var prev = Long.MinValue
      sorted.map { e =>
        if (prev == Long.MinValue || e._2 - prev > gapUs) seq += 1
        prev = e._2
        (uid, seq, e._4)
      }
    }.distinct
    val nSessions = st.map(s => (s._1, s._2)).distinct.size.toLong
    val typeCount = st.groupBy(_._3).map { case (t, g) => t -> g.size.toLong }
    val exp = st.groupBy(s => (s._1, s._2)).toSeq.flatMap { case (_, ts) =>
      val types = ts.map(_._3).distinct.sorted
      for (i <- types.indices; j <- i + 1 until types.size)
        yield (types(i), types(j))
    }.groupBy(identity).map { case ((ta, tb), g) =>
      val support = g.size.toLong
      val den = BigInt(typeCount(ta)) * BigInt(typeCount(tb))
      val lift = halfUpDiv(BigInt(support) * nSessions * 1000000L, den)
        .toDouble / 1e6
      (ta, tb, support, typeCount(ta), typeCount(tb), lift)
    }.toSeq.sortBy(r => (r._1, r._2))
    val gotByName = graft.queries.Events.e25SessionPairs(spark, dir)
      .select("ta", "tb", "support", "cnt_a", "cnt_b", "lift")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(gotByName == exp, s"got $gotByName")
    assert(gotByName.nonEmpty)
  }

  test("t24: Zipf slope/intercept match a driver-side twin; slope < 0") {
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val exp = docs.groupBy(_._1).map { case (lang, ds) =>
      val freq = ds.flatMap(d => d._2.trim.toLowerCase.split("\\s+", -1))
        .groupBy(identity).map { case (t, g) => (t, g.size.toLong) }
      val top = freq.toSeq.sortBy(r => (-r._2, r._1)).take(500)
      val xy = top.zipWithIndex.map { case ((_, f), i) =>
        (halfUpMicro(math.log((i + 1).toDouble)),
          halfUpMicro(math.log(f.toDouble)))
      }
      val n = BigInt(xy.size)
      val sx = xy.map(p => BigInt(p._1)).sum
      val sy = xy.map(p => BigInt(p._2)).sum
      val sxy = xy.map(p => BigInt(p._1) * p._2).sum
      val sxx = xy.map(p => BigInt(p._1) * p._1).sum
      val den = n * sxx - sx * sx
      val slope = halfUpDiv((n * sxy - sx * sy) * 1000000L, den)
        .toDouble / 1e6
      val inter = halfUpDiv(sxx * sy - sx * sxy, den).toDouble / 1e6
      lang -> ((xy.size.toLong, slope, inter))
    }
    val got = graft.queries.TextDedup.t24ZipfSlope(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (lang, g) => assert(g == exp(lang), s"lang $lang") }
    assert(got.values.forall(_._2 < 0), "Zipf slope must be negative")
  }

  test("s21: per-label silhouette matches a driver-side twin") {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).toArray)).toSeq
    val dims = emb.head._3.length
    // GridMath centroid: per-dim micro-unit sum, one half-up division
    val centroids = emb.groupBy(_._2).map { case (label, vs) =>
      val n = vs.size
      label -> Array.tabulate(dims) { d =>
        val units = vs.map(v => BigInt(halfUpMicro(v._3(d).toDouble))).sum
        val den = BigInt(n) * 1000000L
        halfUpDiv(units * 1000000L, den).toDouble / 1e6
      }
    }
    def distTo(v: Array[Float], m: Array[Double]): Double = {
      var vv = 0.0; var vm = 0.0; var mm = 0.0
      var i = 0
      while (i < dims) {
        vv += v(i).toDouble * v(i).toDouble
        vm += v(i).toDouble * m(i)
        mm += m(i) * m(i)
        i += 1
      }
      math.sqrt(vv - 2.0 * vm + mm)
    }
    val perVec = emb.map { case (_, label, v) =>
      val a = distTo(v, centroids(label))
      val b = centroids.filter(_._1 != label).values.map(distTo(v, _)).min
      (label, halfUpMicro(a), halfUpMicro(b),
        halfUpMicro((b - a) / math.max(a, b)))
    }
    val exp = perVec.groupBy(_._1).map { case (label, g) =>
      val n = BigInt(g.size)
      def mean(f: ((Int, Long, Long, Long)) => Long): Double =
        halfUpDiv(g.map(r => BigInt(f(r))).sum, n).toDouble / 1e6
      label -> ((g.size.toLong, mean(_._2), mean(_._3), mean(_._4)))
    }
    val got = graft.queries.Embeddings.s21Silhouette(spark, dir)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (label, g) => assert(g == exp(label), s"label $label") }
  }

  test("d23: unified components equal a driver-side union-find over the " +
      "three modality pair sets") {
    // edge sets from the three (independently gated) pair generators
    def pairsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val edges =
      pairsOf(graft.queries.TextDedup.dupPairs(spark, dir)) ++
      pairsOf(graft.multimodal.Multimodal.phashPairsOf(
        graft.multimodal.Multimodal.phashAsset(spark, dir))) ++
      pairsOf(graft.queries.Embeddings.ivfNearDup(spark, dir, None))
    val ids = Tables.documents(spark, dir).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSeq
    // driver-side union-find with path compression
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val compOf = ids.map(i => i -> find(i)).toMap
    val sizes = compOf.values.groupBy(identity).map { case (c, g) =>
      c -> g.size.toLong
    }
    val exp = ids.sorted.map(i => (i, compOf(i), sizes(compOf(i)),
      i == compOf(i)))
    val got = graft.queries.TextDedup.d23UnifiedDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    assert(got == exp)
    // the closure must actually merge across modalities somewhere: some
    // component must contain an edge from ≥2 different generators
    val byGen = Seq(
      pairsOf(graft.queries.TextDedup.dupPairs(spark, dir)),
      pairsOf(graft.multimodal.Multimodal.phashPairsOf(
        graft.multimodal.Multimodal.phashAsset(spark, dir))),
      pairsOf(graft.queries.Embeddings.ivfNearDup(spark, dir, None)))
    val compsPerGen = byGen.map(_.map(e => find(e._1)).toSet)
    assert(compsPerGen.combinations(2).exists(p => (p(0) & p(1)).nonEmpty),
      "no component spans two modalities — the union adds nothing")
  }

  test("t25: per-source KL divergence matches a driver-side twin; KL ≥ 0") {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    def lnMicro(c: Long): Long =
      BigDecimal(math.log(c.toDouble) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val tf = docs.flatMap { case (src, t) =>
      t.trim.toLowerCase.split("\\s+", -1).map(tok => (src, tok))
    }.groupBy(identity).map { case ((s, t), g) => (s, t, g.size.toLong) }.toSeq
    val cct = tf.groupBy(_._2).map { case (t, g) => t -> g.map(_._3).sum }
    val nc = cct.values.sum
    val exp = tf.groupBy(_._1).map { case (src, rows) =>
      val ns = rows.map(_._3).sum
      val part = rows.map { case (_, t, c) =>
        BigInt(c) * (lnMicro(c) - lnMicro(cct(t)))
      }.sum
      val num = part + BigInt(ns) * (lnMicro(nc) - lnMicro(ns))
      val kl = ((num + BigInt(ns) / 2) / BigInt(ns)).toDouble / 1e6
      src -> ((ns, rows.size.toLong, kl))
    }
    val got = graft.queries.TextDedup.t25SourceDivergence(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (src, g) => assert(g == exp(src), s"source $src") }
    // Gibbs: KL ≥ 0 up to the micro-snap (tolerate one micro-nat)
    assert(got.values.forall(_._3 >= -1e-6))
  }

  test("e25 streaming twin: closed-session facts through the shared " +
      "finisher equal the batch pipeline") {
    val sess = spark
    import sess.implicits._
    val base = 1700000000000L
    def ev(u: Long, id: Long, typ: String, offMin: Long) =
      graft.streaming.EventStreams.TypeIn(u, id, typ,
        new java.sql.Timestamp(base + offMin * 60000))
    // user 1: session A {view, click, view} (distinct {click,view}),
    //   40-min gap, session B {purchase}; user 2: one session {view};
    //   user 3: a view, then a click 30 min + 500 µs later — over the
    //   µs gap, so two sessions and no pair (a ms clock would see
    //   exactly 30 min and merge them); user 4: view +0, click +20,
    //   purchase +10, click +45 — one session, gaps ≤ 25 min in time
    //   order whatever order the rows arrive in; user 99 pushes the
    //   watermark far past every other session
    val overGap = ev(3, 8, "click", 30)
    overGap.ts.setNanos(500000)
    val late = ev(4, 11, "purchase", 10)
    val all = Seq(
      ev(1, 1, "view", 0), ev(1, 2, "click", 5), ev(1, 3, "view", 10),
      ev(2, 4, "view", 0),
      ev(3, 7, "view", 0), ev(4, 9, "view", 0), ev(4, 10, "click", 20),
      late,
      ev(1, 5, "purchase", 50),
      overGap, ev(4, 12, "click", 45),
      ev(99, 6, "signup", 600))
    val byId = all.map(e => e.event_id -> e).toMap
    // one burst; the late-row replay (user 4's +10 after its +20); and a
    // permutation that sends rows newest first within each user, every
    // row still above the watermark when it arrives
    val replays = Seq(
      Seq(all),
      Seq(all.takeWhile(_ ne late), all.dropWhile(_ ne late)),
      Seq(Seq(10L, 3L, 2L), Seq(11L, 1L, 4L, 7L, 9L), Seq(12L, 8L), Seq(6L, 5L))
        .map(_.map(byId)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def rows(lift: org.apache.spark.sql.DataFrame) =
      lift.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    val batchDf = all.filter(_.user_id != 99)
      .map(e => (e.user_id, e.ts, e.event_id, e.event_type))
      .toDF("user_id", "ts", "event_id", "event_type")
    val batch = rows(graft.queries.Events.pairLiftOfSets(
      graft.queries.Events.sessionTypeSets(batchDf)))
    replays.zipWithIndex.foreach { case (bursts, i) =>
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.EventStreams.TypeIn]
      val q = graft.streaming.EventStreams.sessionTypeFacts(mem.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName(s"sess_type_facts_$i").start()
      try bursts.foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
      } finally q.stop()
      // user 99's session never closes (nothing moves the watermark past
      // it) — the batch side holds the users whose sessions closed
      val streamed = rows(graft.queries.Events.sessionPairLiftOf(
        spark.table(s"sess_type_facts_$i")
          .select(org.apache.spark.sql.functions.struct(
            col("user_id"), col("session_start_ms")).as("skey"),
            col("event_type"))))
      assert(streamed == batch, s"replay $i: stream=$streamed batch=$batch")
    }
    // the crafted data's co-occurring pairs: user 1's session A and user
    // 4's session hold (click, view); user 4's alone adds purchase
    assert(batch.map(r => (r._1, r._2, r._3)) == Seq(
      ("click", "purchase", 1L), ("click", "view", 2L),
      ("purchase", "view", 1L)))
  }

  test("p20: unified savings ledger matches a driver-side rollup of the " +
      "d23 verdicts") {
    val verdict = graft.queries.TextDedup.d23UnifiedDedup(spark, dir)
      .select(col("doc_id"), col("keep"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2).trim.toLowerCase.split("\\s+", -1).length.toLong))
    val exp = docs.groupBy(_._2).map { case (src, ds) =>
      val total = ds.map(_._3).sum
      val kept = ds.filter(d => verdict(d._1)).map(_._3).sum
      val savings = ((BigInt(total - kept) * 1000000 + BigInt(total) / 2)
        / BigInt(total)).toDouble / 1e6
      src -> ((ds.size.toLong, ds.count(d => verdict(d._1)).toLong,
        total, kept, savings))
    }
    val got = graft.queries.TextDedup.p20UnifiedSavings(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (src, g) => assert(g == exp(src), s"source $src") }
    // the cross-modal closure must remove something somewhere
    assert(got.values.exists(_._5 > 0), "no source saved any tokens")
  }

  test("m13: Hamming curve matches a twin recomputed from the phash strings") {
    val hashes = graft.multimodal.Multimodal.phashAsset(spark, dir)
      .select(col("doc_id"), col("phash"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val dh = hashes.map(_._2).distinct
    // banded candidates over distinct hashes, 256-per-bucket cap
    val capped = dh.flatMap(p => (0 until 4).map(b =>
        (b, p.substring(b * 16, b * 16 + 16), p)))
      .groupBy(t => (t._1, t._2)).toSeq.flatMap { case (_, g) =>
        g.map(_._3).sorted.take(256)
          .map(p => ((g.head._1, g.head._2), p))
      }
    val hp = capped.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.distinct
    val closeh = hp.map { case (pa, pb) =>
      (pa, pb, (0 until 64).count(i => pa(i) != pb(i)).toLong)
    }.filter(_._3 <= 10)
    val slim = hashes.groupBy(_._2).toSeq.flatMap { case (p, g) =>
      g.map(_._1).sorted.take(64).map(id => (p, id))
    }
    val byHash = slim.groupBy(_._1).map { case (p, g) => p -> g.map(_._2) }
    val inter = closeh.flatMap { case (pa, pb, h) =>
      for (a <- byHash(pa); b <- byHash(pb))
        yield (math.min(a, b), math.max(a, b), h)
    }
    val intra = byHash.values.toSeq.flatMap { ids =>
      val s = ids.sorted
      for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j), 0L)
    }
    val allp = inter ++ intra
    val hist = allp.groupBy(_._3).map { case (h, g) => h -> g.size.toLong }
    val exp = hist.toSeq.sortBy(_._1).map { case (h, n) =>
      (h, n, hist.filter(_._1 <= h).values.sum)
    }
    val got = graft.multimodal.Multimodal.m13HammingCurve(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == exp, s"got $got want $exp")
    assert(got.nonEmpty)
    // curve invariants: n_cum strictly accumulates and ends at the total
    assert(got.last._3 == allp.size.toLong)
  }
}
