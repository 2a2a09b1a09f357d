package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ingest-decontamination rehearsal (r15 verdict, directives 1–2):
  * `contaminationAtIngest` shipped spec-pinned at sf0.001 but with no
  * battery row — every other heavy operator prices its standing build
  * and its marginal per-trigger cost at rehearsal scale, and the
  * ingest seam now does too. This main prices, in one per-query JVM:
  *
  *  - **snapshot_build_s** — the point-in-time standing asset
  *    ([[graft.streaming.CorpusStreams.trainFpSnapshot]]): the train
  *    split's distinct wide winnow fingerprint set, persisted + pinned
  *    (what `contaminationAtIngest`'s stream-static join re-reads per
  *    trigger);
  *  - **maintainer_build_s** — the same set built as
  *    [[graft.streaming.CorpusStreams.TrainFpMaintainer]] standing
  *    state (localCheckpoint advance instead of cache pin);
  *  - **drops** — k successive arrival shards through
  *    `TrainFpMaintainer.mergeBatch`: each timed window IS one
  *    foreachBatch trigger's full cost (extend the distinct-fp set by
  *    the increment's novel train fps + judge the increment's eval
  *    docs against the post-merge set — `localCheckpoint(eager)` means
  *    nothing lazy escapes). `drop_rows` carries each shard's arrival
  *    count so SCALE.md can state a per-arrival cost;
  *  - **probes / drops_norm** — the LedgerRehearsal probe discipline
  *    (r15 verdict, directive 3): a fixed ~3%-slice winnow kernel
  *    probe after every drop, documenting the box's instantaneous
  *    state next to each drop (see the LedgerRehearsal scaladoc for
  *    the measured sampler-not-normalizer caveat);
  *  - **verify** — the maintained set must equal the from-scratch
  *    distinct train-fp set over (standing ∪ all arrivals), both
  *    directions (distinct-union maintenance is order-independent, so
  *    this holds unconditionally — no train-leads caveat needed for
  *    the SET, only for verdict equivalence, which StreamingSpec
  *    pins).
  *
  * Args: dataDir k [outFile] [shufflePartitions=cpus] [stream=0],
  * where `cpus` is `SPARK_GRAFT_CPUS` (default 32); the session is
  * [[Measure.session]]. More arguments than these, or a non-integer
  * `k`, `shufflePartitions` or `stream`, fail with the usage line
  * before any session starts.
  *
  * Build-order caveat (r16 ADVICE): leg 1 (snapshot build) runs cold
  * and leg 2 (maintainer build) reads the same standing parquet
  * page-cache-warm, so the snapshot-vs-maintainer STANDING-BUILD
  * comparison inside one JVM is biased warm toward leg 2; quote
  * cross-build comparisons from separate runs (as SCALE.md's rows do)
  * or read them as a warm bound. The per-drop series is unaffected —
  * every drop runs equally warm behind both builds.
  *
  * With `stream=1`, a final leg drives the ACTUAL
  * `contaminationAtIngest` streaming query (watermark, stream-static
  * join, append-mode state) through the same k shards as MemoryStream
  * triggers and times each `processAllAvailable` — the snapshot
  * operator's own per-trigger cost, as opposed to the maintainer's
  * foreachBatch merge. Shard collection to the driver happens OUTSIDE
  * the timed window (that is harness feeding, not operator cost), and
  * the leg cross-checks its verdict count against the maintainer's
  * (both judge exactly the eval arrivals that produce selections).
  * Driver-memory bound: the shards are collected, so run it at
  * sf ≤ 100 (the maintainer legs have no such bound).
  *
  * With `stream=2`, the same leg runs on a FILE source instead: each
  * shard is written as new parquet files into a watched directory
  * (outside the timed window — landing files is the upstream's job)
  * and the trigger scans them. This is the lake-shaped harness — no
  * driver collect, no LocalRelation riding the task binaries (the
  * MemoryStream leg ships the whole shard as a ~90 MB broadcast per
  * trigger at sf100, which a real source never does) — so its
  * trigger times are the honest per-trigger marginal cost, and it
  * has no sf bound.
  *
  * The arrival universe is the maintainer family's own split (doc_id ≡
  * 0 mod 5), sharded round-robin like LedgerRehearsal, so ingest rows
  * are comparable with the ledger rows measured on the same corpus.
  */
object IngestRehearsal {
  def main(args: Array[String]): Unit = {
    val a = new Measure.Args("IngestRehearsal dataDir k [outFile] " +
      "[shufflePartitions] [stream]", args)
    val dataDir = args(0)
    val k = a.int(1).get
    val shufflePartitions = a.int(3)
    val streamMode = a.int(4).getOrElse(0)
    val spark = Measure.session(shufflePartitions)
    import Measure.{obj, r3, timed}

    val docs = Tables.documents(spark, dataDir)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val inc = docs.filter(col("doc_id") % 5 === 0)
    val nArrivals = inc.count()

    val probeUnit = graft.queries.TextDedup.rehearsalProbe(standing)
    def probe(): Double = timed(probeUnit())._2

    // leg 1: the snapshot operator's standing asset (persist + pin) —
    // FIRST, cold, like LedgerRehearsal's standing build (an earlier
    // revision ran the warmup probe before the builds, which measured
    // them kernel/page-cache-warm and skewed cross-main comparisons)
    val (snap, snapS) =
      timed(graft.streaming.CorpusStreams.trainFpSnapshot(standing))
    snap.release() // priced, not needed: the maintainer owns the set now

    // leg 2: the maintained set's standing build (note: reads the
    // standing parquet page-cache-warm behind leg 1 — see the
    // build-order caveat in the scaladoc)
    val (m, buildS) = timed(
      new graft.streaming.CorpusStreams.TrainFpMaintainer(standing))

    probe() // discard: warm the probe's own path AFTER the timed
            // builds (a self-warming unit reads as per-drop growth)

    // k drops, each one trigger's marginal cost (extend + judge)
    val dropRows = (0 until k).map { i =>
      val batch = inc.filter((col("doc_id") / 5) % k === i)
      val n = batch.count() // shard size, outside the timed window
      val (_, s) = timed(m.mergeBatch(batch))
      (i, s, probe(), n)
    }
    val nVerdicts = m.verdicts.count()

    // verify: maintained ≡ from-scratch over standing ∪ arrived
    val (mismatches, verifyS) = timed {
      val fresh = graft.streaming.CorpusStreams.trainFpsOf(docs)
      m.currentFps.join(fresh, Seq("fp"), "leftanti")
        .unionByName(fresh.join(m.currentFps, Seq("fp"), "leftanti"))
        .count()
    }
    require(mismatches == 0L,
      s"maintained train-fp set diverged from from-scratch: $mismatches fps")

    // the snapshot operator's own per-trigger cost: the real streaming
    // query, one timed processAllAvailable per shard
    val streamJson = if (streamMode == 0) ""
    else {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val flushText = "this flush document carries enough novel " +
        "tokens to produce winnow selections and advance the " +
        "watermark clock"
      val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      val flushTs = java.sql.Timestamp.valueOf("2026-01-01 01:00:00")
      val (snap2, snapS2) =
        timed(graft.streaming.CorpusStreams.trainFpSnapshot(standing))

      // the two harnesses feed identically-shaped (doc_id, text,
      // arrival_ts) shards; feeding happens OUTSIDE the timed window
      val feed: (Int => Unit, () => Unit, DataFrame) =
        if (streamMode == 1) {
          val mem = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[(Long, String, java.sql.Timestamp)]
          (
            (i: Int) => {
              val rows = inc.filter((col("doc_id") / 5) % k === i)
                .collect().map(r => (r.getLong(0), r.getString(1), ts0))
              mem.addData(rows.toIndexedSeq: _*); ()
            },
            () => { mem.addData((Long.MaxValue, flushText, flushTs)); () },
            mem.toDS().toDF("doc_id", "text", "arrival_ts"))
        } else {
          // lake-shaped: shards LAND as parquet files in a watched dir
          val srcDir = RunAssets.register(
            s"${System.getProperty("java.io.tmpdir")}/graft-ingestsrc-" +
            java.util.UUID.randomUUID().toString)
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(srcDir))
          val sch = Seq.empty[(Long, String, java.sql.Timestamp)]
            .toDF("doc_id", "text", "arrival_ts").schema
          (
            (i: Int) => inc.filter((col("doc_id") / 5) % k === i)
              .withColumn("arrival_ts", lit(ts0))
              .write.mode("append").parquet(srcDir),
            () => Seq((Long.MaxValue, flushText, flushTs))
              .toDF("doc_id", "text", "arrival_ts")
              .write.mode("append").parquet(srcDir),
            spark.readStream.schema(sch).parquet(srcDir))
        }

      val q = graft.streaming.CorpusStreams.contaminationAtIngest(
          feed._3, snap2)
        .writeStream.outputMode("append").format("memory")
        .queryName("ingest_rehearsal_contam").start()
      val triggers = (0 until k).map { i =>
        feed._1(i)
        val (_, s) = timed(q.processAllAvailable())
        (i, s)
      }
      // one late arrival advances the watermark past the window so the
      // pending append-mode verdicts emit (the StreamingSpec idiom)
      feed._2()
      val (_, flushS) = timed(q.processAllAvailable())
      val nStream = spark.table("ingest_rehearsal_contam")
        .filter(col("doc_id") =!= Long.MaxValue).count()
      q.stop()
      snap2.release()
      // both operators judge exactly the eval arrivals that produce
      // selections — a count drift would mean the surfaces diverged
      require(nStream == nVerdicts,
        s"stream verdicts $nStream != maintainer verdicts $nVerdicts")
      s""","stream_harness":${if (streamMode == 1) "\"memory\"" else "\"files\""},""" +
        s""""stream_snapshot_build_s":${r3(snapS2)},""" +
        s""""stream_triggers":${obj(triggers.map { case (i, s) => s"trig$i" -> s })},""" +
        s""""stream_flush_s":${r3(flushS)},"n_stream_verdicts":$nStream"""
    }
    val dropsJson = obj(dropRows.map(r => s"drop${r._1}" -> r._2))
    val probesJson = obj(dropRows.map(r => s"probe${r._1}" -> r._3))
    val normJson = obj(dropRows.map(r => s"norm${r._1}" -> r._2 / r._3))
    val rowsJson = dropRows
      .map { case (i, _, _, n) => s""""rows$i":$n""" }
      .mkString("{", ",", "}")

    val out = s"""{"metric":"ingest_rehearsal","sf":"$dataDir","k":$k,""" +
      s""""n_arrivals":$nArrivals,"snapshot_build_s":${r3(snapS)},""" +
      s""""maintainer_build_s":${r3(buildS)},"drops":$dropsJson,""" +
      s""""probes":$probesJson,"drops_norm":$normJson,""" +
      s""""drop_rows":$rowsJson,"n_verdicts":$nVerdicts,""" +
      s""""verify_fp_mismatches":$mismatches,""" +
      s""""verify_s":${r3(verifyS)}$streamJson}"""
    Measure.emit(out, args.lift(2))
    spark.stop()
  }
}
