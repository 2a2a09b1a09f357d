package graft

import org.apache.spark.sql.functions._

/** Multi-drop ledger rehearsal (r15, round-14 verdict directive 4):
  * d34w/[[graft.streaming.CorpusStreams.WinnowLedgerMaintainer]] was
  * measured for ONE merge; a production ledger takes a drop per crawl
  * cycle. This main drives k successive increments through the live
  * maintainer and prices each leg separately, so SCALE.md can assert
  * the two properties a standing service needs:
  *
  *  - per-drop merge cost stays FLAT as history accumulates (the
  *    ledger's star edges grow with components, not with drops — a
  *    rising per-drop cost would mean the merge re-reads history);
  *  - the final ledger equals the from-scratch one-shot closure over
  *    every edge ever emitted (the Round14OpsSpec star-contraction
  *    algebra, executed at rehearsal scale via the maintainer's
  *    audit-edge log).
  *
  * Args: dataDir k [outFile] [shufflePartitions=cpus] [audit=1]
  * [dropDocs=0], where `cpus` is `SPARK_GRAFT_CPUS` (default 32); the
  * session is [[Measure.session]]. More arguments than these, or a
  * non-integer `k`, `shufflePartitions` or `dropDocs`, fail with the
  * usage line before any session starts.
  *
  * `dropDocs > 0` caps the arrival universe to its first `dropDocs`
  * documents (still sharded round-robin into k drops) — the
  * SMALL-increment regime: a ~10-doc drop carries a few hundred
  * distinct fps, yet the maintainer's `localCheckpoint` advance still
  * rewrites the WHOLE standing postings index per merge, so this row
  * prices the per-drop floor that does not shrink with the increment.
  *
  * The increment universe is d34w's own arrival split (doc_id ≡ 0
  * mod 5); drops are round-robin slices of it ((doc_id / 5) % k), so
  * every drop has the same expected size and content mix. Timing
  * discipline: the maintainer's `localCheckpoint(eager)` state advance
  * means each `mergeBatch` call IS the full merge cost — nothing lazy
  * escapes the timed window. The verify leg (edge-log recompute + label
  * join) prices separately; it is the audit, not the per-drop path.
  *
  * Probe instrumentation (r15 verdict, directive 3): the box's
  * same-day noise (identical standing builds measured 1.8× apart in
  * one r15 session) swamps any <2× per-drop history trend at sf100+.
  * The rehearsal times a FIXED probe — the winnow selection kernel +
  * count over a constant ~3% slice of the standing corpus, work that
  * cannot depend on how many drops have merged — after every drop
  * (one discarded warmup probe first: the probe's own page-cache fill
  * otherwise reads as per-drop growth) and emits `drops_norm` =
  * drop_s / probe_s alongside the raw rows. Measured caveat
  * (SCALE.md r16): a few-second probe SAMPLES whichever contention
  * burst it lands in (0.87–25.3 s spread within one sf100 run), so
  * the ratio is noisier than the raw series — the probe documents the
  * box's instantaneous state next to each drop, while the flatness
  * CLAIM is made by a trend fit through k ≥ 12 raw drops (slope CI vs
  * the checkpoint-rewrite floor).
  */
object LedgerRehearsal {
  def main(args: Array[String]): Unit = {
    val a = new Measure.Args("LedgerRehearsal dataDir k [outFile] " +
      "[shufflePartitions] [audit] [dropDocs]", args)
    val dataDir = args(0)
    val k = a.int(1).get
    val shufflePartitions = a.int(3)
    val audit = a.get(4).forall(_ != "0")
    val dropDocs = a.int(5).getOrElse(0)
    val spark = Measure.session(shufflePartitions)
    import Measure.{obj, r3, timed}

    val docs = Tables.documents(spark, dataDir)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 5 =!= 0)
    val incAll = docs.filter(col("doc_id") % 5 === 0)
    // dropDocs > 0: the small-increment regime — arrival ids are
    // 0, 5, 10, …, so (doc_id / 5) < dropDocs keeps exactly the first
    // dropDocs arrivals
    val inc = if (dropDocs > 0)
      incAll.filter((col("doc_id") / 5) < dropDocs) else incAll

    // the fixed probe unit: selection kernel + count over a constant
    // ~3% standing slice — reads the same parquet, burns the same
    // expression kernel, and CANNOT grow with merge history (one
    // spelling, shared with IngestRehearsal)
    val probeUnit = graft.queries.TextDedup.rehearsalProbe(standing)
    def probe(): Double = timed(probeUnit())._2

    // the once-per-corpus standing build (constructor state is eager)
    val (m, buildS) = timed(
      new graft.streaming.CorpusStreams.WinnowLedgerMaintainer(
        standing, auditEdges = audit))

    // warm the probe's own page-cache/codegen path before it is used
    // as a unit: the first sf10 regen showed the probe getting FASTER
    // across the run (0.72 → 0.32 s) — its own warmup, not box drift —
    // which would masquerade as per-drop growth in the normalized
    // series. One discarded probe removes the confound.
    probe()

    // k drops, each the full merge: selection kernel + postings probe +
    // self join + star contraction — eager via localCheckpoint; a
    // probe after every drop prices the box at that instant
    val dropRows = (0 until k).map { i =>
      val batch = inc.filter((col("doc_id") / 5) % k === i)
      val (_, s) = timed(m.mergeBatch(batch))
      (i, s, probe())
    }

    val nLedger = m.currentLedger.count()
    val verify =
      if (!audit) ""
      else {
        val (mismatches, vs) = timed {
          m.currentLedger.as("a")
            .join(m.recomputedLedger.as("b"), col("a.id") === col("b.id"),
              "full")
            .filter(col("a.component").isNull || col("b.component").isNull ||
              col("a.component") =!= col("b.component"))
            .count()
        }
        require(mismatches == 0L,
          s"merge-k diverged from the from-scratch closure: $mismatches labels")
        s""","verify_mismatches":$mismatches,"verify_s":${r3(vs)}"""
      }

    val dropsJson = obj(dropRows.map { case (i, s, _) => s"drop$i" -> s })
    val probesJson = obj(dropRows.map { case (i, _, p) => s"probe$i" -> p })
    val normJson = obj(dropRows.map { case (i, s, p) => s"norm$i" -> s / p })
    // audit runs carry the edge-log checkpoint INSIDE each timed drop
    // (the log re-materializes per merge), so their drop numbers are
    // audit-shape, not production-shape — run audit=0 for the flatness
    // measurement and audit=1 for the merge-k ≡ recompute gate, and
    // let the artifact say which it was.
    val out = s"""{"metric":"ledger_rehearsal","sf":"$dataDir","k":$k,""" +
      s""""drop_docs":$dropDocs,""" +
      s""""audit":$audit,"standing_build_s":${r3(buildS)},""" +
      s""""drops":$dropsJson,"probes":$probesJson,""" +
      s""""drops_norm":$normJson,"n_ledger_rows":$nLedger$verify}"""
    Measure.emit(out, args.lift(2))
    spark.stop()
  }
}
