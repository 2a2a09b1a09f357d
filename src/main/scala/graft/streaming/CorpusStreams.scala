package graft.streaming

import graft.queries.TextDedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Streaming surface over the documents corpus — ingest-time operators.
  *
  * A production pretraining pipeline doesn't only dedup a finished
  * corpus snapshot (the batch d-family); it also filters AT INGEST, as
  * crawl shards arrive. This module carries those twins: the plans are
  * the streaming halves of [[graft.queries.TextDedup]] queries, proven
  * equivalent in `StreamingSpec`.
  */
object CorpusStreams {

  /** Ingest-time exact dedup — the streaming twin of d1's decision: a
    * document is admitted iff its normalized-content hash was never seen
    * before (`dropDuplicates` keyed on the d1 hash — the same
    * [[graft.queries.TextDedup.contentHash]] column, so the streaming
    * filter and the batch canonical-set agree on what "same document"
    * means). Across micro-batches the earlier arrival always
    * wins (keyed state); within one micro-batch the survivor among
    * simultaneous duplicates is arbitrary — at ingest that tie is
    * meaningless (the copies are identical by construction). State is
    * one (hash) entry per distinct document, unbounded by design: exact
    * corpus-lifetime dedup IS an unbounded-state problem; the bounded
    * variant is `dropDuplicatesWithinWatermark` when the product only
    * needs near-arrival dedup (crawler re-fetch suppression), which
    * trades completeness for GC — the same completeness/state dial as
    * the batch d6b/d9b caps.
    */
  def ingestDedup(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextDedup.contentHash.as("text_hash"))
      .dropDuplicates("text_hash")

  /** Ingest-time quality admission — the streaming twin of p4's filter.
    * The batch operator is stateless per-row math, so the twin IS the
    * same code: [[graft.queries.Ingest.admissionSignals]] +
    * [[graft.queries.Ingest.admissionDecision]] applied to a streaming
    * DataFrame. No watermark, no state store, no shuffle — each arriving
    * micro-batch is filtered inside its own scan stage, which is exactly
    * why a pipeline runs this rule AT ingest rather than batching it:
    * rejected documents never cost downstream storage or dedup work.
    * `StreamingSpec` proves stream ≡ batch row-for-row.
    */
  def qualityAdmission(docs: DataFrame): DataFrame =
    graft.queries.Ingest.admissionDecision(
      graft.queries.Ingest.admissionSignals(docs))

  /** Running (source, token, c) counts of a streaming corpus — the
    * standing term-frequency table an ingest pipeline maintains so
    * vocabulary-level diagnostics never re-scan the corpus; t32's
    * Simpson finisher ([[graft.queries.TextDedup.simpsonOf]]) reads it
    * directly, and `StreamingSpec` pins replay ≡ batch through that
    * seam. State is vocabulary-sized per source — the same budget as
    * the standing LM tables (t16's stream twin).
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        explode(TextDedup.toks).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))

  /** The admitted-corpus SINK: quality admission → keep-filter →
    * parquet file sink with a checkpoint. This is the write half of the
    * ingest pipeline, and the part whose guarantee matters most in
    * production: the file sink's `_spark_metadata` commit log plus the
    * source offsets in the checkpoint give EXACTLY-ONCE output across
    * restarts — a crashed-and-resumed ingest job neither drops nor
    * duplicates admitted documents, with no dedup-on-read needed
    * downstream. `StreamingSpec` proves it by killing the query between
    * micro-batches and restarting from the same checkpoint: the second
    * run processes only the unseen files, and a reader sees each
    * admitted doc exactly once. At scale the sink partitions by
    * arrival date like any lake table; the guarantee is per-file-sink
    * semantics, not corpus size.
    */
  def admittedCorpusSink(docs: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    qualityAdmission(docs)
      .filter(col("keep"))
      .drop("keep", "reject_reason")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Ingest-time media feature extraction — the streaming twin of m1's
    * decode: [[graft.multimodal.Multimodal.extractFeatures]] applied to
    * a streaming Dataset of media rows (a stateless typed mapPartitions
    * works on streams unchanged — one decoder per partition per
    * micro-batch, binary never enters state or shuffle). With this, the
    * ingest surface covers all four stages a multimodal pipeline runs
    * on arrival: admit (quality), scrub (PII), dedup (content hash),
    * extract (decode features, so the raw payload can be tiered to cold
    * storage immediately). `StreamingSpec` pins stream ≡ batch on real
    * decoded payloads.
    */
  def mediaFeatures(media: org.apache.spark.sql.Dataset[
      graft.multimodal.Multimodal.MediaRow]): DataFrame =
    graft.multimodal.Multimodal
      .extractFeatures(media, graft.multimodal.Multimodal.ImageIoDecoder)
      .toDF()

  /** Ingest-time LM scoring against a standing corpus — t16's streaming
    * half, and the real CCNet deployment shape: the bigram LM is
    * trained OFFLINE on the reference corpus (here: the standing frame
    * — per-release static assets cb/cw/V, exactly t16's Laplace
    * smoothing), and every ARRIVING document is scored under it at
    * ingest. With this the ingest surface covers the full quartet:
    * admit (p4 heuristics), scrub (PII), dedup (content hash / phash),
    * and model-based quality scoring. The stream explodes bigram
    * INSTANCES (Σ over instances ≡ Σ m·lnp, so no per-doc pre-agg is
    * needed on the stream side), left-joins the static LM tables on
    * the bigram/context keys (unseen bigrams coalesce to zero — the
    * batch rule), and aggregates per (event-time window, doc) so state
    * evicts at the watermark and scores emit once in append mode.
    * `StreamingSpec` pins stream scores ≡ the batch t16 output when
    * the standing corpus is the t9 train split — functional identity,
    * not shared code, so a drift in either side breaks the pin.
    */
  def lmXentAlerts(newDocs: DataFrame, standing: DataFrame,
      watermarkDelay: String = "10 minutes",
      windowDur: String = "10 minutes"): DataFrame = {
    import TextDedup.toks
    val n = size(col("toks"))
    def bigrams = explode(zip_with(slice(col("toks"), lit(1), n - 1),
      slice(col("toks"), lit(2), n - 1),
      (a, b) => concat(a, lit(" "), b))).as("bigram")
    // The LM tables are the OFFLINE-trained static assets — but the
    // static side of a stream-static join is re-evaluated every
    // micro-batch, so without a persist each trigger would re-tokenize
    // and re-aggregate the whole standing corpus three ways. Persist +
    // eager count pins them once; per-trigger cost is then proportional
    // to the increment, as the scaladoc promises.
    val cb = standing.select(toks.as("toks")).select(bigrams)
      .groupBy(col("bigram")).agg(count(lit(1)).as("cb"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .persist()
    cb.count()
    val cw = cb.groupBy(col("w1")).agg(sum(col("cb")).as("cw")).persist()
    cw.count()
    val vocabN = standing.select(explode(toks).as("token")).distinct()
      .agg(count(lit(1)).as("v")).persist()
    vocabN.count()
    newDocs
      .select(col("doc_id").cast("long"),
        col("arrival_ts").cast("timestamp"), toks.as("toks"))
      .select(col("doc_id"), col("arrival_ts"), bigrams)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withWatermark("arrival_ts", watermarkDelay)
      .join(cb.select(col("bigram"), col("cb")), Seq("bigram"), "left")
      .join(cw, Seq("w1"), "left")
      .crossJoin(broadcast(vocabN))
      .withColumn("lnp_micro",
        round((log(coalesce(col("cb"), lit(0L)).cast("double") + 1.0)
          - log(coalesce(col("cw"), lit(0L)).cast("double")
            + col("v").cast("double"))) * 1e6).cast("long"))
      .groupBy(window(col("arrival_ts"), windowDur), col("doc_id"))
      .agg(sum(col("lnp_micro")).as("slnp"), count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("slnp").cast("double")
          / (col("n_bigrams") * lit(1e6)), 6).as("xent"))
  }

  /** Ingest-time CCNet bucket assignment against a standing corpus —
    * p21's streaming half, and exactly how CCNet deploys: the unigram
    * LM and the per-language head/middle/tail CUTPOINTS are trained
    * OFFLINE on the standing corpus (the batch p21 bucketing run once,
    * its tercile boundaries — the max (xent, doc_id) of each of the
    * first two buckets — broadcast as a ≤|langs|-row asset), and every
    * ARRIVING document is scored under the frozen LM and bucketed by
    * comparing its (xent, doc_id) against the cutpoints map-side. The
    * stream explodes token INSTANCES (Σ over instances ≡ Σ m·ln c, so
    * no per-doc pre-agg on the stream side), left-joins the static
    * vocabulary (a token the standing corpus never saw scores
    * ln 1 = 0 — count-1 smoothing, documented divergence from the
    * batch run where unseen cannot occur), and aggregates per
    * (event-time window, doc) so state evicts at the watermark and
    * buckets emit once in append mode. For documents that ARE in the
    * standing corpus the assignment equals the batch p21 bucket
    * row-for-row — bucket membership r ≤ r_cut is equivalent to
    * (xent, doc_id) ≤ cut under the rank's own sort order —
    * which `StreamingSpec` pins by replay.
    */
  def perplexityBucketAlerts(newDocs: DataFrame, standing: DataFrame,
      watermarkDelay: String = "10 minutes",
      windowDur: String = "10 minutes"): DataFrame = {
    import TextDedup.toks
    // OFFLINE assets (persist: the static side of a stream-static join
    // re-evaluates per micro-batch; the LM and cutpoints must pin, both
    // for cost and because the cutpoint derivation runs the full batch
    // ranking — see lmXentAlerts for the discipline)
    val vocab = standing.select(explode(toks).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .withColumn("lnc_micro",
        round(log(col("c").cast("double")) * 1e6).cast("long"))
      .persist()
    vocab.count()
    val nTotal = vocab.agg(sum(col("c")).as("n_total")).persist()
    nTotal.count()
    val cuts = graft.queries.TextDedup.perplexityBucketsPerDoc(standing)
      .filter(col("bucket") =!= "tail")
      .groupBy(col("lang"), col("bucket"))
      .agg(max(struct(col("xent"), col("doc_id"))).as("cut"))
      .groupBy(col("lang"))
      .agg(max(when(col("bucket") === "head", col("cut"))).as("cut_head"),
        max(when(col("bucket") === "middle", col("cut"))).as("cut_mid"))
      .persist()
    cuts.count()
    // explode_outer + a null filter, not explode: a plain explode of the
    // `toks` attribute makes Catalyst infer `size(toks) > 0` below the
    // generator and push it through the projection — a second
    // tokenization per arrival
    newDocs
      .select(col("doc_id").cast("long"), col("lang"),
        col("arrival_ts").cast("timestamp"), toks.as("toks"))
      .select(col("doc_id"), col("lang"), col("arrival_ts"),
        explode_outer(col("toks")).as("token"))
      .filter(col("token").isNotNull)
      .withWatermark("arrival_ts", watermarkDelay)
      .join(vocab.select(col("token"), col("lnc_micro")), Seq("token"), "left")
      .groupBy(window(col("arrival_ts"), windowDur),
        col("doc_id"), col("lang"))
      .agg(sum(coalesce(col("lnc_micro"), lit(0L))).as("slnc"),
        count(lit(1)).as("n_tokens"))
      .crossJoin(broadcast(nTotal))
      .withColumn("xent",
        round(log(col("n_total").cast("double")) -
          col("slnc").cast("double") / (col("n_tokens") * lit(1e6)), 6))
      .join(broadcast(cuts), Seq("lang"), "left")
      .withColumn("sd", struct(col("xent"), col("doc_id")))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("xent"),
        when(col("sd") <= col("cut_head"), "head")
          .when(col("sd") <= col("cut_mid"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Ingest-time IMAGE dedup against a standing corpus — m6's streaming
    * half, completing incremental dedup across all three content
    * spaces: text (d13 / [[ingestDedupAgainst]]), embeddings (s9), and
    * now images. An arriving image is admitted iff its perceptual hash
    * (the SAME map-only decode+hash pass as batch m6 —
    * `Multimodal.phashOf` runs unchanged on the stream) is neither in
    * the standing corpus's phash asset (stream-static LEFT ANTI join,
    * zero state) nor already seen within the stream (`dropDuplicates`
    * keyed state, first arrival wins — the d1/ingestDedup rule in image
    * space). At lake scale the static side is the snapshot's phash
    * table, broadcast or bucket-joined; per-increment cost is the
    * increment's decode plus a slim 64-char-string join.
    */
  def imageDedupAgainst(
      newMedia: org.apache.spark.sql.Dataset[
        graft.multimodal.Multimodal.MediaRow],
      standing: org.apache.spark.sql.Dataset[
        graft.multimodal.Multimodal.MediaRow]): DataFrame = {
    // Persist: the static side of a stream-static join re-evaluates per
    // trigger, and this side is a FULL decode pass over the standing
    // corpus — without the pin every micro-batch would re-decode every
    // standing image (the text twin below joins a cheap column select;
    // this one doesn't). Eager count materializes the slim phash set
    // once; triggers then join a cached 64-bit-hash table.
    val standingHashes = graft.multimodal.Multimodal.phashOf(standing)
      .select(col("phash")).distinct().persist()
    standingHashes.count()
    graft.multimodal.Multimodal.phashOf(newMedia)
      .dropDuplicates("phash")
      .join(standingHashes, Seq("phash"), "left_anti")
      .select(col("doc_id"), col("phash"))
  }

  /** Ingest-time AUDIO dedup against a standing corpus — m14's streaming
    * half, extending incremental dedup to the fourth content space
    * (text d13, embeddings s9, images m6, now audio). An arriving
    * track is admitted iff its energy-envelope fingerprint (the SAME
    * real-decode fold as batch m14 — `Multimodal.audioFingerprintOf`
    * runs unchanged on the stream) is neither in the standing corpus's
    * fingerprint set (stream-static LEFT ANTI join, zero state) nor
    * already seen in-stream (`dropDuplicates` keyed state on the
    * (n_windows, fingerprint) envelope key, first arrival wins). Same
    * persist-the-static-decode discipline as [[imageDedupAgainst]]: the
    * standing side pins once, triggers join a slim 2-long table.
    */
  def audioDedupAgainst(newDocs: DataFrame, standing: DataFrame): DataFrame = {
    val standingFps = graft.multimodal.Multimodal
      .audioFingerprintOf(standing)
      .select(col("n_windows"), col("fingerprint")).distinct().persist()
    standingFps.count()
    graft.multimodal.Multimodal.audioFingerprintOf(newDocs)
      .dropDuplicates("n_windows", "fingerprint")
      .join(standingFps, Seq("n_windows", "fingerprint"), "left_anti")
      .select(col("doc_id"), col("n_windows"), col("fingerprint"))
  }

  /** Ingest-time VIDEO dedup against a standing corpus — m15's
    * streaming half, the last content space (text d13, embeddings s9,
    * images m6, audio m14, now video): an arriving clip is admitted iff
    * its scene-cut/byte-sum envelope (the SAME real RIFF-AVI walk as
    * batch — `Multimodal.videoFingerprintOf` unchanged on the stream)
    * is neither in the standing fingerprint set (stream-static LEFT
    * ANTI, zero state) nor already seen in-stream (dropDuplicates keyed
    * state on the (w, h, n_frames, fingerprint) key, first arrival
    * wins). Same persist-the-static-walk discipline as
    * [[imageDedupAgainst]]/[[audioDedupAgainst]].
    */
  def videoDedupAgainst(newDocs: DataFrame, standing: DataFrame): DataFrame = {
    val standingFps = graft.multimodal.Multimodal
      .videoFingerprintOf(standing)
      .select(col("width"), col("height"), col("n_frames"),
        col("fingerprint")).distinct().persist()
    standingFps.count()
    graft.multimodal.Multimodal.videoFingerprintOf(newDocs)
      .dropDuplicates("width", "height", "n_frames", "fingerprint")
      .join(standingFps, Seq("width", "height", "n_frames", "fingerprint"),
        "left_anti")
      .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
        col("fingerprint"))
  }

  /** Ingest-time image NEAR-dup alerts against a standing corpus —
    * m11's streaming half, the image-space sibling of
    * [[nearDupAlerts]]: an arriving image's perceptual hash is banded
    * into its four 16-bit keys (the SAME packed-long shift-and-mask
    * pass as batch m11 — `Multimodal.packedBands` runs unchanged on the
    * stream) and joined against the standing corpus's STANDING BAND
    * BUCKETS (stream-static equi-join on the band key, the d3/s9
    * pattern); candidates score the codegen'd `bit_count` Hamming and
    * pairs ≤ 10 emit as alerts. The Hamming filter runs BEFORE the
    * pair dedup, so keyed state holds only actual alert pairs (a
    * multi-band candidate would otherwise occupy state 4×). At lake
    * scale the static side is the snapshot's banded phash table —
    * 4 slim rows per standing image, bucket-joined on a 16-bit key;
    * per-arrival cost is the arriving image's decode plus its four
    * bucket probes.
    *
    * Semantics vs batch m11: this stream is UNCAPPED and UNTRUNCATED —
    * it emits every new×standing pair within Hamming ≤ 10, a superset
    * of batch m11 wherever the batch side's hot-band cap or 2000-row
    * limit binds (an alert stream must not silently drop alerts; the
    * cap's rank is a global property of the standing corpus that an
    * increment cannot reproduce). `PhashNearDupSpec` pins replay ≡
    * batch m11 on the same new/standing split in the uncapped regime.
    */
  def phashNearDupAlerts(
      newMedia: org.apache.spark.sql.Dataset[
        graft.multimodal.Multimodal.MediaRow],
      standing: org.apache.spark.sql.Dataset[
        graft.multimodal.Multimodal.MediaRow]): DataFrame = {
    import graft.multimodal.Multimodal
    // the static side re-evaluates per trigger — pin the slim banded
    // hash table, not the decode pass (same discipline as
    // [[imageDedupAgainst]])
    val standingBands = Multimodal.packedBands(Multimodal.phashOf(standing))
      .select(col("doc_id").as("old_id"), col("ph").as("ph_old"),
        col("band"), col("bb"))
      .persist()
    standingBands.count()
    Multimodal.packedBands(Multimodal.phashOf(newMedia))
      .select(col("doc_id").as("new_id"), col("ph").as("ph_new"),
        col("band"), col("bb"))
      .join(standingBands, Seq("band", "bb"))
      .withColumn("hamming", expr("bit_count(ph_new ^ ph_old)").cast("long"))
      .filter(col("hamming") <= 10)
      .select(col("new_id"), col("old_id"), col("hamming"))
      .dropDuplicates("new_id", "old_id")
  }

  /** Ingest-time exact-substring duplication audit — d22's streaming
    * half: per arriving document, how many of its stride-1 16-token
    * windows already occur in the STANDING corpus, and the longest
    * consecutive such run (⇒ the longest verbatim span copied from
    * the corpus). The standing side is one driver-sized BLOOM sketch
    * of the corpus's distinct window hashes (d19's machinery at 20
    * bits/key, fpp ≈ 7·10⁻⁵) built once before the stream starts; the
    * stream side is then ENTIRELY in-row — window hashes, membership
    * flags, count, and the longest-run sweep are all higher-order
    * array functions over one document's own row — so the query is
    * map-only, append-mode, and holds ZERO keyed state at any corpus
    * size (contrast [[nearDupAlerts]], whose pair aggregation is
    * bounded-run). No false negatives (a corpus window always flags);
    * a false positive can only inflate a count at the sketch's fpp —
    * the production trade for a per-arrival cost independent of
    * corpus size. At lake scale the sketch is the per-snapshot
    * mergeable asset (MBs against TBs of window hashes).
    */
  def substrDupAtIngest(newDocs: DataFrame, standing: DataFrame,
      bitsPerKey: Long = 20L): DataFrame = {
    import graft.functions.FastMd5.fastMd5
    import org.apache.spark.sql.graftfn.GraftExpressions
    val K = TextDedup.DupSpanLen
    val distinctW = graft.queries.TextDedup.windowHashes(standing)
      .select(col("whash")).distinct().persist()
    val n = distinctW.count()
    val sketch = distinctW
      .agg(GraftExpressions.bloomAgg(col("whash"), n, n * bitsPerKey))
      .head().getAs[Array[Byte]](0)
    distinctW.unpersist()
    newDocs
      .select(col("doc_id"), TextDedup.toks.as("toks"))
      .select(col("doc_id"),
        transform(
          sequence(lit(0), greatest(size(col("toks")) - K, lit(0))),
          s => fastMd5(array_join(slice(col("toks"), s + 1, lit(K)), " ")))
          .as("whs"))
      .select(col("doc_id"),
        size(col("whs")).cast("long").as("n_windows"),
        transform(col("whs"),
          h => GraftExpressions.bloomMightContain(sketch, h)).as("flags"))
      .select(col("doc_id"), col("n_windows"),
        size(filter(col("flags"), f => f)).cast("long").as("n_dup_windows"),
        aggregate(col("flags"),
          struct(lit(0L).as("cur"), lit(0L).as("best")),
          (acc, f) => {
            val cur = when(f, acc.getField("cur") + 1L).otherwise(lit(0L))
            struct(cur.as("cur"),
              greatest(acc.getField("best"), cur).as("best"))
          },
          acc => acc.getField("best")).as("max_run"))
      .withColumn("dup_frac",
        round(col("n_dup_windows").cast("double") / col("n_windows"), 6))
      .withColumn("dup_span_tokens",
        when(col("max_run") > 0, col("max_run") + (K - 1)).otherwise(lit(0L)))
  }

  /** Ingest-time EMBEDDING dedup against a standing collection — s9's
    * streaming half, closing the last batch-only gap in incremental
    * dedup: text (d13 ↔ [[ingestDedupAgainst]]/[[nearDupAlertsWatermarked]]),
    * images (m6 ↔ [[imageDedupAgainst]]), and now embeddings (s9 ↔ this).
    * An arriving vector joins the STANDING collection's vectors within
    * its IVF cell (stream-static left join on the label key — per
    * arrival cost is the cell size, the s2b cap applies when a cell
    * runs hot) and is admitted iff no standing vector scores
    * cosine ≥ 0.3 (s9's SemDeDup rule). Emitted per arrival: the match
    * count, the smallest matching standing vec_id (−1 when none — the
    * dup_of provenance s9 records), and the admission bit. The
    * per-vector aggregation sits under a watermarked event-time window
    * (a vector arrives at one instant, so the window changes nothing
    * about the verdict — it is the state-eviction clock), verdicts
    * emit exactly once in append mode. `StreamingSpec` pins stream ≡
    * batch s9 verdicts on the same new/standing split.
    */
  def embeddingDedupAgainst(newEmb: DataFrame, standingEmb: DataFrame,
      watermarkDelay: String = "10 minutes",
      windowDur: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.floatVecDot
    val cells = standingEmb.select(col("label"),
        col("vec_id").as("old_id"), col("embedding").as("s_emb"),
        sqrt(floatVecDot(col("embedding"), col("embedding"))).as("s_nrm"))
      .persist()
    cells.count() // static side re-evaluates per trigger — pin it once
    newEmb
      .select(col("vec_id"), col("label"),
        col("arrival_ts").cast("timestamp"), col("embedding"),
        sqrt(floatVecDot(col("embedding"), col("embedding"))).as("nrm"))
      .withWatermark("arrival_ts", watermarkDelay)
      .join(cells, Seq("label"), "left")
      .withColumn("cos", when(col("s_emb").isNotNull,
        round(floatVecDot(col("embedding"), col("s_emb"))
          / (col("nrm") * col("s_nrm")), 6)))
      .groupBy(window(col("arrival_ts"), windowDur), col("vec_id"),
        col("label"))
      .agg(sum(when(col("cos") >= 0.3, 1L).otherwise(0L))
          .as("n_semdup_matches"),
        min(when(col("cos") >= 0.3, col("old_id"))).as("dof"))
      .select(col("vec_id"), col("label"), col("n_semdup_matches"),
        coalesce(col("dof"), lit(-1L)).as("dup_of"),
        col("dof").isNull.as("admitted"))
  }

  /** Ingest-time EXACT dedup against a standing corpus — the streaming
    * half of d13's exact verdict: a stream-static LEFT ANTI join on the
    * d1 content hash (append-safe, zero state) composed with
    * [[ingestDedup]]'s within-stream first-arrival state. At lake scale
    * the static side is the corpus snapshot's hash asset, refreshed per
    * release; arriving shards join it map-side.
    */
  def ingestDedupAgainst(newDocs: DataFrame, standing: DataFrame): DataFrame = {
    val standingHashes =
      standing.select(TextDedup.contentHash.as("text_hash")).distinct()
    ingestDedup(newDocs).join(standingHashes, Seq("text_hash"), "left_anti")
  }

  /** Ingest-time NEAR-DUP alerts against a standing corpus — the
    * streaming half of d13's near verdict: stream shingles join the
    * standing inverted index on the shingle key (stream-static inner
    * join, the index is the per-release static asset), then a streaming
    * aggregation counts shared shingles per (new, standing) pair and
    * emits Jaccard ≥ 0.8 alerts. Absence ("admitted") is not decidable
    * on an open stream — production shape is exactly this split: the
    * exact gate admits synchronously ([[ingestDedupAgainst]]), near-dup
    * drops arrive as an asynchronous alert stream the catalog consumes.
    * `StreamingSpec` pins alert pairs ≡ the batch d13 near-dup pairs,
    * Jaccard values included.
    *
    * CONSTRAINT: this form has no event-time key, so the aggregation
    * state is unbounded and only `complete` output mode is supported —
    * a bounded-run/backfill shape (each trigger re-emits the full alert
    * table). The production, unbounded-stream form is
    * [[nearDupAlertsWatermarked]]: arriving documents carry an ingest
    * timestamp, state evicts at the watermark, and alerts emit once in
    * append mode.
    */
  def nearDupAlerts(newDocs: DataFrame, standing: DataFrame): DataFrame =
    nearDupAlertsOf(newDocs, standing, clock = None)

  /** Ingest-time UNIFIED curation — p9's streaming half: per arriving
    * document, the one keep bit a training pipeline consumes, decided
    * against the standing corpus's per-release assets. The three
    * rejection channels mirror p9's cross-modal structure, each in its
    * ingest-decidable form: quality admission (p4's stateless per-row
    * rules), lexical duplication (the d1 content hash against the
    * standing hash asset — the synchronous exact gate; NEAR-dup drops
    * stay an asynchronous alert stream, see [[nearDupAlertsWatermarked]]),
    * and semantic duplication (the s9 rule: cosine ≥ 0.3 against any
    * standing vector in the arriving embedding's IVF cell). Arriving
    * rows carry `(doc_id, text, lang, label, embedding, arrival_ts)` —
    * a production ingest job embeds at ingest, so the vector rides the
    * row. The t9 content-hash split is assigned in the same pass.
    *
    * Shape: every static side persists once (stream-static sides
    * re-evaluate per trigger); the hash probe is a slim left join on
    * the 32-char hash; the semantic probe left-joins the standing cell
    * table on the label key so per-arrival cost is the cell size (the
    * s2b cap applies when a cell runs hot). The per-document verdict
    * aggregates under an event-time window with a watermark — state
    * evicts, and each verdict emits EXACTLY ONCE in append mode; the
    * per-doc constants ride the groupBy key, never a `first()`.
    */
  def curationAtIngest(newDocs: DataFrame, standingDocs: DataFrame,
      standingEmb: DataFrame,
      watermarkDelay: String = "10 minutes",
      windowDur: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.floatVecDot
    val standingHashes = standingDocs.select(
        TextDedup.contentHash.as("text_hash"))
      .distinct().withColumn("lex_hit", lit(true)).persist()
    standingHashes.count()
    val cells = standingEmb.select(col("label"),
        col("embedding").as("s_emb"),
        sqrt(floatVecDot(col("embedding"), col("embedding"))).as("s_nrm"))
      .persist()
    cells.count()
    val (_, split) = TextDedup.splitCols
    graft.queries.Ingest.admissionDecision(
        graft.queries.Ingest.admissionSignals(newDocs,
          keep = Seq("text", "arrival_ts", "label", "embedding")))
      .withColumnRenamed("keep", "q_keep")
      .withColumn("split", split)
      .withColumn("text_hash", TextDedup.contentHash)
      .withColumn("nrm", sqrt(floatVecDot(col("embedding"), col("embedding"))))
      .drop("text")
      .withWatermark("arrival_ts", watermarkDelay)
      .join(standingHashes, Seq("text_hash"), "left")
      .join(cells, Seq("label"), "left")
      .withColumn("cos", when(col("s_emb").isNotNull,
        round(floatVecDot(col("embedding"), col("s_emb"))
          / (col("nrm") * col("s_nrm")), 6)))
      .groupBy(window(col("arrival_ts"), windowDur), col("doc_id"),
        col("split"), col("lang"), col("quality"), col("reject_reason"),
        col("q_keep"), coalesce(col("lex_hit"), lit(false)).as("lex_dup"))
      .agg(sum(when(col("cos") >= 0.3, 1L).otherwise(0L))
        .as("n_sem_matches"))
      .select(col("doc_id"), col("split"), col("lang"), col("quality"),
        col("reject_reason"), col("lex_dup"),
        (col("n_sem_matches") > 0).as("sem_dup"), col("n_sem_matches"),
        (col("q_keep") && !col("lex_dup") && !(col("n_sem_matches") > 0))
          .as("keep"))
  }

  /** [[nearDupAlerts]] with bounded state: arriving documents carry an
    * `arrival_ts` column, the shingle stream is watermarked on it, and
    * the per-pair shared-shingle count is grouped under an event-time
    * window alongside the pair key. A document arrives at ONE instant,
    * so all its shingles land in the same window and the per-pair count
    * within that window is the document's complete count — windowing
    * changes nothing about the Jaccard verdict, it only gives the state
    * store an eviction clock. Consequences, both spec-pinned: alerts
    * emit exactly once in APPEND mode (when the watermark passes the
    * window end), and pair state older than the watermark delay is
    * dropped instead of accumulating forever — the difference between a
    * demo and an ingest daemon that runs for months.
    */
  def nearDupAlertsWatermarked(newDocs: DataFrame, standing: DataFrame,
      watermarkDelay: String = "10 minutes",
      windowDur: String = "10 minutes"): DataFrame =
    nearDupAlertsOf(newDocs, standing, Some((watermarkDelay, windowDur)))

  /** The one body of both near-dup twins: the arrivals' shingles (the
    * batch index kernel, [[graft.queries.TextDedup.docShingles]]) join
    * the standing inverted index with its per-doc sizes, and the
    * shared-shingle count per (new, standing) pair scores Jaccard.
    * `clock = Some((watermarkDelay, windowDur))` watermarks the
    * arrivals on `arrival_ts` and adds the event-time window to the
    * pair key; `None` is the unbounded-state form.
    */
  private def nearDupAlertsOf(newDocs: DataFrame, standing: DataFrame,
      clock: Option[(String, String)]): DataFrame = {
    val sIdx = TextDedup.shingleIndex(standing)
    val sSizes = sIdx.groupBy(col("doc_id")).agg(count(lit(1)).as("n_old"))
    val sFull = sIdx.join(sSizes, Seq("doc_id"))
      .select(col("doc_id").as("old_id"), col("shingle"), col("n_old"))
    val arrivals = clock match {
      case None => TextDedup.docShingles(newDocs)
      case Some((delay, _)) => TextDedup.docShingles(newDocs.withColumn(
          "arrival_ts", col("arrival_ts").cast("timestamp")), "arrival_ts")
        .withWatermark("arrival_ts", delay)
    }
    val windowKey =
      clock.map { case (_, dur) => window(col("arrival_ts"), dur) }.toSeq
    arrivals.join(sFull, Seq("shingle")) // stream-static inner join
      .groupBy(windowKey :+ col("doc_id").as("new_id") :+ col("old_id"): _*)
      .agg(count(lit(1)).as("shared"),
        max(col("n_shingles")).as("n_new"), max(col("n_old")).as("n_o"))
      .select(col("new_id"), col("old_id"),
        round(col("shared").cast("double")
          / (col("n_new") + col("n_o") - col("shared")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** Streaming component-ledger maintenance — d34's increment path as
    * the ingest operation it inherently is: arriving micro-batches of
    * documents probe the STANDING postings (the d13 probe shape — never
    * a standing×standing re-join), self-join within the batch, and the
    * component ledger advances by star contraction over (ledger edges)
    * ∪ (new edges). This is the `foreachBatch` merge-into shape — the
    * standard Structured-Streaming pattern for maintaining a keyed
    * table no single streaming aggregation can express (connected
    * components need O(log n) iterative joins per merge).
    *
    * State discipline: every standing table (`postings`, `sizes`,
    * `nodes`, `ledger`) advances via `localCheckpoint(eager = true)` so
    * lineage never grows across micro-batches (the s23/d8 iterative-
    * loop lesson — without truncation Catalyst re-optimizes a plan that
    * doubles per batch). At lake scale these four tables are the
    * checkpointed parquet assets of [[graft.queries.TextDedup
    * .d34StandingAssets]] with the same merge applied per crawl drop.
    *
    * Replay ≡ batch: after any micro-batch partition of the increment,
    * [[currentLedger]] equals the from-scratch d8 closure over
    * everything arrived so far — min-id labels are stable under
    * incremental maintenance regardless of arrival order of the
    * SHARDS (within-shard doc order never matters since every edge
    * probe is set-shaped). `StreamingSpec` pins the twin against batch
    * [[graft.queries.TextDedup.d34IncrementalComponents]].
    */
  final class ComponentLedgerMaintainer(standingDocs: DataFrame)
      extends ReplayGuardedMerge {
    private def ck(df: DataFrame): DataFrame = df.localCheckpoint(true)
    private var postings: DataFrame =
      ck(TextDedup.shingleIndex(standingDocs))
    private var sizes: DataFrame =
      ck(postings.groupBy(col("doc_id")).agg(count(lit(1)).as("n")))
    private var nodes: DataFrame =
      ck(standingDocs.select(col("doc_id").as("id")))
    private var ledger: DataFrame = ck(TextDedup.starContractComponents(
      nodes, TextDedup.jaccardEdgesBetween(
        postings, sizes, postings, sizes, strict = true))._1)

    /** Merge one arriving shard into the standing ledger (the d34 merge
      * verbatim, against the maintainer's live tables).
      */
    def mergeBatch(batch: DataFrame): Unit = synchronized {
      val b = batch.select(col("doc_id"), col("text"))
      if (!b.isEmpty) {
        val bIdx = ck(TextDedup.shingleIndex(b))
        val bSizes = ck(bIdx.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n")))
        val newEdges = TextDedup
          .jaccardEdgesBetween(bIdx, bSizes, postings, sizes, strict = false)
          .unionByName(TextDedup
            .jaccardEdgesBetween(bIdx, bSizes, bIdx, bSizes, strict = true))
        val ledgerEdges = ledger.filter(col("id") =!= col("component"))
          .select(col("id").as("src"), col("component").as("dst"))
        val allNodes = ck(nodes.unionByName(b.select(col("doc_id").as("id"))))
        ledger = ck(TextDedup.starContractComponents(
          allNodes, ledgerEdges.unionByName(newEdges))._1)
        nodes = allNodes
        postings = ck(postings.unionByName(bIdx))
        sizes = ck(sizes.unionByName(bSizes))
      }
    }

    /** The live (id, component) table after all merges so far. */
    def currentLedger: DataFrame = synchronized(ledger)
  }

  /** The replay-guarded `attach` of the three foreachBatch maintainers
    * ([[ComponentLedgerMaintainer]], [[WinnowLedgerMaintainer]],
    * [[TrainFpMaintainer]]), written once.
    */
  private[streaming] sealed trait ReplayGuardedMerge {
    def mergeBatch(batch: DataFrame): Unit

    private var lastBatchId = -1L
    private var wasAttached = false

    /** Attach to a streaming (doc_id, text) frame: one [[mergeBatch]]
      * per micro-batch. foreachBatch is at-least-once, and no
      * maintainer's merge is naturally idempotent (a re-merged shard
      * would duplicate node, posting or verdict rows), so replayed
      * batch ids skip. The guard is per maintainer lifetime, so attach
      * fails fast on re-attach unless `resume = true` — a NEW query's
      * ids restart at 0 and would be silently dropped; re-attach is
      * only valid for a restarted query re-delivering the same batches
      * (r16 ADVICE).
      */
    def attach(docs: DataFrame, resume: Boolean = false)
        : org.apache.spark.sql.streaming.StreamingQuery = synchronized {
      require(!wasAttached || resume,
        "maintainer already attached: a new query's batch ids restart " +
        "at 0 and the replay guard would silently drop its first " +
        "batches; pass resume = true only when re-attaching a " +
        "restarted query that re-delivers the same batches")
      wasAttached = true
      docs.writeStream.outputMode("update")
        .foreachBatch((b: DataFrame, id: Long) => synchronized {
          if (id > lastBatchId) { mergeBatch(b); lastBatchId = id }
        })
        .start()
    }
  }

  /** [[ComponentLedgerMaintainer]] in the BOUNDED winnow space — the
    * streaming half of [[graft.queries.TextDedup.d34wIncrementalWinnow]]
    * (r13 verdict, directive 1's ingest seam): arriving micro-batches
    * compute their per-doc WIDE selections
    * ([[graft.queries.TextDedup.winnowLocalSelect]] — the same kernel
    * expressions as the batch asset build, legal inside foreachBatch),
    * probe the standing capped postings (arrival×standing only, each
    * standing list ≤ WinnowSweepCap), self-join within the capped
    * batch, and star-contract (ledger stars) ∪ (new edges).
    *
    * Unlike the raw-shingle maintainer, EVERY leg here is the bounded
    * class: postings are ~2/(w+1) of shingles, rank-capped per
    * fingerprint, and capped-postings maintenance is exactly
    * incremental — the cap keeps the `cap` LOWEST doc_ids per
    * fingerprint, and min-k of a union is min-k of (previous min-k ∪
    * new), so the standing postings table after any merge equals the
    * from-scratch capped index over everything arrived (the same
    * min-k argument as a top-k aggregate). `StreamingSpec` pins
    * replay ≡ batch: the live ledger equals the batch winnow closure
    * over all arrivals, and [[dividendFromLedger]] over it reproduces
    * batch p34's rows.
    *
    * State advances by `localCheckpoint(eager)`: the capped postings,
    * node set and star ledger are each re-checkpointed per merge, so a
    * `mergeBatch` call is the whole merge cost and no lineage grows
    * with history. The per-merge re-rank touches only the increment's
    * fps (see [[mergeBatch]]); the checkpoint still rewrites every
    * posting row, the per-drop floor SCALE.md measures. `Round15OpsSpec`
    * pins the postings row-for-row against the from-scratch capped
    * index where the cap binds.
    */
  final class WinnowLedgerMaintainer(standingDocs: DataFrame,
      cap: Int = graft.queries.TextDedup.WinnowSweepCap,
      auditEdges: Boolean = false) extends ReplayGuardedMerge {
    import TextDedup.{WinnowW, WinnowWideHex}
    private def ck(df: DataFrame): DataFrame = df.localCheckpoint(true)
    private var postingsCk: DataFrame = ck(TextDedup.winnowCapped(
      TextDedup.winnowLocalSelect(standingDocs, WinnowW, WinnowWideHex),
      cap))
    private var nodes: DataFrame =
      ck(standingDocs.select(col("doc_id").as("id")))
    private def standingEdges: DataFrame = TextDedup.winnowPairsOf(postingsCk)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    // the RAW accumulated edge set (standing pairs ∪ every drop's probe
    // ∪ self edges) — the audit ledger behind [[recomputedLedger]].
    // Off by default: production never needs it (edges grow with
    // history; the star ledger grows with components — keeping both
    // would forfeit exactly the bound the maintainer exists for).
    private var edgeLog: DataFrame =
      if (auditEdges) ck(standingEdges) else null
    private var ledger: DataFrame = ck(TextDedup.starContractComponents(
      nodes, standingEdges)._1)

    /** Merge one arriving shard (the d34w merge verbatim, against the
      * maintainer's live tables).
      */
    def mergeBatch(batch: DataFrame): Unit = synchronized {
      val b = batch.select(col("doc_id"), col("text"))
      if (!b.isEmpty) {
        val bSel = ck(TextDedup.winnowLocalSelect(b, WinnowW, WinnowWideHex))
        val probe = bSel.as("i")
          .join(postingsCk.as("s"), col("i.fp") === col("s.fp"))
          .groupBy(col("i.doc_id").as("src"), col("s.doc_id").as("dst"))
          .agg(count(lit(1)).as("ns")).filter(col("ns") >= 2)
          .select(col("src"), col("dst"))
        val self = TextDedup.winnowPairsOf(
            TextDedup.winnowCapped(bSel, cap))
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        val ledgerEdges = ledger.filter(col("id") =!= col("component"))
          .select(col("id").as("src"), col("component").as("dst"))
        val allNodes = ck(nodes.unionByName(b.select(col("doc_id").as("id"))))
        if (auditEdges)
          edgeLog = ck(edgeLog.unionByName(probe).unionByName(self))
        ledger = ck(TextDedup.starContractComponents(
          allNodes, ledgerEdges.unionByName(probe).unionByName(self))._1)
        nodes = allNodes
        // min-k of (previous min-k ∪ new) = min-k of the union: the
        // capped standing index stays exactly the from-scratch one.
        // r15 (measured at sf300: drops 197 → 240 → 327 s): re-ranking
        // the WHOLE index per merge is a full-index shuffle+sort that
        // grows with the corpus — but the min-k state can only change
        // for fps the increment actually carries, so only those
        // postings enter the rank window (semi-join side); untouched
        // fps pass through as-is (anti-join side). Exact by the same
        // min-k argument, per-fp. The checkpoint still rewrites every
        // row — the box stand-in for the lake's sorted-run merge.
        val touched = bSel.select(col("fp")).distinct()
        val hot = postingsCk.join(touched, Seq("fp"), "leftsemi")
          .unionByName(bSel)
        val cold = postingsCk.join(touched, Seq("fp"), "leftanti")
        postingsCk = ck(TextDedup.winnowCapped(hot, cap).unionByName(cold))
      }
    }

    /** The live (id, component) table after all merges so far. */
    def currentLedger: DataFrame = synchronized(ledger)

    /** The live capped postings index — exposed so `Round15OpsSpec` can
      * check min-k maintenance row-for-row against the from-scratch
      * capped index.
      */
    private[graft] def currentPostings: DataFrame = synchronized(postingsCk)

    /** The FROM-SCRATCH one-shot closure over the raw accumulated edge
      * set (requires `auditEdges = true`) — the Round14OpsSpec algebra
      * as an executable check at any scale: replacing each drop's
      * connected subgraphs by their ledger stars preserves
      * connectivity, so after ANY number of merges [[currentLedger]]
      * must equal this recompute label-for-label (min-id labels are
      * stable under incremental maintenance). `Round15OpsSpec` pins it
      * in the cap-BINDING regime (cap = 2, where eviction order could
      * plausibly bite and provably doesn't — the edge log records the
      * edges actually emitted, which is the gated d34w contract);
      * `LedgerRehearsal` runs it at rehearsal scale.
      */
    def recomputedLedger: DataFrame = synchronized {
      require(edgeLog != null, "construct with auditEdges = true")
      TextDedup.starContractComponents(nodes, edgeLog)._1
    }
  }

  /** Per-document (doc_id, source, n) token counts — the stateless
    * ingest seam [[dividendFromLedger]] joins (each document's count
    * depends only on its own row; a pipeline appends these to a
    * standing table as documents are admitted). Same tokenizer as
    * batch p34's `size(toks)`.
    */
  def docTokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      size(TextDedup.toks).cast("long").as("n"))

  /** p34's dedup dividend as a read-time finisher over a live component
    * ledger (a [[WinnowLedgerMaintainer]]'s `currentLedger`) joined to
    * the streamed [[docTokenCounts]] table — the budgeting dashboard
    * never revisits raw documents: one |docs|-row join + a
    * |sources|-bounded aggregate, shared verbatim with batch p34
    * ([[graft.queries.TextDedup.dedupDividendOf]]). `StreamingSpec`
    * pins replay ≡ batch p34 rows.
    */
  def dividendFromLedger(ledger: DataFrame, docTokens: DataFrame): DataFrame =
    graft.queries.TextDedup.dedupDividendOf(docTokens,
      ledger.select(col("id").as("doc_id"), col("component")))

  /** Ingest-time eval-set decontamination against a standing corpus —
    * d12w's streaming half, closing the LAST open batch/ingest seam
    * (r14 verdict, directive 1): exact dups (d1/d13), near-dups
    * (winnow selections / nearDupAlerts), semantic dups (s9), image/audio/
    * video dups (m6/m14/m15) and quality/PII/LM gates all run at
    * ingest, but an arriving EVAL document could previously only be
    * checked for train-set leakage at the next batch release audit — a
    * production pipeline wants to quarantine it on arrival.
    *
    * Shape: the STANDING asset is the train split's distinct wide
    * winnow fingerprint set (d12w's `trainFps` — the split computed by
    * the same t9 content-hash rule, the selections by the same
    * [[graft.queries.TextDedup.winnowLocalSelect]] kernel as the batch
    * query), passed as a caller-owned [[TrainFpSnapshot]]: the handle
    * persists it once (the static side of a stream-static join
    * re-evaluates per trigger — the [[lmXentAlerts]] discipline) and
    * the CALLER releases it when the stream stops (r15 ADVICE: the
    * operator building + persisting the set internally left one pinned
    * cache entry per operator build with no release path — the same
    * leak class QueryScope closed batch-side). A snapshot is
    * point-in-time by construction; a stream whose train set must
    * ADVANCE as train docs arrive uses [[TrainFpMaintainer]] instead
    * (r15 verdict, directive 1).
    * Each ARRIVING document computes its per-doc wide selections with
    * the batch kernels ([[graft.queries.TextDedup.winnowSelection]],
    * the array [[graft.queries.TextDedup.winnowLocalSelect]] explodes —
    * per-doc-local, map-side, UNCAPPED like batch d12w's probe: the
    * rank cap exists to bound pair emission and no pairs are emitted
    * here). Its split and arrival instant are computed in a projection
    * below the explode and ride through it as per-DOC attributes —
    * never computed on the exploded frame (the r14 generator-select-
    * list lesson: a doc-scale expression evaluated per selection row is
    * the measured 17× blowup). Val/test arrivals
    * left-join the standing fingerprint set on the slim fp key and
    * aggregate per (event-time window, doc) — state evicts at the
    * watermark and each verdict emits EXACTLY ONCE in append mode,
    * with the d12w columns (n_sel, n_in_train, overlap) so the ingest
    * quarantine rule and the batch release audit read the same number.
    * Train-split arrivals pass through untouched (they EXTEND the
    * train set; re-probing them against themselves is the batch
    * query's job at the next snapshot). At lake scale the static side
    * is the snapshot's distinct-fingerprint table — fingerprint-
    * bucketed, refreshed per release like the d13 hash asset; per-
    * arrival cost is the doc's own kernel pass plus ~2/(w+1)·tokens
    * slim probes. `StreamingSpec` pins replay ≡ batch d12w rows.
    */
  def contaminationAtIngest(newDocs: DataFrame,
      standing: TrainFpSnapshot,
      watermarkDelay: String = "10 minutes",
      windowDur: String = "10 minutes"): DataFrame = {
    val (_, split) = TextDedup.splitCols
    val trainFps = standing.fps.withColumn("seen", lit(true))
    // EVERY arrival emits one null-fp CLOCK-CARRIER row; only eval
    // arrivals additionally emit their selections. The carrier is the
    // liveness guarantee: the verdicts emit when the watermark passes
    // their window, and the watermark only advances on rows that REACH
    // the EventTimeWatermark operator — a plain `filter(split …)`
    // before the aggregation is deterministic and fp/split-only, so
    // Catalyst pushes it back BELOW the watermark node
    // (PushPredicateThroughNonJoin splits conjunctions, so guarding
    // the filter with an event-time conjunct does not survive either;
    // both shapes were probed: a train-split flush arrival advanced no
    // watermark and every pending verdict stalled). With the carrier,
    // a train-heavy ingest lull (~80% of a real stream) still drives
    // the clock, and train docs cost ONE slim row each — their
    // selections are never computed (the CASE runs the kernel only
    // for eval arrivals), never join, and their state evicts at the
    // watermark like everything else.
    val selections = when(col("split") === "train", typedLit(Seq.empty[Long]))
      .otherwise(TextDedup.winnowSelection(TextDedup.WinnowW,
        TextDedup.WinnowWideHex))
    val sel = newDocs
      .select(col("doc_id"), col("arrival_ts").cast("timestamp")
        .as("arrival_ts"), split.as("split"), col("text"))
      .select(col("doc_id"), col("arrival_ts"), col("split"),
        explode(concat(array(lit(null).cast("long")), selections)).as("fp"))
    // the eval cut lives ABOVE the aggregation as a HAVING on an
    // AGGREGATE expression (max over a group-key predicate): a
    // predicate on an aggregate function cannot push below the
    // Aggregate, so it provably stays above the watermark. n_sel
    // counts non-null fps, so carrier rows never inflate a verdict and
    // carrier-only groups (train docs, sub-window eval docs) drop —
    // exactly the batch d12w row set.
    sel.withWatermark("arrival_ts", watermarkDelay)
      .join(trainFps, Seq("fp"), "left")
      .groupBy(window(col("arrival_ts"), windowDur),
        col("doc_id"), col("split"))
      .agg(count(col("fp")).as("n_sel"), count(col("seen")).as("n_in_train"),
        max(when(col("split").isin("val", "test"), 1).otherwise(0))
          .as("is_eval"))
      .filter(col("is_eval") === 1 && col("n_sel") > 0)
      .select(col("doc_id"), col("split"), col("n_sel"), col("n_in_train"),
        round(col("n_in_train").cast("double") / col("n_sel"), 6)
          .as("overlap"))
  }

  /** Caller-owned handle on a persisted point-in-time train-fingerprint
    * set — the static side of [[contaminationAtIngest]]'s stream-static
    * join. Built by [[trainFpSnapshot]]; [[release]] unpersists it when
    * the stream stops (the r15 ADVICE leak fix: the persist now has an
    * owner). At lake scale this is the snapshot's distinct-fingerprint
    * parquet table, refreshed per release like the d13 hash asset.
    */
  final class TrainFpSnapshot private[CorpusStreams] (
      private[CorpusStreams] val fps: DataFrame) {
    def release(): Unit = { fps.unpersist(); () }
  }

  /** The train split's distinct wide winnow fingerprints of `docs` —
    * the one spelling of the standing set shared by the snapshot
    * operator and the [[TrainFpMaintainer]] (split by the t9
    * content-hash rule, selections by the batch d12w kernel).
    * `private[graft]` so the ingest rehearsal can verify the maintained
    * set against this from-scratch build at scale.
    */
  private[graft] def trainFpsOf(docs: DataFrame): DataFrame = {
    val (_, split) = TextDedup.splitCols
    TextDedup.winnowLocalSelect(
        docs.select(col("doc_id"), col("text"), split.as("split"))
          .filter(col("split") === "train")
          .select(col("doc_id"), col("text")),
        TextDedup.WinnowW, TextDedup.WinnowWideHex)
      .select(col("fp")).distinct()
  }

  /** Persist + pin the standing train-fingerprint set and hand the
    * caller the releasable handle ([[contaminationAtIngest]]'s static
    * side — pinned eagerly because the static half of a stream-static
    * join re-evaluates per trigger).
    */
  def trainFpSnapshot(standingDocs: DataFrame): TrainFpSnapshot = {
    val fps = trainFpsOf(standingDocs).persist()
    fps.count()
    new TrainFpSnapshot(fps)
  }

  /** MAINTAINED standing train-fingerprint set (r15 verdict,
    * directive 1; r16 verdict, directives 1–3) — the seam
    * [[contaminationAtIngest]]'s snapshot left ajar: against a
    * point-in-time static side, an eval doc arriving AFTER its
    * duplicate train doc in the same stream is missed until the next
    * batch release audit. This maintainer is the
    * [[WinnowLedgerMaintainer]] pattern on the simplest possible state:
    * a DISTINCT fingerprint set, whose maintenance is exactly
    * incremental — distinct(standing ∪ batch) = standing ∪ (batch
    * anti-join standing), so each merge prices by the INCREMENT (its
    * own kernel pass plus an increment×standing anti-join probe),
    * never a re-distinct of history (even simpler than the postings
    * min-k argument: no rank window at all).
    *
    * Per micro-batch, in order:
    *  1. EXTEND — the batch's train-split arrivals' distinct
    *     fingerprints anti-join the standing set; novel ones append.
    *  2. REVISE (r16 verdict, directive 2 — the eval-leads seam) —
    *     previously judged eval docs whose retained selections contain
    *     a NEWLY arrived fp re-judge against the post-extend set, and
    *     a revision verdict supersedes their earlier row. This makes
    *     replay ≡ batch ORDER-UNCONDITIONAL: an eval doc judged before
    *     its duplicate train doc arrives no longer keeps a stale clean
    *     verdict until the batch audit. The state behind it is the
    *     judged-eval postings table (doc_id, split, fp — the doc's own
    *     selection rows, retained at first judgment), probed on fp by
    *     the novel increment; steady-state drops with no contamination
    *     hits pay only the phase-1 probe (a semi-join of the postings
    *     on the novel fps), and the full postings fetch runs only when
    *     a revision actually fires.
    *  3. JUDGE — the batch's eval (val/test) arrivals compute their
    *     uncapped wide selections (per-doc-local, map-side; the split
    *     attaches by doc-scale JOIN, never riding the generator select
    *     list — the r14 17× lesson) and left-join the POST-merge set,
    *     so an eval doc whose duplicate train doc arrived in the SAME
    *     batch is caught (batch d12w has no arrival order; merge-first
    *     is the order that converges to it).
    *  4. RETAIN — the batch's eval selections append to the postings
    *     table (first arrival wins: a re-delivered doc re-judges but
    *     never duplicates postings; the small judged-id set keys the
    *     dedup so the postings table itself is never re-read for it).
    *
    * State advances by `localCheckpoint(eager)`: the fp set is
    * re-checkpointed as (set ∪ novel) per merge, the full-set rewrite
    * whose per-drop floor SCALE.md measures; the postings and the
    * verdict log are buffers of checkpointed increments.
    *
    * Verdicts accumulate on the maintainer as an append-only LOG (the
    * d12w columns + a `rev` sequence; [[verdicts]] finishes
    * latest-per-doc). Disciplines (r16 review findings + directive 3):
    *
    *  - foreachBatch is AT-LEAST-ONCE — a restarted query replays its
    *    last uncommitted micro-batch against the same maintainer
    *    instance. The fp extend is naturally idempotent (anti-join),
    *    but a re-appended verdict batch would double-count, so
    *    [[attach]] carries the canonical batchId guard: a batch id ≤
    *    the last completed one is skipped. The guard is per MAINTAINER
    *    lifetime, so attaching a NEW query (whose batch ids restart at
    *    0) to a used maintainer would silently drop its first batches —
    *    [[attach]] therefore fails fast on re-attach unless the caller
    *    passes `resume = true`, which is only valid for a restarted
    *    query re-delivering the same batches (r16 ADVICE).
    *  - verdicts are append-only OUTPUT, not maintained state, so the
    *    log is a buffer of per-batch checkpointed increments — each
    *    trigger pays O(its own verdicts), never a rewrite of the
    *    accumulated log. The buffer compacts every `compactEvery`
    *    increments into one frame so [[verdicts]]' plan width stays
    *    bounded for long-lived streams.
    *  - the log would still grow without bound on a long-lived stream
    *    (an O(output) driver-side footprint — r16 verdict, directive
    *    3), so [[drain]] hands the caller every buffered increment and
    *    drops it: the sink the caller appends to (e.g. [[drainTo]]'s
    *    parquet dir, the lake shape) owns drained history, and the
    *    maintainer holds only the post-drain tail. Latest-per-doc is
    *    then computed over (drained ∪ tail) by `rev` — [[verdicts]]
    *    after a drain covers only tail docs by design.
    *
    * Replay ≡ batch: once every arrival is in, [[verdicts]] equals the
    * batch d12w verdict set over (standing ∪ arrived) restricted to
    * the ARRIVED eval docs — for ANY arrival order (step 2 closes the
    * eval-leads case the r15 cut left to the batch audit; the batch
    * release audit remains the independent backstop). `StreamingSpec`
    * pins train-leads, same-trigger, and eval-leads plantings.
    *
    * Re-delivery of a doc_id assumes identical content (the same
    * at-least-once contract as the batch-id guard); the judged-id
    * dedup keeps first-arrival postings, and a re-judged doc's
    * revision row carries identical values.
    */
  final class TrainFpMaintainer(standingDocs: DataFrame,
      compactEvery: Int = 64) extends ReplayGuardedMerge {
    private val spark = standingDocs.sparkSession
    private def ck(df: DataFrame): DataFrame = df.localCheckpoint(true)

    private var fpsCk: DataFrame = ck(trainFpsOf(standingDocs))

    // judged-eval postings: the revision state — (doc_id, split, fp),
    // one copy of each judged doc's selection rows. Append-only
    // (localCheckpoint increments with bounded compaction); read only
    // by the revision probe.
    private val postingsBatches =
      scala.collection.mutable.ArrayBuffer[DataFrame]()
    private def postingsAll: Option[DataFrame] =
      if (postingsBatches.isEmpty) None
      else Some(postingsBatches.reduce(_ unionByName _))
    // the small judged-doc-id set keying first-arrival-wins postings
    // dedup — O(judged docs), so the postings table itself is never
    // scanned on the steady-state path
    private var judgedIds: DataFrame =
      ck(standingDocs.sparkSession.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("doc_id", LongType)))))

    private val logSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("split", StringType),
      StructField("n_sel", LongType), StructField("n_in_train", LongType),
      StructField("overlap", DoubleType), StructField("rev", LongType)))
    private def emptyLog: DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], logSchema)
    // append-only output: per-batch checkpointed increments, compacted
    // every `compactEvery` (>=, so at most compactEvery frames buffer —
    // r16 ADVICE off-by-one) — never a per-trigger rewrite of the log
    private val verdictBatches =
      scala.collection.mutable.ArrayBuffer[DataFrame]()
    private var seq = 0L

    /** The d12w verdict columns + the `rev` sequence for `sel` rows
      * (doc_id, split, fp) against the CURRENT post-merge set.
      */
    private def judge(sel: DataFrame): DataFrame =
      sel.join(fpsCk.withColumn("seen", lit(true)), Seq("fp"), "left")
        .groupBy(col("doc_id"), col("split"))
        .agg(count(lit(1)).as("n_sel"), count(col("seen")).as("n_in_train"))
        .select(col("doc_id"), col("split"), col("n_sel"),
          col("n_in_train"),
          round(col("n_in_train").cast("double") / col("n_sel"), 6)
            .as("overlap"), lit(seq).as("rev"))

    private def appendVerdicts(v: DataFrame): Unit = {
      val vc = ck(v)
      if (!vc.isEmpty) {
        verdictBatches += vc
        if (verdictBatches.length >= compactEvery) {
          val all = verdictBatches.reduce(_ unionByName _)
          verdictBatches.clear()
          verdictBatches += ck(all)
        }
      }
    }

    /** Merge one arriving shard: extend the set with its train docs,
      * revise previously judged evals the novel fps hit, judge its
      * eval docs against the extended set, retain their postings.
      */
    def mergeBatch(batch: DataFrame): Unit = synchronized {
      val b = batch.select(col("doc_id"), col("text"))
      if (!b.isEmpty) {
        val (_, split) = TextDedup.splitCols
        val tagged = b.select(col("doc_id"), col("text"), split.as("split"))
        seq += 1
        // 1. EXTEND — `novel` is checkpointed because up to four
        // actions consume it (the isEmpty below, the set's checkpoint,
        // and the revision's isEmpty and verdict checkpoint); unpinned,
        // each would re-run the increment's split + winnow kernel pass
        // and the anti-join exchange against the set
        val novel =
          ck(trainFpsOf(b).join(fpsCk, Seq("fp"), "leftanti"))
        val hasNovel = !novel.isEmpty
        if (hasNovel) fpsCk = ck(fpsCk.unionByName(novel))
        // 2. REVISE — postings do not yet contain THIS batch's evals,
        // so only earlier-judged docs can be affected. Phase 1 (which
        // judged docs hold a novel fp) is a semi-join on the novel
        // fps; phase 2 (their full selection rows) reads the postings
        // only when a revision actually fires.
        if (hasNovel) postingsAll.foreach { p =>
          val affected = p
            .join(novel.select(col("fp")), Seq("fp"), "leftsemi")
            .select(col("doc_id")).distinct()
          if (!affected.isEmpty) {
            val revSel = p.select(col("doc_id"), col("split"), col("fp"))
              .join(affected, Seq("doc_id"), "leftsemi")
            appendVerdicts(judge(revSel))
          }
        }
        // 3. JUDGE the batch's eval arrivals against the post-merge set
        val evalDocs = tagged.filter(col("split").isin("val", "test"))
        val evalSel = ck(TextDedup.winnowLocalSelect(
            evalDocs.select(col("doc_id"), col("text")),
            TextDedup.WinnowW, TextDedup.WinnowWideHex)
          .join(evalDocs.select(col("doc_id"), col("split")), Seq("doc_id")))
        appendVerdicts(judge(evalSel))
        // 4. RETAIN first-arrival postings for the newly judged docs
        val newIds = ck(evalSel.select(col("doc_id")).distinct()
          .join(judgedIds, Seq("doc_id"), "leftanti"))
        if (!newIds.isEmpty) {
          postingsBatches +=
            ck(evalSel.join(newIds, Seq("doc_id"), "leftsemi"))
          if (postingsBatches.length >= compactEvery) {
            val all = postingsBatches.reduce(_ unionByName _)
            postingsBatches.clear()
            postingsBatches += ck(all)
          }
          judgedIds = ck(judgedIds.unionByName(newIds))
        }
      }
    }

    /** The live distinct train-fingerprint set after all merges. */
    def currentFps: DataFrame = synchronized(fpsCk)

    /** The buffered (undrained) verdict log — one row per judgment
      * event (first judgment or revision), the d12w columns + `rev`.
      */
    def verdictLog: DataFrame = synchronized(
      if (verdictBatches.isEmpty) emptyLog
      else verdictBatches.reduce(_ unionByName _))

    /** Latest verdict per judged eval doc over the BUFFERED log (the
      * d12w columns; revisions supersede by `rev`). After a [[drain]],
      * covers only docs judged/revised since — the sink owns drained
      * history and computes latest over (drained ∪ tail).
      */
    def verdicts: DataFrame = synchronized {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("rev").desc, col("n_in_train").desc)
      verdictLog.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn", "rev")
    }

    /** Hand the caller every buffered verdict-log increment and drop
      * it from the maintainer (r16 verdict, directive 3): the caller's
      * sink owns drained history; the maintainer's footprint stays
      * O(state), not O(output). The returned frame stays valid after
      * the buffer clears (its checkpoint blocks ride the reference).
      */
    def drain(): DataFrame = synchronized {
      val out = if (verdictBatches.isEmpty) emptyLog
        else verdictBatches.reduce(_ unionByName _)
      verdictBatches.clear()
      out
    }

    /** [[drain]] straight into an append-only parquet sink — the lake
      * shape for verdict history (one append per call, O(increment)).
      */
    def drainTo(dir: String): Unit = {
      val out = drain()
      if (!out.isEmpty) out.write.mode("append").parquet(dir)
    }
  }
}
