package graft.queries

import graft.Tables
import graft.queries.QueryScope.HoldOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest-side corpus operators: the admission filter a pipeline runs on
  * every arriving shard (p4), PII scrubbing (t14), and incremental
  * new-batch-vs-existing-corpus dedup (d13).
  *
  * These are the operators that run BEFORE a corpus snapshot exists — a
  * 100 TB corpus is never rebuilt from scratch; it grows by increments,
  * and each increment is filtered, scrubbed, and deduped against the
  * standing corpus. All three are designed so the per-increment cost is
  * proportional to the increment, not the corpus: p4 and t14 are
  * map-only (zero shuffle — they ride the scan's codegen stage), and
  * d13's joins are keyed on content hash / shingle against what would be
  * precomputed corpus-side index assets at lake scale.
  */
object Ingest {

  import graft.functions.FastMd5.fastMd5
  import TextDedup.{contentHash, toks}

  // `filter` collides with DataFrame.filter inside select contexts
  private def filter_(c: Column, f: Column => Column): Column =
    org.apache.spark.sql.functions.filter(c, f)

  // ------------------------------------------------- p4 admission filter

  /** Per-document admission signals: token count, the t4 quality score,
    * and the t11 duplicate-bigram fraction — computed in ONE projection
    * over the token array so the batch filter and its streaming twin
    * ([[graft.streaming.CorpusStreams.qualityAdmission]]) share the
    * exact column expressions. Both ratios are rounded at 6 decimals
    * BEFORE the thresholds compare them, so the keep decision is
    * engine-independent (a raw double straddling a threshold by half an
    * ulp would flip keep across engines).
    */
  private[graft] def admissionSignals(docs: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val n = size(col("toks"))
    val kept = keep.map(col)
    docs
      .select(col("doc_id") +: col("lang") +: toks.as("toks") +: kept: _*)
      .select(Seq(col("doc_id"), col("lang"), n.as("n_tokens"),
        round(least(n.cast("double") / 50.0, lit(1.0)) * 0.3
          + (size(array_distinct(col("toks"))).cast("double") / n) * 0.3
          + (size(filter_(col("toks"), t => t.isin(TextDedup.StopEn: _*)))
            .cast("double") / n) * 0.2
          + (size(filter_(col("toks"), t => length(t) >= 4))
            .cast("double") / n) * 0.2, 6).as("quality"),
        round(when(n >= 2,
          lit(1.0) - size(array_distinct(
            zip_with(slice(col("toks"), lit(1), n - 1),
              slice(col("toks"), lit(2), n - 1),
              (a, b) => concat(a, lit(" "), b)))).cast("double") / (n - 1))
          .otherwise(0.0), 6).as("rep_frac")) ++ kept: _*)
  }

  /** The admission decision over precomputed signals — shared verbatim
    * by the batch query and the streaming twin. First failing rule wins
    * (the diagnostic shape real pipelines emit: a rejected document
    * carries WHY, so filter-rate dashboards can decompose by rule).
    * Thresholds are parameters — in production they are tuned config,
    * not constants; the gate pins the defaults. Because the signals are
    * rounded at 6 decimals before comparison, any threshold choice is
    * engine-exact, not only the defaults.
    */
  private[graft] def admissionDecision(signals: DataFrame,
      minTokens: Int = 20, maxRepFrac: Double = 0.10,
      minQuality: Double = 0.55): DataFrame =
    signals
      .withColumn("reject_reason",
        when(col("n_tokens") < minTokens, "too_short")
          .when(col("rep_frac") > maxRepFrac, "repetitive")
          .when(col("quality") < minQuality, "low_quality")
          .otherwise("kept"))
      .withColumn("keep", col("reject_reason") === "kept")

  /** Composite quality-admission filter (p4): the C4/Gopher-style keep
    * rule a pretraining pipeline applies to every arriving document —
    * minimum length, bigram-repetition cap (t11's signal), and quality
    * floor (t4's score), with the first failing rule reported. Pure
    * per-row array math: zero shuffle, the whole operator runs inside
    * the scan's whole-stage codegen like t1/t4/t11 — at 100 TB this is
    * a map-only pass whose cost is the scan itself.
    */
  def p4QualityFilter(spark: SparkSession, dir: String): DataFrame =
    admissionDecision(admissionSignals(Tables.documents(spark, dir)))
      .orderBy(col("doc_id"))
      .limit(2000)

  // --------------------------------------------------- t14 PII redaction

  // Real-world PII shapes; the corpus text is digit/@/hyphen-free by
  // construction (verified across all SFs), so injected PII is the only
  // possible match and the oracle can predict counts arithmetically.
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\b555-[0-9]{4}\\b"
  private val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** doc_id-derived PII injection — the m1 discipline (Multimodal.scala):
    * the oracle predicts WHAT was injected from doc_id arithmetic, while
    * the Spark side must actually FIND it with the real regexes; a
    * detector that under- or over-matches breaks the redacted-text hash.
    */
  private[graft] def injectPii(text: Column, docId: Column): Column =
    concat(text,
      when(docId % 3 === 0, concat(lit(" reach me at user"),
        docId.cast("string"), lit("@example.com"))).otherwise(""),
      when(docId % 4 === 0, concat(lit(" call 555-"),
        lpad((docId % 10000).cast("string"), 4, "0"))).otherwise(""),
      when(docId % 5 === 0, concat(lit(" from 10."),
        (docId % 256).cast("string"), lit("."),
        // integral divide: `docId / 7` would be a DOUBLE division
        (org.apache.spark.sql.graftfn.GraftExpressions
          .intDiv(docId, lit(7L)) % 256).cast("string"), lit("."),
        (docId % 100).cast("string"))).otherwise(""))

  /** PII detection + redaction over text columns (t14): emails, NANP-555
    * phone numbers, and IPv4 literals are counted and replaced with
    * typed placeholders — the scrubbing stage every training pipeline
    * runs before text leaves the ingest boundary. Redaction order is
    * email → IP → phone (an email's local part may contain digits; once
    * emails collapse to `<EMAIL>` the remaining digit runs are
    * unambiguous). Map-only: three regex extracts + three replaces per
    * row, no shuffle anywhere — the operator rides the scan's codegen
    * stage, and at 100 TB costs one pass over the text bytes.
    */
  def t14PiiRedact(spark: SparkSession, dir: String): DataFrame =
    piiScrubOf(Tables.documents(spark, dir)
      .select(col("doc_id"), injectPii(col("text"), col("doc_id")).as("text")))
      .orderBy(col("doc_id"))
      .limit(2000)

  /** The scrub itself over a (`doc_id`, `text`) frame — the batch query
    * and its streaming twin are this one plan. On a stream it is a
    * stateless map pass, so PII never crosses the ingest boundary (the
    * batch query additionally injects its deterministic test PII; the
    * stream scrubs whatever arrives). Each class counts on
    * the PREVIOUS stage's redacted text (emails on raw, IPs after email
    * redaction, phones after both), so the counts are exactly the
    * replacements the scrub performed: a phone-shaped digit run inside
    * an email's local part is one redacted email, not an email plus a
    * phantom phone (spec-pinned in `IngestSpec`).
    */
  private[graft] def piiScrubOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        regexp_replace(col("text"), EmailRe, "<EMAIL>").as("t1"))
      .select(col("doc_id"), col("text"), col("t1"),
        regexp_replace(col("t1"), IpRe, "<IP>").as("t2"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("t2"), lit(PhoneRe), lit(0))).as("n_phones"),
        size(regexp_extract_all(col("t1"), lit(IpRe), lit(0))).as("n_ips"),
        regexp_replace(col("t2"), PhoneRe, "<PHONE>").as("redacted"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        fastMd5(col("redacted")).as("redacted_hash"),
        length(col("redacted")).as("n_chars"))

  // ------------------------------------------- d13 incremental dedup

  // The "new batch": a deterministic source split standing in for the
  // daily crawl increment. Everything else is the standing corpus.
  private[graft] val NewSources = Seq("src18", "src19")

  /** Incremental new-batch-vs-corpus dedup (d13): the shape a growing
    * corpus actually runs — never re-dedup the 100 TB snapshot; dedup
    * the arriving increment AGAINST it. Each new document is checked
    * (a) exactly, by d1's normalized content hash against the standing
    * hash set, and (b) near-exactly, by d6's shingle Jaccard against
    * standing documents only (new×existing, never existing×existing —
    * the corpus-side work was already paid when those documents were
    * admitted). Emits per new doc: exact_dup, the smallest existing
    * near-dup partner (−1 sentinel when none; the gate hash treats
    * NULL-vs-NaN ambiguously across engines), and the admission verdict.
    *
    * Scale shape: at lake scale the existing-corpus hash set and shingle
    * inverted index are precomputed, incrementally-maintained assets
    * (exactly like the run-scoped [[TextDedup.dupPairs]] materialization);
    * the per-increment cost is |new| hash probes + the new side's
    * postings joined against the standing index on the shingle key —
    * proportional to the increment, never corpus². Both joins key on
    * high-cardinality values (128-bit hash, shingle text); the hot-
    * shingle valve (d6b's `capShingleDf`) composes here unchanged if an
    * increment hits boilerplate.
    */
  def d13IncrementalDedup(spark: SparkSession, dir: String): DataFrame =
    incrementalDedupOf(Tables.documents(spark, dir)
      .withColumn("is_new", col("source").isin(NewSources: _*)))

  /** d13 with the stop-shingle valve engaged (the d6b/d9b discipline
    * carried to the incremental path): shingles whose document frequency
    * across the TAGGED index (standing + increment together — a
    * boilerplate shingle is hot regardless of which side carries it)
    * exceeds the cap are dropped before sizes and the candidate join,
    * so an increment full of boilerplate cannot blow the new×existing
    * join up toward |new|·|corpus|. Jaccard is computed entirely in the
    * filtered space — numerator AND both denominators — keeping the
    * ratio internally consistent. The EXACT verdict is unaffected (the
    * d1 hash never sees shingles). `HotKeyGuardSpec` shows a hot-
    * boilerplate increment collapsing its candidate count while the
    * true near-dup verdict survives in the filtered space.
    */
  def d13bIncrementalCapped(spark: SparkSession, dir: String): DataFrame =
    incrementalDedupOf(Tables.documents(spark, dir)
      .withColumn("is_new", col("source").isin(NewSources: _*)),
      maxShingleDf = Some(TextDedup.stopShingleCap(
        Tables.documents(spark, dir).count())))

  /** Bloom-gated exact incremental dedup (d19): the d13 exact-hash
    * verdict with the probe the 100-TB deployment actually runs FIRST —
    * a bloom sketch of the standing corpus's content hashes, built by
    * Spark's native `BloomFilterAggregate` (full partial-aggregation:
    * only the sketch crosses the wire) and probed by the codegen'd
    * `BloomFilterMightContain` (never a UDF). Arrivals that MISS the
    * bloom are admitted without ever touching the standing hash asset —
    * no join, no shuffle, no corpus I/O; only the (typically tiny)
    * might-contain fraction pays the exact join. Because a bloom has no
    * false negatives, the DECISIONS are identical to the un-gated exact
    * join — which is precisely what the oracle checks: the gate SQL has
    * no bloom in it, so the row hash certifies decision-invariance of
    * the performance layer. False positives only waste a probe; the
    * spec pins that the gate actually prunes. At lake scale the sketch
    * is an incrementally-maintained per-snapshot asset (mergeable —
    * union = bitwise OR), KBs–MBs against terabytes of hashes.
    */
  def d19BloomDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("is_new", col("source").isin(NewSources: _*))
    bloomDedupOf(docs)
  }

  private[graft] def bloomDedupOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.{bloomAgg, bloomMightContain}
    val hashes = docs.select(col("doc_id"), col("is_new"),
      contentHash.as("h"))
    val standing = hashes.filter(!col("is_new"))
      .select(col("h")).distinct().held()
    val n = standing.count() // also freezes the frame for both consumers
    // one driver-sized sketch (the broadcast-side asset); ~1.2 MB at
    // n=10⁶ keys with the default 3% fpp sizing
    val sketch = standing.agg(bloomAgg(col("h"), n))
      .head().getAs[Array[Byte]](0)
    val newH = hashes.filter(col("is_new"))
      .withColumn("bloom_hit", bloomMightContain(sketch, col("h")))
    // misses short-circuit: no join, no corpus touch
    val misses = newH.filter(!col("bloom_hit"))
      .select(col("doc_id"), lit(false).as("exact_dup"))
    val checked = newH.filter(col("bloom_hit"))
      .join(standing.withColumn("hit", lit(true)), Seq("h"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("exact_dup"))
    misses.union(checked)
      .withColumn("admitted", !col("exact_dup"))
      .orderBy(col("doc_id"))
  }

  /** The increment-vs-corpus pipeline over a pre-tagged frame
    * (`doc_id`, `text`, `is_new`) — split out so specs can drive crafted
    * corpora through the exact production plan.
    */
  private[graft] def incrementalDedupOf(docs: DataFrame,
      maxShingleDf: Option[Long] = None): DataFrame = {
    val hashes = docs.select(col("doc_id"), col("is_new"),
      contentHash.as("h"))
    val existingH = hashes.filter(!col("is_new"))
      .select(col("h")).distinct().withColumn("hit", lit(true))
    val exact = hashes.filter(col("is_new"))
      .join(existingH, Seq("h"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("exact_dup"))

    // split-tagged shingle index feeds sizes + both join sides: persist
    // once (the d3/d12 eager-materialization discipline); the optional
    // df valve cuts hot shingles BEFORE the tag join, sizes, and the
    // candidate join, so the whole pipeline lives in the filtered space
    val raw = TextDedup.shingleIndex(docs)
    val idx = maxShingleDf.fold(raw)(TextDedup.capShingleDf(raw, _))
      .join(docs.select(col("doc_id"), col("is_new")), Seq("doc_id"))
      .held()
    idx.count() // eager: consumers racing a cold cache each recompute
    val sizes = idx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shared = idx.filter(col("is_new")).as("a")
      .join(idx.filter(!col("is_new")).as("b"),
        col("a.shingle") === col("b.shingle"))
      .groupBy(col("a.doc_id").as("new_id"), col("b.doc_id").as("old_id"))
      .agg(count(lit(1)).as("shared"))
    val nearest = shared
      .join(sizes.as("sa"), col("new_id") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("old_id") === col("sb.doc_id"))
      .filter(round(col("shared").cast("double")
        / (col("sa.n") + col("sb.n") - col("shared")), 6) >= 0.8)
      .groupBy(col("new_id"))
      .agg(min(col("old_id")).as("ndof"))

    exact.join(nearest, col("doc_id") === col("new_id"), "left")
      .select(col("doc_id"), col("exact_dup"),
        coalesce(col("ndof"), lit(-1L)).as("near_dup_of"),
        (!col("exact_dup") && col("ndof").isNull).as("admitted"))
      .orderBy(col("doc_id"))
  }

  /** Ingest manifest (p6): the end-to-end verdict for an ARRIVING batch,
    * composed into one plan — p1's integration proof applied to the
    * ingest side. Per new document: the admission signals and decision
    * (p4), the PII the scrub would redact (t14's counts, summed), the
    * increment-vs-corpus dedup verdict (d13), and the final ingest
    * decision (admitted ∧ quality-kept). One scan of the increment
    * computes every per-row column (signals AND scrub counts together);
    * the dedup verdict — the only part that must look at the standing
    * corpus — joins in on doc_id. This is the row a production ingest
    * job writes to its manifest table per arriving document.
    */
  def p6IngestManifest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("is_new", col("source").isin(NewSources: _*))
    val newDocs = docs.filter(col("is_new"))
    // per-row leg: admission signals + decision + injected-PII counts,
    // one projection chain over one scan
    val injected = injectPii(col("text"), col("doc_id"))
    val perRow = admissionDecision(admissionSignals(newDocs))
      .join(newDocs.select(col("doc_id"),
          size(regexp_extract_all(injected, lit(EmailRe), lit(0)))
            .as("n_emails"),
          size(regexp_extract_all(injected, lit(PhoneRe), lit(0)))
            .as("n_phones"),
          size(regexp_extract_all(injected, lit(IpRe), lit(0))).as("n_ips")),
        Seq("doc_id"))
      .withColumn("n_pii",
        col("n_emails") + col("n_phones") + col("n_ips"))
    // corpus leg: the d13 verdict
    val ded = incrementalDedupOf(docs)
      .select(col("doc_id"), col("exact_dup"), col("near_dup_of"),
        col("admitted"))
    perRow.join(ded, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("quality"),
        col("rep_frac"), col("reject_reason"), col("n_pii"),
        col("exact_dup"), col("near_dup_of"),
        (col("keep") && col("admitted")).as("ingest"))
      .orderBy(col("doc_id"))
  }

  /** The UNSCOPED registry — plan-inspection specs read this so
    * building a frame never executes it; every external surface goes
    * through [[all]], whose entries run under [[QueryScope.scoped]]
    * (held intermediates park at scope exit and die at the next gated
    * call or [[QueryScope.releaseAll]] — r15 cache hygiene).
    */
  private[graft] val raw: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p4_quality_filter" -> (p4QualityFilter _),
    "t14_pii_redact" -> (t14PiiRedact _),
    "d13_incremental_dedup" -> (d13IncrementalDedup _),
    "d13b_incremental_capped" -> (d13bIncrementalCapped _),
    "d19_bloom_dedup" -> (d19BloomDedup _),
    "p6_ingest_manifest" -> (p6IngestManifest _),
  )

  /** Every gated entry runs under a [[QueryScope.scoped]] cache
    * scope: held intermediates park at scope exit and die at the next
    * gated call or `QueryScope.releaseAll()` (r15 cache hygiene).
    */
  val all: Map[String, (SparkSession, String) => DataFrame] =
    QueryScope.scopedAll(raw)
}
