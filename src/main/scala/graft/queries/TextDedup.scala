package graft.queries

import graft.Tables
import graft.queries.QueryScope.HoldOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication + text-analysis operators over the `documents` table —
  * the training-data-pipeline surface (exact dedup, MinHash+LSH, SimHash,
  * n-gram Jaccard, language ID, quality scoring, token stats,
  * fingerprinting).
  *
  * Cross-engine determinism: every hash is `md5` (identical output in
  * Spark and DuckDB); every pipeline is expressed as explode → join →
  * groupBy so it scales as an inverted index instead of an O(n²) cross
  * join. At 100 TB the shingle/band joins shuffle on high-cardinality
  * keys (shingle text, band hash) — well-distributed by construction —
  * and never materialize the full pair matrix.
  */
object TextDedup {

  import graft.functions.FastMd5.fastMd5

  // ------------------------------------------------- corpus text rules
  // Each rule is spelled once, here; the batch queries, the ingest
  // operators and the streaming twins all call these columns, so the
  // batch and streaming answers cannot drift apart.

  /** Tokens of normalized text: lowercase, trimmed, split on whitespace.
    * SQL `trim` strips spaces only, and `split` keeps a trailing empty
    * token, so a document ending in a tab or newline has one more
    * token (and one more shingle) than its space-stripped form.
    */
  private[graft] def toks: Column = split(trim(lower(col("text"))), "\\s+")

  /** Whitespace-normalized text: lowercase, trimmed, every whitespace
    * run collapsed to one space.
    */
  private[graft] def normText: Column =
    regexp_replace(trim(lower(col("text"))), "\\s+", " ")

  /** The d1 content hash: md5 of [[normText]]. Exact dedup, the t9
    * split and every ingest hash gate key on it.
    */
  private[graft] def contentHash: Column = fastMd5(normText)

  /** Per-document distinct word-3-gram shingle array (the codegen'd
    * [[org.apache.spark.sql.graftfn.GraftExpressions.distinctShingles]]
    * kernel over [[toks]]).
    */
  private def shingleKernel: Column =
    org.apache.spark.sql.graftfn.GraftExpressions.distinctShingles(toks)

  /** Distinct (doc_id, shingle) word-3-gram pairs — the inverted-index
    * input, built per-row by the codegen'd
    * [[org.apache.spark.sql.graftfn.GraftExpressions.distinctShingles]]
    * kernel (r17 optimization): shingles and the per-doc distinct are
    * document-local, so the derivation is one projection + explode —
    * no doc_id exchange, no window sort, no corpus-wide distinct
    * (guide §2.4; the window spelling below paid one full postings
    * exchange + sort + a two-level distinct aggregate before every
    * pair pipeline). Set-parity with the window spelling — and hence
    * with the DuckDB oracle, which mirrors it — is pinned by
    * `ShingleKernelSpec`.
    */
  private[graft] def shingleIndex(df: DataFrame): DataFrame =
    shingleRepartition(df).select(col("doc_id"),
      explode(shingleKernel).as("shingle"))

  /** `(doc_id, carry…, n_shingles, shingle)` — the [[shingleIndex]]
    * kernel without its doc_id exchange, so it runs on a stream (the
    * near-dup ingest twins) exactly as in batch. The kernel runs once
    * per document in a projection below the explode; `carry` columns
    * and `n_shingles` are computed there too and ride through the
    * explode as plain attributes, while the shingle array itself is
    * dropped at the explode (the generator select-list rule,
    * SCALE.md).
    */
  private[graft] def docShingles(docs: DataFrame,
      carry: String*): DataFrame = {
    val keep = ("doc_id" +: carry).map(col)
    // explode_outer + a null filter, not explode: a plain explode of an
    // attribute makes Catalyst infer `size(sh) > 0` below the generator
    // and push it through the projection — a second kernel run per doc
    docs.select(keep :+ shingleKernel.as("sh"): _*)
      .select(keep :+ size(col("sh")).as("n_shingles") :+ col("sh"): _*)
      .select(keep :+ col("n_shingles") :+
        explode_outer(col("sh")).as("shingle"): _*)
      .filter(col("shingle").isNotNull)
  }

  /** The doc_id exchange in front of the shingle kernel — the same
    * exchange position as the window spelling (whose corpus-wide
    * doc_id sort the kernel replaced), but carrying one raw document
    * row per doc instead of one exploded row per TOKEN (strictly fewer
    * rows and bytes through the wire, guide §2.3). It exists for two
    * measured reasons: (1) the kernel + pair-join stage inherits the
    * SCAN's split count without it — a single small parquet file ran
    * the whole derivation one-task (2.2 s vs 0.7 s at sf0.1); (2) the
    * persisted index keeps hash(doc_id) partitioning, which the
    * per-doc size aggregates downstream reuse exchange-free, exactly
    * as they did over the window spelling's output. The partition
    * count is the session's shuffle-partitions knob (the documented
    * scale lever, conf-set per deployment) — EXPLICIT so AQE cannot
    * coalesce a small benchmark input back to one task.
    */
  private def shingleRepartition(df: DataFrame): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      col("doc_id"))

  /** The window spelling shingleIndex replaced (posexplode → lead×2 →
    * distinct) — kept as the parity reference for `ShingleKernelSpec`
    * (the oracle SQL mirrors THIS derivation; the kernel must stay
    * set-identical to it). The tempting
    * `transform(sequence(...), i => element_at(toks, ...))` formulation
    * is quadratic: CollapseProject inlines the split into every
    * element_at inside the lambda — measured 10× slower at sf0.1.
    */
  private[graft] def shingleIndexWindowed(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    df.select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      .filter(col("t2").isNotNull) // docs with <3 tokens yield no shingles
      .select(col("doc_id"),
        concat_ws(" ", col("tok"), col("t1"), col("t2")).as("shingle"))
      .distinct()
  }

  // ---------------------------------------------------------------- exact

  /** Exact dedup: canonical-id mapping by md5 of whitespace-normalized
    * text. Hash-groupBy — one shuffle on the 128-bit hash, no pairwise
    * work; the canonical representative is min(doc_id).
    */
  def d1ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        contentHash.as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_docs"))
      .orderBy(col("canonical_id"))
      .limit(1000)

  // -------------------------------------------------------------- minhash

  val MinhashK = 8      // minhash functions
  val MinhashBands = 4  // bands of 2 rows each

  /** Per-doc MinHash signature: for seed i, min over shingles of
    * md5(i ":" shingle). One explode + one groupBy; the k mins are
    * computed as k parallel `min` aggregates (map-side partial agg).
    */
  /** Run-scoped signature asset (the [[dupPairs]] discipline): the
    * shingle explode + k min-hash aggregation — the expensive corpus
    * pass — runs once per run and parquets; d2/d3/d13/d14/d21 all read
    * the slim (doc_id, mh0..mhk) table. This is the comment at
    * [[d3MinhashLsh]] made real: at lake scale the signature table IS a
    * checkpointed asset, rebuilt when the corpus changes, not per query.
    */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    graft.RunAssets.asset(spark, "minhash", dir) {
      val idx = shingleIndex(Tables.documents(spark, dir))
      val mins = (0 until MinhashK).map { i =>
        min(fastMd5(concat(lit(s"$i:"), col("shingle")))).as(s"mh$i")
      }
      idx.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    }

  /** MinHash signatures as a query result (doc_id + k hash columns). */
  def d2MinhashSignature(spark: SparkSession, dir: String): DataFrame =
    minhashSignatures(spark, dir).orderBy(col("doc_id")).limit(500)

  /** MinHash + LSH near-dup pairs: band the signature (4 bands × 2 rows),
    * bucket-join on band hash, then estimate similarity as the fraction
    * of agreeing minhashes. Only same-bucket pairs are compared — the
    * LSH contract that keeps this sub-quadratic at scale.
    */
  def d3MinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    // the signature table feeds three join branches — materialize once
    // (at lake scale this is a checkpointed signature table)
    val sig = minhashSignatures(spark, dir).held()
    sig.count() // eager: three consumers racing a cold cache each recompute it
    lshEstimates(sig, lshCandidates(sig))
      .filter(col("est_jaccard") >= 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The banded-bucket candidate generator shared by d3 and d14: band
    * the signature (4 bands × 2 rows), self-join on (band, bucket-key).
    * Only same-bucket pairs ever meet — the LSH contract that keeps
    * near-dup detection sub-quadratic at scale.
    *
    * The bucket join runs over DISTINCT signatures (the m11/d5
    * discipline): a cluster of identical documents shares every band
    * key, so document-level banding is quadratic in dup-cluster size —
    * the dominant skew on a real crawl, where boilerplate pages
    * duplicate millions of times. Distinct signatures collapse each
    * cluster to one banded row; same-signature doc pairs re-enter as
    * the intra leg and cross-signature bucket pairs expand through the
    * per-signature doc lists, so the emitted pair set is IDENTICAL and
    * the work is bounded by distinct content, not corpus size.
    */
  private def lshCandidates(sig: DataFrame): DataFrame = {
    val bandCols = (0 until MinhashBands).map { b =>
      struct(lit(b).as("band"),
        fastMd5(concat_ws("|",
          col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")))
          .as("bkey"))
    }
    // one row per distinct signature; sk identifies the signature (md5
    // over all k minhashes — collision-free in practice, and a
    // collision would only merge two clusters' expansions, never drop
    // a candidate)
    val sk = fastMd5(concat_ws("|",
      (0 until MinhashK).map(i => col(s"mh$i")): _*))
    val keyed = sig.withColumn("sk", sk)
    val dsig = keyed
      .select(col("sk") +: (0 until MinhashK).map(i => col(s"mh$i")): _*)
      .distinct()
    val banded = dsig.select(col("sk"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("sk"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val closeSig = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.sk") < col("y.sk"))
      .select(col("x.sk").as("ska"), col("y.sk").as("skb"))
      .distinct()
    val slim = keyed.select(col("doc_id"), col("sk"))
    // each doc carries exactly one sk, so inter pairs are unique without
    // a distinct, and the intra (same-signature) leg is disjoint from it
    val inter = closeSig
      .join(slim.as("da"), col("ska") === col("da.sk"))
      .join(slim.as("db"), col("skb") === col("db.sk"))
      .select(least(col("da.doc_id"), col("db.doc_id")).as("id_a"),
        greatest(col("da.doc_id"), col("db.doc_id")).as("id_b"))
    val intra = slim.as("a").join(slim.as("b"),
        col("a.sk") === col("b.sk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    inter.unionByName(intra)
  }

  /** Estimated Jaccard (fraction of agreeing minhashes) for a candidate
    * pair set — exact eighths with MinhashK = 8, so the double is
    * bit-identical across engines.
    */
  private def lshEstimates(sig: DataFrame, cand: DataFrame): DataFrame = {
    val agree = (0 until MinhashK)
      .map(i => when(col(s"sa.mh$i") === col(s"sb.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(sig.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        (agree.cast("double") / MinhashK).as("est_jaccard"))
  }

  /** LSH candidate recall against exact truth (d14): for every TRUE
    * near-dup pair (d6's exact Jaccard ≥ 0.8), did the d3 banded
    * MinHash-LSH surface it — as a bucket candidate at all, and as a
    * final verdict after the agreement-estimate filter? The dedup-path
    * analog of s8's ANN-recall measurement: before anyone turns the
    * band/row dial on a 100-TB dedup run, this is the query that says
    * what the current dial MISSES (false negatives are invisible in
    * d3's own output by construction — only a join against exact truth
    * can show them). Scale shape: the expensive exact leg is the
    * already-bucketed d6 pipeline (never all-pairs), the LSH leg reuses
    * the persisted signature table, and the final comparison joins two
    * already-small pair sets.
    */
  def d14LshRecall(spark: SparkSession, dir: String): DataFrame = {
    // a composition over the pair table, not the pipeline under
    // measurement → reads the run-scoped materialization (see dupPairs)
    val truth = dupPairs(spark, dir)
    val sig = minhashSignatures(spark, dir).held()
    sig.count() // eager materialization (see d3)
    truth.join(lshEstimates(sig, lshCandidates(sig)),
        Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("est_jaccard").isNotNull.as("candidate"),
        col("est_jaccard"),
        coalesce(col("est_jaccard") >= 0.5, lit(false)).as("hit"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** LSH banding Pareto sweep (d24): the band/row dial-turning table —
    * for every (b, r) split of the 8 minhashes ((8,1), (4,2) = the d3
    * production dial, (2,4)), the candidate-pair volume that banding
    * generates and the fraction the agreement filter then confirms
    * (precision), next to the theoretical hit probability
    * 1 − (1 − s^r)^b at the s = 0.5 decision threshold. d21 plots the
    * theory curve and d14 audits ONE dial's misses; this is the table
    * that picks the dial — more bands buy recall with candidate volume,
    * more rows buy precision with misses (s22's nprobe sweep in dedup
    * space).
    *
    * Scale: every leg bands DISTINCT signatures (the d3/m11 skew rule —
    * dup clusters collapse to one banded row) and never MATERIALIZES
    * doc pairs at all: candidate counts expand through signature-group
    * sizes as Σ nₐ·n_b + Σ C(n,2), so the sweep's cost is the
    * signature-pair join, bounded by distinct content. The agreement
    * verdict (≥ 4 of 8 minhashes) is a signature-pair property —
    * integer compare, weighted by the same group sizes. The theory
    * column is a build-time constant (identical literal on both
    * engines, no cross-engine pow).
    */
  def d24BandSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val sig = minhashSignatures(spark, dir)
    val sk = fastMd5(concat_ws("|",
      (0 until MinhashK).map(i => col(s"mh$i")): _*))
    val keyed = sig.withColumn("sk", sk).held()
    keyed.count() // one signature read feeds all three legs
    val dsig = keyed
      .select(col("sk") +: (0 until MinhashK).map(i => col(s"mh$i")): _*)
      .distinct().held()
    dsig.count()
    val sizes = keyed.groupBy(col("sk")).agg(count(lit(1)).as("n"))
    val intraAgg = sizes
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("intra"))
    val legs = Seq((8, 1), (4, 2), (2, 4)).map { case (b, r) =>
      val bandCols = (0 until b).map { i =>
        struct(lit(i).as("band"), fastMd5(concat_ws("|",
          (0 until r).map(j => col(s"mh${i * r + j}")): _*)).as("bkey"))
      }
      val banded = dsig.select(col("sk"), explode(array(bandCols: _*)).as("bb"))
        .select(col("sk"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      val closeSig = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.sk") < col("y.sk"))
        .select(col("x.sk").as("ska"), col("y.sk").as("skb"))
        .distinct()
      val agree = (0 until MinhashK)
        .map(i => when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0))
        .reduce(_ + _)
      val weighted = closeSig
        .join(dsig.as("a"), col("ska") === col("a.sk"))
        .join(dsig.as("b"), col("skb") === col("b.sk"))
        .join(sizes.select(col("sk").as("ska"), col("n").as("na")), Seq("ska"))
        .join(sizes.select(col("sk").as("skb"), col("n").as("nb")), Seq("skb"))
        .select((col("na") * col("nb")).as("w"), (agree >= lit(4)).as("dup"))
      val theory = BigDecimal(1.0 - math.pow(1.0 - math.pow(0.5, r), b))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      weighted
        .agg(coalesce(sum(col("w")), lit(0L)).as("inter_cand"),
          coalesce(sum(when(col("dup"), col("w"))), lit(0L)).as("inter_dup"))
        .crossJoin(broadcast(intraAgg))
        .select(lit(b).as("n_bands"), lit(r).as("rows_per_band"),
          (col("inter_cand") + col("intra")).as("n_candidates"),
          (col("inter_dup") + col("intra")).as("n_est_dups"),
          (col("inter_cand") + col("intra")).as("cand_tot"),
          (col("inter_dup") + col("intra")).as("dup_tot"),
          lit(theory).as("p_at_threshold"))
        .select(col("n_bands"), col("rows_per_band"), col("n_candidates"),
          col("n_est_dups"),
          when(col("cand_tot") > 0,
            intDiv(col("dup_tot") * 1000000L + intDiv(col("cand_tot"), lit(2L)),
              col("cand_tot")).cast("double") / 1e6).as("precision"),
          col("p_at_threshold"))
    }
    legs.reduce(_ unionByName _).orderBy(col("n_bands").desc)
  }

  /** Dedup-verdict threshold sweep (d26): the OTHER dedup dial — d24
    * sweeps how candidates are FOUND, d26 sweeps how aggressively they
    * are JUDGED. For Jaccard thresholds {0.8, 0.9, 0.95} over the
    * run-scoped exact pair table: surviving pair count, documents
    * flagged for removal (the d15/p9 drop-the-later convention:
    * distinct id_b), and the corpus fraction that flagging removes
    * (half-up micro division). One read of the already-materialized
    * pair asset; each leg is a filtered aggregate — sweeping the
    * verdict costs three ≤1-row reductions, never a new pair pass.
    */
  def d26ThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val pairs = dupPairs(spark, dir).held()
    pairs.count()
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val legs = Seq(0.8, 0.9, 0.95).map { thr =>
      pairs.filter(col("jaccard") >= thr)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("id_b")).as("n_flagged"))
        .crossJoin(broadcast(nDocs))
        .select(lit(thr).as("threshold"), col("n_pairs"), col("n_flagged"),
          (intDiv(col("n_flagged") * 1000000L + intDiv(col("n_docs"), lit(2L)),
            col("n_docs")).cast("double") / 1e6).as("flagged_frac"))
    }
    legs.reduce(_ unionByName _).orderBy(col("threshold"))
  }

  /** Dup-component size histogram (d27): the distribution read the
    * dedup planner consumes — how many components of each size the
    * ≥ 0.8 pair graph produces, and what fraction of the corpus sits
    * in each bucket (half-up micro). Boilerplate-heavy crawls show a
    * heavy tail here (one 10⁶-member component IS the skew d6b/m11
    * guard against); a healthy corpus is mostly singletons. Reads the
    * materialized component-label asset — the histogram costs two
    * partial aggs over (doc, component) labels, never a new CC run.
    */
  def d27ComponentHistogram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val sizes = componentLabels(spark, dir)
      .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
    val total = sizes.agg(sum(col("cluster_size")).as("n_docs"))
    sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_components"))
      .crossJoin(broadcast(total))
      .select(col("cluster_size"), col("n_components"),
        (col("cluster_size") * col("n_components")).as("n_docs_in_bucket"),
        (intDiv(col("cluster_size") * col("n_components") * 1000000L
            + intDiv(col("n_docs"), lit(2L)), col("n_docs")).cast("double")
          / 1e6).as("doc_frac"))
      .orderBy(col("cluster_size"))
  }

  // -------------------------------------------------------------- simhash

  val SimhashBits = 16

  /** 16-bit SimHash per doc from per-token md5s: bit b of the signature is
    * set iff the ±1 vote sum over tokens' hash bits is positive.
    */
  def simhashes(spark: SparkSession, dir: String): DataFrame = {
    val tokens = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks).as("tok"))
      .withColumn("th",
        conv(substring(fastMd5(col("tok")), 1, 4), 16, 10)
          .cast("long"))
    val votes = (0 until SimhashBits).map { b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v$b")
    }
    val bits = (0 until SimhashBits)
      .map(b => when(col(s"v$b") > 0, 1L << b).otherwise(0L))
      .reduce(_ + _)
    tokens.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), bits.as("simhash"))
  }

  /** SimHash signatures as a query result. */
  def d4Simhash(spark: SparkSession, dir: String): DataFrame =
    simhashes(spark, dir).orderBy(col("doc_id")).limit(500)

  /** SimHash near-dup pairs at Hamming distance ≤ 3, found via banded
    * LSH: split 16 bits into 4 nibbles; any pair at distance ≤ 3 shares
    * ≥ 1 identical nibble (pigeonhole), so joining per-nibble finds all
    * such pairs without a cross join.
    *
    * Banding runs over DISTINCT hashes (the m11 discipline): a nibble
    * band has only 16 possible values, so document-level banding is
    * quadratic in corpus size by construction, while the distinct-hash
    * space is bounded at 2¹⁶ — candidate generation can never exceed
    * 4 · 16 · C(4096, 2) hash pairs REGARDLESS of corpus size, and the
    * expansion back to doc pairs is sized by the emitted output. Same
    * result set (same-hash doc pairs re-enter as the hamming-0 intra
    * leg), so the oracle is untouched.
    */
  def d5SimhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val sig = simhashes(spark, dir).held() // feeds band + expansion legs
    sig.count() // eager materialization (see d3)
    val nibbles = (0 until 4).map { j =>
      struct(lit(j).as("band"),
        shiftright(col("simhash"), 4 * j).bitwiseAND(15).as("bval"))
    }
    val banded = sig.select(col("simhash")).distinct()
      .select(col("simhash"), explode(array(nibbles: _*)).as("bb"))
      .select(col("simhash"), col("bb.band").as("band"),
        col("bb.bval").as("bval"))
    val close = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
          col("x.simhash") < col("y.simhash"))
      .select(col("x.simhash").as("ha"), col("y.simhash").as("hb"))
      // filter BEFORE the cross-band dedup: hamming is pair-determined,
      // so the distinct sees only surviving pairs (~4× smaller shuffle)
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .filter(col("hamming") <= 3)
      .distinct()
    val inter = close
      .join(sig.as("da"), col("ha") === col("da.simhash"))
      .join(sig.as("db"), col("hb") === col("db.simhash"))
      .select(least(col("da.doc_id"), col("db.doc_id")).as("id_a"),
        greatest(col("da.doc_id"), col("db.doc_id")).as("id_b"),
        col("hamming"))
    val intra = sig.as("a").join(sig.as("b"),
        col("a.simhash") === col("b.simhash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        lit(0).cast("int").as("hamming"))
    inter.unionByName(intra)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // -------------------------------------------------- n-gram Jaccard dedup

  /** Word-3-gram Jaccard near-dup pairs via inverted-index self-join:
    * explode distinct shingles, join docs sharing a shingle, count the
    * intersection, compute |A∩B| / (|A|+|B|−|A∩B|). Never builds the
    * n² pair matrix — only pairs sharing ≥1 shingle materialize.
    */
  def d6NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccard(spark, dir, maxShingleDf = None)

  /** d6 with the stop-shingle valve engaged (SCALE.md): shingles whose
    * document frequency exceeds the cap are dropped before the self-join.
    * A hot shingle contributes df² candidate pairs while carrying almost
    * no similarity signal — on a skewed corpus the cut is the difference
    * between Σ df² and n². Jaccard is then computed in the filtered
    * shingle space (the standard stop-word approximation; sizes and
    * intersections use the same filtered index, so the ratio stays
    * consistent). The cap is [[stopShingleCap]] — a fraction of corpus
    * size, not a constant (r12).
    */
  def d6bJaccardCapped(spark: SparkSession, dir: String): DataFrame =
    ngramJaccard(spark, dir, maxShingleDf =
      Some(stopShingleCap(Tables.documents(spark, dir).count())))

  /** Scale-aware stop-shingle valve: a shingle is boilerplate when it
    * appears in more than 1/[[StopShingleDenom]] (0.8%) of the corpus's
    * documents, floored at 4 so tiny corpora keep a working cut. The
    * round-11 constant-4 valve had the wrong units: "hot" is a property
    * of a shingle's df RELATIVE to the corpus — on a 10⁹-document lake a
    * df-1000 shingle (one in 10⁶ docs) is a legitimate duplication
    * signal that a constant cap silently discards, while a df-10⁷
    * boilerplate header still blows the self-join up. Dividing by a
    * fixed denominator keeps the kept-band's worst-case pair work at
    * Σ df² ≤ nShingles·(n/denom)² — quadratic in the FRACTION, linear
    * in corpus growth for a fixed df distribution — and the gate scale
    * (500 docs) lands exactly on the old cap (max(4, 500/125) = 4), so
    * the valve tightens/loosens only where corpus size says it should.
    */
  private[graft] val StopShingleDenom = 125L
  private[graft] def stopShingleCap(nDocs: Long): Long =
    math.max(4L, nDocs / StopShingleDenom)

  /** Hot-posting guard for the capped self-join pipelines (d6b/d9b):
    * after the [[stopShingleCap]] valve, each surviving shingle's
    * posting list is additionally truncated to its first
    * [[HotPostingCap]] documents by doc_id rank (the m11 /
    * [[WinnowSweepCap]] discipline in shingle space).
    *
    * The two caps guard different failure modes. The fractional valve
    * has the right UNITS — boilerplate is a shingle appearing in a
    * fixed fraction of the corpus — but as a worst-case bound it is
    * useless: with cap ∝ n, a kept shingle can still hold n/125
    * postings, so the pair join's worst bucket is (n/125)², i.e. the
    * valve alone admits quadratic work from an adversarial df
    * distribution sitting just under the fraction. The rank cap
    * restores the engineering bound — pair work ≤ postings · CAP — at
    * the usual recall trade: a pair dropped from a hot bucket is still
    * found iff the docs share a sub-cap shingle. Sizes and
    * intersections are BOTH computed in the rank-capped space (the
    * shared-space discipline, same as the valve itself), so the verdict
    * stays a consistent ratio and the DuckDB oracle mirrors it exactly
    * with a `row_number() OVER (PARTITION BY shingle ORDER BY doc_id)`
    * filter. On the gate corpora the cap never binds (max df 40 at
    * sf0.1 < 256), so d6b/d9b hashes are unchanged; specs pin the
    * binding behavior with a small synthetic cap.
    *
    * Cost discipline: a naive `row_number` over the whole index
    * sort-shuffles EVERY posting to enforce a cap that binds on almost
    * none of them (the first cut of this guard doubled d6b/d9b bench
    * cost at sf0.1 where the cap cannot bind at all). Two layers keep
    * the guard plan-free until it has work to do: (1) the pipelines
    * skip it entirely when the valve cap ≤ the rank cap — post-valve
    * df ≤ valve cap, so the rank can provably never exceed the cap;
    * (2) when it does run, only postings of over-cap shingles pay the
    * window sort — the df aggregate splits the index (partial agg
    * collapses hot keys map-side), the ≤ #postings/cap over-cap
    * shingle list broadcasts into map-side semi/anti joins, cold
    * postings pass through untouched, and the window's partition
    * count is the over-cap shingle count, not the corpus.
    */
  private[graft] val HotPostingCap = 256L
  private[graft] def capHotPostings(idx: DataFrame, cap: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hot = idx.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .select(col("shingle"))
    val cold = idx.join(hot, Seq("shingle"), "left_anti")
    val capped = idx.join(hot, Seq("shingle"), "left_semi")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("shingle")).orderBy(col("doc_id"))))
      .filter(col("rk") <= cap)
      .drop("rk")
    cold.unionByName(capped)
  }

  /** The valve + rank-cap composition both capped pipelines share:
    * rank-capping is skipped when the valve cap already implies it
    * cannot bind (see [[capHotPostings]] layer 1).
    */
  private def valveAndRankCap(raw: DataFrame, valveCap: Long,
      hotPostingCap: Long): DataFrame = {
    val valved = capShingleDf(raw, valveCap)
    if (valveCap <= hotPostingCap) valved
    else capHotPostings(valved, hotPostingCap)
  }

  /** Drops shingles with document frequency above the cap.
    *
    * Df is computed by groupBy — partial aggregation collapses a hot
    * shingle to ONE row per map partition before the shuffle. (A window
    * `count over (partition by shingle)` computes the same number but
    * funnels every row of the hot key into a single task — the exact
    * hotspot this valve exists to remove.) The over-cap list is then
    * anti-joined back: it is small by construction (#{df > cap} ≤
    * total postings / cap), so AQE broadcasts it and the cut is
    * map-only; if a pathological corpus makes it large, the same plan
    * degrades to a shuffle anti-join that AQE skew-splits.
    */
  private[graft] def capShingleDf(idx: DataFrame, cap: Long): DataFrame = {
    val hot = idx.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .select(col("shingle"))
    idx.join(hot, Seq("shingle"), "left_anti")
  }

  private[graft] def ngramJaccard(spark: SparkSession, dir: String,
      maxShingleDf: Option[Long],
      hotPostingCap: Long = HotPostingCap): DataFrame =
    jaccardPairsUnordered(spark, dir, maxShingleDf, hotPostingCap)
      .orderBy(col("id_a"), col("id_b"))

  /** The duplicate-pair table (id_a < id_b, jaccard ≥ 0.8), MEMOIZED and
    * MATERIALIZED once per (JVM run, sfDir): the first consumer runs the
    * d6 pair pipeline — the most expensive shuffle in the engine — and
    * writes it to a run-scoped parquet; d7, d8, d10 and p1 then all read
    * that materialization instead of each re-deriving the pairs from the
    * raw corpus. This is the production shape at lake scale: the
    * "duplicates" table is checkpointed once per corpus snapshot and
    * consumed by every downstream decision/labeling/decontamination job,
    * exactly as a 100 TB pipeline would never re-shingle the corpus four
    * times. d6/d6b/d9/d9b stay direct computations — they ARE the pair
    * pipeline under measurement; the memo only serves compositions.
    */
  private[graft] def dupPairs(spark: SparkSession, dir: String): DataFrame =
    graft.RunAssets.asset(spark, "pairs", dir)(
      jaccardPairsUnordered(spark, dir, maxShingleDf = None))

  private def jaccardPairsUnordered(spark: SparkSession, dir: String,
      maxShingleDf: Option[Long],
      hotPostingCap: Long = HotPostingCap): DataFrame = {
    // inverted index feeds both self-join sides plus the size table;
    // the capped variants additionally rank-cap surviving posting
    // lists (capHotPostings — the worst-case bound the valve lacks)
    val raw = shingleIndex(Tables.documents(spark, dir))
    val idx = maxShingleDf.fold(raw)(c =>
      valveAndRankCap(raw, c, hotPostingCap)).held()
    idx.count() // eager materialization (see d3)
    val sizes = idx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = idx.as("a")
    val b = idx.as("b")
    val shared = a.join(b,
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    // sizes is one row per document — unbounded at corpus scale, so no
    // forced broadcast; AQE picks broadcast vs shuffle from actual size
    shared
      .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        round(col("shared").cast("double") /
          (col("sa.n") + col("sb.n") - col("shared")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** Containment near-dup (d9): |shingles(a) ∩ shingles(b)| /
    * |shingles(a)| ≥ 0.9 — the asymmetric cousin of Jaccard that catches
    * quote-inclusion: a short document wholly contained in a long one
    * scores low Jaccard (the union is large) but containment 1.0, and
    * real pretraining corpora are full of exactly that shape (quoted
    * articles, boilerplate-wrapped reposts). Same inverted-index
    * candidate machinery as d6 — bucketed by shingle, never all-pairs;
    * the unordered pair counts are computed ONCE (id_a < id_b) and then
    * emitted in both directions, since containment is per-side.
    *
    * SCALE DECISION (r11, SCALE.md): the uncapped exponent keeps rising
    * with corpus size (0.52 → 0.77 → ~0.9 per decade, measured at
    * 10×/100× bench scale) because shingle document frequency grows
    * with replication — at lake scale run [[d9bContainmentCapped]]
    * (2.5–6× cheaper at 100×, same verdict in the filtered space);
    * this uncapped form is the small-corpus / audit leg.
    */
  def d9Containment(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(spark, dir, maxShingleDf = None)

  /** d9 with the stop-shingle valve engaged — the same df cut d6b
    * applies to Jaccard, proven to compose with containment semantics:
    * the per-side denominator |shingles(contained)| is recomputed in
    * the FILTERED shingle space (sizes derive from the capped index,
    * not the raw one), so the ratio stays internally consistent — a
    * document made mostly of hot boilerplate shingles has a small
    * filtered size, not a deflated score against a raw size. Without
    * the shared-space discipline a capped numerator over a raw
    * denominator would silently under-report containment.
    * The cap is the scale-aware [[stopShingleCap]] (r12).
    */
  def d9bContainmentCapped(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(spark, dir, maxShingleDf =
      Some(stopShingleCap(Tables.documents(spark, dir).count())))

  /** Containment in the capped winnow fingerprint space (d9w) — the
    * AT-SCALE containment default, with d9/d9b as the exact audit legs
    * (the dupPairs → winnowPairs precedent at the query level).
    *
    * Why a third leg exists: the r12 fractional valve fixed d9b's
    * recall (the old constant df-4 cut amputated genuine near-dup
    * signal as the corpus grew), but exact containment over the full
    * posting index is Θ(Σ df·min(df, cap)) pair emissions — linear in
    * postings at best, and measured at sf100 (5M docs) the pair
    * shuffle spills past this box's 60+ GB free disk before finishing
    * (SCALE.md r12). No exact algorithm that touches every posting
    * does better; the scale lever is the index itself. d9w computes
    * the same directional ratio — |A∩B| / |A|, sizes and
    * intersections BOTH in the shared capped space — over the
    * winnow-selected fingerprint frame (w = 4 → ~2/(w+1) = 40% of
    * postings, 36-bit space, [[WinnowSweepCap]]-capped buckets), so
    * pair work is bounded by selections·CAP and the winnowing
    * guarantee (any shared w+2-token run yields a shared selection)
    * keeps containment-style overlap visible. The DuckDB oracle
    * replays the identical selection (md5-prefix integer space,
    * composite-key window min, rank cap), so the verdict is
    * hash-gated end to end.
    */
  def d9wContainmentWinnow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the capped wide selection is the run-scoped asset (r13): the
    // timed leg is sizes + the fingerprint self-join, not a corpus
    // hash pass per call.
    //
    // r14 shuffle shrink (r13 verdict, directive 4): the old leg
    // aggregated (min,max,shared), UNIONED it in both directions, and
    // joined sizes on the doubled frame — 2× the pair aggregate's
    // bytes through the size exchange, which at sf1000 is what pushed
    // the shuffle past the box's disk (d30 on the same base fits).
    // Now each selection row carries its document's capped size n via
    // ONE window count over doc_id (selection-scale, no join), the
    // pair aggregate picks na/nb up as group constants (max() of a
    // per-group-constant column), and BOTH containment directions
    // derive from the single aggregated row — the pair frame is never
    // unioned, never re-exchanged, and no size join exists at all.
    val fpc = winnowSelectionAsset(spark, dir)
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("doc_id"))))
      .held()
    fpc.count() // eager materialization (see d3)
    val shared = fpc.as("a").join(fpc.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"),
        max(col("a.n")).as("na"), max(col("b.n")).as("nb"))
    val both = shared.select(col("id_a").as("contained_id"),
        col("id_b").as("container_id"),
        round(col("shared").cast("double") / col("na"), 6).as("containment"))
      .unionByName(shared.select(col("id_b").as("contained_id"),
        col("id_a").as("container_id"),
        round(col("shared").cast("double") / col("nb"), 6).as("containment")))
    val out = both
      .filter(col("containment") >= 0.9)
      .select(col("contained_id"), col("container_id"), col("containment"))
      .orderBy(col("contained_id"), col("container_id"))
      .limit(3000)
    val pinned = out.held()
    pinned.count()
    fpc.unpersist()
    out
  }

  /** Winnowing fingerprint dedup (d30): the MOSS/Stanford local
    * fingerprinting scheme — every window of [[WinnowW]] consecutive
    * 3-gram shingle hashes selects its minimum (rightmost on ties, the
    * robust-winnowing rule), and documents sharing ≥ 2 selected
    * fingerprints pair up. Where d6/d9 index EVERY distinct shingle,
    * winnowing keeps ~2/(w+1) of them with a guarantee: any shared run
    * of w + 2 tokens yields at least one shared fingerprint, so partial
    * overlap (plagiarized paragraphs, quoted blocks) is still caught at
    * a fraction of the index size — the scale lever when the inverted
    * index itself is the cost driver at 100 TB.
    *
    * Arithmetic is cross-engine exact: the 16-bit md5-prefix shingle
    * hash rides in a composite `h·F + (F−1−pos)` key ([[WinnowPosField]]
    * F = 2²⁴ keeps the key exact for documents up to ~10⁷ tokens while
    * leaving 39 bits of hash width) so one window
    * `min` picks (min hash, max pos) with no float anywhere; both
    * per-doc windows (the shingle `lead` and the fingerprint min)
    * partition and order identically, so Catalyst plans ONE exchange +
    * sort for the pair. The fingerprint self-join is bucketed by
    * fingerprint value — high-cardinality, hash-partitions evenly, and
    * candidate counts stay near-linear like d3's band join.
    */
  val WinnowW = 4

  /** Distinct (doc_id, fp) NARROW (4-hex) winnow selections — since r13
    * this is only the [[d30WinnowingNarrow]] saturation-audit base; the
    * gated d30 contract, every at-scale consumer, and (since r14) the
    * streaming ingest twins (which run [[winnowLocalSelect]]'s kernels
    * on the stream) all select in the wide 36-bit space
    * ([[winnowSelectionAsset]] / [[winnowLocalSelect]] with
    * [[WinnowWideHex]]). `WinnowLocalParitySpec` pins the narrow array
    * build against this window build at w = 4 too, so the audit leg's
    * selection rule can't drift either.
    */
  private[graft] def winnowFingerprints(docs: DataFrame,
      w: Int = WinnowW): DataFrame =
    winnowSelect(winnowHashed(docs), w)

  /** The shared (doc_id, pos, ek) hashed-shingle frame — d30 and the
    * d33 sweep both select over it, so the expensive explode+md5 pass
    * exists once.
    */
  /** Position field of the composite winnow key h·F + (F−1−pos): 2²⁴
    * positions is ≫ any real document, and keeping the field SMALL is
    * what buys hash width — the original 2⁴⁰ field left only 2²³ for h
    * over a signed long, and a fingerprint space that cannot grow with
    * the corpus saturates: once postings ≫ buckets every bucket is hot,
    * pair work pins at buckets·cap²/2, and the rank cap starts eating
    * recall corpus-wide (the d33 16-bit lesson, re-learned at 20 bits
    * when sf10's d9w hit 212 s — SCALE.md r12). The field width only
    * rescales the composite key; the (h, −pos) ORDER — and therefore
    * every selection — is unchanged for any document shorter than F.
    */
  private[graft] val WinnowPosField = 16777216L // 2^24

  /** Hash width for the at-scale winnow legs (d9w, [[winnowPairs]],
    * the d33 sweep): 9 hex chars → a 36-bit space, effectively
    * collision-free at any rehearsal scale, so a fingerprint's df is
    * its shingle's TRUE df — boilerplate stays the valve's problem and
    * the rank cap is a backstop, not the operating regime. (Since r13
    * d30's gated contract is ALSO this wide capped space, via
    * [[winnowSelectionAsset]]; since r14 the streaming ingest twin
    * selects wide too. The 4-hex default serves only the
    * [[d30WinnowingNarrow]] saturation-audit leg.)
    */
  private[graft] val WinnowWideHex = 9

  /** `hexChars` widens the fingerprint space: 4 (default, d30's narrow
    * audit leg) → 16-bit; [[WinnowWideHex]] → 36-bit for the at-scale
    * legs (h < 2³⁹ keeps the composite h·2²⁴ + pos key inside a long).
    *
    * Positions CLAMP at the field boundary (r12 advisor): a document
    * past 2²⁴ tokens would otherwise push (F−1−pos) negative and bleed
    * into the hash field, silently corrupting both the ek order and the
    * mk/F extraction. Clamped, every position ≥ F−1 carries the same
    * position key — selections degrade deterministically (the min over
    * a tied tail picks the same ek on every engine; the oracle mirrors
    * the same `least`) instead of corrupting the space. 2²⁴ tokens is
    * ≫ any real document; the clamp is the loud-failure backstop for a
    * pathological concatenation at lake scale.
    */
  private[graft] def winnowHashed(docs: DataFrame,
      hexChars: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wLead = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    docs
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
      .withColumn("t1", lead(col("tok"), 1).over(wLead))
      .withColumn("t2", lead(col("tok"), 2).over(wLead))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"), col("pos"),
        (conv(substring(fastMd5(concat_ws(" ", col("tok"), col("t1"),
          col("t2"))), 1, hexChars), 16, 10).cast("long") * WinnowPosField +
          (lit(WinnowPosField - 1L) -
            least(col("pos").cast("long"), lit(WinnowPosField - 1L))))
          .as("ek"))
  }

  /** The winnow selection computed as PER-DOCUMENT ARRAY math — the
    * r13 scale rewrite of the window-based [[winnowHashed]] →
    * [[winnowSelect]] pipeline, value-identical by construction (the
    * same composite `h·F + (F−1−pos)` key, the same full-window min,
    * the same per-doc distinct; `WinnowLocalParitySpec`-pinned against
    * the window twin on real data).
    *
    * Why: winnowing is per-document-local — every shingle, window, and
    * selection of a document derives from that document's own token
    * array, which arrives CONTIGUOUS in its row. The window pipeline
    * still paid a token-scale posexplode followed by a corpus-wide
    * `hashpartitioning(doc_id)` exchange + sort (Catalyst cannot know
    * the exploded rows are already doc-grouped), which at sf1000 is a
    * multi-hundred-GB shuffle of rows that never needed to move. Here
    * the shingle-hash array and the per-doc distinct selections are
    * two codegen'd kernel expressions ([[graft.functions.WinnowKernel]]
    * via `winnowEk`/`winnowMinSelect` — primitive-long loops behind a
    * static call, the FastMd5 discipline; a first cut as
    * `transform`/`slice`/`array_min` HOFs was plan-identical but 2.3×
    * slower through the interpreted lambda path) inside ONE narrow
    * projection — the first exchange in any consumer is over the
    * SELECTED fingerprints (~2/(w+1) of postings, already per-doc
    * deduped), and the scan parallelism is file-split arithmetic like
    * every other scan in the engine. Short docs (< 3 tokens, or fewer
    * than w full windows) emit nothing, exactly like the window twin's
    * `t2 IS NOT NULL` / `cnt = w` gates.
    */
  private[graft] def winnowLocalSelect(docs: DataFrame, w: Int,
      hexChars: Int): DataFrame =
    docs.select(col("doc_id"), explode(winnowSelection(w, hexChars)).as("fp"))

  /** One document's distinct winnow selections as an array column — the
    * kernel pair [[winnowLocalSelect]] explodes, exposed so a streaming
    * twin can gate or extend the array before its own explode.
    */
  private[graft] def winnowSelection(w: Int, hexChars: Int): Column = {
    import org.apache.spark.sql.graftfn.GraftExpressions.{winnowEk, winnowMinSelect}
    winnowMinSelect(winnowEk(toks, hexChars, WinnowPosField), w,
      WinnowPosField)
  }

  /** Fixed-cost probe unit for the rehearsal mains (r15 verdict,
    * directive 3): the winnow selection kernel + count over a
    * caller-fixed document slice. Timed between crawl drops it samples
    * the BOX at that instant — same parquet scan, same codegen kernel,
    * provably independent of how much history a maintainer has
    * accumulated. Measured caveat (SCALE.md r16): a short probe lands
    * in a single contention burst, so it documents instantaneous box
    * state next to each drop rather than normalizing it — flatness
    * claims use a trend fit through the raw k ≥ 12 series.
    */
  private[graft] def winnowProbeCount(docs: DataFrame): Long =
    winnowLocalSelect(docs.select(col("doc_id"), col("text")),
      WinnowW, WinnowWideHex).count()

  /** The ONE spelling of the rehearsal probe unit (constant ~3%
    * standing slice through [[winnowProbeCount]]) shared by the
    * LedgerRehearsal and IngestRehearsal mains, so their probe series
    * stay comparable by construction — the t9 "spell it once" rule
    * applied to a measuring instrument.
    */
  private[graft] def rehearsalProbe(standing: DataFrame): () => Long = {
    val slice = standing.filter(col("doc_id") % 31 === 1)
    () => winnowProbeCount(slice)
  }

  /** The capped WIDE winnow selection `(doc_id, fp)` as a run-scoped
    * asset (r12 verdict, directive 2): ONE shingle-hash pass per
    * (run, dir), materialized like [[dupPairs]], consumed by
    * [[d9wContainmentWinnow]], [[winnowPairs]], and the gated
    * [[d30Winnowing]] — previously each re-ran the full corpus hash
    * pass. At lake scale this is the fingerprint index a production
    * dedup pipeline checkpoints once per corpus snapshot; every
    * containment/pair/ledger consumer composes over it. The build is
    * the [[winnowLocalSelect]] array pass (no token-scale shuffle; the
    * only exchange is the per-fingerprint rank cap over the selection
    * frame, ~2/(w+1) of postings, per-doc deduped before it moves).
    */
  private[graft] def winnowSelectionAsset(spark: SparkSession,
      dir: String): DataFrame =
    graft.RunAssets.asset(spark, "winnowsel", dir) {
      winnowCapped(
        winnowLocalSelect(Tables.documents(spark, dir), WinnowW,
          WinnowWideHex), WinnowSweepCap)
    }

  /** The winnow selection rule over a hashed frame, parametric in the
    * window width w — width is the index-size/recall dial the d33
    * sweep measures.
    */
  private[graft] def winnowSelect(hashed: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val wWin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    hashed
      .select(col("doc_id"), min(col("ek")).over(wWin).as("mk"),
        count(lit(1)).over(wWin).as("cnt"))
      .filter(col("cnt") === w) // full windows only
      .select(col("doc_id"), intDiv(col("mk"), lit(WinnowPosField)).as("fp"))
      .distinct()
  }

  /** Hot-fingerprint cap for the d33 sweep legs: at most this many
    * DISTINCT documents participate per fingerprint bucket, ranked by
    * doc_id (deterministic, oracle-mirrorable) — the m11 band-cap
    * discipline in fingerprint space. A fingerprint with df postings
    * contributes df² candidate pairs while carrying almost no identity
    * signal once df is large (boilerplate shared by thousands of docs
    * is not a duplication verdict); the cap bounds the worst bucket at
    * CAP²/2 pairs regardless of corpus size. A pair dropped from a hot
    * bucket survives only if the two docs share ≥ 2 OTHER, uncapped
    * fingerprints — the d3/d6b/m11 recall-for-boundedness trade, and at
    * narrow w (the sweep's whole reason to exist) the trade is the
    * difference between a 603 s and a bounded sweep at sf10 (SCALE.md).
    */
  private[graft] val WinnowSweepCap = 256

  /** ≥2-shared-fingerprint candidate pairs over a (doc_id, fp) index,
    * with each fingerprint's posting list capped at `cap` docs (by
    * doc_id rank — the ranking window runs over the already-distinct
    * selection frame, so the hot key holds df rows, not df·positions).
    * Shared by the d33 sweep legs; `cap = Int.MaxValue` recovers the
    * uncapped d30 semantics (specs use small caps to pin the cut).
    */
  /** The rank-capped winnow frame shared by [[winnowPairsCapped]] and
    * [[d9wContainmentWinnow]]: at most `cap` docs per fingerprint, by
    * doc_id rank over the already-distinct selection.
    */
  private[graft] def winnowCapped(fp: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    fp.withColumn("rk", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("rk") <= cap)
      .select(col("doc_id"), col("fp"))
  }

  private[graft] def winnowPairsCapped(fp: DataFrame, cap: Int): DataFrame =
    winnowPairsOf(winnowCapped(fp, cap))

  /** ≥2-shared pairs over an ALREADY-capped (doc_id, fp) frame — the
    * join half of [[winnowPairsCapped]], split out so asset consumers
    * ([[winnowPairs]], [[d30Winnowing]]) don't re-rank a frame the
    * asset build already capped.
    */
  private[graft] def winnowPairsOf(capped: DataFrame): DataFrame =
    capped.as("a").join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("ns")).filter(col("ns") >= 2)
      .select(col("id_a"), col("id_b"))

  /** The SPILL-BOUNDED pair source for at-scale compositions (r12,
    * round-11 directive 4): winnow-selected fingerprints (w = 4, so the
    * index holds ~2/(w+1) = 40% of postings) in the WIDE 36-bit hash
    * space, capped per fingerprint at [[WinnowSweepCap]], paired on ≥ 2
    * shared selections, MATERIALIZED once per (run, dir) like
    * [[dupPairs]]. Where the exact pair asset's raw-shingle self-join
    * spills >60 GB at 16 GB input (SCALE.md box limit), this source's
    * shuffles are the winnow window (linear in tokens) and a
    * posting-list join whose worst bucket is CAP²/2 — the d6b trade at
    * the ASSET level: downstream compositions (d31b, p32b) read a
    * recall-traded pair space whose semantics are exactly gated, while
    * the dupPairs compositions remain the exact audit legs.
    */
  private[graft] def winnowPairs(spark: SparkSession, dir: String): DataFrame =
    graft.RunAssets.asset(spark, "winnowpairs", dir) {
      // composes the shared selection asset (r13): the pair build is
      // the posting join only — the corpus hash pass happens once per
      // (run, dir) inside [[winnowSelectionAsset]]
      winnowPairsOf(winnowSelectionAsset(spark, dir))
    }

  /** Split-tagged winnow candidate pairs — the decontamination family's
    * shared pair asset (r15, round-14 verdict directive 3): the capped
    * wide winnow pairs WITH their shared-selection counts, each endpoint
    * tagged with its t9 content-hash split, MATERIALIZED once per
    * (run, dir) like [[winnowPairs]]. [[d10wDecontaminationWinnow]]
    * (sorted, published) and [[p26wContaminationWinnow]] (unsorted
    * dashboard rollup) both read THIS parquet — before r15, p26w
    * re-invoked d10w and paid the fp self-join per call (and inherited
    * d10w's global sort, useless under p26w's distinct — the r14 ADVICE
    * item). The build is the posting join over the shared
    * [[winnowSelectionAsset]] plus two slim doc-scale split joins;
    * consumers are pure parquet scans, which `PlanShapeSpec` pins.
    */
  private[graft] def winnowTaggedPairs(spark: SparkSession,
      dir: String): DataFrame =
    graft.RunAssets.asset(spark, "wtagpairs", dir) {
      val (_, split) = splitCols
      val splits = Tables.documents(spark, dir)
        .select(col("doc_id"), split.as("split"))
      val fpc = winnowSelectionAsset(spark, dir)
      fpc.as("a").join(fpc.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 2)
        .join(splits.select(col("doc_id").as("id_a"),
          col("split").as("split_a")), Seq("id_a"))
        .join(splits.select(col("doc_id").as("id_b"),
          col("split").as("split_b")), Seq("id_b"))
    }

  /** d30's GATED contract since r13: winnow candidate pairs with their
    * shared-selection counts in the WIDE 36-bit, [[WinnowSweepCap]]-
    * capped space — the same index every at-scale consumer composes
    * over (the shared [[winnowSelectionAsset]]). The r12 verdict
    * measured the old 16-bit uncapped gate at 406 s at sf10: a
    * fingerprint space that cannot grow with the corpus saturates (65k
    * buckets all hot, pair work pinned at buckets·cap²/2), so gating
    * it made the registry's one remaining scale-killer look like a
    * first-class operator. The narrow leg survives as
    * [[d30WinnowingNarrow]], spec-pinned, never composed at scale.
    */
  def d30Winnowing(spark: SparkSession, dir: String): DataFrame = {
    val fpc = winnowSelectionAsset(spark, dir)
    fpc.as("a").join(fpc.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy(col("id_a"), col("id_b"))
      .limit(2000)
  }

  /** The pre-r13 narrow (16-bit, uncapped) winnowing — the saturation
    * AUDIT leg, demoted from the gate per the r12 verdict: it measures
    * what a non-growing fingerprint space costs (406 s at sf10,
    * SCALE.md), and `Round11OpsSpec2` pins its selection rule against
    * a driver-side twin. Nothing composes over it.
    */
  private[graft] def d30WinnowingNarrow(spark: SparkSession,
      dir: String): DataFrame = {
    val fp = winnowFingerprints(Tables.documents(spark, dir))
    fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy(col("id_a"), col("id_b"))
      .limit(2000)
  }

  private[queries] def containmentPairs(spark: SparkSession, dir: String,
      maxShingleDf: Option[Long]): DataFrame =
    containmentOf(Tables.documents(spark, dir), maxShingleDf)

  private[graft] def containmentOf(docs: DataFrame,
      maxShingleDf: Option[Long],
      hotPostingCap: Long = HotPostingCap): DataFrame = {
    val raw = shingleIndex(docs)
    val idx = maxShingleDf.fold(raw)(c =>
      valveAndRankCap(raw, c, hotPostingCap)).held()
    idx.count() // eager materialization (see d3)
    val sizes = idx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shared = idx.as("a").join(idx.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    val both = shared.select(col("id_a").as("contained_id"),
        col("id_b").as("container_id"), col("shared"))
      .unionByName(shared.select(col("id_b").as("contained_id"),
        col("id_a").as("container_id"), col("shared")))
    both
      .join(sizes.withColumnRenamed("doc_id", "contained_id"), Seq("contained_id"))
      .withColumn("containment",
        round(col("shared").cast("double") / col("n"), 6))
      .filter(col("containment") >= 0.9)
      .select(col("contained_id"), col("container_id"), col("containment"))
      .orderBy(col("contained_id"), col("container_id"))
      .limit(3000)
  }

  /** End-to-end dedup decision: a document survives unless it is the
    * higher-id member of a Jaccard ≥ 0.8 near-dup pair — the composition
    * a real pretraining pipeline runs (pair generation → canonical
    * survivor selection via anti-join). Keeps the smaller doc_id of each
    * duplicate cluster edge.
    */
  def d7DedupDecision(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    // the drop set feeds TWO consumers (anti-join + union), and the pair
    // table behind it comes from the run-scoped [[dupPairs]]
    // materialization, so neither consumer re-executes the shingle
    // self-join — they re-read a parquet. The persist still helps: it
    // keeps the (tiny) distinct drop set from being re-derived twice.
    val drops = dupPairs(spark, dir)
      .select(col("id_b").as("doc_id")).distinct()
      .held()
    drops.count() // eager: consumers racing a cold cache each recompute
    docs.join(drops, Seq("doc_id"), "left_anti")
      .withColumn("keep", lit(true))
      .unionByName(drops.withColumn("keep", lit(false)))
      .orderBy(col("doc_id"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (the standard MapReduce CC formulation): large-star
    * hangs every bigger neighbor of u off u's minimum neighbor — which
    * halves the remaining distance along long chains every round —
    * and small-star re-hangs the smaller neighbors on the same minimum.
    * The edge set converges to min-rooted stars in O(log n) rounds, vs
    * component-DIAMETER rounds for plain min-label propagation: on a
    * million-node chain that is ~20 shuffle rounds instead of ~10⁶.
    * Iterative-join hygiene (persist + eager count per round, previous
    * round unpersisted) keeps lineage one round deep, so task retries
    * never recompute the whole history.
    *
    * Convergence is checked exactly (count + anti-join emptiness of the
    * new edge set against the old), and running out of rounds THROWS —
    * a silent partial labeling would be wrong, not just slow.
    *
    * @param nodes  single-column `id` frame (isolated nodes become
    *               singleton components)
    * @param edges  undirected pair list (`src`, `dst`), any orientation
    * @return (labels (id, component = smallest reachable id), rounds)
    */
  /** Edge-count bound under which [[starContractComponents]] finishes
    * the closure DRIVER-SIDE (exact union-find over the collected edge
    * set) instead of iterating distributed rounds: 2M canonical edges ≈
    * 32 MB of longs — bounded state, the e28/e31 pattern (guide §1.2 /
    * §5: a ≤bound collect of an already-aggregated frame, never the
    * corpus). Every distributed round costs a checkpoint job + a count
    * job (+ a convergence anti-join near the fixpoint) over O(log n)
    * rounds; when the canonical edge set fits the bound, ONE collect
    * replaces them all and the result is the same min-id labeling by
    * construction. Above the bound the distributed loop runs unchanged
    * — and re-checks the bound each round, so a shrinking frontier
    * hands over as soon as it fits. Conf-tunable for cluster drivers
    * with more memory (`spark.graft.star.driverMaxEdges`).
    */
  private[graft] val StarDriverMaxEdges = 2000000L

  /** Exact min-id component labels of a collected canonical edge list —
    * union-find with path compression; returns one (id, componentMin)
    * row per distinct endpoint. Equivalent to the star-contraction
    * fixpoint's `centers` (plus explicit self rows for component
    * minima, which the consumer's coalesce makes value-identical).
    */
  private[graft] def driverComponents(edges: Array[(Long, Long)])
      : Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) {
        val nxt = parent.getOrDefault(c, c); parent.put(c, r); c = nxt
      }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // union by MIN root: the surviving root is always the component's
      // smallest id seen so far, so the final root IS the min-id label
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      } else parent.putIfAbsent(ra, ra)
    }
    import scala.jdk.CollectionConverters._
    parent.keySet().asScala.toSeq.map(id => (id, find(id)))
  }

  def starContractComponents(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 60): (DataFrame, Int) = {
    def canon(e: DataFrame): DataFrame =
      e.select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .where(col("src") =!= col("dst")).distinct()

    // large-star: per node a, m = min(neighbors ∪ {a}); every neighbor
    // b > a re-attaches to m. Each undirected edge is handled from its
    // smaller endpoint's group, so no edge is lost.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("src").as("a"), col("dst").as("b"))
        .unionByName(e.select(col("dst").as("a"), col("src").as("b")))
      val mins = sym.groupBy(col("a")).agg(min(col("b")).as("mn"))
        .select(col("a").as("u"), least(col("mn"), col("a")).as("m"))
      sym.join(mins, col("a") === col("u"))
        .where(col("b") > col("a"))
        .select(col("b").as("src"), col("m").as("dst"))
        .distinct()
    }

    // small-star: orient src > dst; per node u, m = min(smaller
    // neighbors); u and every smaller neighbor v ≠ m attach to m.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("src")).agg(min(col("dst")).as("m"))
        .select(col("src").as("u"), col("m"))
      e.join(mins, col("src") === col("u"))
        .where(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(mins.select(col("u").as("src"), col("m").as("dst")))
        .distinct()
    }

    // localCheckpoint (eager) rather than persist: each round's plan
    // references the previous round's frame ~12 times, so with plain
    // persist the LOGICAL plan grows 12^rounds even though the data is
    // cached — Catalyst itself OOMs after ~8 rounds. Checkpointing cuts
    // lineage to a LogicalRDD: one round deep for retries AND for the
    // planner. (On a real cluster use reliable `checkpoint()` — same
    // shape, survives executor loss; superseded round RDDs are freed by
    // the ContextCleaner once unreferenced.)
    val spark = edges.sparkSession
    val driverMax = spark.conf.getOption("spark.graft.star.driverMaxEdges")
      .map { v =>
        require(v.toLongOption.exists(_ >= 0L), "spark.graft.star." +
          s"driverMaxEdges must be a non-negative edge count, got '$v'")
        v.toLong
      }.getOrElse(StarDriverMaxEdges)
    var cur = canon(edges).localCheckpoint(true)
    var curCnt = cur.count()
    var rounds = 0
    var converged = curCnt == 0L
    var centersOpt: Option[DataFrame] = None
    while (!converged && rounds < maxRounds && centersOpt.isEmpty) {
      if (curCnt <= driverMax) {
        // bounded frontier: ONE collect + exact union-find replaces the
        // remaining O(log n) checkpoint/count/anti-join rounds (see
        // [[StarDriverMaxEdges]]); labels are identical by construction
        import spark.implicits._
        val collected = cur.select(col("src"), col("dst")).as[(Long, Long)]
          .collect()
        centersOpt = Some(driverComponents(collected)
          .toDF("id", "component"))
        converged = true
      } else {
        val next = smallStar(largeStar(cur)).localCheckpoint(true)
        val nextCnt = next.count()
        // exact stability: same cardinality and next ⊆ cur ⇒ same edge set
        val changed = nextCnt != curCnt ||
          next.join(cur, Seq("src", "dst"), "left_anti").limit(1).count() > 0
        cur = next
        curCnt = nextCnt
        rounds += 1
        converged = !changed
      }
    }
    require(converged,
      s"star contraction did not converge within $maxRounds rounds " +
        s"($curCnt edges live) — refusing to emit a partial labeling")
    val centers = centersOpt.getOrElse(
      cur.groupBy(col("src")).agg(min(col("dst")).as("component"))
        .select(col("src").as("id"), col("component")))
    val labels = nodes.join(centers, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    (labels, rounds)
  }

  /** Near-dup cluster ids (d8): connected components over the
    * Jaccard ≥ 0.8 pair graph via [[starContractComponents]] — every
    * member carries the component's smallest doc_id; singleton documents
    * are their own component.
    */
  def d8DedupComponents(spark: SparkSession, dir: String): DataFrame =
    componentLabels(spark, dir).orderBy(col("doc_id"))

  /** (doc_id, component) labels over the ≥0.8 pair graph — d8's body,
    * shared by the canonical-selection / savings rollups (d17, p13).
    * MATERIALIZED once per (JVM run, sfDir) like [[dupPairs]]: the star
    * contraction's O(log n) iterative rounds run once, and every
    * consumer reads the labeling as an asset — at lake scale the
    * component table is checkpointed per corpus snapshot alongside the
    * pair table, because no downstream job wants to re-converge a graph
    * whose fixpoint is already known.
    */
  private[graft] def componentLabels(spark: SparkSession,
      dir: String): DataFrame =
    graft.RunAssets.asset(spark, "complabels", dir) {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id").as("id"))
      val pairs = dupPairs(spark, dir)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val (labels, _) = starContractComponents(docs, pairs)
      labels.select(col("id").as("doc_id"), col("component"))
    }

  // -------------------------------------------------------- text analysis

  /** Per-doc token statistics: counts, uniques, avg token length,
    * type-token ratio. Pure per-row array math — no shuffle at all.
    */
  def t1TokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        normText.as("norm"), toks.as("toks"))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_uniq"),
        round((length(col("norm")) - (size(col("toks")) - 1)).cast("double")
          / size(col("toks")), 6).as("avg_tok_len"),
        round(size(array_distinct(col("toks"))).cast("double")
          / size(col("toks")), 6).as("ttr"))
      .orderBy(col("doc_id"))
      .limit(2000)

  /** BPE-ish regex token counting: alpha runs, digit runs, and single
    * non-alnum symbols counted separately (the pre-tokenizer shape used
    * by byte-pair encoders).
    */
  def t2RegexTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+"), lit(0))).as("n_alpha"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_num"),
        size(regexp_extract_all(lower(col("text")),
          lit("[^a-z0-9 ]"), lit(0))).as("n_sym"))
      .orderBy(col("doc_id"))
      .limit(2000)

  private[graft] val StopEn = Seq("the", "a", "of", "and", "is", "to")
  private val StopDe = Seq("der", "die", "das", "und", "ist")
  private val StopEs = Seq("el", "la", "de", "y", "es")
  private val StopFr = Seq("le", "la", "de", "et", "est")

  private def voteFor(words: Seq[String]): Column =
    size(filter_(col("toks"), t => t.isin(words: _*)))

  /** The ONE language-ID vote pipeline — per doc: stopword votes per
    * candidate language + the deterministic priority tie-break verdict.
    * Shared by t3 (per-doc classifier), t15 (label audit), and t30
    * (confusion matrix) so the prediction cannot fork between the
    * classifier and its audits. */
  private def langVotes(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), toks.as("toks"))
      .select(col("doc_id"), col("lang"),
        voteFor(StopEn).as("v_en"), voteFor(StopDe).as("v_de"),
        voteFor(StopEs).as("v_es"), voteFor(StopFr).as("v_fr"))
      .withColumn("predicted",
        when(col("v_en") >= col("v_de") && col("v_en") >= col("v_es")
          && col("v_en") >= col("v_fr"), "en")
          .when(col("v_de") >= col("v_es") && col("v_de") >= col("v_fr"), "de")
          .when(col("v_es") >= col("v_fr"), "es")
          .otherwise("fr"))

  /** Language-ID heuristic: stopword votes per candidate language,
    * deterministic priority tie-break. (The harness corpus shares one
    * vocabulary across its `lang` labels, so the interesting part is the
    * deterministic vote pipeline, not the accuracy.)
    */
  def t3LangId(spark: SparkSession, dir: String): DataFrame =
    langVotes(Tables.documents(spark, dir))
      .orderBy(col("doc_id"))
      .limit(2000)

  /** Label audit (t15): per DECLARED language, how often the t3
    * language-ID prediction disagrees — the label-noise dashboard a
    * pipeline consults before trusting upstream metadata (crawl-supplied
    * language tags are notoriously wrong, and a high mismatch rate for
    * one source/language is the signal to re-route those documents
    * through detection instead of trusting the tag). One map-only pass
    * computes the per-doc verdict (t3's exact vote pipeline, so the
    * audit and the gated classifier can never disagree), then a
    * partial-agg rollup on the 5-value lang key; `sum(int)` CAST to
    * BIGINT per the cross-engine dtype discipline.
    */
  def t15LabelAudit(spark: SparkSession, dir: String): DataFrame =
    langVotes(Tables.documents(spark, dir))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("predicted") =!= col("lang"), 1).otherwise(0))
          .cast("long").as("n_mismatch"))
      .withColumn("mismatch_rate",
        round(col("n_mismatch").cast("double") / col("n_docs"), 6))
      .orderBy(col("lang"))

  /** Language confusion matrix (t30): the full declared × predicted
    * count table t15 collapses to a per-language mismatch rate — WHICH
    * language the mislabeled documents get mistaken FOR is what decides
    * the remediation (en→de confusion means bad stopword coverage;
    * everything→en means a prior-dominant tie-break), and a rate alone
    * cannot say. Row share is one half-up micro division against the
    * declared language's total (the v3/q28 discipline). Scale: the
    * same single map-only vote pass as t15, rolled up to the ≤|langs|²
    * key — the matrix is driver-sized by construction, like e19's.
    */
  def t30LangConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    langVotes(Tables.documents(spark, dir))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_lang",
        sum(col("n")).over(Window.partitionBy(col("lang"))))
      .select(col("lang"), col("predicted"), col("n"),
        intDiv(col("n") * 1000000L + intDiv(col("n_lang"), lit(2L)),
          col("n_lang")).as("share_micro"))
      .withColumn("share",
        round(col("share_micro").cast("double") / 1e6, 6))
      .orderBy(col("lang"), col("predicted"))
  }

  /** Quality score in [0,1]: length saturation, lexical diversity,
    * stopword presence, long-token share — the standard cheap pretraining
    * quality heuristics, combined with fixed weights.
    */
  /** Un-limited quality frame — shared by t4 and the p1 manifest. */
  private def qualityFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), toks.as("toks"))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).as("n_tokens"),
        (size(filter_(col("toks"), t => t.isin(StopEn: _*))).cast("double")
          / size(col("toks"))).as("stop_ratio"),
        (size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
          .as("ttr"),
        (size(filter_(col("toks"), t => length(t) >= 4)).cast("double")
          / size(col("toks"))).as("long_ratio"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round(col("stop_ratio"), 6).as("stop_ratio"),
        round(col("ttr"), 6).as("ttr"),
        round(least(col("n_tokens").cast("double") / 50.0, lit(1.0)) * 0.3
          + col("ttr") * 0.3 + col("stop_ratio") * 0.2
          + col("long_ratio") * 0.2, 6).as("quality"))

  def t4QualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityFrame(spark, dir)
      .orderBy(col("doc_id"))
      .limit(2000)

  /** Document fingerprint: the minimum shingle md5 (winnowing-style
    * content fingerprint) + shingle cardinality per doc.
    */
  def t5Fingerprint(spark: SparkSession, dir: String): DataFrame =
    shingleIndex(Tables.documents(spark, dir))
      .groupBy(col("doc_id"))
      .agg(min(fastMd5(col("shingle"))).as("fingerprint"),
        count(lit(1)).as("n_shingles"))
      .orderBy(col("doc_id"))
      .limit(2000)

  /** Per-doc polynomial rolling-hash fingerprint over the normalized
    * text — one codegen'd O(len) pass per row, no shuffle at all
    * (`RollingHashExpr`; the md5-min fingerprint in t5 is
    * shingle-level, this is the whole-document content hash).
    */
  def t7RollingFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        normText.as("norm"))
      .select(col("doc_id"),
        org.apache.spark.sql.graftfn.GraftExpressions
          .rollingHash(col("norm")).as("rhash"),
        length(col("norm")).as("n_chars"))
      .orderBy(col("doc_id"))
      .limit(2000)

  val ChunkLen = 64
  val ChunkStride = 48
  val DedupChunkLen = 32

  /** Chunk-level exact-substring dedup (d11): the RefinedWeb/Dolma
    * "exact substring" stage reduced to non-overlapping 32-token
    * windows — a document whose chunks also appear verbatim in OTHER
    * documents is boilerplate-heavy or a partial copy even when whole-
    * document hashes (d1) and shingle Jaccard (d6) both miss it (e.g. a
    * long doc embedding one copied passage). Per doc: chunk count,
    * cross-doc-duplicated chunk count, their ratio, and the RefinedWeb
    * keep rule (drop when over half the chunks are duplicated). Shape
    * at scale: map-only explode → one partial-agg shuffle on the chunk
    * hash (high cardinality) → the duplicated-hash set joins back on
    * the same key → one per-doc rollup. Never all-pairs; the `keep`
    * decision is integer arithmetic (2·dup ≤ n), no float compare.
    */
  def d11ChunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunkDedupOf(Tables.documents(spark, dir))

  private[graft] def chunkDedupOf(docs: DataFrame): DataFrame = {
    val chunks = docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), size(col("toks")) - 1,
          lit(DedupChunkLen))).as(Seq("chunk_idx", "start")))
      .select(col("doc_id"),
        fastMd5(array_join(
          slice(col("toks"), col("start") + 1, lit(DedupChunkLen)), " "))
          .as("chash"))
    // hashes seen in ≥2 distinct docs; partial aggregation collapses a
    // hot chunk to one row per map partition before the shuffle. The
    // ≥2-distinct test is min(doc_id) ≠ max(doc_id) — countDistinct
    // planned a second full (chash, doc_id) exchange + aggregate level
    // for a verdict that needs only the key range (r17, guide §2.3)
    val dupHashes = chunks.groupBy(col("chash"))
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1"))
      .select(col("chash"), lit(true).as("dup"))
    chunks.join(dupHashes, Seq("chash"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), count(col("dup")).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 6)
          .as("dup_frac"),
        (col("n_dup_chunks") * 2 <= col("n_chunks")).as("keep"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Intra-document repetition (t18): the repeated-paragraph quality
    * signal — of a document's non-overlapping 32-token chunks, how many
    * are copies of another chunk of the SAME document (C4/Gopher-style
    * boilerplate detection). Unlike d11's cross-doc chunk dedup the
    * verdict never leaves the document: both aggregations key on doc_id,
    * so there is one shuffle on the document key and zero corpus-wide
    * state — the signal stays map-sided at any corpus size.
    */
  def t18IntradocRep(spark: SparkSession, dir: String): DataFrame =
    t18IntradocRepOf(Tables.documents(spark, dir))

  private[graft] def t18IntradocRepOf(docs: DataFrame): DataFrame = {
    val perChunk = docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), size(col("toks")) - 1,
          lit(DedupChunkLen))).as(Seq("chunk_idx", "start")))
      .select(col("doc_id"),
        fastMd5(array_join(
          slice(col("toks"), col("start") + 1, lit(DedupChunkLen)), " "))
          .as("chash"))
      .groupBy(col("doc_id"), col("chash"))
      .agg(count(lit(1)).as("cnt"))
    perChunk.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(when(col("cnt") >= 2, col("cnt")).otherwise(lit(0L)))
          .as("n_rep_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_distinct_chunks"),
        col("n_rep_chunks"),
        round(col("n_rep_chunks").cast("double") / col("n_chunks"), 6)
          .as("rep_frac"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Corpus vocabulary statistics (t19): per language — token mass,
    * vocabulary size, hapax count (types occurring exactly once), hapax
    * fraction, and tokens-per-type. The Zipf/Heaps diagnostics read
    * before sizing a tokenizer vocabulary or trusting a language's
    * corpus depth: a high hapax fraction means the vocabulary is still
    * growing (undersampled language); tokens-per-type is the corpus's
    * effective repetition. Two aggregations, both on high-cardinality
    * or tiny keys: (lang, token) counts shuffle on the token-dominated
    * pair, then collapse to the 5-value language key with partial aggs
    * map-side — no corpus-wide state beyond the vocabulary itself.
    */
  def t19VocabStats(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("lang"), explode(toks).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("lang"), col("n_tokens"), col("vocab_size"),
        col("n_hapax"),
        round(col("n_hapax").cast("double") / col("vocab_size"), 6)
          .as("hapax_frac"),
        round(col("n_tokens").cast("double") / col("vocab_size"), 6)
          .as("tokens_per_type"))
      .orderBy(col("lang"))
  }

  /** Train-vocabulary n-gram overlap (d12): for every val/test document,
    * the fraction of its 3-gram shingles that occur anywhere in the
    * train split — the vocabulary-level contamination diagnostic that
    * complements d10's pair-level decontamination (d10 finds WHICH
    * train doc leaked; d12 scores HOW derivative each eval doc is even
    * when no single train doc crosses the pair threshold). Shape at
    * scale: the split assignment is map-only (t9's hash), the train
    * vocabulary is a partial-agg distinct on the shingle key, and the
    * scoring join is keyed on shingle — the inverted-index discipline,
    * never all-pairs.
    */
  def d12TrainOverlap(spark: SparkSession, dir: String): DataFrame = {
    val (_, split) = splitCols
    val docs = Tables.documents(spark, dir)
    // the split-tagged shingle index feeds BOTH the train-vocabulary
    // distinct and the eval-side scoring join — persist once (the d6
    // eager-materialization discipline) or each consumer re-runs the
    // shingle derivation. The split tag is a per-row function of the
    // same document row the shingles come from, so it is computed in a
    // projection BELOW the explode and rides through it as a per-doc
    // attribute, while `text` is dropped at the generator — beside the
    // generator it would run once per shingle row (the generator
    // select-list rule, SCALE.md). The former doc_id join existed only
    // because the window spelling had already exploded the document
    // away (r17: one exchange fewer, guide §2.4)
    val withSplit = shingleRepartition(docs)
      .select(col("doc_id"), split.as("split"), col("text"))
      .select(col("doc_id"), col("split"),
        explode(shingleKernel).as("shingle"))
      .select(col("doc_id"), col("shingle"), col("split"))
      .held()
    withSplit.count() // eager materialization (see d3)
    val trainVocab = withSplit.filter(col("split") === "train")
      .select(col("shingle")).distinct()
      .withColumn("seen", lit(true))
    withSplit.filter(col("split").isin("val", "test"))
      .join(trainVocab, Seq("shingle"), "left")
      .groupBy(col("doc_id"), col("split"))
      .agg(count(lit(1)).as("n_shingles"), count(col("seen")).as("n_in_train"))
      .select(col("doc_id"), col("split"), col("n_shingles"),
        col("n_in_train"),
        round(col("n_in_train").cast("double") / col("n_shingles"), 6)
          .as("overlap"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Top-bigram fraction (t13): the Gopher repetition rule t11 does not
    * cover — the fraction of all word bigrams occupied by the single
    * most frequent one. t11's duplicate-bigram ratio flags broad
    * repetition; t13 catches the degenerate single-phrase loop ("buy
    * now buy now …") that can hide under a low duplicate ratio in a
    * long document. Shape at scale: per-row bigram array (zip with own
    * tail, no shuffle) → explode → two partial-agg shuffles on
    * naturally high-cardinality keys ((doc, bigram), then doc).
    */
  def t13TopBigramFrac(spark: SparkSession, dir: String): DataFrame =
    topBigramFracOf(Tables.documents(spark, dir))

  private[graft] def topBigramFracOf(docs: DataFrame): DataFrame = {
    val n = size(col("toks"))
    docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(n >= 2)
      .select(col("doc_id"),
        explode(zip_with(slice(col("toks"), lit(1), n - 1),
          slice(col("toks"), lit(2), n - 1),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("m"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"), max(col("m")).as("top_count"))
      .select(col("doc_id"), col("n_bigrams"), col("top_count"),
        round(col("top_count").cast("double") / col("n_bigrams"), 6)
          .as("top_frac"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Context-window chunking: every document fans out to overlapping
    * 64-token chunks at stride 48 — the op a pretraining pipeline runs to
    * fit documents into model context windows. Map-only (explode of
    * chunk starts, slice per start); the token array is materialized
    * below the Generate, so the split runs once per document, not once
    * per chunk (the CollapseProject inlining trap).
    */
  def t8Chunking(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), size(col("toks")) - 1, lit(ChunkStride)))
          .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx"),
        array_join(slice(col("toks"), col("start") + 1, lit(ChunkLen)), " ")
          .as("chunk_text"),
        size(slice(col("toks"), col("start") + 1, lit(ChunkLen))).as("n_tokens"))
      .orderBy(col("doc_id"), col("chunk_idx"))
      .limit(3000)

  /** Bigram repetition ratio (t11): the Gopher/C4-style repetitive-junk
    * filter — the fraction of a document's word bigrams that are
    * duplicates (1 − distinct/total). Boilerplate, keyword stuffing, and
    * degenerate generations score high; clean prose scores near 0. Pure
    * per-row array math (zip of the token array with its own tail), no
    * shuffle at all — at 100 TB this runs inside the scan's codegen
    * stage like t1/t4.
    */
  def t11RepetitionRatio(spark: SparkSession, dir: String): DataFrame = {
    val n = size(col("toks"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"))
      .filter(n >= 2)
      .select(col("doc_id"),
        zip_with(slice(col("toks"), lit(1), n - 1),
          slice(col("toks"), lit(2), n - 1),
          (a, b) => concat(a, lit(" "), b)).as("bigrams"))
      .select(col("doc_id"),
        size(col("bigrams")).as("n_bigrams"),
        size(array_distinct(col("bigrams"))).as("n_uniq_bigrams"),
        round(lit(1.0) - size(array_distinct(col("bigrams"))).cast("double")
          / size(col("bigrams")), 6).as("dup_frac"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Bounded-hop contamination spread (q25) via Spark's NATIVE
    * `WITH RECURSIVE` (new in Spark 4.x): starting from every test-split
    * document, walk the near-dup pair graph up to 3 hops and report the
    * minimum hop count per reached document — the transitive question a
    * decontamination pass actually asks ("if this eval doc leaked,
    * which training docs are within k rewrite steps of it?"; d10 only
    * answers the 1-hop case). The recursion reads the run-scoped
    * materialized pair table, so the spread costs 3 small self-joins,
    * not 3 corpus re-shingles. Engine note: Spark's recursive CTEs
    * support UNION ALL only (no UNION-distinct step), so an UNBOUNDED
    * closure on a cyclic graph would re-derive paths forever — the hop
    * bound is what makes the declarative form terminate, and the
    * unbounded component labeling stays with d8's large-star/small-star
    * contraction (the scale path). The oracle runs the textually
    * identical recursion in DuckDB.
    */
  def q25ContaminationSpread(spark: SparkSession, dir: String): DataFrame = {
    val (_, split) = splitCols
    val pairs = dupPairs(spark, dir)
    pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .createOrReplaceTempView("q25_edges")
    Tables.documents(spark, dir)
      .select(col("doc_id"), split.as("split"))
      .filter(col("split") === "test")
      .select(col("doc_id"))
      .createOrReplaceTempView("q25_seeds")
    spark.sql(
      """WITH RECURSIVE spread(doc_id, depth) AS (
        |  SELECT doc_id, 0 FROM q25_seeds
        |  UNION ALL
        |  SELECT e.dst, s.depth + 1
        |  FROM spread s JOIN q25_edges e ON s.doc_id = e.src
        |  WHERE s.depth < 3)
        |SELECT doc_id, CAST(min(depth) AS BIGINT) AS hops
        |FROM spread GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  /** Corpus word frequencies — the canonical explode → count shape; at
    * lake scale this is the vocabulary-building pass of a tokenizer
    * pipeline (one shuffle on the token).
    */
  def t6WordCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(toks).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)

  // `filter` collides with DataFrame.filter inside select contexts
  private def filter_(c: Column, f: Column => Column): Column =
    org.apache.spark.sql.functions.filter(c, f)

  /** Deterministic content-hash train/val/test split (t9): bucket =
    * first 16 bits of md5(normalized text) mod 100 → 80/10/10. Hashing
    * CONTENT (never doc_id, never `rand()`) is the reproducible-split
    * pattern a training pipeline needs: the assignment survives
    * re-sharding, re-identification, and task retries, and identical
    * texts land in the same split so near-dup leakage across train/test
    * cannot happen via exact copies. Map-only — no shuffle.
    */
  /** md5-bucket and split-name columns over a `text` column — shared by
    * t9 and the p1 manifest.
    */
  private[graft] def splitCols: (Column, Column) = {
    val bucket = conv(substring(contentHash, 1, 4), 16, 10).cast("long") % 100
    val split = when(bucket < 80, "train")
      .when(bucket < 90, "val").otherwise("test")
    (bucket, split)
  }

  def t9SplitAssign(spark: SparkSession, dir: String): DataFrame = {
    val (bucket, split) = splitCols
    Tables.documents(spark, dir)
      .select(col("doc_id"), bucket.as("bucket"), split.as("split"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** End-to-end training-corpus manifest (p1): the composition a real
    * pretraining pipeline runs as its final step — per document, its
    * quality score (t4), content-hash split (t9), near-dup verdict (the
    * d7 drop set), and the resulting selection decision
    * (non-duplicate ∧ quality ≥ 0.57). One scan of documents computes
    * quality and split together; the small drop set left-joins on
    * doc_id (AQE broadcasts it). This is the integration query: four
    * operator families composing into one plan.
    */
  def p1CorpusManifest(spark: SparkSession, dir: String): DataFrame = {
    val (_, split) = splitCols
    val drops = dupPairs(spark, dir)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("dup", lit(true))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"), toks.as("toks"))
      .select(col("doc_id"), col("lang"), split.as("split"),
        size(col("toks")).as("n_tokens"),
        (size(filter_(col("toks"), t => t.isin(StopEn: _*))).cast("double")
          / size(col("toks"))).as("stop_ratio"),
        (size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
          .as("ttr"),
        (size(filter_(col("toks"), t => length(t) >= 4)).cast("double")
          / size(col("toks"))).as("long_ratio"))
      .select(col("doc_id"), col("split"),
        round(least(col("n_tokens").cast("double") / 50.0, lit(1.0)) * 0.3
          + col("ttr") * 0.3 + col("stop_ratio") * 0.2
          + col("long_ratio") * 0.2, 6).as("quality"))
      .join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"), col("quality"),
        coalesce(col("dup"), lit(false)).as("is_dup"))
      .withColumn("selected", !col("is_dup") && col("quality") >= 0.57)
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination (d10): eval-split documents (t9's
    * val/test buckets) that near-duplicate a train-split document — the
    * train→benchmark leakage check a pretraining pipeline runs before
    * trusting an eval number. Composes the t9 content-hash split with
    * the d6 inverted-index Jaccard pairs: candidate generation stays
    * banded by shingle (never all-pairs), and the per-doc split table is
    * a slim (doc_id, split) projection joined twice on doc_id — at
    * corpus scale both joins shuffle on doc_id or broadcast, AQE's
    * call. Pairs are computed ONCE undirected (id_a < id_b) and emitted
    * in both directions because contamination is directional
    * (train → eval): either side of an undirected pair may be the
    * eval document.
    */
  def d10Decontamination(spark: SparkSession, dir: String): DataFrame = {
    val (_, split) = splitCols
    val splits = Tables.documents(spark, dir)
      .select(col("doc_id"), split.as("split"))
    val jac = dupPairs(spark, dir)
    val sym = jac.select(col("id_a").as("eval_id"),
        col("id_b").as("train_id"), col("jaccard"))
      .unionAll(jac.select(col("id_b").as("eval_id"),
        col("id_a").as("train_id"), col("jaccard")))
    sym
      .join(splits.as("se"), col("eval_id") === col("se.doc_id"))
      .join(splits.as("st"), col("train_id") === col("st.doc_id"))
      .filter(col("se.split").isin("val", "test") &&
        col("st.split") === "train")
      .select(col("eval_id"), col("se.split").as("eval_split"),
        col("train_id"), col("jaccard"))
      .orderBy(col("eval_id"), col("train_id"))
  }

  /** Benchmark decontamination in the BOUNDED winnow space (d10w) — the
    * d9/d9w default/audit split applied to the decontamination family
    * (r14): d10 composes over [[dupPairs]], the exact raw-shingle pair
    * asset whose build this box cannot rehearse past sf100 (SCALE.md) —
    * at 100 TB the leakage check that gates every eval number must ride
    * the bounded index instead. Candidate pairs come from the shared
    * capped wide [[winnowSelectionAsset]] (the same ≥2-shared-selection
    * space as d30/winnowPairs — one corpus hash pass per run, pair work
    * bounded at cap²/2 per bucket), and the split roles attach through
    * ONE pass over the pair aggregate: the slim (doc_id, split) map
    * joins each endpoint once, and the two contamination directions are
    * filtered selects of the tagged frame — the pair aggregate is never
    * unioned through an exchange (the r13 d9w lesson). d10 stays gated
    * as the exactness audit; this is the per-release default.
    */
  def d10wDecontaminationWinnow(spark: SparkSession,
      dir: String): DataFrame = {
    // both direction legs scan the run-scoped tagged-pair parquet (r15)
    // — no persist, no fp self-join in this plan, nothing left cached
    // after the call (the r14 persist-leak fix)
    val tagged = winnowTaggedPairs(spark, dir)
    tagged
      .filter(col("split_a").isin("val", "test") &&
        col("split_b") === "train")
      .select(col("id_a").as("eval_id"), col("split_a").as("eval_split"),
        col("id_b").as("train_id"), col("shared"))
      .unionByName(tagged
        .filter(col("split_b").isin("val", "test") &&
          col("split_a") === "train")
        .select(col("id_b").as("eval_id"), col("split_b").as("eval_split"),
          col("id_a").as("train_id"), col("shared")))
      .orderBy(col("eval_id"), col("train_id"))
  }

  /** Per-eval-document contamination score in winnow space (d12w) — the
    * bounded twin of d12's shingle-vocabulary overlap: the fraction of
    * an eval (val/test) document's UNCAPPED wide winnow selections that
    * appear among the train split's selected fingerprints. Where d12's
    * eval join moves the token-scale shingle index, every frame here is
    * selection-scale: the per-doc selections compute inside the codegen
    * kernel projection, the split attaches through d12's slim
    * (doc_id, split) join, the train side collapses to a DISTINCT
    * fingerprint set (bounded by distinct content, with map-side
    * partial distinct), and the probe join is eval-selections × that
    * set. Uncapped by design: selections are per-document-local, so no
    * posting list is ever materialized — the rank cap exists to bound
    * PAIR emission, and no pair emission exists here.
    *
    * Why the split is a JOIN and not a column in the kernel select
    * (measured, r14): a per-document expression projected in the same
    * select as an `explode` lands in the Project ABOVE the Generate —
    * so the split's regexp + content md5 re-evaluated once per EXPLODED
    * row, ~17× per-doc blowup, and the materialization leg measured
    * 178 s vs 4 s without the column at sf10. Doc-scale columns attach
    * to generator output by doc-scale join (the d12 shape), never by
    * riding the generator's select list.
    */
  def d12wOverlapWinnow(spark: SparkSession, dir: String): DataFrame =
    d12wVerdicts(Tables.documents(spark, dir))
      .orderBy(col("doc_id"))
      .limit(2000)

  /** The FULL (pre-top-2000) d12w verdict set over an arbitrary
    * document frame — the gated query above is this plus its result
    * cap; the streaming pins compare against THIS (r15 ADVICE: a pin
    * against the capped surface only held while the fixture stayed
    * under 2000 eval rows, so fixture growth would fail it for a
    * non-semantic reason), and the ingest maintainers take their
    * batch-equivalence target from it over (standing ∪ arrived) docs.
    */
  private[graft] def d12wVerdicts(docs: DataFrame): DataFrame = {
    val (_, split) = splitCols
    val sel = winnowLocalSelect(docs, WinnowW, WinnowWideHex)
      .join(docs.select(col("doc_id"), split.as("split")), Seq("doc_id"))
      .held()
    sel.count() // train-vocab distinct + eval probe both read it (see d3)
    val trainFps = sel.filter(col("split") === "train")
      .select(col("fp")).distinct()
      .withColumn("seen", lit(true))
    sel.filter(col("split").isin("val", "test"))
      .join(trainFps, Seq("fp"), "left")
      .groupBy(col("doc_id"), col("split"))
      .agg(count(lit(1)).as("n_sel"), count(col("seen")).as("n_in_train"))
      .select(col("doc_id"), col("split"), col("n_sel"), col("n_in_train"),
        round(col("n_in_train").cast("double") / col("n_sel"), 6)
          .as("overlap"))
  }

  /** Per-source contamination budget over the bounded winnow pairs
    * (p26w) — p26's dashboard aggregation with its pair source swapped
    * from the exact [[dupPairs]] asset to [[d10wDecontaminationWinnow]]:
    * the number a 100 TB release pipeline actually publishes per
    * snapshot, priced in the bounded class (the winnow pair join plus a
    * doc-scale left join and a sources-bounded agg). Same half-up micro
    * rate as p26 so the two surfaces stay comparable row for row.
    */
  def p26wContaminationWinnow(spark: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    // reads the shared tagged-pair asset directly (r15): no re-run of
    // the fp self-join per call, and no inherited global sort — d10w's
    // orderBy was useless under this distinct (the r14 ADVICE item)
    val tagged = winnowTaggedPairs(spark, dir)
    val cont = tagged
      .filter(col("split_a").isin("val", "test") &&
        col("split_b") === "train")
      .select(col("id_b").as("doc_id"))
      .unionByName(tagged
        .filter(col("split_b").isin("val", "test") &&
          col("split_a") === "train")
        .select(col("id_a").as("doc_id")))
      .distinct()
      .withColumn("c", lit(true))
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(cont, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("c"), 1L).otherwise(0L)).as("n_contaminated"))
      .select(col("source"), col("n_docs"), col("n_contaminated"),
        (intDiv(col("n_contaminated") * 1000000L + intDiv(col("n_docs"),
          lit(2L)), col("n_docs")).cast("double") / 1e6)
          .as("contamination_rate"))
      .orderBy(col("source"))
  }

  /** Per-language sampling rates out of 1000 — the p2 mixture weights
    * (downsample the over-represented language, keep the rest near-full).
    */
  val MixRates: Seq[(String, Int)] =
    Seq("en" -> 500, "es" -> 900, "zh" -> 1000, "de" -> 800, "fr" -> 800)
  val MixDefaultRate = 700

  /** Corpus mixing (p2): deterministic per-language sampling — the
    * data-mixture step that re-weights sources/languages before
    * training. The keep decision is per-row arithmetic on a salted
    * content hash (the "mix:" salt decorrelates the sample from t9's
    * split buckets, which hash the same normalized text), so the op is
    * map-only with NO shuffle, reproducible under retries and
    * re-sharding, and identical texts sample identically everywhere —
    * rerunning the pipeline at 100 TB yields the same corpus bit for
    * bit.
    */
  /** Epoch-aware mixing (p12): the data-constrained allocation — each
    * source gets an equal slice of a 40% global token budget; a source
    * whose supply falls short upsamples, but never beyond 4 epochs (the
    * diminishing-returns cap from the data-constrained scaling
    * literature), so `effective = min(budget, 4·supply)` and the fill
    * fraction says how data-starved the slice is. All counts are exact
    * integers and the per-source rollup is two aggregations — one on
    * the source key, one global scalar broadcast back — so the mix plan
    * for a 10¹²-token corpus costs two passes over slim columns.
    */
  def p12EpochMix(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = Tables.documents(spark, dir)
      .select(col("source"), size(toks).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    perSrc.crossJoin(broadcast(tot))
      .withColumn("budget_tokens",
        expr("total_tokens * 2 div 5 div n_sources"))
      .withColumn("epochs",
        least(expr("(budget_tokens + n_tokens - 1) div n_tokens"), lit(4L)))
      .withColumn("effective_tokens",
        least(col("budget_tokens"), col("n_tokens") * col("epochs")))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("budget_tokens"), col("epochs"), col("effective_tokens"),
        round(col("effective_tokens").cast("double")
          / col("budget_tokens"), 6).as("fill_frac"))
      .orderBy(col("source"))
  }

  def p2CorpusMixing(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(fastMd5(concat(lit("mix:"), normText)),
      1, 4), 16, 10).cast("long") % 1000
    val rate = MixRates.foldLeft(lit(MixDefaultRate)) {
      case (els, (l, r)) => when(col("lang") === l, r).otherwise(els)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"),
        (bucket < rate).as("keep"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Language rebalancing (p5): downsample any language exceeding 20%
    * of the corpus to 20% — the adaptive counterpart of p2's FIXED
    * mixture weights (real pipelines run both: configured mixtures for
    * known sources, statistical caps against an over-represented crawl
    * language drowning the rest). Rates derive from corpus counts, so
    * the op is: one partial-agg count per language (5 rows), one global
    * count (1 row), both broadcast back, then a map-only per-row
    * decision on a salted content hash ("bal:" decorrelates from t9's
    * split and p2's "mix:" sample). The keep rule is INTEGER
    * arithmetic — `bucket · 5 · n_lang < 1000 · n_total` ⇔
    * bucket/1000 < 0.2·total/n_lang — so the decision is exact on both
    * engines (a double rate straddling a bucket boundary by half an
    * ulp would flip rows); BIGINT headroom holds to ~10¹² documents.
    * Reproducible under retries/re-sharding like every sampling op
    * here: the hash is of content, never of position or rand().
    */
  def p5LangRebalance(spark: SparkSession, dir: String): DataFrame =
    langRebalanceOf(Tables.documents(spark, dir))

  private[graft] def langRebalanceOf(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    val bucket = conv(substring(fastMd5(concat(lit("bal:"), normText)),
      1, 4), 16, 10).cast("long") % 1000
    docs
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .join(broadcast(counts), Seq("lang"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("lang"), col("bucket"), col("n_lang"),
        (col("bucket") * 5 * col("n_lang") < lit(1000) * col("n_total"))
          .as("keep"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Temperature-based language resampling (p7): the smooth counterpart
    * of p5's hard 20% cap — per-language keep rate ∝ p_lang^(α−1) with
    * α = 0.5, normalized so the rarest language keeps everything:
    * rate_l = √(n_min / n_l). The majority language is down-sampled
    * toward the tail instead of cliff-capped — the α-temperature
    * mixing every multilingual pretraining run tunes. The decision
    * stays engine-exact WITHOUT the micro-nat snap: IEEE-754 `sqrt` is
    * correctly rounded on both engines (unlike ln), so
    * round(1000·√(n_min/n_l)) is bit-identical, and the per-doc keep is
    * then pure integer comparison of a salted content-hash bucket
    * against the per-mille rate ("tmp:" salt decorrelates from the
    * t9/p2/p5 hash spaces). Shape at scale: one broadcast-sized
    * language-count aggregate, the keep rule map-only, bit-reproducible
    * under retries and any partitioning.
    */
  def p7TempRebalance(spark: SparkSession, dir: String): DataFrame =
    tempRebalanceOf(Tables.documents(spark, dir))

  private[graft] def tempRebalanceOf(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val nMin = counts.agg(min(col("n_lang")).as("n_min"))
    val bucket = conv(substring(fastMd5(concat(lit("tmp:"), normText)),
      1, 4), 16, 10).cast("long") % 1000
    docs
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .join(broadcast(counts), Seq("lang"))
      .crossJoin(broadcast(nMin))
      .withColumn("rate_pm",
        round(sqrt(col("n_min").cast("double") / col("n_lang")) * 1000)
          .cast("long"))
      .select(col("doc_id"), col("lang"), col("bucket"), col("n_lang"),
        col("rate_pm"), (col("bucket") < col("rate_pm")).as("keep"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Temperature-sweep rebalancing table (p25): p7's language
    * rebalancer with the temperature dial swept — per language, the
    * sampling rate and kept count at λ ∈ {¼, ½, 1} of the
    * (n_min/n_lang)^λ law. λ = 1 flattens every language to the
    * smallest's size, λ = ½ is p7's production dial, λ = ¼ barely
    * intervenes — the table a multilingual run reads to pick how hard
    * to fight the head language (the s22/d24 sweep pattern applied to
    * mixing). The exponents are CHOSEN so every leg is IEEE-exact
    * cross-engine: x, √x, √√x — hardware-correctly-rounded sqrt
    * compositions, never a libm pow. ONE scan computes all three keep
    * verdicts map-side (the per-doc md5 bucket is shared across legs)
    * into a per-language partial agg — sweeping the dial costs one
    * pass, not three.
    */
  def p25TempSweep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val nMin = counts.agg(min(col("n_lang")).as("n_min"))
    val bucket = conv(substring(fastMd5(concat(lit("tmp:"), normText)),
      1, 4), 16, 10).cast("long") % 1000
    val x = col("n_min").cast("double") / col("n_lang")
    docs
      .select(col("lang"), bucket.as("bucket"))
      .join(broadcast(counts), Seq("lang"))
      .crossJoin(broadcast(nMin))
      .withColumn("r25", round(sqrt(sqrt(x)) * 1000).cast("long"))
      .withColumn("r50", round(sqrt(x) * 1000).cast("long"))
      .withColumn("r100", round(x * 1000).cast("long"))
      .groupBy(col("lang"))
      .agg(max(col("n_lang")).as("n_lang"),
        max(col("r25")).as("rate_pm_25"),
        sum(when(col("bucket") < col("r25"), 1L).otherwise(0L)).as("kept_25"),
        max(col("r50")).as("rate_pm_50"),
        sum(when(col("bucket") < col("r50"), 1L).otherwise(0L)).as("kept_50"),
        max(col("r100")).as("rate_pm_100"),
        sum(when(col("bucket") < col("r100"), 1L).otherwise(0L))
          .as("kept_100"))
      .orderBy(col("lang"))
  }

  /** Contamination attribution by source (p26): d10's benchmark-
    * contaminated train docs rolled up to the provenance dashboard —
    * which SOURCE ships the train documents that near-dup the val/test
    * sets (the feed you renegotiate, not just the docs you drop).
    * Pure composition over two gated pipelines: the contaminated set
    * is a slim distinct-doc frame left-joined onto (doc_id, source);
    * the rate is one half-up micro division per source. AQE broadcasts
    * the drop set; cost is the d10 read.
    */
  def p26ContaminationBySource(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val cont = d10Decontamination(spark, dir)
      .select(col("train_id").as("doc_id")).distinct()
      .withColumn("c", lit(true))
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(cont, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("c"), 1L).otherwise(0L)).as("n_contaminated"))
      .select(col("source"), col("n_docs"), col("n_contaminated"),
        (intDiv(col("n_contaminated") * 1000000L + intDiv(col("n_docs"),
          lit(2L)), col("n_docs")).cast("double") / 1e6)
          .as("contamination_rate"))
      .orderBy(col("source"))
  }

  /** Train/val distribution drift (t29): total-variation distance
    * between the two splits' unigram distributions, per language — the
    * release-over-release drift monitor (apply to two corpus snapshots
    * and it is the same operator). TV = ½ Σ_t |P(t) − Q(t)| =
    * Σ|c_p·N_q − c_q·N_p| / (2·N_p·N_q) — EXACT integer arithmetic end
    * to end (the per-token cross products in DECIMAL(38,0); one
    * half-up micro division per language at the very end), which is
    * why TV and not JSD: the divergence with logs of mixed-denominator
    * rationals would leak libm into every token, TV leaks nothing.
    * Derives from the term-frequency asset joined to the slim
    * (doc_id, lang, split) map — no new corpus explode; the only
    * corpus-sized shuffle is the asset's own (already paid).
    */
  def t29SplitDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val (_, split) = splitCols
    val lab = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), split.as("split"))
      .filter(col("split").isin("train", "val"))
    val tf = termFreqAsset(spark, dir)
      .join(lab, Seq("doc_id"))
      .groupBy(col("lang"), col("token"))
      .agg(sum(when(col("split") === "train", col("m")).otherwise(0L))
          .as("cp"),
        sum(when(col("split") === "val", col("m")).otherwise(0L)).as("cq"))
      .held()
    tf.count() // feeds the totals and the distance pass
    val totals = tf.groupBy(col("lang"))
      .agg(sum(col("cp")).as("np"), sum(col("cq")).as("nq"))
    val num = tf.join(broadcast(totals), Seq("lang"))
      .groupBy(col("lang"))
      .agg(sum(abs(col("cp").cast("decimal(38,0)") * col("nq")
          - col("cq").cast("decimal(38,0)") * col("np"))).as("num"),
        count(lit(1)).as("vocab_union"))
    num.join(broadcast(totals), Seq("lang"))
      .select(col("lang"), col("np").as("n_train_tokens"),
        col("nq").as("n_val_tokens"), col("vocab_union"),
        when(col("np") > 0 && col("nq") > 0,
          intDiv(col("num") * 1000000L
            + intDiv(col("np").cast("decimal(38,0)") * col("nq") * 2, lit(2L)),
          col("np").cast("decimal(38,0)") * col("nq") * 2).cast("double")
          / 1e6).as("tv_distance"))
      .orderBy(col("lang"))
  }

  /** Deletion propagation (p27): the right-to-be-forgotten impact
    * report — a deletion request doesn't end at the named documents,
    * because near-copies of the deleted content survive dedup-aware
    * storage (the d8 components ARE the copy registry). For the
    * simulated delete-list (doc_id ≡ 0 mod 97), the report rolls up
    * per source: directly named docs, the EXPANDED set (every doc
    * sharing a component with a named one — the copies that must also
    * go), and the token mass lost. The lake operation every governed
    * corpus runs before a takedown ships. Composition over the
    * materialized label asset: the delete set semi-joins to components
    * (slim, AQE-broadcast), components expand back through the same
    * labels, and the rollup is one partial agg — no new pair work.
    */
  def p27DeletionPropagation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val labels = componentLabels(spark, dir)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(toks).as("n_tokens"))
    val named = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id")).withColumn("named", lit(true))
    val hitComponents = labels.join(named, Seq("doc_id"))
      .select(col("component")).distinct()
    val expanded = labels.join(hitComponents, Seq("component"))
      .select(col("doc_id")).withColumn("expanded", lit(true))
    docs
      .join(named, Seq("doc_id"), "left")
      .join(expanded, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("named"), 1L).otherwise(0L)).as("n_named"),
        sum(when(col("expanded"), 1L).otherwise(0L)).as("n_expanded"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("expanded"), col("n_tokens")).otherwise(0L))
          .as("tokens_lost"))
      .select(col("source"), col("n_docs"), col("n_named"),
        col("n_expanded"), col("tokens_lost"),
        (intDiv(col("tokens_lost") * 1000000L + intDiv(col("n_tokens"),
          lit(2L)), col("n_tokens")).cast("double") / 1e6)
          .as("token_loss_frac"))
      .orderBy(col("source"))
  }

  /** Token-budget corpus selection (p3): take documents in descending
    * quality order until the token budget is exhausted (the straddling
    * document is kept, mirroring t10's packing rule) — the "best N
    * billion tokens" selection step of a data-constrained training run.
    *
    * The cumulative sum is a DISTRIBUTED prefix sum, not a single-task
    * global window: range-partition on the sort key (so partition i
    * holds strictly better-quality docs than partition i+1), cum-sum
    * WITHIN each partition by window, and add per-partition offsets
    * computed from a #partitions-row side table (its own window is over
    * that tiny table only) broadcast back. Per-task state is one range
    * partition; nothing global ever funnels into a single task — the
    * textbook scalable prefix sum. The partitioned frame persists so
    * the offset branch and the window branch see the SAME partitioner
    * sample (spark_partition_id must agree between the two reads).
    */
  def tokenBudgetSelection(spark: SparkSession, dir: String,
      budget: Long = 10000L, nParts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = qualityFrame(spark, dir)
      .select(col("doc_id"), col("quality"), col("n_tokens"))
    val parts = q.repartitionByRange(nParts, col("quality").desc, col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .held()
    parts.count() // freeze the range sample + pid assignment (see d3)
    val wIn = Window.partitionBy(col("pid"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOff = Window.partitionBy(pmod(col("pid"), lit(1))).orderBy(col("pid")) // ≤ nParts rows, one group by design; non-foldable key keeps the empty-spec warning meaningful
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parts.groupBy(col("pid"))
      .agg(sum(col("n_tokens")).as("ptotal"))
      .withColumn("offset", coalesce(sum(col("ptotal")).over(wOff), lit(0L)))
      .select(col("pid"), col("offset"))
    parts
      .withColumn("cum_in", coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .join(broadcast(offsets), Seq("pid"))
      .select(col("doc_id"), col("quality"), col("n_tokens"),
        (col("cum_in") + col("offset")).as("cum_before"))
      .filter(col("cum_before") < budget)
      .orderBy(col("quality").desc, col("doc_id"))
  }

  def p3TokenBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetSelection(spark, dir)

  /** Vocabulary-coverage curve (t21): for each candidate vocabulary
    * budget V, the fraction of all corpus tokens covered by the V most
    * frequent types — the audit a tokenizer-budget decision reads
    * ("what OOV rate does a 5k vocab buy"). Needs the EXACT global
    * frequency rank AND the cumulative token mass at that rank, so both
    * ride one p3-style distributed prefix pass over the type table:
    * range-partition on (count desc, type), row-number and inclusive
    * token sum within each partition, and a ≤nParts-row offset table
    * (rows + token mass per partition) broadcast back. The five
    * checkpoint rows then come from a broadcast join on
    * rank = min(V, |vocab|); coverage is one half-up micro division.
    * Nothing global ever single-tasks — the type table shuffles once.
    */
  def t21VocabCoverage(spark: SparkSession, dir: String,
      budgets: Seq[Long] = Seq(100L, 500L, 1000L, 2000L, 5000L),
      nParts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .select(explode(toks).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val parts = counts.repartitionByRange(nParts, col("cnt").desc, col("tok"))
      .withColumn("pid", spark_partition_id())
      .held()
    parts.count() // freeze the range sample + pid assignment (see d3)
    val wIn = Window.partitionBy(col("pid"))
      .orderBy(col("cnt").desc, col("tok"))
    val wOff = Window.partitionBy(pmod(col("pid"), lit(1))).orderBy(col("pid")) // ≤ nParts rows, one group by design; non-foldable key keeps the empty-spec warning meaningful
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parts.groupBy(col("pid"))
      .agg(count(lit(1)).as("prows"), sum(col("cnt")).as("ptoks"))
      .withColumn("row_off", coalesce(sum(col("prows")).over(wOff), lit(0L)))
      .withColumn("tok_off", coalesce(sum(col("ptoks")).over(wOff), lit(0L)))
      .select(col("pid"), col("row_off"), col("tok_off"))
    val ranked = parts
      .withColumn("rk_in", row_number().over(wIn).cast("long"))
      .withColumn("cum_in",
        sum(col("cnt")).over(wIn.rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(offsets), Seq("pid"))
      .select((col("rk_in") + col("row_off")).as("rank"),
        (col("cum_in") + col("tok_off")).as("cum_incl"))
    val totals = counts.agg(count(lit(1)).as("vocab_size"),
      sum(col("cnt")).as("total_tokens"))
    val targets = budgets.toDF("v_budget")
      .crossJoin(broadcast(totals))
      .withColumn("target_rank", least(col("v_budget"), col("vocab_size")))
    ranked.join(broadcast(targets), col("rank") === col("target_rank"))
      .select(col("v_budget"), col("vocab_size"), col("total_tokens"),
        col("cum_incl").as("covered_tokens"),
        round(intDiv(col("cum_incl") * 1000000L +
            intDiv(col("total_tokens"), lit(2L)), col("total_tokens"))
          .cast("double") / 1e6, 6).as("coverage"))
      .orderBy(col("v_budget"))
  }

  /** Sketch-audited heavy hitters (t22): the corpus's top tokens read
    * from Spark's NATIVE `approx_top_k` (a DataSketches frequent-items
    * sketch) and audited against the exact counts — completing the
    * mergeable-sketch tour (e8 HLL++ distinct, q16b quantile summary,
    * d19 bloom membership, t22 frequent items). The sketch leg is the
    * 100-TB path: per-partition sketches of bounded size (maxItemsTracked
    * = 4096) merge associatively, so only KBs cross the wire where the
    * exact leg shuffles the full token vocabulary; below capacity the
    * sketch never evicts and its estimates are EXACT — the gate pins
    * est_n to the oracle's true counts, not a tolerance band (the
    * audited corpus vocabulary is far under capacity; an eviction-driven
    * drift would turn the row red). Presentation ranks by the EXACT side
    * (count desc, token — deterministic at ties), probing the sketch's
    * top-40 so a boundary tie in the sketch's own internal order can
    * never change which rows appear.
    */
  def t22HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir).select(explode(toks).as("token"))
    val exact = tok.groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
    val topExact = exact.orderBy(col("exact_n").desc, col("token")).limit(10)
    val est = tok
      .agg(expr("approx_top_k(token, 40, 4096)").as("tops"))
      .select(explode(col("tops")).as("e"))
      .select(col("e.item").as("token"), col("e.count").as("est_n"))
    topExact.join(est, Seq("token"), "left")
      .select(col("token"), col("exact_n"),
        coalesce(col("est_n"), lit(-1L)).as("est_n"))
      .withColumn("sketch_ok", col("est_n") === col("exact_n"))
      .orderBy(col("exact_n").desc, col("token"))
  }

  /** Per-source token quota (p15): p3's "best tokens first" selection
    * applied INSIDE each source with an independent budget — the
    * source-capped admission every curated mix runs so one crawl dump
    * cannot monopolize the corpus (the quota is the hard sibling of
    * p2's proportional mixing weights). Same distributed prefix sum as
    * p3, with the source key PREPENDED to the range-partition sort key:
    * ranges stay contiguous per source, the in-partition window keys on
    * (source, pid), and the per-(source, pid) offset table — still
    * ≤ nParts rows total — broadcasts back. A giant source spans many
    * range partitions instead of funnelling through one task; nothing
    * global ever single-tasks.
    */
  def p15SourceQuota(spark: SparkSession, dir: String,
      quota: Long = 500L, nParts: Int = 32): DataFrame =
    sourceQuotaOf(qualityFrame(spark, dir)
      .select(col("doc_id"), col("quality"), col("n_tokens"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        Seq("doc_id")), quota, nParts)

  /** The per-source prefix-sum admission over any (doc_id, quality,
    * n_tokens, source) frame — shared by p15 (raw corpus) and p16
    * (post-dedup canonicals), so the quota arithmetic cannot fork.
    */
  private[graft] def sourceQuotaOf(q: DataFrame,
      quota: Long, nParts: Int): DataFrame =
    sourceCumOf(q, nParts)
      .filter(col("cum_before") < quota)
      .orderBy(col("source"), col("quality").desc, col("doc_id"))

  /** The UNGATED per-source prefix-sum frame — every doc with its
    * tokens-before-it-in-quality-order; quota-independent, so one pass
    * serves p15/p16 (single cut) AND p28's whole frontier sweep. */
  private[graft] def sourceCumOf(q: DataFrame, nParts: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = q.repartitionByRange(nParts,
        col("source"), col("quality").desc, col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .held()
    parts.count() // freeze the range sample + pid assignment (see d3)
    val wIn = Window.partitionBy(col("source"), col("pid"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOff = Window.partitionBy(col("source")).orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parts.groupBy(col("source"), col("pid"))
      .agg(sum(col("n_tokens")).as("ptotal"))
      .withColumn("offset", coalesce(sum(col("ptotal")).over(wOff), lit(0L)))
      .select(col("source"), col("pid"), col("offset"))
    parts
      .withColumn("cum_in", coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .join(broadcast(offsets), Seq("source", "pid"))
      .select(col("source"), col("doc_id"), col("quality"), col("n_tokens"),
        (col("cum_in") + col("offset")).as("cum_before"))
  }

  /** Quota frontier (p28): what each candidate per-source token budget
    * would keep — docs, tokens, and mean quality per quota — the
    * curve a curation team reads to PICK p15's quota instead of
    * inheriting a default (the d24/d26 sweep discipline applied to
    * admission: sweeps aggregate one shared pass, they never re-run
    * it). The prefix-sum frame is quota-independent, so the whole
    * frontier is ONE [[sourceCumOf]] pass fanned out ×|quotas| by a
    * generator explode and collapsed to a |quotas|-row table;
    * admission-order quality is micro-snapped before summation and the
    * mean is one half-up integral division per quota row.
    */
  def p28QuotaFrontier(spark: SparkSession, dir: String,
      quotas: Seq[Long] = Seq(250L, 500L, 1000L),
      nParts: Int = 32): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    sourceCumOf(qualityFrame(spark, dir)
        .select(col("doc_id"), col("quality"), col("n_tokens"))
        .join(Tables.documents(spark, dir)
          .select(col("doc_id"), col("source")), Seq("doc_id")), nParts)
      .withColumn("quota", explode(lit(quotas.toArray)))
      .filter(col("cum_before") < col("quota"))
      .withColumn("q_micro", round(col("quality") * 1e6).cast("long"))
      .groupBy(col("quota"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens_kept"),
        sum(col("q_micro")).as("sum_q_micro"))
      .select(col("quota"), col("n_docs"), col("n_tokens_kept"),
        round(intDiv(col("sum_q_micro") + intDiv(col("n_docs"), lit(2L)),
          col("n_docs")).cast("double") / 1e6, 6).as("mean_quality"))
      .orderBy(col("quota"))
  }

  /** Sampling-temperature mix (p29): the multilingual/source-balancing
    * dial every large-corpus trainer sets (mT5 §3.1, XLM-R): sampling
    * weight w_s ∝ n_s^τ for τ ∈ {0.3, 0.7, 1.0} — τ = 1 reproduces
    * natural proportions, τ → 0 flattens toward uniform, and the sweep
    * row-set shows exactly how much each low-resource source gains per
    * τ step. One partial-agg pass over `documents` builds the per-source
    * doc/token counts; the τ fan-out is a generator explode over a
    * |sources|-row table (the p28 sweep discipline — sweeps share one
    * pass), so the corpus is scanned once regardless of how many
    * temperatures are audited.
    *
    * Exactness: n^τ = exp(τ·ln n) crosses libm, so ln n snaps to
    * integer micro-nats per DISTINCT count and the exp output snaps to
    * micro-weights BEFORE the normalizer sums them (the t12/p23
    * discipline); shares are one half-up integral division per row.
    */
  def p29TemperatureMix(spark: SparkSession, dir: String,
      taus: Seq[Long] = Seq(300000L, 700000L, 1000000L)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(toks).as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .withColumn("ln_micro",
        round(log(col("n_docs").cast("double")) * 1e6).cast("long"))
      .withColumn("tau_micro", explode(lit(taus.toArray)))
      .withColumn("w_micro",
        round(exp((col("tau_micro") * col("ln_micro")).cast("double") / 1e12)
          * 1e6).cast("long"))
      // the normalizer is a window over the |sources|·|taus|-row fanned
      // aggregate, NOT a second aggregation of it — a groupBy+self-join
      // here would re-run the corpus scan (caught by PlanShapeSpec)
      .withColumn("z_micro",
        sum(col("w_micro")).over(Window.partitionBy(col("tau_micro"))))
      .select(
        round(col("tau_micro").cast("double") / 1e6, 1).as("tau"),
        col("source"), col("n_docs"), col("n_tokens"),
        round(intDiv(col("w_micro") * 1000000L + intDiv(col("z_micro"), lit(2L)),
          col("z_micro")).cast("double") / 1e6, 6).as("share"))
      .orderBy(col("tau"), col("source"))
  }

  /** Context-window packing audit (p30): next-fit sequence packing of
    * the corpus into fixed C = 512-token training windows — the step
    * between curation and the trainer, where padding waste is real
    * money (a 60 %-fill corpus buys 40 % idle FLOPs). Docs pack in
    * doc_id order per (source, shard) with shard = doc_id div 8192:
    * the shard key BOUNDS per-task state at any corpus size (a source
    * with a billion docs is still 8192-doc packing problems, each
    * independent and deterministic), which is what makes the
    * order-dependent fold distributable — the `mapGroups` state is one
    * (fill, bins) pair per group, the e2-sessionize discipline applied
    * to packing. Over-length docs truncate to C (counted, not
    * dropped). Output per source: docs, windows, packed tokens,
    * truncations, and the fill fraction (one half-up micro division).
    */
  val PackC = 512L
  val PackShard = 8192L

  def p30ContextPacking(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(toks).cast("long").as("nt"))
      .select(col("source"), col("doc_id"),
        least(col("nt"), lit(PackC)).as("t"), (col("nt") > PackC).as("tr"))
      .as[(String, Long, Long, Boolean)]
    docs.groupByKey(r => (r._1, r._2 / PackShard))
      .mapGroups { (key: (String, Long), it: Iterator[(String, Long, Long, Boolean)]) =>
        val source = key._1
        val rows = it.toArray.sortBy(_._2)
        var bins = 0L; var fill = PackC // first doc always opens a bin
        var sumT = 0L; var nTrunc = 0L
        rows.foreach { case (_, _, t, tr) =>
          if (fill + t <= PackC) fill += t else { bins += 1; fill = t }
          sumT += t
          if (tr) nTrunc += 1
        }
        (source, rows.length.toLong, bins, sumT, nTrunc)
      }
      .toDF("source", "n_docs_part", "n_bins_part", "sum_t_part", "n_trunc_part")
      .groupBy(col("source"))
      .agg(sum(col("n_docs_part")).as("n_docs"),
        sum(col("n_bins_part")).as("n_windows"),
        sum(col("sum_t_part")).as("n_tokens_packed"),
        sum(col("n_trunc_part")).as("n_truncated"))
      .select(col("source"), col("n_docs"), col("n_windows"),
        col("n_tokens_packed"), col("n_truncated"),
        round(intDiv(col("n_tokens_packed") * 1000000L
            + intDiv(col("n_windows") * PackC, lit(2L)),
          col("n_windows") * PackC).cast("double") / 1e6, 6).as("fill"))
      .orderBy(col("source"))
  }

  /** MinHash estimate calibration (d21): for every banded CANDIDATE
    * pair, the signature-agreement estimate against the exact Jaccard —
    * the precision/calibration half of the LSH dial audit whose recall
    * half is d14 (d14 asks "which TRUE pairs did the dial miss"; d21
    * asks "when the dial fires, how far off is its number"). The
    * absolute error distribution is what sets the d3 verdict threshold
    * before a 100-TB run: an estimate that systematically overshoots
    * near the cut inflates the drop set corpus-wide. Candidates that
    * share no shingle re-enter with exact 0.0 via the left join. The
    * exact leg is the audit instrument (d14's discipline — at
    * production scale it runs on a sample; the banded candidate
    * generator is never all-pairs).
    */
  def d21MinhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    val sig = minhashSignatures(spark, dir).held()
    sig.count() // eager materialization (see d3)
    val est = lshEstimates(sig, lshCandidates(sig))
    val idx = shingleIndex(Tables.documents(spark, dir)).held()
    idx.count()
    val sizes = idx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shared = idx.as("a").join(idx.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    val exact = shared
      .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        round(col("shared").cast("double") /
          (col("sa.n") + col("sb.n") - col("shared")), 6).as("jaccard"))
    est.join(exact, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        coalesce(col("jaccard"), lit(0.0)).as("jaccard"),
        round(abs(col("est_jaccard") - coalesce(col("jaccard"), lit(0.0))), 6)
          .as("abs_err"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Duplication centrality (d20): damped PageRank over the near-dup
    * pair graph — the hub-detection read that ranks TEMPLATE documents
    * (boilerplate centers re-hosted with small edits everywhere) above
    * peripheral one-off copies, which d8's component size and d17's
    * length rule both miss: a hub with 50 half-similar neighbours
    * outranks a member of one tight 3-clique. Three damped iterations
    * (d = 0.85) in EXACT integer micro-units: each node's outgoing
    * share is one half-up integral division per round (snapped once,
    * then summed exactly — the GridMath discipline), so the ranking is
    * bit-identical across engines and partitionings, and the oracle
    * replays the identical unrolled arithmetic in SQL. Scale shape:
    * reads the run-scoped pair materialization (never re-derives
    * shingles); each round is one equi-join of the edge list against
    * the ≤nodes-sized rank table + a partial-agg inflow rollup — the
    * bounded-round iterative discipline of d8, with the round count
    * FIXED (PageRank needs no convergence detection to be useful as a
    * centrality read).
    */
  def d20DupPagerank(spark: SparkSession, dir: String,
      iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    def halfUp(num: Column, den: Column): Column =
      intDiv(num + intDiv(den, lit(2L)), den)
    val p = dupPairs(spark, dir).select(col("id_a"), col("id_b"))
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .held()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nN = deg.agg(count(lit(1)).as("n_nodes"))
    var pr = deg.crossJoin(broadcast(nN))
      .select(col("src").as("id"), col("deg"), col("n_nodes"),
        halfUp(lit(1000000L), col("n_nodes")).as("pr_micro"))
    for (_ <- 1 to iters) {
      val shares = pr.select(col("id").as("sid"),
        halfUp(col("pr_micro"), col("deg")).as("share"))
      val inflow = edges.join(shares, col("src") === col("sid"))
        .groupBy(col("dst")).agg(sum(col("share")).as("inflow"))
      pr = pr.drop("pr_micro")
        .join(inflow, col("id") === col("dst"), "left")
        .select(col("id"), col("deg"), col("n_nodes"),
          (halfUp(lit(150000L), col("n_nodes")) +
            intDiv(coalesce(col("inflow"), lit(0L)) * 85L + lit(50L),
              lit(100L))).as("pr_micro"))
        // each iteration references pr TWICE (shares + the rank join),
        // so without lineage truncation the plan doubles per iteration
        // — 2^iters copies of the degree aggregation by the final
        // action (the s23/d8 lesson). localCheckpoint pins the
        // node-sized rank table and cuts the plan to an RDD scan (r17).
        .localCheckpoint(true)
    }
    pr.select(col("id").as("doc_id"), col("deg").as("degree"),
        col("pr_micro"),
        round(col("pr_micro").cast("double") / 1e6, 6).as("pagerank"))
      .orderBy(col("pr_micro").desc, col("doc_id"))
      .limit(50)
  }

  /** Per-doc DSIR importance scores over any documents frame — p17's
    * body, exposed so the spec can assert distributional properties on
    * the FULL frame, not just the selected top-k.
    */
  private[graft] def dsirScoresOf(docs: DataFrame): DataFrame = {
    val (_, split) = splitCols
    val tagged = docs.select(col("doc_id"), split.as("split"), toks.as("toks"))
    def vocab(sp: String, sfx: String) = tagged.filter(col("split") === sp)
      .select(explode(col("toks")).as("token")).distinct()
      .agg(count(lit(1)).as("v" + sfx))
    dsirBody(bigramFreqOf(docs), vocab("train", "_src"), vocab("val", "_tgt"))
  }

  /** p17's scoring over a prebuilt (doc_id, split, bigram, m) table
    * and the two 1-row vocab frames (v_src / v_tgt) — the asset-backed
    * entry reads [[bigramFreqAsset]] + [[splitVocabSize]], the
    * frame-generic one builds both from the documents frame. */
  private def dsirBody(tfmIn: DataFrame, vS: DataFrame,
      vT: DataFrame): DataFrame = {
    // r18 (guide §2.4): cache the bigram table ALREADY hash-partitioned
    // on bigram — the cb aggregate below then groups exchange-free and
    // the scoring join co-partitions against cb's cached layout, so the
    // one up-front shuffle replaces the former cb-agg exchange + the
    // join's re-exchange of the full table (values unaffected:
    // partitioning only).
    val tfm = tfmIn.repartition(col("bigram")).held()
    tfm.count() // eager materialization (see d3)
    // r17 (guide §2.3): BOTH LMs aggregate in ONE pass — per bigram,
    // the train-split and val-split counts as conditional sums (sum of
    // an all-null when() is null, exactly the row-absence the former
    // per-split aggregates produced through their left joins), and the
    // per-first-word totals roll up from that table. One bigram
    // exchange and one w1 exchange instead of two of each, and the
    // scoring frame re-acquires both LMs through ONE bigram join + ONE
    // w1 join instead of four.
    val cb = tfm
      .groupBy(col("bigram"))
      .agg(sum(when(col("split") === "train", col("m"))).as("cb_src"),
        sum(when(col("split") === "val", col("m"))).as("cb_tgt"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .held()
    cb.count() // eager: the w1 rollup and the scoring join both read it
    val cw = cb.groupBy(col("w1"))
      .agg(sum(col("cb_src")).as("cw_src"), sum(col("cb_tgt")).as("cw_tgt"))
    def lnpMicro(cb: Column, cw: Column, v: Column): Column =
      round((log(coalesce(cb, lit(0L)).cast("double") + 1.0)
        - log(coalesce(cw, lit(0L)).cast("double") + v.cast("double")))
        * 1e6).cast("long")
    tfm.withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(cb.select(col("bigram"), col("cb_src"), col("cb_tgt")),
        Seq("bigram"), "left")
      .join(cw, Seq("w1"), "left")
      .crossJoin(broadcast(vS)).crossJoin(broadcast(vT))
      .withColumn("llr_b",
        lnpMicro(col("cb_tgt"), col("cw_tgt"), col("v_tgt"))
          - lnpMicro(col("cb_src"), col("cw_src"), col("v_src")))
      .groupBy(col("doc_id"), col("split"))
      .agg(sum(col("m") * col("llr_b")).as("llr_micro"),
        sum(col("m")).as("n_bigrams"))
  }

  /** DSIR-style importance selection (p17): rank every document by its
    * log-likelihood ratio under two bigram LMs — the TARGET model
    * (trained on the held-out 'val' split, standing in for the target
    * domain) against the SOURCE model (the 'train' split) — and keep
    * the k most target-like: llr(d) = Σ_b m_b·(lnP_tgt(b) −
    * lnP_src(b)). This is the data-selection method of Xie et al.'s
    * DSIR, systematic-top-k variant: where t16 scores "how surprising
    * under ONE model", p17 scores "how much more target-like than
    * source-like", the signal that survives when both models find the
    * text equally (un)likely. Both LMs are t16's Laplace-smoothed
    * bigram machinery over the SAME run-scoped [[bigramFreqAsset]]
    * (one bigram pass per run feeds t16 AND both of p17's LMs), with
    * the split vocabularies derived from the unigram
    * [[termFreqAsset]] — no corpus explode left anywhere in this
    * query (round-9 verdict: p17 was the slowest query because it
    * rebuilt both). Each bigram's lnP is snapped to integer
    * micro-nats per LM once, so the ratio and every per-doc sum are
    * exact integer math. The top-k rides TakeOrderedAndProject;
    * single-token docs have no bigrams and are unrankable by
    * construction (documented, like t16).
    */
  def p17DsirSelect(spark: SparkSession, dir: String,
      k: Int = 100): DataFrame =
    dsirBody(bigramFreqAsset(spark, dir),
      splitVocabSize(spark, dir, "train").select(col("v").as("v_src")),
      splitVocabSize(spark, dir, "val").select(col("v").as("v_tgt")))
      .select(col("doc_id"), col("split"), col("n_bigrams"),
        col("llr_micro"),
        round(col("llr_micro").cast("double") / 1e6, 6).as("llr"))
      .orderBy(col("llr_micro").desc, col("doc_id"))
      .limit(k)

  /** Dedup-then-select (p16): the production ordering of the two
    * curation stages — d17's canonical keepers first (one survivor per
    * near-dup component, so a mass-duplicated document cannot spend a
    * source's budget twice), THEN p15's per-source token quota over the
    * survivors. Composes two gated pipelines: the keeper set is a
    * semi-join on doc_id against the materialized component labels, and
    * the quota is the shared [[sourceQuotaOf]] prefix sum — same
    * arithmetic, smaller corpus, so a source whose budget was exhausted
    * by duplicates in p15 admits deeper into its unique tail here.
    */
  def p16QuotaAfterDedup(spark: SparkSession, dir: String,
      quota: Long = 500L, nParts: Int = 32): DataFrame = {
    val keepers = canonicalSelectOf(componentLabels(spark, dir),
        Tables.documents(spark, dir))
      .filter(col("keep")).select(col("doc_id"))
    val q = qualityFrame(spark, dir)
      .select(col("doc_id"), col("quality"), col("n_tokens"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .join(keepers, Seq("doc_id"), "left_semi")
    sourceQuotaOf(q, quota, nParts)
  }

  /** Curriculum decile binning (p8): exact global quality rank →
    * training-schedule bin (decile 0 = best), the ordering signal
    * curriculum and annealing schedules consume ("clean data last" /
    * quality-staged epochs). Needs the EXACT global rank — approximate
    * percentiles would jitter bin boundaries across runs — so it reuses
    * p3's distributed prefix-sum shape with row counts instead of token
    * sums: range-partition on the sort key, rank within each partition
    * by window, add per-partition offsets from a ≤nParts-row side table
    * broadcast back. The bin is then pure integer arithmetic
    * (rank₀·nBins div n_total — never a double percentile), so
    * boundaries are bit-stable across engines and cluster sizes.
    * Nothing global funnels into one task.
    */
  def curriculumBins(spark: SparkSession, dir: String,
      nBins: Int = 10, nParts: Int = 32): DataFrame =
    curriculumFrame(spark, dir, nBins, nParts)
      .orderBy(col("rank"))
      .limit(2000)

  /** The un-truncated (doc_id, quality, rank, decile) frame behind p8 —
    * p11's annealing rates consume every document's decile, while the
    * p8 gate entry pins the top-2000 presentation slice.
    */
  private[graft] def curriculumFrame(spark: SparkSession, dir: String,
      nBins: Int = 10, nParts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = qualityFrame(spark, dir).select(col("doc_id"), col("quality"))
    val parts = q.repartitionByRange(nParts, col("quality").desc, col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .held()
    parts.count() // freeze the range sample + pid assignment (see d3)
    val wIn = Window.partitionBy(col("pid"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOff = Window.partitionBy(pmod(col("pid"), lit(1))).orderBy(col("pid")) // ≤ nParts rows, one group by design; non-foldable key keeps the empty-spec warning meaningful
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parts.groupBy(col("pid"))
      .agg(count(lit(1)).as("pn"))
      .withColumn("offset", coalesce(sum(col("pn")).over(wOff), lit(0L)))
      .select(col("pid"), col("offset"))
    val total = parts.agg(count(lit(1)).as("n_total"))
    parts
      .withColumn("rank_in", coalesce(sum(lit(1L)).over(wIn), lit(0L)))
      .join(broadcast(offsets), Seq("pid"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("quality"),
        (col("rank_in") + col("offset") + 1L).as("rank"),
        expr(s"(rank_in + offset) * $nBins div n_total").as("decile"))
  }

  def p8CurriculumBins(spark: SparkSession, dir: String): DataFrame =
    curriculumBins(spark, dir)

  /** Character-level encoding sanity (t20): the mojibake gate every
    * crawl pipeline runs before tokenization — per document, counts of
    * ASCII letters, digits, whitespace, other-ASCII, and non-ASCII
    * characters (count = length drop after deleting the class, so the
    * detector genuinely scans the bytes), plus the two hard red flags:
    * C0 control characters (tab/newline/CR excluded) and U+FFFD
    * replacement characters — a non-zero count of either means the
    * upstream decode already lost data. The five class counts roll into
    * a char-class entropy in integer micro-nats (each ln snapped once —
    * the t12 discipline — then exact integer arithmetic), and the
    * admission flag is encoding_ok = no controls, no replacements,
    * non-ASCII ≤ 30%. Encoding noise is doc_id-injected (the t14/m1
    * oracle discipline: the oracle predicts WHAT was injected from
    * doc_id arithmetic while this side must FIND it with real
    * character-class regexes). Map-only — rides the scan's codegen, no
    * shuffle; one pass over the text bytes at any corpus size. BMP-only
    * injection keeps Spark's UTF-16 length ≡ DuckDB's codepoint length.
    */
  def t20EncodingSanity(spark: SparkSession, dir: String): DataFrame = {
    val noisy = Tables.documents(spark, dir)
      .select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(" café 漢字"))
          .otherwise(""),
        when(col("doc_id") % 11 === 0, lit("\u0007 bell")).otherwise(""),
        when(col("doc_id") % 13 === 0, lit("\uFFFD\uFFFD")).otherwise(""))
        .as("t"))
    encodingSanityOf(noisy)
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** The encoding scan over a (`doc_id`, `t`) frame — entirely
    * stateless per-row expressions, so the batch plan IS the stream
    * plan: run on a streaming frame it is the t20 ingest gate, and
    * mojibake is caught before a corrupt decode ever reaches the
    * standing corpus (`StreamingSpec` pins stream ≡ batch).
    */
  private[graft] def encodingSanityOf(noisy: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    def classCount(t: Column, re: String): Column =
      (length(t) - length(regexp_replace(t, re, ""))).cast("long")
    def lnMicro(c: Column): Column =
      when(c > 0, round(log(c.cast("double")) * 1e6).cast("long"))
        .otherwise(0L)
    val counted = noisy.select(col("doc_id"),
        length(col("t")).cast("long").as("n_chars"),
        classCount(col("t"), "[A-Za-z]").as("n_alpha"),
        classCount(col("t"), "[0-9]").as("n_digit"),
        classCount(col("t"), "[ \\t\\n\\r]").as("n_ws"),
        classCount(col("t"), "[^\\x00-\\x7F]").as("n_non_ascii"),
        classCount(col("t"), "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
          .as("n_control"),
        classCount(col("t"), "\uFFFD").as("n_replacement"))
      .withColumn("n_other_ascii",
        col("n_chars") - col("n_alpha") - col("n_digit") - col("n_ws")
          - col("n_non_ascii"))
    val sumClnC = Seq("n_alpha", "n_digit", "n_ws", "n_other_ascii",
      "n_non_ascii").map(c => col(c) * lnMicro(col(c)))
      .reduce(_ + _)
    counted
      .withColumn("entropy_micro", lnMicro(col("n_chars")) -
        intDiv(sumClnC + intDiv(col("n_chars"), lit(2L)), col("n_chars")))
      .select(col("doc_id"), col("n_chars"), col("n_alpha"), col("n_digit"),
        col("n_ws"), col("n_other_ascii"), col("n_non_ascii"),
        col("n_control"), col("n_replacement"),
        round(col("entropy_micro").cast("double") / 1e6, 6)
          .as("class_entropy"),
        (col("n_control") === 0 && col("n_replacement") === 0 &&
          col("n_non_ascii") * 10 <= col("n_chars") * 3).as("encoding_ok"))
  }

  /** Stratified eval-set sampling (p14): exactly k=5 documents per
    * (lang, quality-decile) stratum, chosen by the smallest salted
    * content-hash values — balanced eval-set construction that keeps
    * every language × difficulty cell represented regardless of corpus
    * skew, and reproducible under retries (content hash, never
    * `rand()`). Composes p8's exact distributed deciles; the
    * per-stratum rank is the two-phase salted top-k, so a giant stratum
    * never funnels its rows into one task.
    */
  def p14StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(fastMd5(concat(lit("strat:"), normText)),
      1, 4), 16, 10).cast("long")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
    val strata = curriculumFrame(spark, dir)
      .select(col("doc_id"), col("decile"))
      .join(docs, Seq("doc_id"))
    TopK.saltedTopK(strata, Seq(col("lang"), col("decile")),
        Seq(col("bucket"), col("doc_id")), k = 5, saltBy = col("doc_id"))
      .select(col("lang"), col("decile"), col("rk"), col("doc_id"),
        col("bucket"))
      .orderBy(col("lang"), col("decile"), col("rk"))
  }

  /** Quality-annealed sampling (p11): the "midtraining" mix — the final
    * training phase upsamples high-quality text, and the keep rate is a
    * LINEAR schedule over p8's exact deciles: rate = 1000 − 100·decile
    * per mille (decile 0, the best tenth, keeps everything; the worst
    * keeps 10%). The per-doc decision is the house sampling rule —
    * integer bucket < rate on a salted content hash ("ann:"
    * decorrelates this space from the t9/p2/p5/p7 hashes) — so the mix
    * is exact across engines and bit-reproducible under retries, and
    * the decile comes from the distributed prefix-sum rank, never a
    * global sort. Output: decile, rate, bucket, and the keep bit.
    */
  def p11AnnealMix(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(fastMd5(concat(lit("ann:"), normText)),
      1, 4), 16, 10).cast("long") % 1000
    val buckets = Tables.documents(spark, dir)
      .select(col("doc_id"), bucket.as("bucket"))
    curriculumFrame(spark, dir)
      .join(buckets, Seq("doc_id"))
      .select(col("doc_id"), col("quality"), col("decile"),
        (lit(1000L) - col("decile") * 100L).as("rate_pm"), col("bucket"),
        (col("bucket") < lit(1000L) - col("decile") * 100L).as("keep"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Unified curation decision (p9): the cross-modal capstone — per
    * document, the quality admission verdict (p4), the content-hash
    * split (t9), the LEXICAL near-dup drop (d7's higher-id rule over
    * the run-scoped pair materialization) and the SEMANTIC drop (s6's
    * SemDeDup rule over the aligned embedding table, vec_id ≡ doc_id in
    * the harness corpus), composed into the one keep bit a training run
    * actually consumes: admitted ∧ ¬lexical-dup ∧ ¬semantic-dup. This
    * is the decision NO single family can make alone — paraphrases
    * share no shingles (only s6 sees them), quote-wrapped reposts share
    * no embedding cell (only the shingle side sees them), and junk
    * passes both dedups (only p4 sees it). Every leg is already gated;
    * the oracle composes the four gated SQLs verbatim as nested CTEs,
    * so the gate checks the composition. Scale shape: three slim
    * doc_id-keyed verdict tables join the admission frame — the drop
    * sets are small by construction and AQE broadcasts them.
    */
  def p9UnifiedCuration(spark: SparkSession, dir: String): DataFrame = {
    val p4 = Ingest.p4QualityFilter(spark, dir)
      .select(col("doc_id"), col("quality"), col("reject_reason"),
        col("keep").as("q_keep"))
    val t9s = t9SplitAssign(spark, dir).select(col("doc_id"), col("split"))
    val lexDrops = dupPairs(spark, dir).select(col("id_b").as("doc_id"))
      .distinct().withColumn("lex", lit(true))
    val semDrops = Embeddings.s6SemanticDedup(spark, dir)
      .filter(!col("keep")).select(col("vec_id").as("doc_id"))
      .withColumn("sem", lit(true))
    p4.join(t9s, Seq("doc_id"))
      .join(lexDrops, Seq("doc_id"), "left")
      .join(semDrops, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"), col("quality"),
        col("reject_reason"),
        coalesce(col("lex"), lit(false)).as("lex_dup"),
        coalesce(col("sem"), lit(false)).as("sem_dup"),
        (col("q_keep") && coalesce(col("lex"), lit(false)) === false &&
          coalesce(col("sem"), lit(false)) === false).as("keep"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Contamination-clean release (p18): the LAST gate before a corpus
    * ships — p9's unified curation keep ∧ the document is not a
    * benchmark-contaminated train doc (d10's train side: a train doc
    * near-dupping a val/test doc trains on what evaluation measures).
    * The one rejection channel p9 cannot see, because it depends on
    * the SPLIT assignment, not the document alone. Pure composition of
    * two gated pipelines: the contaminated set is a slim distinct
    * doc_id frame left-joined onto the manifest; the oracle nests both
    * gated SQLs verbatim (the s8 discipline).
    */
  def p18CleanRelease(spark: SparkSession, dir: String): DataFrame = {
    val contaminated = d10Decontamination(spark, dir)
      .select(col("train_id").as("doc_id")).distinct()
      .withColumn("cont", lit(true))
    p9UnifiedCuration(spark, dir)
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("cont"), lit(false)).as("contaminated"),
        col("keep").as("curation_keep"),
        (col("keep") &&
          coalesce(col("cont"), lit(false)) === false).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Unigram cross-entropy scoring (t12): the CCNet-style "perplexity
    * filter" with the language model reduced to corpus unigram counts —
    * score(d) = ln N − (Σ_t m_t·ln c_t)/|d| where c_t is the corpus
    * count of token t and m_t its in-doc multiplicity; low = in-
    * distribution text, high = out-of-distribution junk. Three
    * aggregations, each on a naturally high-cardinality key — term
    * frequency per (doc, token), vocabulary per token, score per doc —
    * so every shuffle is well-spread. ln c is snapped to integer
    * micro-nats per VOCAB row (round-then-cast: the rounded value is an
    * integer-valued double, so the long cast is exact in both engines)
    * and the per-doc accumulation is integer math — order-independent
    * under any partitioning, the GridMath discipline. The tf table
    * persists: it feeds both the vocabulary aggregation and the scoring
    * join.
    */
  def t12UnigramXent(spark: SparkSession, dir: String): DataFrame =
    unigramXentAsset(spark, dir)
      .orderBy(col("doc_id"))
      .limit(2000)

  /** Run-scoped per-doc xent asset (the minhash-signature discipline):
    * the corpus explode + LM aggregation + scoring join — the expensive
    * pass — parquets once per (run, dir); t12 and p21 both read the
    * slim (doc_id, n_tokens, xent) table. At lake scale the perplexity
    * score IS a checkpointed per-snapshot asset (CCNet materializes it
    * before bucketing), not something each dashboard recomputes.
    */
  private[graft] def unigramXentAsset(spark: SparkSession,
      dir: String): DataFrame =
    graft.RunAssets.asset(spark, "xent", dir) {
      unigramXentOf(Tables.documents(spark, dir))
    }

  /** Run-scoped per-doc TERM-FREQUENCY asset (the minhash-signature /
    * xent discipline one layer lower): the corpus explode + (doc,
    * token) count — the single most-repeated expensive pass in the
    * text family — parquets once per (run, dir); t25's per-source LM
    * (and p23 through it) and p24's dual-LM scoring all derive from
    * the slim (doc_id, source, token, m) table by rollup instead of
    * re-exploding the corpus. At lake scale this IS the tokenized
    * corpus snapshot every LM-scoring pipeline checkpoints first.
    */
  private[graft] def termFreqAsset(spark: SparkSession, dir: String): DataFrame =
    graft.RunAssets.asset(spark, "tf", dir) {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), explode(toks).as("token"))
        .groupBy(col("doc_id"), col("source"), col("token"))
        .agg(count(lit(1)).as("m"))
    }

  /** t12's body over any documents frame — per-doc (doc_id, n_tokens,
    * xent), unordered and unlimited so rollups (p21's CCNet buckets)
    * can consume EVERY document's score, not the gate's 2000-row
    * window.
    */
  private[graft] def unigramXentOf(docs: DataFrame): DataFrame = {
    val tfm = docs
      .select(col("doc_id"), explode(toks).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("m"))
      .held()
    tfm.count() // eager materialization (see d3)
    val vocab = tfm.groupBy(col("token"))
      .agg(sum(col("m")).as("c"))
      .withColumn("lnc_micro",
        round(log(col("c").cast("double")) * 1e6).cast("long"))
    val nTotal = vocab.agg(sum(col("c")).as("n_total"))
    tfm.join(vocab.select(col("token"), col("lnc_micro")), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m") * col("lnc_micro")).as("slnc"),
        sum(col("m")).as("n_tokens"))
      .crossJoin(broadcast(nTotal))
      .select(col("doc_id"), col("n_tokens"),
        round(log(col("n_total").cast("double")) -
          col("slnc").cast("double") / (col("n_tokens") * lit(1e6)), 6)
          .as("xent"))
  }

  /** Bigram-LM cross-entropy scoring (t16): the full CCNet shape that
    * t12 reduces to unigrams — train a Laplace-smoothed bigram language
    * model on the t9 'train' split and score EVERY document under it:
    * xent(d) = −(1/|bigrams(d)|) Σ m_b · ln[(c_b+1)/(c_{w1}+V)], where
    * c_b is the bigram's train count, c_{w1} its left-context count
    * (= Σ over continuations, derived from the bigram table with one
    * more agg, never a second corpus pass), and V the train unigram
    * vocabulary. Held-out text the model finds surprising scores high —
    * the production quality-filter signal, with the reference corpus
    * role played by the pipeline's own train split. Cross-engine
    * exactness is the t12 discipline: each distinct bigram's ln P is
    * snapped to integer micro-nats once, per-doc accumulation is pure
    * integer math (order-independent under any partitioning). Shape at
    * scale: every shuffle keys on naturally high-cardinality
    * (doc,bigram)/(bigram)/(w1) columns; the slim tf table persists to
    * feed both the LM aggregation and the scoring join; unseen bigrams
    * cost nothing extra (left joins + coalesce-to-zero, no OOV table).
    */
  def t16BigramLmXent(spark: SparkSession, dir: String): DataFrame =
    bigramXentBody(bigramFreqAsset(spark, dir),
      splitVocabSize(spark, dir, "train"))

  /** Run-scoped per-doc BIGRAM-frequency asset (the termFreqAsset
    * discipline one n-gram up): the bigram explode + (doc, split,
    * bigram) count — the most expensive text pass after the unigram
    * one — parquets once per (run, dir); t16's LM scoring and p17's
    * dual-LM DSIR selection both derive from the slim (doc_id, split,
    * bigram, m) table by rollup instead of re-exploding the corpus
    * (round-9 verdict: p17 was the slowest query because it rebuilt
    * exactly this). At lake scale this IS the n-gram count shard every
    * LM pipeline checkpoints beside the tokenized snapshot.
    */
  private[graft] def bigramFreqAsset(spark: SparkSession,
      dir: String): DataFrame =
    graft.RunAssets.asset(spark, "bigram", dir) {
      bigramFreqOf(Tables.documents(spark, dir))
    }

  /** The (doc_id, split, bigram, m) count table over any documents
    * frame — [[bigramFreqAsset]]'s body, frame-generic for specs and
    * streaming twins. */
  private[graft] def bigramFreqOf(docs: DataFrame): DataFrame = {
    val (_, split) = splitCols
    val tagged = docs.select(col("doc_id"), split.as("split"), toks.as("toks"))
    val n = size(col("toks"))
    tagged
      .select(col("doc_id"), col("split"),
        explode(zip_with(slice(col("toks"), lit(1), n - 1),
          slice(col("toks"), lit(2), n - 1),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
      .groupBy(col("doc_id"), col("split"), col("bigram"))
      .agg(count(lit(1)).as("m"))
  }

  /** One split's distinct-token vocabulary size as a 1-row (v) frame,
    * derived from the run-scoped [[termFreqAsset]] joined to the slim
    * (doc_id → split) map — no corpus explode: the tf asset already
    * holds every (doc, token) once, and the split tag is a hash of the
    * normalized text prefix computable from `documents` without
    * touching the token arrays. */
  private[graft] def splitVocabSize(spark: SparkSession, dir: String,
      sp: String): DataFrame = {
    val (_, split) = splitCols
    val splitMap = Tables.documents(spark, dir)
      .select(col("doc_id"), split.as("split"))
    termFreqAsset(spark, dir).select(col("doc_id"), col("token"))
      .join(splitMap, Seq("doc_id"))
      .filter(col("split") === sp)
      .select(col("token")).distinct()
      .agg(count(lit(1)).as("v"))
  }

  /** Frame-generic t16 (specs / streaming twins): builds the bigram
    * table and train vocabulary from the documents frame directly. */
  private[graft] def bigramLmXentOf(docs: DataFrame): DataFrame = {
    val (_, split) = splitCols
    val vocabN = docs
      .select(col("doc_id"), split.as("split"), toks.as("toks"))
      .filter(col("split") === "train")
      .select(explode(col("toks")).as("token")).distinct()
      .agg(count(lit(1)).as("v"))
    bigramXentBody(bigramFreqOf(docs), vocabN)
  }

  /** t16's scoring over a prebuilt (doc_id, split, bigram, m) table
    * and a 1-row train-vocab frame. */
  private def bigramXentBody(tfmIn: DataFrame, vocabN: DataFrame): DataFrame = {
    val tfm = tfmIn.held()
    tfm.count() // eager materialization (see d3)
    val cb = tfm.filter(col("split") === "train")
      .groupBy(col("bigram")).agg(sum(col("m")).as("cb"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val cw = cb.groupBy(col("w1")).agg(sum(col("cb")).as("cw"))
    tfm.withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(cb.select(col("bigram"), col("cb")), Seq("bigram"), "left")
      .join(cw, Seq("w1"), "left")
      .crossJoin(broadcast(vocabN))
      .withColumn("lnp_micro",
        round((log(coalesce(col("cb"), lit(0L)).cast("double") + 1.0)
          - log(coalesce(col("cw"), lit(0L)).cast("double")
            + col("v").cast("double"))) * 1e6).cast("long"))
      .groupBy(col("doc_id"), col("split"))
      .agg(sum(col("m") * col("lnp_micro")).as("slnp"),
        sum(col("m")).as("n_bigrams"))
      .select(col("doc_id"), col("split"), col("n_bigrams"),
        round(-col("slnp").cast("double")
          / (col("n_bigrams") * lit(1e6)), 6).as("xent"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Sequence packing (t10): assign documents to fixed-token-budget
    * training packs. Documents are packed greedily in doc_id order
    * WITHIN a shard (doc_id mod nShards — the writer-task unit a real
    * pipeline packs per output shard): pack_id = tokens-before div
    * budget, so a document straddling a boundary stays in the pack where
    * it started (overflow bounded by the longest document). The window
    * partitions by shard — each task sees one shard's slim (id, count)
    * rows, so per-task input is corpus/nShards; `nShards` defaults to
    * the session's writer parallelism, making the "bounded by the
    * writer unit" claim true by construction: scale the writers, and
    * the per-task sort shrinks with them.
    */
  def sequencePacking(spark: SparkSession, dir: String,
      nShards: Int = -1, budget: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shards = if (nShards > 0) nShards else spark.sparkContext.defaultParallelism
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") % shards).as("shard"),
        size(toks).as("n_tokens"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("shard"), expr(s"cum_before div $budget").as("pack_id"),
        col("doc_id"), col("n_tokens"))
      .orderBy(col("shard"), col("pack_id"), col("doc_id"))
      .limit(3000)
  }

  /** Gate entry: shard count pinned to the oracle's 32 writer shards
    * (the gate must be invariant to the verifier's local parallelism).
    */
  def t10SequencePacking(spark: SparkSession, dir: String): DataFrame =
    sequencePacking(spark, dir, nShards = 32)

  /** N-gram novelty vs the training split (t17): per document, the
    * fraction of its DISTINCT bigrams absent from the t9 'train'
    * split's bigram vocabulary — the coverage-style curriculum signal
    * that complements t16's model-surprise score (t16 asks "how
    * unlikely is this text under the train LM", t17 asks "how much of
    * it has the model never seen at all"; a doc can be low-xent yet
    * high-novelty when its few unseen bigrams are drowned by common
    * ones). Train docs score 0 by construction — the audit value is on
    * val/test/incoming text. Scale shape: per-doc bigram dedup happens
    * MAP-SIDE (`array_distinct` before the explode — no (doc,bigram)
    * pre-shuffle), the vocabulary membership join keys on the
    * naturally high-cardinality bigram string, and zero-bigram docs
    * (single-token) re-enter via a slim doc_id left join with
    * novelty 0.0, the rep_frac guard discipline.
    */
  def t17NgramNovelty(spark: SparkSession, dir: String): DataFrame =
    ngramNoveltyOf(Tables.documents(spark, dir))

  private[graft] def ngramNoveltyOf(docs: DataFrame): DataFrame = {
    val (_, split) = splitCols
    val tagged = docs
      .select(col("doc_id"), split.as("split"), toks.as("toks"))
    val n = size(col("toks"))
    val db = tagged
      .select(col("doc_id"), col("split"),
        explode(array_distinct(zip_with(slice(col("toks"), lit(1), n - 1),
          slice(col("toks"), lit(2), n - 1),
          (a, b) => concat(a, lit(" "), b)))).as("bigram"))
      .held()
    db.count() // eager: feeds both the train vocabulary and the scoring join
    val trainVocab = db.filter(col("split") === "train")
      .select(col("bigram")).distinct().withColumn("seen", lit(true))
    val per = db.join(trainVocab, Seq("bigram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_bigrams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
    tagged.select(col("doc_id"), col("split"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("n_distinct_bigrams"), lit(0L)).as("n_distinct_bigrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_distinct_bigrams"), lit(0L)) > 0,
          round(col("n_novel").cast("double")
            / col("n_distinct_bigrams"), 6)).otherwise(0.0).as("novelty"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Dataset card (p10): the per-(split, language) statistics table a
    * corpus release ships — document and token counts, mean quality
    * (exact integer-unit average: the per-doc score is already rounded
    * at 6 decimals, so ×10⁶ is an exact integer and the mean is the
    * GridMath half-up grid average both engines compute identically),
    * admitted count and admission rate under the p4 gate. Two map-only
    * projections (admission signals; content-hash split) join on
    * doc_id and re-aggregate on the tiny (split, lang) key — at lake
    * scale both columns already live in the materialized p6/p9
    * manifest and the card is a re-aggregation of that asset; the join
    * here stands in for reading it. The rollup every "what's actually
    * in this dataset" conversation starts from.
    */
  def p10DatasetCard(spark: SparkSession, dir: String): DataFrame =
    datasetCardOf(Tables.documents(spark, dir))

  private[graft] def datasetCardOf(docs: DataFrame): DataFrame = {
    val (_, split) = splitCols
    val sigs = Ingest.admissionDecision(Ingest.admissionSignals(docs))
    val splits = docs.select(col("doc_id"), split.as("split"))
    sigs.join(splits, Seq("doc_id"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        GridMath.gridAvgRound(col("quality"), 6, 6).as("mean_quality"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_admitted"))
      .withColumn("admit_rate",
        round(col("n_admitted").cast("double") / col("n_docs"), 6))
      .orderBy(col("split"), col("lang"))
  }

  /** Cross-split leakage audit (d15): every near-dup pair annotated
    * with both sides' t9 splits and the verdict that matters — does
    * the pair STRADDLE the train boundary? t9's content-hash split
    * guarantees exact copies land in one split, but NEAR-duplicates
    * hash differently and can leak a test document's twin into train,
    * silently inflating eval scores. d10 audits against an EXTERNAL
    * benchmark; d15 audits the corpus's own eval splits — the check a
    * training run does before trusting its held-out numbers. Reads
    * the run-scoped pair materialization (never re-derives the
    * shingle self-join) and joins two slim (doc_id, split) sides that
    * AQE broadcasts.
    */
  def d15SplitLeakage(spark: SparkSession, dir: String): DataFrame =
    splitLeakageOf(dupPairs(spark, dir), Tables.documents(spark, dir))

  private[graft] def splitLeakageOf(pairs: DataFrame,
      docs: DataFrame): DataFrame = {
    val (_, split) = splitCols
    val splits = docs.select(col("doc_id"), split.as("split"))
    pairs
      .join(splits.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(splits.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("sa.split").as("split_a"), col("sb.split").as("split_b"),
        ((col("sa.split") === "train") =!= (col("sb.split") === "train"))
          .as("leaks"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Cross-source overlap matrix (d16): near-dup pairs rolled up by the
    * UNORDERED source pair — the provenance dashboard that answers
    * "which crawls re-host which": a hot (src_i, src_j) cell means one
    * feed mirrors another and should be down-weighted or dropped at
    * acquisition, the cheapest point in the pipeline to kill
    * duplication. Pair ids carry no source order, so the cell key is
    * (least, greatest) of the two source labels; the mean Jaccard is
    * the exact grid average (scores are 6-decimal-rounded, so ×10⁶ is
    * integer). Reads the run-scoped pair materialization; two slim
    * (doc_id, source) sides broadcast; the rollup key is tiny.
    */
  def d16SourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapOf(dupPairs(spark, dir), Tables.documents(spark, dir))

  private[graft] def sourceOverlapOf(pairs: DataFrame,
      docs: DataFrame): DataFrame = {
    val srcs = docs.select(col("doc_id"), col("source"))
    pairs
      .join(srcs.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(srcs.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("jaccard"),
        least(col("sa.source"), col("sb.source")).as("source_a"),
        greatest(col("sa.source"), col("sb.source")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        GridMath.gridAvgRound(col("jaccard"), 6, 6).as("mean_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Canonical selection (d17): inside every d8 near-dup component, ONE
    * document survives — the longest text wins (`n_chars` desc), smallest
    * doc_id breaks ties — and every document carries its verdict. This is
    * the decision d7's min-id rule approximates; real pipelines keep the
    * best copy, not the first-seen copy.
    *
    * Scale: the labels↔documents join is keyed on doc_id; the keeper
    * window partitions by component, whose size is bounded by the dedup
    * cluster size (singletons dominate), so no task ever holds more than
    * one cluster's rows.
    */
  def d17CanonicalSelect(spark: SparkSession, dir: String): DataFrame =
    canonicalSelectOf(componentLabels(spark, dir),
      Tables.documents(spark, dir))
      .orderBy(col("doc_id"))

  private[graft] def canonicalSelectOf(labels: DataFrame,
      docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    labels
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .withColumn("keeper_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("component"), col("n_chars"),
        col("keeper_id"), (col("doc_id") === col("keeper_id")).as("keep"))
  }

  /** Soft dedup (d18): near-dup DOWNWEIGHTING instead of dropping — every
    * document keeps a sampling weight 10⁶ div cluster_size over its d8
    * component (singletons weigh 1.0, an n-copy cluster's members 1/n
    * each), so the cluster's total sampling mass stays one document's
    * worth without discarding any particular copy. The alternative arm
    * to d17's hard selection that recent data-curation work prefers when
    * duplicates carry distribution signal. Integer per-mille-micro
    * weights, so the mass accounting is exact; one count per component
    * key + a label join — both on the materialized labels asset.
    */
  def d18SoftDedup(spark: SparkSession, dir: String): DataFrame =
    softDedupOf(componentLabels(spark, dir)).orderBy(col("doc_id"))

  private[graft] def softDedupOf(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("component"))
      .select(col("doc_id"), col("component"), col("cluster_size"),
        expr("1000000 div cluster_size").as("weight_micro"))
  }

  /** Dedup savings (p13): what deduplication buys, per source — document
    * and token counts before vs after keeping only d17's canonicals, and
    * the token-savings fraction. The accounting a 100-TB crawl run reads
    * before deciding whether a mirrored feed is worth storing.
    *
    * Scale: reuses the component labels and the d17 keeper window, then
    * collapses to the tiny source key; token counts are exact integers so
    * the rollup is order-insensitive, and the one double division per
    * output row happens on identical integers in both engines.
    */
  def p13DedupSavings(spark: SparkSession, dir: String): DataFrame =
    dedupSavingsOf(componentLabels(spark, dir),
      Tables.documents(spark, dir))

  private[graft] def dedupSavingsOf(labels: DataFrame,
      docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    labels
      .join(docs.select(col("doc_id"), col("source"), col("n_chars"),
        size(toks).cast("long").as("n_tokens")), Seq("doc_id"))
      .withColumn("keep", col("doc_id") === first(col("doc_id")).over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_docs_kept"),
        sum(when(col("keep"), col("n_tokens")).otherwise(lit(0L)))
          .as("n_tokens_kept"))
      .withColumn("savings_frac",
        round(lit(1.0) - col("n_tokens_kept").cast("double")
          / col("n_tokens"), 6))
      .orderBy(col("source"))
  }

  /** Sliding-window length for [[d22ExactSubstr]] — every K-token
    * window (stride 1), versus d11's non-overlapping K-token grid.
    */
  val DupSpanLen = 16

  /** Sliding-window exact-substring dedup (d22): the full
    * "exact substring" pass of Lee et al. 2022 (Deduplicating Training
    * Data Makes Language Models Better) — EVERY 16-token window
    * (stride 1) is hashed, a window is duplicated when its hash occurs
    * in ≥ 2 distinct documents, and per document the audit reports the
    * duplicated-window fraction plus the LONGEST CONSECUTIVE duplicated
    * run (max_run adjacent windows ⇒ a verbatim shared span of
    * max_run + 15 tokens — the quantity the suffix-array
    * implementation extracts, recovered here from overlap structure
    * alone). d11's stride-32 grid misses a copied passage that starts
    * mid-chunk; the stride-1 windows cannot.
    *
    * Shape at scale: the window explode is map-only and linear in
    * corpus token mass (one row per token, the same bound as the
    * shingle index); the duplicated-hash set is one partial-agg
    * shuffle on the window hash; run-length recovery is the classic
    * start − row_number grouping inside a per-document window whose
    * partition size is bounded by document length, never corpus size.
    * The slim (doc_id, start, whash) frame is persisted eagerly — it
    * feeds the dup-hash derivation AND the flag join (the d3
    * eager-materialization discipline).
    */
  def d22ExactSubstr(spark: SparkSession, dir: String): DataFrame =
    exactSubstrOf(Tables.documents(spark, dir))

  /** The stride-1 window-hash frame (doc_id, start, whash) — one row
    * per corpus token, map-only; shared by d22, the p19 mask rollup,
    * and the standing-side asset of the streaming ingest twin
    * ([[graft.streaming.CorpusStreams.substrDupAtIngest]]).
    */
  private[graft] def windowHashes(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), toks.as("toks"))
    .select(col("doc_id"), col("toks"),
      explode(sequence(lit(0),
        greatest(size(col("toks")) - DupSpanLen, lit(0)))).as("start"))
    .select(col("doc_id"), col("start").cast("long").as("start"),
      fastMd5(array_join(
        slice(col("toks"), col("start") + 1, lit(DupSpanLen)), " "))
        .as("whash"))

  private[graft] def exactSubstrOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = windowHashes(docs).held()
    wins.count() // eager: dup-hash derivation + flag join both read it
    // ≥2-distinct-docs test as min ≠ max over doc_id — one partial-agg
    // shuffle instead of countDistinct's two-level distinct aggregate
    // (r17, guide §2.3; same verdict by construction)
    val dupHashes = wins.groupBy(col("whash"))
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1"))
      .select(col("whash"), lit(true).as("dup"))
    val flagged = wins.join(dupHashes, Seq("whash"), "left").held()
    flagged.count() // eager: per-doc rollup + run recovery both read it
    val perDoc = flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        count(col("dup")).as("n_dup_windows"))
    // consecutive duplicated windows share (start − row_number); the
    // group count is the run length, per-doc max is the span verdict
    val w = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    val runs = flagged.filter(col("dup"))
      .withColumn("grp", col("start") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(max(col("run")).as("max_run"))
    perDoc.join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 6)
          .as("dup_frac"),
        coalesce(col("max_run"), lit(0L)).as("max_run"),
        when(coalesce(col("max_run"), lit(0L)) > 0,
          coalesce(col("max_run"), lit(0L)) + (DupSpanLen - 1))
          .otherwise(lit(0L)).as("dup_span_tokens"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Duplicated-token mask accounting (p19): per source, how many
    * tokens sit inside SOME cross-doc duplicated window — the exact
    * token mass a training pipeline masks from the loss (the
    * "train-on-once" follow-through of Lee et al.'s exact-substring
    * dedup) or deducts from effective-epoch budgets (p12's
    * data-constrained read). Overlapping dup windows must not double-
    * count, so the per-doc mass is a DISTRIBUTED INTERVAL UNION: dup
    * windows [start, start+15] sorted by start inside a per-doc
    * window, each contributing `max(0, end − max(prevMaxEnd, start−1))`
    * new tokens (the classic sweep, expressed as one running-max
    * window) — correct under any overlap/containment pattern.
    *
    * Shape at scale: reuses d22's window-hash frame (token-mass
    * linear, map-only) and duplicated-hash shuffle; the sweep
    * partitions on doc_id with partition size bounded by document
    * length; the rollup is a |sources|-row partial agg. Nothing holds
    * pair state.
    */
  def p19DupMask(spark: SparkSession, dir: String): DataFrame =
    dupMaskOf(Tables.documents(spark, dir))

  private[graft] def dupMaskOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sizes = docs.select(col("doc_id"), col("source"),
      size(toks).cast("long").as("n_tok"))
    val wins = windowHashes(docs).held()
    wins.count() // eager: dup-hash derivation + the semi join read it
    // min ≠ max over doc_id ⟺ ≥2 distinct docs (the d22 rewrite, r17)
    val dupHashes = wins.groupBy(col("whash"))
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1"))
      .select(col("whash"))
    val dw = wins.join(dupHashes, Seq("whash"), "left_semi")
      .join(sizes.select(col("doc_id"), col("n_tok")), Seq("doc_id"))
      .select(col("doc_id"), col("start"),
        least(col("start") + (DupSpanLen - 1), col("n_tok") - 1).as("e"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("start"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val perDoc = dw
      .withColumn("prev_max", max(col("e")).over(w))
      .select(col("doc_id"),
        greatest(col("e") - greatest(coalesce(col("prev_max"), lit(-1L)),
          col("start") - 1), lit(0L)).as("nc"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nc")).as("masked"))
    sizes.join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        sum(coalesce(col("masked"), lit(0L))).as("masked_tokens"))
      .withColumn("mask_frac",
        round(col("masked_tokens").cast("double") / col("total_tokens"), 6))
      .orderBy(col("source"))
  }

  /** TF-IDF keyword extraction (t23): per document the top-3 terms by
    * tf·idf — the per-doc topical signature a curation pipeline uses
    * for cluster labeling, topic balancing, and search-side snippets.
    * idf is snapped to integer micro-units at derivation
    * (round(ln(N/df)·1e6), the t12/t16 log discipline), so the score
    * tf·idf_micro is a BIGINT and the per-doc ranking is engine-exact
    * with no float compare anywhere; token-ascending tie-break.
    *
    * Shape at scale: term frequencies are one partial-agg shuffle on
    * (doc_id, token); document frequencies reuse that frame (already
    * one row per (doc, token)) with a second partial agg on token; the
    * corpus size N is a one-row broadcast; the df join is an equi-join
    * on the token key (vocabulary-sized, hash-partitioned); the top-3
    * is a per-document window whose partition is bounded by document
    * vocabulary, never the corpus (the pqCodes justification).
    */
  def t23TfidfKeywords(spark: SparkSession, dir: String): DataFrame =
    tfidfKeywordsOf(Tables.documents(spark, dir))

  private[graft] def tfidfKeywordsOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(toks).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .held()
    tf.count() // eager: df derivation + score join both read it
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("token"))
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        (col("tf") * round(log(col("n_docs").cast("double") / col("df"))
          * 1e6).cast("long")).as("score_micro"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("token"), col("tf"),
        col("df"), col("score_micro"))
      .orderBy(col("doc_id"), col("rk"))
      .limit(2000)
  }

  /** Zipf rank–frequency fit per language (t24): OLS slope and
    * intercept of ln(freq) over ln(rank) for the top-500 tokens — the
    * corpus-health check every pretraining pipeline runs (a natural
    * corpus fits slope ≈ −1; template spam or boilerplate floods bend
    * it). Both ln values are snapped once per (rank, freq) pair to
    * integer micro-nats (the t12 discipline), the five OLS moments
    * accumulate as exact integers (Σxy/Σx² per-row products stay under
    * 2⁵³ in Long; accumulation promotes to DECIMAL(38,0) against the
    * 100-TB-vocab overflow, HUGEINT on the DuckDB side), and slope and
    * intercept come out of the closed-form integral divisions
    * `(nΣxy−ΣxΣy)/(nΣx²−(Σx)²)` and `(Σx²Σy−ΣxΣxy)/(nΣx²−(Σx)²)` —
    * identical formula both engines, so agreement is by construction.
    * Scale: the rank is a salted two-phase top-k ([[TopK.saltedTopK]]),
    * never a whole-vocabulary single-partition window; the fit itself
    * aggregates 500 rows per language.
    */
  def t24ZipfSlope(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val freqs = Tables.documents(spark, dir)
      .select(col("lang"), explode(toks).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("freq"))
    val ranked = TopK.saltedTopK(freqs, Seq(col("lang")),
        Seq(col("freq").desc, col("token")), k = 500,
        saltBy = col("token"), rankCol = "rank")
      .select(col("lang"),
        round(log(col("rank").cast("double")) * 1e6).cast("long").as("x"),
        round(log(col("freq").cast("double")) * 1e6).cast("long").as("y"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = ranked.groupBy(col("lang")).agg(
      count(lit(1)).cast("long").as("n_fit"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x") * col("y"))).as("sxy"),
      sum(dec(col("x") * col("x"))).as("sxx"))
    val den = col("n_fit") * col("sxx") - col("sx") * col("sx")
    val slopeNum =
      (col("n_fit") * col("sxy") - col("sx") * col("sy")) * 1000000L
    val interNum = col("sxx") * col("sy") - col("sx") * col("sxy")
    m.select(col("lang"), col("n_fit"),
        (intDiv(slopeNum + intDiv(den, lit(2L)), den).cast("double") / 1e6)
          .as("slope"),
        (intDiv(interNum + intDiv(den, lit(2L)), den).cast("double") / 1e6)
          .as("ln_intercept"))
      .orderBy(col("lang"))
  }

  /** Cross-modal unified dedup closure (d23): ONE component labeling
    * over the union of every modality's near-dup evidence — text pairs
    * (d8's ≥ 0.8 shingle Jaccard), image pairs (m11's banded phash
    * Hamming ≤ 10, through the same band/cluster caps), and embedding
    * pairs (s6's within-cell cosine ≥ 0.3) — so a sample dropped as an
    * image dup can pull its text-dup twin into the same cluster, the
    * transitive closure a per-modality pipeline never sees. This is the
    * composition argument for one engine: the three pair generators are
    * the ALREADY-GATED operators reused verbatim (the text pair table
    * is the d8/d17/d18 run-scoped parquet asset — built once per run),
    * and the closure is the d8 large/small-star contraction, O(log n)
    * rounds at any scale. Per doc: its unified component (min member
    * id), cluster size, and the min-id keeper verdict.
    */
  def d23UnifiedDedup(spark: SparkSession, dir: String): DataFrame = {
    val comp = unifiedLabels(spark, dir)
    val sz = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    comp.join(sz, Seq("component"))
      .select(col("doc_id"), col("component"), col("cluster_size"),
        (col("doc_id") === col("component")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Run-scoped unified component labels (the [[dupPairs]] asset
    * discipline): the three-modality closure is contracted once per
    * run and parqueted; d23 and p20 both read the slim
    * (doc_id, component) table.
    */
  private[graft] def unifiedLabels(spark: SparkSession,
      dir: String): DataFrame =
    graft.RunAssets.asset(spark, "unified", dir) {
      val textE = dupPairs(spark, dir).select(col("id_a"), col("id_b"))
      val imgE = graft.multimodal.Multimodal
        .phashPairsOf(graft.multimodal.Multimodal.phashAsset(spark, dir))
        .select(col("id_a"), col("id_b"))
      val embE = Embeddings.ivfNearDup(spark, dir, cellCap = None)
        .select(col("id_a"), col("id_b"))
      val edges = textE.unionByName(imgE).unionByName(embE)
        .select(col("id_a").as("src"), col("id_b").as("dst")).distinct()
      val docs = Tables.documents(spark, dir).select(col("doc_id").as("id"))
      val (labels, _) = starContractComponents(docs, edges)
      labels.select(col("id").as("doc_id"), col("component"))
    }

  /** Cross-modal dedup savings ledger (p20): the d23 closure rolled up
    * to the per-source token economics — what fraction of each
    * source's token mass the unified (text+image+embedding) dedup
    * removes under min-id canonical selection. The p13 ledger reads
    * d8's text-only components; a source whose images or embeddings
    * duplicate across otherwise-novel text shows savings HERE first.
    * Savings snap half-up to micro-units as one integral division.
    * Shape at scale: one join of the token projection against the
    * run-scoped label asset, one partial-agg rollup on source.
    */
  def p20UnifiedSavings(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val lab = unifiedLabels(spark, dir)
      .select(col("doc_id"), (col("doc_id") === col("component")).as("keep"))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_toks"))
    docs.join(lab, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("kept_docs"),
        sum(col("n_toks")).cast("long").as("total_tokens"),
        sum(when(col("keep"), col("n_toks")).otherwise(0L)).cast("long")
          .as("kept_tokens"))
      .select(col("source"), col("n_docs"), col("kept_docs"),
        col("total_tokens"), col("kept_tokens"),
        (intDiv((col("total_tokens") - col("kept_tokens"))
            .cast("decimal(38,0)") * 1000000L
            + intDiv(col("total_tokens").cast("decimal(38,0)"), lit(2L)),
          col("total_tokens")).cast("double") / 1e6).as("savings_frac"))
      .orderBy(col("source"))
  }

  /** Per-source distribution divergence (t25): KL(source ‖ corpus) over
    * token unigrams — the domain-drift dashboard a mixing pipeline
    * watches (a source whose token distribution walks away from the
    * corpus is re-weighted or re-crawled; DoReMi-style mixing reads
    * exactly this signal). Exact cross-engine arithmetic via the t12
    * discipline pushed through the algebra: KL·N_s = Σ_t c_st·(ln c_st
    * − ln c_ct) + N_s·(ln N_c − ln N_s), every ln snapped once to
    * integer micro-nats, per-row products accumulated in
    * DECIMAL(38,0)/HUGEINT, one half-up division by N_s at the end.
    * Shape at scale: two shuffles on (source, token) and (token) — both
    * natural high-cardinality keys — and a 1-row corpus total that
    * broadcasts; nothing pairwise anywhere.
    */
  def t25SourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    def lnMicro(c: Column): Column =
      round(log(c.cast("double")) * 1e6).cast("long")
    val tf = termFreqAsset(spark, dir)
      .groupBy(col("source"), col("token"))
      .agg(sum(col("m")).cast("long").as("cst"))
      .held()
    tf.count() // eager: feeds the corpus, per-source, and scoring reads
    val corpus = tf.groupBy(col("token"))
      .agg(sum(col("cst")).cast("long").as("cct"))
    val nc = corpus.agg(sum(col("cct")).cast("long").as("nc"))
    val parts = tf
      .join(corpus.withColumn("ln_cct", lnMicro(col("cct")))
        .select(col("token"), col("ln_cct")), Seq("token"))
      .withColumn("ln_cst", lnMicro(col("cst")))
      .groupBy(col("source"))
      .agg(sum(col("cst").cast("decimal(38,0)")
          * (col("ln_cst") - col("ln_cct"))).as("part"),
        sum(col("cst")).cast("long").as("n_tokens"),
        count(lit(1)).as("vocab"))
    parts.crossJoin(broadcast(nc))
      .select(col("source"), col("n_tokens"), col("vocab"),
        (intDiv(col("part") + col("n_tokens").cast("decimal(38,0)")
            * (lnMicro(col("nc")) - lnMicro(col("n_tokens")))
            + intDiv(col("n_tokens").cast("decimal(38,0)"), lit(2L)),
          col("n_tokens")).cast("double") / 1e6).as("kl_nats"))
      .orderBy(col("source"))
  }

  // ------------------------------------------- distributed exact ranking

  /** Distributed exact rank within groups — the p3/t21 prefix-sum
    * discipline generalized: range-partition on (group, sort) so each
    * task holds one contiguous slice, row_number WITHIN
    * (partition, group) over task-local rows only, then add
    * per-(partition, group) offsets computed from a tiny histogram
    * (≤ nParts × |groups| rows, its own window runs over that tiny
    * frame alone) broadcast back. The alternative —
    * `row_number() OVER (PARTITION BY group ORDER BY …)` — funnels an
    * entire group into ONE task, fatal when a group is a whole
    * language's share of a 100 TB corpus; here nothing global ever
    * single-tasks. Emits `r` (1-based rank within group) and `n_grp`
    * (group size) beside the input columns.
    */
  private[graft] def exactRankWithin(df: DataFrame, groupKey: String,
      sortCols: Seq[Column], nParts: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = df.repartitionByRange(nParts, col(groupKey) +: sortCols: _*)
      .withColumn("pid", spark_partition_id())
      .held()
    parts.count() // freeze the range sample + pid assignment (see d3)
    val hist = parts.groupBy(col("pid"), col(groupKey))
      .agg(count(lit(1)).as("cnt"))
      .held()
    val wOff = Window.partitionBy(col(groupKey)).orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = hist
      .withColumn("offset", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .select(col("pid"), col(groupKey), col("offset"))
    val totals = hist.groupBy(col(groupKey)).agg(sum(col("cnt")).as("n_grp"))
    val wIn = Window.partitionBy(col("pid"), col(groupKey))
      .orderBy(sortCols: _*)
    parts
      .withColumn("rn", row_number().over(wIn))
      .join(broadcast(offsets), Seq("pid", groupKey))
      .join(broadcast(totals), Seq(groupKey))
      .withColumn("r", col("rn").cast("long") + col("offset"))
      .drop("pid", "rn")
  }

  /** SQL `NTILE(k)` in closed form from (exact rank, group size): the
    * first n mod k buckets take ⌈n/k⌉ rows, the rest ⌊n/k⌋ — evaluated
    * map-side per row, so tercile/decile assignment needs no window at
    * all once [[exactRankWithin]] has produced the rank. `intDiv` is
    * LEGACY eval: when q = 0 (group smaller than k) every row satisfies
    * r ≤ rem·(q+1) = n, so the `otherwise` division by q is unreachable
    * and must merely not ANSI-error at plan time.
    */
  private[graft] def ntileFromRank(r: Column, n: Column, k: Int): Column = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val q = intDiv(n, lit(k.toLong))
    val rem = n - q * k
    val hi = rem * (q + lit(1L))
    when(r <= hi, intDiv(r + q, q + lit(1L)))
      .otherwise(rem + intDiv(r - hi + q - lit(1L), q))
  }

  /** CCNet perplexity bucketing (p21): rank every document by its t12
    * unigram cross-entropy WITHIN its language and cut each language
    * into head/middle/tail terciles — the CCNet (Wenzek et al. 2020)
    * partitioning step web-scale pipelines apply before mixing
    * ("head" = most in-distribution text under the reference LM), with
    * per-bucket doc/token mass and mean score as the mixing dashboard.
    *
    * Scale shape: the score pass is t12's (all shuffles on
    * high-cardinality (doc,token)/(token)/(doc) keys); the PER-LANGUAGE
    * tercile is the part that naively demands
    * `ntile(3) OVER (PARTITION BY lang ORDER BY xent)` — one task per
    * language, fatal at lake scale — and instead rides
    * [[exactRankWithin]] (range-partition spreads each language across
    * many tasks) + [[ntileFromRank]] (map-side closed form). The gate
    * pins exact-tercile semantics; a production deployment could relax
    * to broadcast approx-percentile cutpoints, but nothing here needs
    * the relaxation to scale.
    */
  def p21PerplexityBuckets(spark: SparkSession, dir: String,
      nParts: Int = 32): DataFrame =
    perplexityBucketsPerDoc(Tables.documents(spark, dir), nParts,
      xent = Some(unigramXentAsset(spark, dir)))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        sum(round(col("xent") * 1e6).cast("long")).as("sx"))
      .select(col("lang"), col("bucket"), col("n_docs"),
        col("total_tokens"),
        round(col("sx").cast("double") / col("n_docs") / 1e6, 6)
          .as("avg_xent"))
      .orderBy(col("lang"), col("bucket"))

  /** p21's per-document half: (doc_id, lang, n_tokens, xent, bucket) —
    * shared by the rollup above and the streaming twin
    * ([[graft.streaming.CorpusStreams.perplexityBucketAlerts]]), whose
    * cutpoint derivation must agree with the batch bucketing
    * row-for-row.
    */
  private[graft] def perplexityBucketsPerDoc(docs: DataFrame,
      nParts: Int = 32, xent: Option[DataFrame] = None): DataFrame = {
    val scored = xent.getOrElse(unigramXentOf(docs))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val ranked = exactRankWithin(scored, "lang",
      Seq(col("xent"), col("doc_id")), nParts)
    val b = ntileFromRank(col("r"), col("n_grp"), 3)
    ranked.withColumn("bucket",
      when(b === 1, "head").when(b === 2, "middle").otherwise("tail"))
  }

  /** Dedup-quality calibration (p22): cut the corpus into global
    * quality-score deciles (decile 1 = best) and measure the exact-dup
    * rate inside each — the audit that tells a pipeline whether its
    * dedup pass preferentially removes low-quality text (the usual
    * hope: boilerplate is both duplicated and low-quality) or is
    * eating curated data. Composes two already-gated signals verbatim:
    * the p4/t4 quality score and d1's md5-of-normalized-text dup
    * membership. The global decile is [[exactRankWithin]] over a
    * constant group key (range partitioning spreads the corpus by the
    * quality sort key itself) + [[ntileFromRank]] — no single-task
    * global window; the dup flag is one hash-groupBy + join back, the
    * d1 shape. Per-doc quality is rounded at 6 decimals before ranking
    * and ×10⁶ is an exact integer, so the decile means are exact
    * integer sums divided once.
    */
  def p22QualityDupLift(spark: SparkSession, dir: String,
      nParts: Int = 32): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val q = Ingest.admissionSignals(docs)
      .select(col("doc_id"), col("quality"))
    val h = docs.select(col("doc_id"),
      contentHash.as("h"))
    val dup = h
      .join(h.groupBy(col("h")).agg(count(lit(1)).as("cnt")), Seq("h"))
      .select(col("doc_id"), (col("cnt") > 1).as("is_dup"))
    val d = q.join(dup, Seq("doc_id")).withColumn("grp", lit("all"))
    val ranked = exactRankWithin(d, "grp",
      Seq(col("quality").desc, col("doc_id")), nParts)
    ranked
      .withColumn("decile", ntileFromRank(col("r"), col("n_grp"), 10))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_dup").cast("int")).cast("long").as("n_dups"),
        sum(round(col("quality") * 1e6).cast("long")).as("sq"))
      .select(col("decile"), col("n_docs"), col("n_dups"),
        round(col("n_dups").cast("double") / col("n_docs"), 6)
          .as("dup_rate"),
        round(col("sq").cast("double") / col("n_docs") / 1e6, 6)
          .as("avg_quality"))
      .orderBy(col("decile"))
  }

  /** Tokenizer-fertility audit (t26): characters and UTF-8 bytes per
    * whitespace token, per language — the multilingual-pipeline
    * dashboard that decides tokenizer budget allocation (a language
    * whose bytes-per-token is 2× pays 2× the sequence length for the
    * same text; fertility drift across corpus releases signals
    * encoding or segmentation regressions). Map-only signals into a
    * 5-key partial agg — zero pairwise anything; at 100 TB this is one
    * pass over the text bytes, the same cost class as t1/t4. Ratios
    * divide two exact longs once, then round at 6 decimals.
    */
  def t26TokenFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), size(toks).as("n_toks"),
        length(col("text")).as("n_chars"),
        octet_length(col("text")).as("n_bytes"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).cast("long").as("total_tokens"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        sum(col("n_bytes")).cast("long").as("total_bytes"))
      .select(col("lang"), col("n_docs"), col("total_tokens"),
        col("total_chars"), col("total_bytes"),
        round(col("total_chars").cast("double") / col("total_tokens"), 6)
          .as("chars_per_token"),
        round(col("total_bytes").cast("double") / col("total_tokens"), 6)
          .as("bytes_per_token"))
      .orderBy(col("lang"))

  /** N-gram entropy curve (t27): Shannon entropy of the unigram, bigram
    * and trigram distributions per source — how fast conditional
    * diversity grows with context length. A source whose entropy
    * plateaus from n=1→3 is templated/repetitive text (the Gopher-class
    * repetition signal at distribution level, complementing t11's
    * per-doc ratio); natural prose keeps climbing. H = ln N −
    * (Σ c·ln c)/N with each distinct gram's ln c snapped to integer
    * micro-nats (the t12 discipline) and the Σ accumulated in
    * DECIMAL(38,0) (the t25 discipline — at lake scale Σ c·ln c ~
    * N·ln N overflows a Long around N ≈ 3·10¹¹ tokens). One shuffle on
    * the high-cardinality (source, n, gram) key does all three orders
    * at once (the union is map-side); the per-(source, n) rollup is a
    * 15-row partial agg. Trigram slices clamp their length at 0 so
    * 1-token documents contribute empty arrays, not negative-length
    * slice errors (the p4 1-token lesson).
    */
  def t27NgramEntropy(spark: SparkSession, dir: String): DataFrame = {
    def lnMicro(c: Column): Column =
      round(log(c.cast("double")) * 1e6).cast("long")
    val base = Tables.documents(spark, dir)
      .select(col("source"), toks.as("toks"))
    val n = size(col("toks"))
    // explode_outer + a null filter, not explode: a plain explode of the
    // `toks` attribute makes Catalyst infer `size(toks) > 0` below the
    // generator and push it through the projection — a second
    // tokenization per document (see docShingles)
    val uni = base.select(col("source"), lit(1).as("n"),
        explode_outer(col("toks")).as("gram"))
      .filter(col("gram").isNotNull)
    val bi = base.select(col("source"), lit(2).as("n"),
      explode(zip_with(
        slice(col("toks"), lit(1), greatest(n - 1, lit(0))),
        slice(col("toks"), lit(2), greatest(n - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("gram"))
    val tri = base.select(col("source"), lit(3).as("n"),
      explode(zip_with(
        slice(col("toks"), lit(1), greatest(n - 2, lit(0))),
        zip_with(
          slice(col("toks"), lit(2), greatest(n - 2, lit(0))),
          slice(col("toks"), lit(3), greatest(n - 2, lit(0))),
          (b, c) => concat(b, lit(" "), c)),
        (a, bc) => concat(a, lit(" "), bc))).as("gram"))
    uni.unionByName(bi).unionByName(tri)
      .groupBy(col("source"), col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"), col("n"))
      .agg(sum(col("cnt")).cast("long").as("n_grams"),
        count(lit(1)).as("vocab"),
        sum(col("cnt").cast("decimal(38,0)") * lnMicro(col("cnt")))
          .as("sclnc"))
      .select(col("source"), col("n"), col("n_grams"), col("vocab"),
        round(log(col("n_grams").cast("double")) -
          col("sclnc").cast("double")
            / (col("n_grams").cast("double") * 1e6), 6)
          .as("entropy"))
      .orderBy(col("source"), col("n"))
  }

  /** Readability scoring (t28): Flesch reading ease per document from
    * three exact counts — whitespace words (the t1 tokenizer),
    * sentences as `[.!?]+` runs (floored at 1 so fragments score
    * instead of dividing by zero), and a vowel-group syllable proxy
    * (`[aeiouy]+` matches over the lowered text, floored at 1; the
    * dictionary-free approximation every streaming readability filter
    * uses — silent-e and diphthong errors wash out at corpus scale).
    * The score is the classic 206.835 − 1.015·(W/S) − 84.6·(Y/W),
    * computed as doubles from the SAME exact integers on both engines
    * (IEEE ops on identical inputs — no cross-row float accumulation),
    * rounded at 4. Quality-filter read: pair with t4 to drop
    * unreadable boilerplate before training. Map-only over the text
    * bytes — the t1/t4 cost class, no shuffle but the presentation
    * sort.
    */
  def t28Readability(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(toks).as("n_words"),
        greatest(size(regexp_extract_all(col("text"),
          lit("[.!?]+"), lit(0))), lit(1)).as("n_sentences"),
        greatest(size(regexp_extract_all(lower(col("text")),
          lit("[aeiouy]+"), lit(0))), lit(1)).as("n_syllables"))
      .select(col("doc_id"), col("lang"), col("n_words"),
        col("n_sentences"), col("n_syllables"),
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")),
          4).as("flesch"))
      .orderBy(col("doc_id"))
      .limit(2000)

  /** DoReMi mixing-weight step (p23): one mirror-descent update of the
    * per-source sampling weights from each source's excess loss — the
    * Xie et al. 2023 recipe with the excess-loss proxy being t25's
    * token-level KL(source ‖ corpus) (algebraically identical to
    * cross-entropy-under-corpus-LM minus own entropy, so the gated KL
    * IS the excess): w_s ∝ share_s · exp(η · KL_s), normalized. A
    * source whose distribution diverges from the corpus gets
    * up-weighted — the domain-reweighting decision DoReMi automates,
    * here as one gateable step (the full loop iterates this query with
    * the proxy re-trained, same plan shape each round). Scale shape:
    * everything after t25's aggregation is arithmetic on a
    * |sources|-row frame with two 1-row broadcasts (token total,
    * normalizer). The normalizer sums the ALREADY-ROUNDED boosted
    * weights in exact micro units, so the final division is one
    * long/long divide per source — the only cross-engine surface is
    * `exp`, whose sub-ulp libm variance sits 10 orders below the
    * 6-decimal round (each boosted value is rounded before the sum, so
    * a last-ulp exp difference cannot propagate into Z).
    */
  def p23DoremiStep(spark: SparkSession, dir: String,
      eta: Double = 1.0): DataFrame = {
    val kl = t25SourceDivergence(spark, dir)
    val tot = kl.agg(sum(col("n_tokens")).as("n_total"))
    val scored = kl.crossJoin(broadcast(tot))
      .withColumn("base_share",
        round(col("n_tokens").cast("double") / col("n_total"), 6))
      .withColumn("boosted",
        round(col("base_share") * exp(lit(eta) * col("kl_nats")), 6))
      .withColumn("boosted_micro", round(col("boosted") * 1e6).cast("long"))
    val z = scored.agg(sum(col("boosted_micro")).as("z_micro"))
    scored.crossJoin(broadcast(z))
      .select(col("source"), col("n_tokens"), col("kl_nats"),
        col("base_share"), col("boosted"),
        round(col("boosted_micro").cast("double")
          / col("z_micro").cast("double"), 6).as("weight"))
      .orderBy(col("source"))
  }

  /** RHO-loss-shaped excess-loss selection (p24): per-doc "learnability"
    * = cross-entropy under the CORPUS unigram LM minus cross-entropy
    * under the doc's own SOURCE LM (the reference-model role of
    * Mindermann et al. 2022's RHO-loss, with the holdout model played
    * by the in-domain LM the pipeline already has). High excess = text
    * the global model finds surprising but that is predictable
    * in-domain — domain-distinctive signal worth training on; low
    * excess = either generic (both LMs agree) or noise (BOTH find it
    * surprising, the terms cancel). Selection keeps the top quartile by
    * a corpus-level exact-percentile threshold.
    *
    * Exactness: ONE tf pass feeds both LMs (corpus vocab = rollup of
    * the per-source vocab's counts over the same rows); each distinct
    * token's ln c snaps to integer micro-nats per LM (the t12
    * discipline), per-doc sums are exact longs, and the excess double
    * is computed with one shared expression order on both engines
    * before the round-6 snap. The p75 threshold interpolates over
    * those identical rounded doubles (q16 precedent), so the selected
    * bit cannot flip cross-engine.
    *
    * Scale: the shuffles key on (doc,token)/(token)/(source,token) —
    * all high-cardinality; the per-source totals (|sources| rows) and
    * the 1-row corpus total broadcast. The percentile is a single
    * aggregate over one double per doc — swap in approx_percentile
    * under the q16b bounded-error gate at lake scale.
    */
  def p24RhoSelect(spark: SparkSession, dir: String): DataFrame = {
    val tfm = termFreqAsset(spark, dir) // (doc_id, source, token, m), on disk
    val vocabS = tfm.groupBy(col("source"), col("token"))
      .agg(sum(col("m")).as("cs"))
      .withColumn("lnc_s",
        round(log(col("cs").cast("double")) * 1e6).cast("long"))
      .held()
    vocabS.count() // corpus vocab rolls up from this, never a second pass
    val vocabC = vocabS.groupBy(col("token"))
      .agg(sum(col("cs")).as("c"))
      .withColumn("lnc_c",
        round(log(col("c").cast("double")) * 1e6).cast("long"))
    val nTotal = vocabC.agg(sum(col("c")).as("n_total"))
    val nSource = vocabS.groupBy(col("source"))
      .agg(sum(col("cs")).as("n_source"))
    val scored = tfm
      .join(vocabC.select(col("token"), col("lnc_c")), Seq("token"))
      .join(vocabS.select(col("source"), col("token"), col("lnc_s")),
        Seq("source", "token"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("m") * col("lnc_c")).as("slnc_c"),
        sum(col("m") * col("lnc_s")).as("slnc_s"),
        sum(col("m")).as("n_tokens"))
      .join(broadcast(nSource), Seq("source"))
      .crossJoin(broadcast(nTotal))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(log(col("n_total").cast("double")) -
          col("slnc_c").cast("double") / (col("n_tokens") * lit(1e6)), 6)
          .as("xent_corpus"),
        round(log(col("n_source").cast("double")) -
          col("slnc_s").cast("double") / (col("n_tokens") * lit(1e6)), 6)
          .as("xent_source"),
        round(log(col("n_total").cast("double")) -
          log(col("n_source").cast("double")) -
          (col("slnc_c") - col("slnc_s")).cast("double")
            / (col("n_tokens") * lit(1e6)), 6).as("excess"))
      .held()
    scored.count()
    val thr = scored.agg(
      round(expr("percentile(excess, 0.75)"), 6).as("p75"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("xent_corpus"), col("xent_source"), col("excess"), col("p75"),
        (col("excess") > col("p75")).as("selected"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Heaps'-law vocabulary growth fit (t31): per source, the OLS fit of
    * ln V(n) over ln n where V(n) is the vocabulary size after the first
    * n tokens in doc_id ingest order — the corpus-health twin of t24's
    * Zipf fit (Heaps β ≈ 0.7–0.9 for natural text; duplicated or
    * templated corpora bend β down because replayed docs stop minting
    * new types). A growth curve needs running totals, so the checkpoint
    * frame is the [[sourceCumOf]] two-phase distributed prefix sum
    * re-keyed to (source, doc_id) ingest order, accumulating BOTH
    * per-doc token counts and per-doc newly-first-seen type counts
    * (first sighting = min doc_id per (source, token), one partial-agg
    * pass over the exploded tokens) — no per-source single-task window
    * anywhere. Every doc is a checkpoint; the fit consumes them as the
    * same five exact OLS moments as t24 (micro-nat ln snap per
    * checkpoint, DECIMAL(38,0)/HUGEINT accumulation, closed-form
    * half-up integral divisions), so β and ln K agree across engines by
    * construction.
    */
  def t31HeapsLaw(spark: SparkSession, dir: String,
      nParts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val docs = Tables.documents(spark, dir)
    val tok = docs
      .select(col("source"), col("doc_id"), explode(toks).as("token"))
    // per-doc token count = size of the token array — a per-row
    // projection; the former explode + (source, doc_id) groupBy paid a
    // second corpus token explode and a full postings shuffle for a
    // value the row already carries (r17, guide §2.3)
    // null-text docs never reach the exploded groupBy, so the projected
    // spelling must drop them too (size(null) is null — a spurious
    // checkpoint row otherwise; r17 ADVICE)
    val docTok = docs.select(col("source"), col("doc_id"),
      size(toks).cast("long").as("n_toks"))
      .filter(col("n_toks").isNotNull)
    val newTypes = tok.groupBy(col("source"), col("token"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("n_new"))
    val frame = docTok.join(newTypes, Seq("source", "doc_id"), "left")
      .select(col("source"), col("doc_id"), col("n_toks"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val parts = frame.repartitionByRange(nParts, col("source"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .held()
    parts.count() // freeze the range sample + pid assignment (see d3)
    val wIn = Window.partitionBy(col("source"), col("pid"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wOff = Window.partitionBy(col("source")).orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parts.groupBy(col("source"), col("pid"))
      .agg(sum(col("n_toks")).as("pt"), sum(col("n_new")).as("pv"))
      .select(col("source"), col("pid"),
        coalesce(sum(col("pt")).over(wOff), lit(0L)).as("off_t"),
        coalesce(sum(col("pv")).over(wOff), lit(0L)).as("off_v"))
    val xy = parts
      .withColumn("cin_t", sum(col("n_toks")).over(wIn))
      .withColumn("cin_v", sum(col("n_new")).over(wIn))
      .join(broadcast(offsets), Seq("source", "pid"))
      .select(col("source"),
        (col("cin_t") + col("off_t")).as("cum_toks"),
        (col("cin_v") + col("off_v")).as("cum_vocab"))
      .filter(col("cum_toks") > 0 && col("cum_vocab") > 0)
      .select(col("source"),
        round(log(col("cum_toks").cast("double")) * 1e6).cast("long").as("x"),
        round(log(col("cum_vocab").cast("double")) * 1e6).cast("long").as("y"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = xy.groupBy(col("source")).agg(
      count(lit(1)).cast("long").as("n_fit"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x") * col("y"))).as("sxy"),
      sum(dec(col("x") * col("x"))).as("sxx"))
    val den = col("n_fit") * col("sxx") - col("sx") * col("sx")
    val slopeNum =
      (col("n_fit") * col("sxy") - col("sx") * col("sy")) * 1000000L
    val interNum = col("sxx") * col("sy") - col("sx") * col("sxy")
    val out = m.select(col("source"), col("n_fit"),
        (intDiv(slopeNum + intDiv(den, lit(2L)), den).cast("double") / 1e6)
          .as("beta"),
        (intDiv(interNum + intDiv(den, lit(2L)), den).cast("double") / 1e6)
          .as("ln_k"))
      .orderBy(col("source"))
      .held()
    out.count() // |sources| rows: pin the fit, free the per-doc frame
    parts.unpersist()
    out
  }

  /** Data-constrained repeat-schedule audit (p31): for each source and
    * each candidate epoch count R ∈ {1, 2, 4, 8}, the effective unique-
    * data value of training R passes over the source under the
    * exponential-decay repeated-data model (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models": repeated tokens decay
    * with fitted constant R* ≈ 15; beyond ~16 epochs extra passes are
    * worthless) — the table a data-constrained pretrain run reads to
    * decide HOW MANY epochs each source can sustain before fresh data
    * must be found. Effective-epoch multiplier 1 + R*·(1−e^{−(R−1)/R*})
    * is computed ONCE in Scala per candidate R and the identical
    * micro-literal is injected into both engines' plans ([[p31EffMicro]]),
    * so no exp/ln ever crosses an engine; per-source token totals are
    * one partial-agg corpus pass fanned ×|R| by a generator explode
    * (the p28/p29 sweep discipline), and every derived column is a
    * half-up integral division of exact integers.
    */
  def p31RepeatSchedule(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val u = Tables.documents(spark, dir)
      .select(col("source"), size(toks).cast("long").as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("u_tokens"))
    val fan = p31EffMicro.map { case (r, f) => s"$r:$f" }.mkString(",")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    u.withColumn("rf", explode(split(lit(fan), ",")))
      .select(col("source"), col("u_tokens"),
        split(col("rf"), ":").getItem(0).cast("long").as("r_epochs"),
        split(col("rf"), ":").getItem(1).cast("long").as("f_micro"))
      .select(col("source"), col("r_epochs"), col("u_tokens"),
        (col("u_tokens") * col("r_epochs")).as("budget_tokens"),
        intDiv(dec(col("u_tokens")) * col("f_micro") + 500000L,
          lit(1000000L)).cast("long").as("eff_tokens"))
      .withColumn("eff_ratio",
        intDiv(dec(col("eff_tokens")) * 1000000L
            + intDiv(dec(col("budget_tokens")), lit(2L)),
          dec(col("budget_tokens"))).cast("double") / 1e6)
      .orderBy(col("source"), col("r_epochs"))
  }

  /** The shared effective-epoch multiplier table for p31: candidate
    * epoch counts with micro-snapped 1 + R*·(1−e^{−(R−1)/R*}), R* = 15.
    * Computed once here and injected as literals into BOTH the Spark
    * plan and the DuckDB oracle, so the libm exp call happens exactly
    * once, driver-side (the strongest form of the t12 snap discipline).
    */
  private[graft] val p31EffMicro: Seq[(Int, Long)] =
    Seq(1, 2, 4, 8).map { r =>
      r -> math.round(
        (1.0 + 15.0 * (1.0 - math.exp(-(r - 1) / 15.0))) * 1e6)
    }

  /** Simpson vocabulary concentration (t32): per source, the unbiased
    * Simpson/Herfindahl index λ = Σc_t(c_t−1)/(N(N−1)) over token
    * counts — the probability two tokens drawn without replacement are
    * the SAME type — plus its inverse, the effective vocabulary size
    * (how many equally-common types would produce the same
    * concentration). The libm-free sibling of t27's entropy curve:
    * boilerplate floods and template spam spike λ and crater the
    * effective vocabulary long before mean quality moves. EXACT
    * integer end to end — counts, Σc(c−1) (promoted DECIMAL(38,0)/
    * HUGEINT from the first multiply; a 100-TB hot token makes c²
    * wrap a Long), and two half-up integral divisions; no log, no
    * float, nothing to snap. Shape: one (source, token) partial-agg
    * shuffle, then a |sources|-row rollup — t25's scan without the
    * join.
    */
  def t32SimpsonDiversity(spark: SparkSession, dir: String): DataFrame =
    simpsonOf(Tables.documents(spark, dir)
      .select(col("source"), explode(toks).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c")))

  /** The t32 finisher over any (source, token, c) term-frequency frame —
    * exactly the standing table the streaming ingest
    * ([[graft.streaming.CorpusStreams.tokenCounts]]) maintains, so the
    * live path shares every step after the count (`StreamingSpec` pins
    * replay ≡ batch through this seam, the e34 pattern).
    */
  private[graft] def simpsonOf(tf: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = tf.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
        sum(dec(col("c")) * (dec(col("c")) - 1)).as("s"))
    val d = dec(col("n_tokens")) * (dec(col("n_tokens")) - 1)
    m.select(col("source"), col("n_tokens"), col("vocab"),
        round(intDiv(col("s") * 1000000L + intDiv(d, lit(2L)), d)
          .cast("double") / 1e6, 6).as("simpson"),
        round(intDiv(d * 1000000L + intDiv(col("s"), lit(2L)), col("s"))
          .cast("double") / 1e6, 6).as("eff_vocab"))
      .orderBy(col("source"))
  }

  /** Cross-language near-dup audit (d31): the ≥ 0.8 Jaccard pair table
    * rolled up by (unordered) language pair — the screen that separates
    * WITHIN-language duplication (mirrors, re-posts) from CROSS-language
    * duplication (templated boilerplate, navigation chrome, machine
    * translation), which dedup policy treats differently: a cross-lang
    * pair usually means shared scaffolding worth stripping rather than
    * a doc worth dropping. Pure composition over the gated machinery —
    * the run-scoped [[dupPairs]] asset joined twice against the slim
    * (doc_id, lang) projection (equi-joins on the key, payloads never
    * move), with one broadcast total for the half-up pair-share
    * division. Output is ≤ |langs|² rows with a cross_lang flag.
    */
  def d31CrossLangPairs(spark: SparkSession, dir: String): DataFrame =
    crossLangMixOf(spark, dir, dupPairs(spark, dir))

  /** d31 over the spill-bounded [[winnowPairs]] asset (d31b) — the
    * at-scale leg of the cross-language audit: identical rollup, pair
    * source traded from the exact ≥0.8-Jaccard table to the capped
    * winnow space so the composition can run where the raw-shingle
    * asset cannot even materialize (the sf1000 disk limit, SCALE.md).
    */
  def d31bCrossLangWinnow(spark: SparkSession, dir: String): DataFrame =
    crossLangMixOf(spark, dir, winnowPairs(spark, dir))

  private def crossLangMixOf(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val langs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
    val lp = pairs.select(col("id_a"), col("id_b"))
      .join(langs.select(col("doc_id").as("id_a"), col("lang").as("lang_a")),
        Seq("id_a"))
      .join(langs.select(col("doc_id").as("id_b"), col("lang").as("lang_b")),
        Seq("id_b"))
      .select(least(col("lang_a"), col("lang_b")).as("lang_lo"),
        greatest(col("lang_a"), col("lang_b")).as("lang_hi"))
      .held()
    val tot = lp.agg(count(lit(1)).as("n_all"))
    val out = lp.groupBy(col("lang_lo"), col("lang_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(tot))
      .select(col("lang_lo"), col("lang_hi"),
        (col("lang_lo") =!= col("lang_hi")).as("cross_lang"),
        col("n_pairs"),
        round(intDiv(col("n_pairs") * 1000000L + intDiv(col("n_all"),
          lit(2L)), col("n_all")).cast("double") / 1e6, 6).as("pair_share"))
      .orderBy(col("lang_lo"), col("lang_hi"))
      .held()
    out.count() // ≤|langs|² rows: pin the finisher, free the pair frame
    lp.unpersist()
    out
  }

  /** Dedup-aware repeat schedule (p32): p31's data-constrained epoch
    * table recomputed on the DEDUPED corpus — the composition every
    * real pretrain runs, because repeating a corpus whose clusters were
    * never collapsed double-counts the duplicates twice (once as
    * within-epoch copies, again as epochs). Per source: raw tokens,
    * unique tokens (the [[componentLabels]] min-id keepers — the d23
    * convention), and for each candidate R the effective tokens of R
    * passes over the UNIQUE data ([[p31EffMicro]], same driver-injected
    * multipliers) against the raw-token budget R passes would burn —
    * eff_vs_raw < 1 quantifies exactly how much of the compute the
    * duplication wastes. One corpus pass + the asset join; the ×|R|
    * fan-out explodes a |sources|-row aggregate.
    */
  def p32DedupEpochs(spark: SparkSession, dir: String): DataFrame =
    dedupEpochsOf(spark, dir, componentLabels(spark, dir))

  /** p32 with keepers from the spill-bounded [[winnowPairs]] component
    * graph (p32b) — the at-scale leg: star contraction runs over the
    * capped winnow pairs (a graph the box can build at any rehearsal
    * scale), and the epoch table reads its min-id keepers. The exact
    * componentLabels leg stays the audit path, the d9/d9b split.
    */
  def p32bDedupEpochsWinnow(spark: SparkSession, dir: String): DataFrame =
    dedupEpochsOf(spark, dir, winnowLabels(spark, dir))

  /** Dedup dividend (p34): per source, the compute a canonical-only
    * training set saves — docs, duplicate docs (non-canonical members
    * of a winnow near-dup component), tokens, duplicate tokens, and
    * the half-up micro share of tokens dedup removes. This is the
    * budgeting number a pretraining-data owner actually reports ("dedup
    * cut source X's token bill by Y%"); p32b then turns the surviving
    * unique mass into effective-epoch curves. Composes the
    * [[winnowLabels]] run-scoped asset (which itself rides
    * [[winnowPairs]] → [[winnowSelectionAsset]]): the only work here is
    * one |docs|-row join of token counts against the label ledger and a
    * |sources|-bounded aggregate — no shingling, no pair join, nothing
    * corpus-quadratic; the oracle recomputes the winnow closure from
    * scratch (the p32b recursive CTEs), so the hash gate re-proves the
    * asset's min-id canonical labels end to end.
    */
  def p34DedupDividend(spark: SparkSession, dir: String): DataFrame =
    dedupDividendOf(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), size(toks).cast("long").as("n")),
      winnowLabels(spark, dir))

  /** The p34 finisher over an explicit (doc_id, source, n) token frame
    * and a (doc_id, component) ledger — split out so the streaming twin
    * ([[graft.streaming.CorpusStreams.dividendFromLedger]]) reads the
    * live [[graft.streaming.CorpusStreams.WinnowLedgerMaintainer]]
    * ledger through the SAME aggregation (the budgeting dashboard never
    * revisits raw documents on either surface). `saved_share`'s
    * numerator widens to decimal(38,0) BEFORE the ×10⁶ (r13 advisor):
    * dup_tokens · 10⁶ wraps a Long past ~9.2e12 dup tokens per source —
    * i.e. exactly at the 100 TB lake scale — while the oracle
    * deliberately computes in HUGEINT; the dec widening keeps the two
    * engines byte-identical where the hash gate matters.
    */
  private[graft] def dedupDividendOf(docTokens: DataFrame,
      labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val j = docTokens.join(labels, Seq("doc_id"))
      .withColumn("dup", col("doc_id") =!= col("component"))
    j.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dups"),
        sum(col("n")).as("n_tokens"),
        sum(when(col("dup"), col("n")).otherwise(0L)).as("dup_tokens"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        col("n_tokens"), col("dup_tokens"),
        round(intDiv(dec(col("dup_tokens")) * 1000000L
            + intDiv(dec(col("n_tokens")), lit(2L)),
          dec(col("n_tokens"))).cast("double") / 1e6, 6).as("saved_share"))
      .orderBy(col("source"))
  }

  /** Min-id component labels over the [[winnowPairs]] graph,
    * MATERIALIZED once per (run, dir) exactly like [[componentLabels]]
    * over dupPairs: the star contraction's O(log n) rounds converge
    * once and every at-scale consumer reads the fixpoint — re-running
    * an iterative graph algorithm per downstream query is the same
    * mistake as re-shingling per query, just in round count instead of
    * token count.
    */
  private[graft] def winnowLabels(spark: SparkSession,
      dir: String): DataFrame =
    graft.RunAssets.asset(spark, "winnowlabels", dir) {
      val ids = Tables.documents(spark, dir).select(col("doc_id").as("id"))
      val pairs = winnowPairs(spark, dir)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val (labels, _) = starContractComponents(ids, pairs)
      labels.select(col("id").as("doc_id"), col("component"))
    }

  private def dedupEpochsOf(spark: SparkSession, dir: String,
      labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(toks).cast("long").as("n"))
    val keepers = labels
      .filter(col("doc_id") === col("component"))
      .select(col("doc_id"), lit(1L).as("kp"))
    val u = docs.join(keepers, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(sum(col("n")).as("u_raw"),
        sum(when(col("kp").isNotNull, col("n")).otherwise(0L))
          .as("u_unique"))
    val fan = p31EffMicro.map { case (r, f) => s"$r:$f" }.mkString(",")
    u.withColumn("rf", explode(split(lit(fan), ",")))
      .select(col("source"), col("u_raw"), col("u_unique"),
        split(col("rf"), ":").getItem(0).cast("long").as("r_epochs"),
        split(col("rf"), ":").getItem(1).cast("long").as("f_micro"))
      .select(col("source"), col("r_epochs"), col("u_raw"), col("u_unique"),
        (col("u_raw") * col("r_epochs")).as("budget_tokens"),
        intDiv(dec(col("u_unique")) * col("f_micro") + 500000L,
          lit(1000000L)).cast("long").as("eff_tokens"))
      .withColumn("eff_vs_raw",
        round(intDiv(dec(col("eff_tokens")) * 1000000L
            + intDiv(dec(col("budget_tokens")), lit(2L)),
          dec(col("budget_tokens"))).cast("double") / 1e6, 6))
      .orderBy(col("source"), col("r_epochs"))
  }

  /** Shared power-of-two bucket ladder for d32: the SAME generated CASE
    * text runs in both engines (Spark `expr` and DuckDB SQL), so the
    * bucketing is exact without any log2 float crossing.
    */
  private[graft] def pow2CaseSql(c: String): String = {
    val branches = (0 until 41).map { k =>
      s"WHEN $c < ${1L << (k + 1)} THEN ${1L << k}"
    }.mkString(" ")
    s"CASE $branches ELSE ${1L << 41} END"
  }

  /** Shingle document-frequency profile (d32): the df histogram in
    * power-of-two buckets with each bucket's share of inverted-index
    * pair work Σdf(df−1)/2 — the MEASURED quantity behind every
    * stop-shingle decision in this engine (d6b's cap, d9b's valve, the
    * SCALE.md d9 watch item): the top buckets' share says exactly how
    * much of the self-join a df-cap removes, turning "hot shingles blow
    * up quadratically" from an argument into a gated number. One
    * shingle-index pass, a vocabulary-sized partial agg, and a ≤42-row
    * rollup; df(df−1) promotes to DECIMAL(38,0)/HUGEINT at the first
    * multiply (a boilerplate shingle across 10⁸ docs wraps a Long), and
    * the share is one half-up micro division per bucket.
    */
  def d32ShingleDfProfile(spark: SparkSession, dir: String): DataFrame =
    dfProfileOf(
      shingleIndex(Tables.documents(spark, dir))
        .groupBy(col("shingle")).agg(count(lit(1)).as("df")),
      keyCount = "n_shingles")

  /** Winnow-index df profile (d32b): d32's histogram over the WIDE
    * winnow fingerprint index — the index the at-scale pair source
    * ([[winnowPairs]]) actually builds, so this is the pair-work audit
    * for the spill-bounded path: the top buckets' share says how much
    * of the posting join [[WinnowSweepCap]] removes. One winnow pass, a
    * |fingerprint-space|-bounded agg, the same generated CASE ladder.
    */
  def d32bWinnowDfProfile(spark: SparkSession, dir: String): DataFrame =
    // the UNCAPPED wide selection (a capped frame would clip the very
    // df tail this audit measures), via the array pass — one scan, the
    // fp agg is the first and only shuffle
    dfProfileOf(
      winnowLocalSelect(Tables.documents(spark, dir), WinnowW, WinnowWideHex)
        .groupBy(col("fp")).agg(count(lit(1)).as("df")),
      keyCount = "n_fps")

  /** Stop-shingle audit (d36): the concrete shingles the scale-aware
    * valve ([[stopShingleCap]]) cuts — df, half-up per-mille corpus
    * share, and the pair work each would have injected into the d6/d9
    * self-join (df·(df−1)/2). This is the dashboard a corpus operator
    * reads before trusting the valve: d32 says how much mass sits over
    * the cap, d36 says WHAT it is (cookie banners and license headers,
    * or — the false-positive smell — legitimate template prose). Same
    * groupBy-df aggregate as d32 (partial agg collapses hot keys
    * map-side; the hot-key rows never converge on one task), then a
    * cut-only filter and a top-100 TakeOrdered on (df desc, shingle) —
    * a total order, since dfreq holds one row per shingle. The valve
    * itself (capShingleDf) anti-joins exactly this over-cap set, so
    * the audit IS the cut list, not a parallel approximation.
    */
  def d36BoilerShingles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val docs = Tables.documents(spark, dir)
    val n = docs.count()
    val cap = stopShingleCap(n)
    shingleIndex(docs)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .select(col("shingle"), col("df"),
        intDiv(col("df") * 1000L + lit(n / 2L), lit(n)).cast("long")
          .as("df_share_pm"),
        intDiv(col("df") * (col("df") - 1L), lit(2L)).cast("long")
          .as("pair_work"))
      .orderBy(col("df").desc, col("shingle"))
      .limit(100)
  }

  private def dfProfileOf(dfreq: DataFrame,
      keyCount: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rows = dfreq
      .select(expr(pow2CaseSql("df")).cast("long").as("bucket_lo"), col("df"))
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as(keyCount), sum(col("df")).as("n_postings"),
        sum(dec(col("df")) * (dec(col("df")) - 1)).as("pw2"))
    val tot = rows.agg(sum(col("pw2")).as("total_pw2"))
    rows.crossJoin(broadcast(tot))
      .select(col("bucket_lo"), col(keyCount), col("n_postings"),
        intDiv(col("pw2"), lit(2L)).cast("long").as("pair_work"),
        round(intDiv(col("pw2") * 1000000L + intDiv(col("total_pw2"),
          lit(2L)), col("total_pw2")).cast("double") / 1e6, 6)
          .as("pair_work_share"))
      .orderBy(col("bucket_lo"))
  }

  /** Duplicate-cluster size profile (d35): the power-of-two histogram
    * of d8 component sizes — how the corpus's duplication mass is
    * shaped (many pairs vs a few mega-clusters), the reading that
    * decides whether canonical-selection (d17) or hot-cluster capping
    * (m11's clusterCap) is the binding control. COMPOSES the
    * [[componentLabels]] asset (no re-shingling, the d31/p32
    * discipline): one |docs|-row groupBy to component sizes, the d32
    * CASE ladder, a ≤42-row rollup with half-up doc shares. Singletons
    * land in bucket_lo = 1 — their share is exactly the corpus's
    * unique fraction, read directly off the first row.
    */
  def d35ClusterSizeProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val rows = componentLabels(spark, dir)
      .groupBy(col("component")).agg(count(lit(1)).as("csize"))
      .select(expr(pow2CaseSql("csize")).cast("long").as("bucket_lo"),
        col("csize"))
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("csize")).as("n_docs"))
    val tot = rows.agg(sum(col("n_docs")).as("n_all"))
    rows.crossJoin(broadcast(tot))
      .select(col("bucket_lo"), col("n_clusters"), col("n_docs"),
        round(intDiv(col("n_docs") * 1000000L + intDiv(col("n_all"),
          lit(2L)), col("n_all")).cast("double") / 1e6, 6).as("doc_share"))
      .orderBy(col("bucket_lo"))
  }

  /** Zipf rank-frequency fit (t34): per language, the OLS slope of
    * ln(freq) on ln(rank) over the top-[[ZipfTopK]] terms — the
    * vocabulary-shape screen beside t31's Heaps fit (Heaps says how
    * fast types accumulate; Zipf says how steeply mass concentrates:
    * a slope far above −1 flags templated/boilerplate text whose head
    * dominates, far below −1 flags noisy long tails). One explode +
    * partial-agg pass to the (lang, token, freq) vocabulary frame; the
    * rank window runs over that AGGREGATE (vocabulary-sized, not
    * corpus-sized — the t23 shape) with (freq DESC, token) order so no
    * tie can flip a rank; both lns micro-snap per distinct value before
    * the integer moment sums (t31's exact-OLS algebra).
    */
  val ZipfTopK = 256

  def t34ZipfFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val freq = Tables.documents(spark, dir)
      .select(col("lang"), explode(toks).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("f"))
    val ranked = freq
      .withColumn("rank", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("f").desc, col("token"))))
      .filter(col("rank") <= ZipfTopK)
    val xy = ranked.select(col("lang"),
      round(log(col("rank").cast("double")) * 1e6).cast("long").as("x"),
      round(log(col("f").cast("double")) * 1e6).cast("long").as("y"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = xy.groupBy(col("lang")).agg(
      count(lit(1)).cast("long").as("n_fit"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x") * col("y"))).as("sxy"),
      sum(dec(col("x") * col("x"))).as("sxx"))
    val den = col("n_fit") * col("sxx") - col("sx") * col("sx")
    val slopeNum =
      (col("n_fit") * col("sxy") - col("sx") * col("sy")) * 1000000L
    val interNum = col("sxx") * col("sy") - col("sx") * col("sxy")
    m.select(col("lang"), col("n_fit"),
        (intDiv(slopeNum + intDiv(den, lit(2L)), den).cast("double") / 1e6)
          .as("zipf_slope"),
        (intDiv(interNum + intDiv(den, lit(2L)), den).cast("double") / 1e6)
          .as("ln_c"))
      .orderBy(col("lang"))
  }

  /** Term burstiness (t35): for each language's top-[[BurstTopK]] terms
    * by collection frequency, the Church–Gale burstiness cf/df — how
    * concentrated a term's occurrences are in the documents that use it
    * at all. Function words repeat everywhere (df ≈ docs, burstiness ≈
    * cf/docs); topical terms cluster (high cf over few docs) — the
    * discrimination read behind stopword lists and t23's tf-idf
    * keywords, here as a gated corpus-level table. One explode pass
    * feeds BOTH counts (cf = all occurrences, df = distinct docs via a
    * two-level agg — never a count-distinct shuffle of raw positions);
    * the top-K rank runs over the vocabulary aggregate (the t34/t23
    * shape) and burstiness is one half-up micro division.
    */
  val BurstTopK = 64

  def t35TermBurstiness(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val occ = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), explode(toks).as("token"))
    // per (lang, token, doc): occurrences — partial agg collapses the
    // explode map-side; df is then a plain count over this frame
    val perDoc = occ.groupBy(col("lang"), col("token"), col("doc_id"))
      .agg(count(lit(1)).as("n"))
    val vocab = perDoc.groupBy(col("lang"), col("token"))
      .agg(sum(col("n")).as("cf"), count(lit(1)).as("df"))
    vocab
      .withColumn("rank", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("cf").desc, col("token"))))
      .filter(col("rank") <= BurstTopK)
      .select(col("lang"), col("rank"), col("token"), col("cf"), col("df"),
        round(intDiv(col("cf") * 1000000L + intDiv(col("df"), lit(2L)),
          col("df")).cast("double") / 1e6, 6).as("burstiness"))
      .orderBy(col("lang"), col("rank"))
  }

  /** Source-size Lorenz curve + Gini (p33): how unequally the corpus
    * spreads over its sources — the one-number composition audit read
    * beside p2's mixing weights (a Gini near 1 means one crawl dump IS
    * the corpus and every p5/p15/p29 rebalancing dial will fight it).
    * Sources ranked ascending by token count; per source the cumulative
    * Lorenz share, plus the exact-integer Gini
    * (2Σi·xᵢ − (n+1)Σx)/(nΣx) broadcast onto every row. The global
    * rank window is bounded by |sources| — the e33 dimension-table
    * argument, never the corpus — and everything after the one corpus
    * pass is arithmetic on a |sources|-row table.
    */
  def p33SourceLorenz(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val u = Tables.documents(spark, dir)
      .select(col("source"), size(toks).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
    val w = Window.orderBy(col("n_tokens"), col("source"))
    val ranked = u
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .held()
    val g = ranked.agg(count(lit(1)).as("n_src"),
        sum(dec(col("n_tokens"))).as("s_all"),
        sum(dec(col("rank")) * dec(col("n_tokens"))).as("six"))
      .select(col("s_all"),
        intDiv((col("six") * 2 - (col("n_src") + 1) * col("s_all"))
            * 1000000L + intDiv(col("n_src") * col("s_all"), lit(2L)),
          col("n_src") * col("s_all")).cast("long").as("gini_micro"))
    ranked.crossJoin(broadcast(g))
      .select(col("rank"), col("source"), col("n_tokens"), col("cum_tokens"),
        round(intDiv(dec(col("cum_tokens")) * 1000000L
            + intDiv(col("s_all"), lit(2L)),
          col("s_all")).cast("double") / 1e6, 6).as("lorenz"),
        round(col("gini_micro").cast("double") / 1e6, 6).as("gini"))
      .orderBy(col("rank"))
  }

  /** Winnow window-width frontier (d33): for w ∈ {2, 4, 8}, the
    * index-size/recall trade the winnowing parameter actually buys —
    * per width: selected fingerprints, their fraction of the full
    * posting list (the ~2/(w+1) theory made a measured number), the
    * ≥2-shared candidate pairs, and their recall against the exact
    * ≥0.8-Jaccard truth (the run-scoped [[dupPairs]] asset). This is
    * the d24/p28 sweep discipline applied to d30's dial: the expensive
    * explode+md5 pass ([[winnowHashed]]) runs ONCE and persists; each
    * width re-windows the slim (doc_id, pos, ek) frame (same
    * partition/order keys — the exchange is reused), and the finisher
    * is a |w|-row driver-assembled table whose half-up micro divisions
    * run in exact integer arithmetic (the KMeans-centroid pattern:
    * corpus work distributed, bounded finisher driver-side). A
    * pair-free corpus emits NULL recall on both engines (d26
    * discipline — division by zero is null, not a skipped row).
    *
    * SCALE (r12): two structural changes follow the round-11 verdict.
    * (1) Every sweep leg's fingerprint self-join runs in the
    * [[WinnowSweepCap]]-capped posting space ([[winnowPairsCapped]] —
    * the m11 band-cap discipline): at w = 2 winnowing keeps ~46% of
    * postings and a hot fingerprint blows up df² pairs like d6's hot
    * shingles (603 s at sf10 uncapped). (2) The sweep measures the
    * WIDE 36-bit fingerprint space — the space [[winnowPairs]], the
    * at-scale pair asset this sweep exists to calibrate, actually
    * builds. The 16-bit d30 space is structurally hot at corpus scale:
    * 65k buckets ALL saturate the cap once postings pass cap·65k
    * (~17 M), pinning the sweep at buckets·cap²/2 ≈ 2.1 B joined rows
    * regardless of corpus (the capped re-measure still cost 294 s at
    * sf10). In the wide space the same corpus spreads thinner and
    * the cap returns to being the hot-bucket exception, not the rule.
    * All three width selections come from ONE multi-frame window pass
    * over one (doc_id, pos) exchange+sort — Catalyst chains the three
    * min/count frames over a single sort order. `n_fps`/`index_frac`
    * still report the UNCAPPED selection; the oracle mirrors the wide
    * hash, the shared pass, and the cap exactly.
    */
  def d33WinnowSweep(spark: SparkSession, dir: String,
      ws: Seq[Int] = Seq(2, 4, 8),
      fpCap: Int = WinnowSweepCap): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.{winnowEk, winnowMinSelect}
    val sorted = ws.sorted
    // r13: the window pipeline (posexplode → corpus-wide doc_id
    // exchange+sort → |ws| window frames) is replaced by the
    // [[graft.functions.WinnowKernel]] pass — each shingle hashes ONCE
    // per row (the ek array) and all |ws| selections derive from it in
    // the same projection; the persisted frame holds only the per-doc
    // SELECTION arrays (~2/(w+1) of postings each), and the first
    // shuffle of the sweep is each leg's fingerprint rank cap. Values
    // are identical to the window build by construction (same
    // composite key, same full-window min, same per-doc distinct) —
    // the oracle and `Round11OpsSpec3`'s driver twin are unchanged.
    val hashed = Tables.documents(spark, dir).select(col("doc_id"),
      winnowEk(toks, WinnowWideHex, WinnowPosField).as("ek"))
    val sel = sorted.foldLeft(
        hashed.withColumn("n_sh", size(col("ek")).cast("long"))) {
      (df, w) => df.withColumn(s"fps$w",
        winnowMinSelect(col("ek"), w, WinnowPosField))
    }.drop("ek").held()
    // r17: ONE aggregate job returns the posting total and every leg's
    // selection count together (per-doc arrays are already distinct and
    // doc_id keys rows, so each n_fps is a size sum — no distinct
    // shuffle; the former per-leg scalar aggs paid a full cached-frame
    // pass each, guide §1.2: don't re-run what one pass can answer)
    val sizeRow = sel.agg(sum(col("n_sh")),
      sorted.map(w => sum(size(col(s"fps$w")))): _*).head
    val nPostings = sizeRow.getLong(0)
    val truth = dupPairs(spark, dir).select(col("id_a"), col("id_b"))
      .held()
    // the one-action (nPairs, nHits) left join below is only ≡ the old
    // pairs.count()/inner-count pair when the truth keys are UNIQUE
    // (they are — jaccardPairsUnordered groupBys them); enforce the
    // assumption inside the count action we already pay (r17 ADVICE)
    val truthRow = truth.agg(count(lit(1)),
      countDistinct(col("id_a"), col("id_b"))).head
    val nTrue = truthRow.getLong(0)
    require(truthRow.getLong(1) == nTrue,
      "dupPairs truth table carries duplicate (id_a, id_b) keys — " +
        "the single-action pair/hit count assumes uniqueness")
    def halfUp(num: Long, den: Long): Option[Double] =
      if (den == 0L) None
      else Some(((BigInt(num) * 1000000 + den / 2) / BigInt(den)).toLong / 1e6)
    // r18 (guide §2.6): the three width legs ran as SEQUENTIAL
    // driver-synchronous actions (cap window → self-join → agg, 3×) —
    // wall = Σ legs while each leg's tail idled the box. The legs are
    // independent, so their unchanged per-leg jobs now submit together
    // ([[QueryScope.concurrently]]) and back-fill each other (FIFO):
    // wall ≈ max(leg).
    // (A single union job keyed by w was built and MEASURED FIRST: d33
    // 23.8→25.6 s at sf10 and 5.0→5.8 s at sf1 — tripling the window
    // sort's and pair join's per-partition rows costs more than the
    // removed barriers; rejected, recorded here.) No holds are created
    // on the pool threads (the legs read the already-cached sel/truth).
    val legs = QueryScope.concurrently(sorted.map { w => () =>
      val fp = sel.select(col("doc_id"), explode(col(s"fps$w")).as("fp"))
      // nPairs and nHits from ONE action: truth pairs are unique
      // (id_a, id_b) keys — enforced above — so the left join
      // preserves pair cardinality and count(h) counts exactly the
      // inner-join hits (r17)
      val cnt = winnowPairsCapped(fp, fpCap)
        .join(truth.withColumn("h", lit(1)), Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("np"), count(col("h")).as("nh")).head
      (cnt.getLong(0), cnt.getLong(1))
    })
    val rows = sorted.zip(legs).zipWithIndex.map {
      case ((w, (nPairs, nHits)), wi) =>
        val nFp = sizeRow.getLong(1 + wi)
        (w, nPostings, nFp, halfUp(nFp, nPostings).map(Double.box).orNull,
          nPairs, nTrue, nHits, halfUp(nHits, nTrue).map(Double.box).orNull)
    }
    sel.unpersist() // rows are driver-side: the shared pass is done
    truth.unpersist()
    import spark.implicits._
    rows.toDF("w", "n_postings", "n_fps", "index_frac",
        "n_pairs", "n_true_pairs", "n_hits", "recall")
      .orderBy(col("w"))
  }

  /** Incremental dedup-ledger maintenance (d34): merge an arriving
    * shard into a STANDING component ledger without recomputing the
    * closure from scratch — the operation a live corpus actually runs
    * on every crawl drop (the d13/s9 incremental discipline applied to
    * d8's component table). Arrival split: doc_id ≡ 0 (mod 5) is the
    * increment; the rest is the standing corpus whose (doc, component)
    * ledger a production pipeline keeps checkpointed. The increment's
    * edges come from the SAME inverted-index probe d13 uses (increment
    * shingles join the standing postings — never a standing×standing
    * re-join — plus the increment's own self-join), and the merge runs
    * star contraction over ledger edges (doc → its standing label) ∪
    * new edges: O(log n) rounds over a frame that is |ledger| +
    * |increment edges|, not the full pair graph. The GATE is the whole
    * point: the oracle recomputes the closure over the full corpus from
    * scratch, so the hash match PROVES merge ≡ recompute — min-id
    * labels are stable under incremental maintenance.
    */
  /** The ONE Jaccard-edge verdict d34 and the streaming ledger twin
    * share: pairs of docs from `a` × `b` sharing a shingle, kept when
    * Jaccard ≥ 0.8 in their respective (already-filtered) shingle
    * spaces. `strict` dedups a self-join (id_a < id_b); a cross probe
    * keeps both orientations' rows distinct via =!=.
    */
  private[graft] def jaccardEdgesBetween(a: DataFrame, aSizes: DataFrame,
      b: DataFrame, bSizes: DataFrame, strict: Boolean): DataFrame = {
    val cond = col("a.shingle") === col("b.shingle") &&
      (if (strict) col("a.doc_id") < col("b.doc_id")
       else col("a.doc_id") =!= col("b.doc_id"))
    a.as("a").join(b.as("b"), cond)
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .join(aSizes.select(col("doc_id").as("id_a"), col("n").as("na")),
        Seq("id_a"))
      .join(bSizes.select(col("doc_id").as("id_b"), col("n").as("nb")),
        Seq("id_b"))
      .filter(round(col("shared").cast("double") /
        (col("na") + col("nb") - col("shared")), 6) >= 0.8)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
  }

  /** The standing-corpus dedup assets d34's merge consumes, MATERIALIZED
    * once per (JVM run, sfDir) like [[dupPairs]]: the standing inverted
    * index (the probe target) and the standing (doc, component) ledger
    * (the checkpointed table a production pipeline carries between crawl
    * drops). Registering them here makes the GATED d34 path time what
    * production actually pays per arrival — the MARGINAL merge cost
    * (increment shingling + postings probe + star contraction over
    * ledger ∪ new edges), not a standing-corpus rebuild per run
    * (round-11 verdict, directive 3). Returns (postings, ledger).
    */
  private[graft] def d34StandingAssets(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    // a def: a memo hit reads no documents footer
    def standing = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 5 =!= 0)
    def postings(idx: => DataFrame) =
      graft.RunAssets.asset(spark, "standing-postings", dir)(idx)
    // the ledger builds first, from a held index that its postings write
    // reads too: a ledger built from the read-back postings asset (three
    // scans of it) was slower at sf0.1 (SCALE.md, "Run-scoped assets:
    // one memo")
    val ledger = graft.RunAssets.asset(spark, "standing-ledger", dir) {
      val sIdx = shingleIndex(standing).held()
      postings(sIdx)
      val sSizes = sIdx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val (sLabels, _) = starContractComponents(
        standing.select(col("doc_id").as("id")),
        jaccardEdgesBetween(sIdx, sSizes, sIdx, sSizes, strict = true))
      // the contraction checkpoints its edges on entry; the labels no
      // longer read the index
      sIdx.unpersist()
      sLabels
    }
    (postings(shingleIndex(standing)), ledger)
  }

  def d34IncrementalComponents(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val inc = docs.filter(col("doc_id") % 5 === 0)
    // standing postings + ledger come from the run-scoped asset — the
    // checkpointed tables a production pipeline keeps between drops
    val (sIdx, sLabels) = d34StandingAssets(spark, dir)
    val iIdx = shingleIndex(inc).held()
    iIdx.count()
    // sizes re-derive from the asset in one |standing|-row agg (cheap
    // against the probe; production would checkpoint them alongside)
    val sSizes = sIdx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val iSizes = iIdx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val ledgerEdges = sLabels.filter(col("id") =!= col("component"))
      .select(col("id").as("src"), col("component").as("dst"))
    // arrival edges: increment↔standing postings probe + increment self
    val newEdges =
      jaccardEdgesBetween(iIdx, iSizes, sIdx, sSizes, strict = false)
        .unionByName(
          jaccardEdgesBetween(iIdx, iSizes, iIdx, iSizes, strict = true))
    val (labels, _) = starContractComponents(
      docs.select(col("doc_id").as("id")),
      ledgerEdges.unionByName(newEdges))
    labels.select(col("id").as("doc_id"), col("component"),
        (col("id") % 5 === 0).as("is_increment"))
      .orderBy(col("doc_id"))
  }

  /** The BOUNDED standing assets for [[d34wIncrementalWinnow]] — the
    * r13 verdict's top directive: d34's marginal merge is scale-clean,
    * but its standing ledger bootstrap ran the unvalved raw-shingle
    * pair machinery, which this box cannot rehearse past sf100
    * (SCALE.md) — and at 100 TB the once-per-corpus build must be the
    * bounded class too. Here the standing corpus (doc_id % 5 ≠ 0)
    * bootstraps through the winnow spine instead: per-doc wide
    * selections ([[winnowLocalSelect]], no token-scale shuffle), a
    * [[WinnowSweepCap]] rank cap over the STANDING posting lists, ≥2-
    * shared pairs bounded at cap²/2 per bucket, and one star-contraction
    * fixpoint — the same machinery [[winnowPairs]]/[[winnowLabels]]
    * rehearsed at sf1000. The raw-shingle bootstrap
    * ([[d34StandingAssets]]) stays gated as the exactness audit — the
    * d9/d9b default/audit split applied to the ledger build. Returns
    * (capped standing postings, standing ledger), materialized once per
    * (run, dir): production checkpoints exactly these two tables
    * between crawl drops.
    */
  private[graft] def d34wStandingAssets(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    def standing = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 5 =!= 0)
    val post = graft.RunAssets.asset(spark, "wstanding-postings", dir)(
      winnowCapped(winnowLocalSelect(standing, WinnowW, WinnowWideHex),
        WinnowSweepCap))
    val ledger = graft.RunAssets.asset(spark, "wstanding-ledger", dir)(
      starContractComponents(standing.select(col("doc_id").as("id")),
        winnowPairsOf(post)
          .select(col("id_a").as("src"), col("id_b").as("dst")))._1)
    (post, ledger)
  }

  /** d34 over the WINNOW-BOOTSTRAPPED standing ledger (d34w) — the
    * at-scale incremental-maintenance leg. The arriving shard
    * (doc_id ≡ 0 mod 5) computes its per-doc wide selections, probes
    * the capped STANDING postings (increment×standing only — a standing
    * posting list never exceeds [[WinnowSweepCap]], so probe work is
    * linear in increment selections), self-joins within the capped
    * increment, and the merge star-contracts (standing ledger star
    * edges) ∪ (probe edges) ∪ (self edges).
    *
    * The gate proves merge ≡ recompute: replacing a connected subgraph
    * by its star (the ledger) preserves connectivity, so the merged
    * components equal the one-shot closure over (standing pairs ∪ probe
    * ∪ self) — and that one-shot closure is exactly what the DuckDB
    * oracle recomputes from scratch with recursive CTEs. Min-id labels
    * are stable under incremental maintenance in the winnow space, with
    * every leg of the composition bounded. Pair semantics are the
    * declared probe space (standing-capped postings, ≥2 shared wide
    * selections), mirrored term-for-term by the oracle — the cap is
    * part of the contract like d30's, not an un-gated approximation.
    */
  def d34wIncrementalWinnow(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val inc = docs.filter(col("doc_id") % 5 === 0)
    val (post, sLabels) = d34wStandingAssets(spark, dir)
    val incSel = winnowLocalSelect(inc, WinnowW, WinnowWideHex).held()
    incSel.count() // probe + self + cap all read it
    val probe = incSel.as("i").join(post.as("s"), col("i.fp") === col("s.fp"))
      .groupBy(col("i.doc_id").as("src"), col("s.doc_id").as("dst"))
      .agg(count(lit(1)).as("ns")).filter(col("ns") >= 2)
      .select(col("src"), col("dst"))
    val self = winnowPairsOf(winnowCapped(incSel, WinnowSweepCap))
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val ledgerEdges = sLabels.filter(col("id") =!= col("component"))
      .select(col("id").as("src"), col("component").as("dst"))
    val (labels, _) = starContractComponents(
      docs.select(col("doc_id").as("id")),
      ledgerEdges.unionByName(probe).unionByName(self))
    val out = labels.select(col("id").as("doc_id"), col("component"),
        (col("id") % 5 === 0).as("is_increment"))
      .orderBy(col("doc_id"))
    val pinned = out.held()
    pinned.count()
    incSel.unpersist()
    out
  }

  /** Token-length profile (t33): per language, the token-length
    * histogram in power-of-two buckets with per-bucket shares — the
    * subword-readiness screen a tokenizer team reads before setting
    * vocabulary budgets (a long-tail of 16+-char tokens means URLs/
    * concatenations that will fragment into many subwords; t26 then
    * measures the realized fertility). Reuses d32's [[pow2CaseSql]]
    * ladder — the same generated CASE text on both engines, no log2
    * crossing — over one explode + partial-agg pass collapsing to
    * ≤ |langs|·buckets rows; shares are one half-up micro division
    * against the per-language total carried on the same row set.
    */
  def t33TokenLengthProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val b = Tables.documents(spark, dir)
      .select(col("lang"), explode(toks).as("token"))
      .select(col("lang"), length(col("token")).cast("long").as("len"))
      .select(col("lang"), expr(pow2CaseSql("len")).cast("long").as("bucket_lo"))
      .groupBy(col("lang"), col("bucket_lo"))
      .agg(count(lit(1)).as("n_tokens"))
    b.withColumn("n_lang", sum(col("n_tokens")).over(
        Window.partitionBy(col("lang"))))
      .select(col("lang"), col("bucket_lo"), col("n_tokens"),
        round(intDiv(col("n_tokens") * 1000000L + intDiv(col("n_lang"),
          lit(2L)), col("n_lang")).cast("double") / 1e6, 6).as("share"))
      .orderBy(col("lang"), col("bucket_lo"))
  }

  /** The UNSCOPED registry — plan-inspection specs read this so
    * building a frame never executes it; every external surface goes
    * through [[all]], whose entries run under [[QueryScope.scoped]]
    * (held intermediates park at scope exit and die at the next gated
    * call or [[QueryScope.releaseAll]] — r15 cache hygiene).
    */
  private[graft] val raw: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t33_token_length_profile" -> (t33TokenLengthProfile _),
    "d34_incremental_components" -> (d34IncrementalComponents _),
    "d34w_incremental_winnow" -> (d34wIncrementalWinnow _),
    "d10w_decontamination_winnow" -> (d10wDecontaminationWinnow _),
    "d12w_overlap_winnow" -> (d12wOverlapWinnow _),
    "p26w_contamination_winnow" -> (p26wContaminationWinnow _),
    "d33_winnow_sweep" -> ((s: SparkSession, d: String) => d33WinnowSweep(s, d)),
    "d32_shingle_df_profile" -> (d32ShingleDfProfile _),
    "d36_boiler_shingles" -> (d36BoilerShingles _),
    "d31b_crosslang_winnow" -> (d31bCrossLangWinnow _),
    "d32b_winnow_df_profile" -> (d32bWinnowDfProfile _),
    "p32b_dedup_epochs_winnow" -> (p32bDedupEpochsWinnow _),
    "p34_dedup_dividend" -> (p34DedupDividend _),
    "d35_cluster_size_profile" -> (d35ClusterSizeProfile _),
    "t34_zipf_fit" -> (t34ZipfFit _),
    "t35_term_burstiness" -> (t35TermBurstiness _),
    "p33_source_lorenz" -> (p33SourceLorenz _),
    "d31_cross_lang_pairs" -> (d31CrossLangPairs _),
    "p32_dedup_epochs" -> (p32DedupEpochs _),
    "t32_simpson_diversity" -> (t32SimpsonDiversity _),
    "t31_heaps_law" -> ((s: SparkSession, d: String) => t31HeapsLaw(s, d)),
    "p31_repeat_schedule" -> (p31RepeatSchedule _),
    "d30_winnowing" -> (d30Winnowing _),
    "p29_temperature_mix" ->
      ((s: SparkSession, d: String) => p29TemperatureMix(s, d)),
    "p30_context_packing" -> (p30ContextPacking _),
    "p24_rho_select" -> (p24RhoSelect _),
    "p23_doremi_step" -> ((s: SparkSession, d: String) => p23DoremiStep(s, d)),
    "p21_perplexity_buckets" ->
      ((s: SparkSession, d: String) => p21PerplexityBuckets(s, d)),
    "p22_quality_dup_lift" ->
      ((s: SparkSession, d: String) => p22QualityDupLift(s, d)),
    "t26_token_fertility" -> (t26TokenFertility _),
    "t27_ngram_entropy" -> (t27NgramEntropy _),
    "t28_readability" -> (t28Readability _),
    "d24_band_sweep" -> (d24BandSweep _),
    "p25_temp_sweep" -> (p25TempSweep _),
    "d26_threshold_sweep" -> (d26ThresholdSweep _),
    "p26_contamination_by_source" -> (p26ContaminationBySource _),
    "t29_split_drift" -> (t29SplitDrift _),
    "d27_component_histogram" -> (d27ComponentHistogram _),
    "p27_deletion_propagation" -> (p27DeletionPropagation _),
    "t25_source_divergence" -> (t25SourceDivergence _),
    "d23_unified_dedup" -> (d23UnifiedDedup _),
    "p20_unified_savings" -> (p20UnifiedSavings _),
    "t24_zipf_slope" -> (t24ZipfSlope _),
    "d22_exact_substr" -> (d22ExactSubstr _),
    "t23_tfidf_keywords" -> (t23TfidfKeywords _),
    "p19_dup_mask" -> (p19DupMask _),
    "d1_exact_dedup" -> (d1ExactDedup _),
    "d2_minhash_signature" -> (d2MinhashSignature _),
    "d3_minhash_lsh" -> (d3MinhashLsh _),
    "d4_simhash" -> (d4Simhash _),
    "d5_simhash_neardup" -> (d5SimhashNearDup _),
    "d6_ngram_jaccard" -> (d6NgramJaccard _),
    "d6b_jaccard_capped" -> (d6bJaccardCapped _),
    "d7_dedup_decision" -> (d7DedupDecision _),
    "d8_dedup_components" -> (d8DedupComponents _),
    "d9_containment" -> (d9Containment _),
    "d9b_containment_capped" -> (d9bContainmentCapped _),
    "d9w_containment_winnow" -> (d9wContainmentWinnow _),
    "d10_decontamination" -> (d10Decontamination _),
    "d11_chunk_dedup" -> (d11ChunkDedup _),
    "d12_train_overlap" -> (d12TrainOverlap _),
    "d14_lsh_recall" -> (d14LshRecall _),
    "d15_split_leakage" -> (d15SplitLeakage _),
    "d16_source_overlap" -> (d16SourceOverlap _),
    "d17_canonical_select" -> (d17CanonicalSelect _),
    "d18_soft_dedup" -> (d18SoftDedup _),
    "p13_dedup_savings" -> (p13DedupSavings _),
    "t17_ngram_novelty" -> (t17NgramNovelty _),
    "t18_intradoc_rep" -> (t18IntradocRep _),
    "t19_vocab_stats" -> (t19VocabStats _),
    "t20_encoding_sanity" -> (t20EncodingSanity _),
    "p10_dataset_card" -> (p10DatasetCard _),
    "t1_token_stats" -> (t1TokenStats _),
    "t11_repetition_ratio" -> (t11RepetitionRatio _),
    "t13_top_bigram_frac" -> (t13TopBigramFrac _),
    "t15_label_audit" -> (t15LabelAudit _),
    "q25_contamination_spread" -> (q25ContaminationSpread _),
    "t2_regex_tokens" -> (t2RegexTokens _),
    "t3_lang_id" -> (t3LangId _),
    "t4_quality_score" -> (t4QualityScore _),
    "t5_fingerprint" -> (t5Fingerprint _),
    "t6_word_count" -> (t6WordCount _),
    "t7_rolling_fingerprint" -> (t7RollingFingerprint _),
    "t8_chunking" -> (t8Chunking _),
    "t9_split_assign" -> (t9SplitAssign _),
    "t10_sequence_packing" -> (t10SequencePacking _),
    "t12_unigram_xent" -> (t12UnigramXent _),
    "t16_bigram_lm_xent" -> (t16BigramLmXent _),
    "p1_corpus_manifest" -> (p1CorpusManifest _),
    "p2_corpus_mixing" -> (p2CorpusMixing _),
    "p12_epoch_mix" -> (p12EpochMix _),
    "p5_lang_rebalance" -> (p5LangRebalance _),
    "p7_temp_rebalance" -> (p7TempRebalance _),
    "p8_curriculum_bins" -> (p8CurriculumBins _),
    "p14_stratified_sample" -> (p14StratifiedSample _),
    "p11_anneal_mix" -> (p11AnnealMix _),
    "p9_unified_curation" -> (p9UnifiedCuration _),
    "p3_token_budget" -> (p3TokenBudget _),
    "p15_source_quota" -> ((s: SparkSession, d: String) => p15SourceQuota(s, d)),
    "t21_vocab_coverage" -> ((s: SparkSession, d: String) => t21VocabCoverage(s, d)),
    "t22_heavy_hitters" -> (t22HeavyHitters _),
    "p16_quota_after_dedup" -> ((s: SparkSession, d: String) => p16QuotaAfterDedup(s, d)),
    "d20_dup_pagerank" -> ((s: SparkSession, d: String) => d20DupPagerank(s, d)),
    "d21_minhash_calibration" -> (d21MinhashCalibration _),
    "p18_clean_release" -> (p18CleanRelease _),
    "p17_dsir_select" -> ((s: SparkSession, d: String) => p17DsirSelect(s, d)),
    "t30_lang_confusion" -> (t30LangConfusion _),
    "p28_quota_frontier" -> ((s: SparkSession, d: String) => p28QuotaFrontier(s, d)),
  )

  /** Every gated entry runs under a [[QueryScope.scoped]] cache
    * scope: held intermediates park at scope exit and die at the next
    * gated call or `QueryScope.releaseAll()` (r15 cache hygiene).
    */
  val all: Map[String, (SparkSession, String) => DataFrame] =
    QueryScope.scopedAll(raw)
}
