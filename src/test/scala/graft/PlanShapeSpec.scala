package graft

import graft.queries.{Embeddings, Relational, TextDedup}
import org.scalatest.funsuite.AnyFunSuite

/** Guards the SCALE.md plan-shape claims: these properties are what make
  * the queries survive a 100× scale-up, so a regression here is a
  * performance bug even when results stay correct.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def deleteRecursively(path: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(path))
      java.nio.file.Files.walk(path).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  test("q1: shipdate filter reaches the parquet scan; schema pruned") {
    val p = plan(Relational.q1PricingSummary(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    val readSchema = p.split("ReadSchema: ")(1).split("\n")(0)
    assert(readSchema.count(_ == ':') <= 7,
      s"expected pruned lineitem read, got $readSchema")
  }

  test("q2: all three dimension joins broadcast") {
    val p = plan(Relational.q2JoinRevenueByNation(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).length == 3, p.take(500))
  }

  test("e9: bucketized interval join is pair-identical to the naive inequality join, with bucket in the join key") {
    import org.apache.spark.sql.functions._
    val bucketized = graft.queries.Events.e9IntervalJoin(spark, dir)
    // naive reference: equi-join on user only, range as a filter — the
    // formulation that funnels a hot user's full history into one task
    val gapUs = 30L * 60 * 1000 * 1000
    val ev = Tables.events(spark, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("us").as("click_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("vu"), col("event_id").as("view_id"), col("us").as("view_us"))
    val naive = clicks.join(views, col("user_id") === col("vu") &&
        col("view_us") >= col("click_us") - gapUs && col("view_us") < col("click_us"))
      .select(col("user_id"), col("click_id"), col("view_id"),
        ((col("click_us") - col("view_us")) / lit(1000000.0)).as("gap_sec"))
      .orderBy(col("user_id"), col("click_id"), col("view_id"))
      .limit(3000)
    assert(bucketized.collect().map(_.toSeq).toSeq ==
      naive.collect().map(_.toSeq).toSeq)
    // the join must be keyed on (user, bucket), not user alone — the
    // whole point of bucketization is a finer shuffle key
    val p = plan(bucketized)
    assert(p.contains("probe_bucket"), p.take(800))
  }

  test("t9 split assign is map-only: no exchange, top-k sink") {
    val p = plan(TextDedup.t9SplitAssign(spark, dir))
    assert(!p.contains("Exchange"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("t11 repetition ratio is map-only: per-row array math, no exchange") {
    val p = plan(TextDedup.t11RepetitionRatio(spark, dir))
    assert(!p.contains("Exchange"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("p4 admission filter is map-only: signals + decision ride the scan, no exchange") {
    val p = plan(graft.queries.Ingest.p4QualityFilter(spark, dir))
    assert(!p.contains("Exchange"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("t14 PII redaction is map-only: three regex passes per row, no exchange") {
    val p = plan(graft.queries.Ingest.t14PiiRedact(spark, dir))
    assert(!p.contains("Exchange"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("d13: increment joins the standing corpus on keyed columns — never a cartesian") {
    val p = plan(graft.queries.Ingest.d13IncrementalDedup(spark, dir))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the near-dup candidate join is keyed on the shingle — the inverted-
    // index discipline (shuffle on high-cardinality shingle text)
    assert(p.contains("shingle"), p.take(800))
  }

  test("m4/m5/m8/m9: media decode is map-side — no hash exchange below the top-k") {
    for (q <- Seq(graft.multimodal.Multimodal.m4AudioFeatures(spark, dir),
        graft.multimodal.Multimodal.m5VideoFeatures(spark, dir),
        graft.multimodal.Multimodal.m8SceneCuts(spark, dir),
        graft.multimodal.Multimodal.m9AudioSegments(spark, dir))) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"), p.take(800))
      assert(p.contains("TakeOrderedAndProject"), p.take(800))
    }
  }

  test("d16: consumes the materialized pair table; source sides broadcast; rollup is partial-agg") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val root = physicalRoot(TextDedup.d16SourceOverlap(spark, dir))
    val pairScans = root.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("graft-pairs")) => s
    }
    assert(pairScans.length == 1, s"want 1 pair-parquet scan:\n${root.toString.take(1200)}")
    assert(!root.toString.contains("shingle"),
      "d16 must not re-derive shingles — that is dupPairs' job, done once")
    assert(root.collect { case j: BroadcastHashJoinExec => j }.length == 2,
      s"both source sides must broadcast:\n${root.toString.take(1200)}")
    assert(root.toString.contains("partial_count"),
      s"rollup must partial-aggregate map-side:\n${root.toString.take(1200)}")
  }

  test("e14: three chained deadline windows share ONE user_id exchange") {
    val p = plan(graft.queries.Events.e14TimedFunnel(spark, dir))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
      p.take(1200))
    assert("Window \\[min".r.findAllIn(p).length == 3, p.take(1200))
  }

  test("q27: both RANGE-frame aggs share one Window on a single o_custkey exchange") {
    val p = plan(Relational.q27RollingRevenue(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p.take(1200))
    assert(p.contains("RangeFrame, -29"), p.take(1200))
    assert("Window \\[".r.findAllIn(p).length == 1,
      s"sum and count must share one Window op:\n${p.take(1200)}")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("t18: every hash exchange keys on doc_id — the verdict never leaves the document") {
    val p = plan(TextDedup.t18IntradocRep(spark, dir))
    val keys = "Exchange hashpartitioning\\(([A-Za-z_]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty && keys.forall(_ == "doc_id"),
      s"exchange keys $keys:\n${p.take(1000)}")
  }

  test("s13: label joins broadcast; ranking is two-phase WindowGroupLimit; no sort-merge") {
    val p = plan(Embeddings.s13KnnClassify(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(1200))
    assert(p.contains("WindowGroupLimit"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("s17: anchors broadcast; mining top-1 is two-phase WindowGroupLimit; no sort-merge") {
    val p = plan(Embeddings.s17HardNegatives(spark, dir))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(p.contains("WindowGroupLimit"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("q32: basket pairs — keyed equi-join, partial agg, TakeOrdered top-100") {
    val p = plan(Relational.q32BasketPairs(spark, dir))
    // the within-order pair join must key on l_orderkey — a nested loop
    // over items would be quadratic in the TABLE, not the order
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    // top-100 is per-partition heaps, never a global sort of all pairs
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("s21: centroid table broadcasts; no sort-merge anywhere") {
    val p = plan(Embeddings.s21Silhouette(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("t24: vocabulary rank is the two-phase salted top-k — no single-partition window") {
    val p = plan(TextDedup.t24ZipfSlope(spark, dir))
    // phase-1 ranks within (lang, salt) buckets; a plan that ranks the
    // whole per-lang vocabulary in one window task would show a single
    // Window with partition [lang] only — assert the salt survived
    assert(p.contains("WindowGroupLimit"), p.take(1200))
    assert(p.contains("pmod") || p.contains("salt") || p.contains("hash"),
      p.take(1200))
  }

  test("p15/t21: prefix-sum shape survives the per-source and vocab variants — corpus windows keyed on pid") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val roots = try Seq(
      "p15" -> TextDedup.p15SourceQuota(spark, dir)
        .queryExecution.executedPlan,
      "t21" -> TextDedup.t21VocabCoverage(spark, dir)
        .queryExecution.executedPlan)
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    try roots.foreach { case (name, root) =>
      val p = root.toString
      // the corpus-side window must key on pid (plus source for p15) —
      // never a partition-less window over the whole corpus
      assert(p.contains("windowspecdefinition(pid")
        || p.contains("windowspecdefinition(source#"), s"$name:\n${p.take(1200)}")
      val singles = root.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
      // funnels exist only for the ≤nParts-row offset/totals streams
      assert(singles.length <= 3, s"$name singles=${singles.length}:\n${p.take(1200)}")
      singles.foreach { e =>
        assert(e.toString.contains("pid") || e.toString.contains("count")
          || e.toString.contains("sum"),
          s"$name funnel must be a tiny aggregate stream:\n${e.toString.take(600)}")
      }
    } finally spark.catalog.clearCache()
  }

  test("d17/p13: consume the materialized pair table — no shingle re-derivation") {
    for (df <- Seq(TextDedup.d17CanonicalSelect(spark, dir),
        TextDedup.p13DedupSavings(spark, dir))) {
      val p = plan(df)
      assert(!p.contains("shingle"),
        s"must read dupPairs' parquet, not re-shingle:\n${p.take(800)}")
    }
  }

  test("q26: the correlated LATERAL decorrelates — ranked join, no nested loop per outer row") {
    val p = plan(Relational.q26LateralTopk(spark, dir))
    assert(!p.contains("CartesianProduct"), p.take(1000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1000))
    // the LIMIT-inside-LATERAL becomes a per-key rank, joined back on
    // the correlation key — the same scale shape as the explicit q7.
    // Any two-table plan contains a Join, so the rank itself is the
    // assertion that carries signal: the Window's row_number must
    // survive into the physical plan.
    assert(p.contains("Window"), p.take(1000))
    assert(p.contains("row_number"), p.take(1000))
  }

  test("p8: decile binning inherits the p3 prefix-sum shape — corpus windows keyed on pid, funnel is the totals table") {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val root = try TextDedup.p8CurriculumBins(spark, dir).queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val singles = root.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
      // the per-pid counts window rides a pid-derived hash exchange now
      // (constant pmod key — one group by design, no empty-spec window);
      // the only SinglePartition funnel left is the ≤1-row scalar
      // n_total aggregate — never the corpus, never the counts table
      assert(singles.length <= 1,
        s"want at most the scalar-agg SinglePartition exchange:\n${root.toString.take(1200)}")
      assert(singles.forall(_.toString.contains("HashAggregate(keys=[]")),
        s"any funnel must be the scalar total only:\n${singles.head.toString.take(800)}")
      val hashed = root.collect {
        case e: ShuffleExchangeExec => e.outputPartitioning match {
          case h: HashPartitioning => Some(h)
          case _ => None
        }
      }.flatten
      assert(hashed.forall(_.expressions.exists(e =>
          e.toString.contains("pid") || e.toString.contains("_w"))),
        s"hash exchanges keyed off pid (or its pmod alias):\n${hashed.mkString("\n")}")
      val p = root.toString
      assert(p.contains("windowspecdefinition(pid"), p.take(1200))
    } finally spark.catalog.clearCache()
  }

  test("m6: the binary payload dies map-side — no exchange carries content, clustering shuffles only the hash") {
    val p = plan(graft.multimodal.Multimodal.m6ImagePhash(spark, dir))
    // every exchange row must carry only the slim (doc_id, phash[,aggs])
    // columns; the decoded raster and the payload bytes never shuffle
    p.split("\n").filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("content"), s"payload shuffled: $line")
    }
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("m11: banding rides the slim hash frame; candidate join keys on the band; Hamming folds only survivors") {
    val p = plan(graft.multimodal.Multimodal.m11PhashNearDup(spark, dir))
    p.split("\n").filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("content"), s"payload shuffled: $line")
    }
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the self-join must be keyed (band value in the join key), never a
    // filtered cross product over the hash frame
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p.take(1200))
    spark.catalog.clearCache()
  }

  test("t16: no window over the corpus; the vocab scalar broadcasts; LM joins never cartesian") {
    val p = plan(graft.queries.TextDedup.t16BigramLmXent(spark, dir))
    // three aggs + two joins, all keyed on high-cardinality columns —
    // a Window here would mean a single-task funnel crept in
    assert(!p.contains("Window"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), "vocab scalar must broadcast")
  }

  test("p7: the keep rule is map-only after two broadcast-sized aggregates") {
    val p = plan(graft.queries.TextDedup.p7TempRebalance(spark, dir))
    // the doc-side scan joins the per-language rates without hash-
    // repartitioning the corpus: only agg-side exchanges may exist,
    // and the lang join must be broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("e12: forward probes join clicks on (user, bucket) keys — never a cartesian") {
    val p = plan(graft.queries.Events.e12UnconvertedViews(spark, dir))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("s9: increment joins standing vectors on the cell key — never a cartesian") {
    val p = plan(graft.queries.Embeddings.s9IncrementalSemDedup(spark, dir))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("t10 sequence packing shuffles once, on the writer-shard key") {
    val p = plan(graft.queries.TextDedup.t10SequencePacking(spark, dir))
    // one hashpartitioning exchange for the per-shard window; the final
    // ordered limit is a TakeOrderedAndProject, not a second shuffle
    assert("hashpartitioning".r.findAllIn(p).length >= 1, p.take(800))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("t10 per-task window input scales as corpus/nShards; default follows writer parallelism") {
    import org.apache.spark.sql.functions._
    def maxShardRows(n: Int): Long =
      TextDedup.sequencePacking(spark, dir, nShards = n)
        .groupBy(col("shard")).count().agg(max("count")).head.getLong(0)
    val m4 = maxShardRows(4)
    val m16 = maxShardRows(16)
    // doc_id mod nShards spreads uniformly: 4× the writers → the biggest
    // per-task window input drops ~4× (allow slack for residue rounding)
    assert(m16 * 3 <= m4, s"per-shard max did not scale: nShards=4 → $m4 rows, nShards=16 → $m16 rows")
    val defaultShards = TextDedup.sequencePacking(spark, dir)
      .agg(max(col("shard"))).head.getLong(0)
    assert(defaultShards < spark.sparkContext.defaultParallelism,
      s"default shard ids $defaultShards must stay under writer parallelism ${spark.sparkContext.defaultParallelism}")
  }

  test("q8: global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = plan(Relational.q8GlobalTopK(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
  }

  test("s1: dot product is the native codegen expression, queries broadcast") {
    val p = plan(Embeddings.s1CosineTopK(spark, dir))
    assert(p.contains("float_vec_dot"), "expected FloatVecDot in the plan")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("q3: partial aggregation runs before the join") {
    val p = plan(Relational.q3OrderLineitemJoin(spark, dir))
    assert(p.contains("HashAggregate"), p.take(300))
  }

  test("d7: pair generation runs once — consumers read the materialized drop set") {
    val df = TextDedup.d7DedupDecision(spark, dir)
    try {
      // traverse the actual node tree (the string render inlines cached
      // subtrees, which would double-count): a cached table's plan is not
      // a child of its InMemoryTableScan, so only re-EXECUTED joins count
      val root = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case p => p
      }
      // both consumers (anti-join + union) must scan the persisted drops
      // table, not re-execute the Jaccard pair pipeline (round-1 perf bug:
      // the most expensive shuffle in the engine ran twice)
      val scans = root.collect {
        case n if n.nodeName.contains("InMemoryTableScan") => n }.length
      assert(scans >= 2, s"expected 2 cached-drops scans:\n${root.toString.take(800)}")
      val joins = root.collect {
        case n if n.nodeName.contains("Join") => n }.length
      assert(joins <= 2,
        s"d7's executed plan re-runs the pair pipeline ($joins joins):\n${root.toString.take(800)}")
    } finally spark.catalog.clearCache()
  }

  private def physicalRoot(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }

  test("p3: the only global funnel is the per-partition totals table; data windows stay keyed on pid") {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AQE's AdaptiveSparkPlanExec exposes exchanges only after
    // EnsureRequirements — disable it so the executed plan is a plain
    // tree whose exchange nodes collect() can see (inputPlan is
    // pre-EnsureRequirements and has none)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val root = try TextDedup.p3TokenBudget(spark, dir).queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      // NO SinglePartition exchange at all: the ≤nParts-row per-pid
      // totals ride a pid-derived hash exchange (constant pmod key —
      // one group by design), and the corpus itself only ever moves on
      // the pid range partitioning. This is the distributed prefix
      // sum's load-bearing property at 100 TB.
      val singles = root.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
      assert(singles.isEmpty,
        s"want no SinglePartition exchange:\n${root.toString.take(1200)}")
      // every hash exchange is keyed on pid (window + totals agg) — no
      // re-shuffle of the corpus on a document-level key
      val hashed = root.collect {
        case e: ShuffleExchangeExec => e.outputPartitioning match {
          case h: HashPartitioning => Some(h)
          case _ => None
        }
      }.flatten
      assert(hashed.nonEmpty &&
        hashed.forall(_.expressions.exists(e =>
          e.toString.contains("pid") || e.toString.contains("_w"))),
        s"hash exchanges keyed off pid (or its pmod alias):\n${hashed.mkString("\n")}")
      // the corpus-sized cumulative window runs per pid partition, and
      // the tiny offsets table reaches it as a broadcast
      val p = root.toString
      assert(p.contains("windowspecdefinition(pid"), p.take(1200))
      assert(p.contains("BroadcastHashJoin [pid"), p.take(1200))
    } finally spark.catalog.clearCache()
  }

  test("d10: consumes the materialized pair table — two broadcast joins, no hash re-shuffle") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val root = physicalRoot(TextDedup.d10Decontamination(spark, dir))
    // both directions of the pair table come from the run-scoped parquet
    // materialization, not a re-run of the shingle self-join
    val pairScans = root.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("graft-pairs")) => s
    }
    assert(pairScans.length == 2, s"want 2 pair-parquet scans:\n${root.toString.take(1200)}")
    assert(!root.toString.contains("shingle"),
      "d10 must not re-derive shingles — that is dupPairs' job, done once")
    // the two slim doc_id/split joins broadcast; the pair table itself is
    // never hash-shuffled (the only exchange is the final presentation sort)
    val bjoins = root.collect { case j: BroadcastHashJoinExec => j }
    assert(bjoins.length == 2, s"want 2 broadcast joins:\n${root.toString.take(1200)}")
    val hashEx = root.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashEx.isEmpty, s"unexpected hash exchange:\n${hashEx.mkString("\n").take(800)}")
  }

  test("e10: multi-distinct rides Expand keyed by (cohort, user) — no window, no single-task funnel") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val root = physicalRoot(graft.queries.Events.e10CohortRetention(spark, dir))
    val p = root.toString
    // Spark's Expand-based rewrite of the three countDistincts: the
    // distinct de-dup shuffle is keyed on (h0, …, user_id, gid), so a
    // hot cohort spreads over its users instead of one task
    assert(root.collect { case n if n.nodeName == "Expand" => n }.length == 1, p.take(1200))
    assert(root.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }.isEmpty, s"single-task funnel in e10:\n${p.take(1200)}")
    // first-activity hour comes from a partial-aggregating groupBy min,
    // not a per-user window sort
    assert(root.collect { case n if n.nodeName.startsWith("Window") => n }.isEmpty,
      s"e10 must not use windows:\n${p.take(1200)}")
  }

  test("s7: centroid table and probed cells broadcast; corpus side never hash-shuffles before the salted rank") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val root = physicalRoot(Embeddings.s7IvfProbe2(spark, dir))
    val p = root.toString
    // the candidate search reaches the corpus as a broadcast of the
    // (query, cell) table — the big side is never re-partitioned to meet
    // the index; the codegen'd float×double fold scores the centroids
    assert(root.collect { case j: BroadcastHashJoinExec => j }.nonEmpty, p.take(1200))
    assert(p.contains("float_double_vec_dot"), p.take(1200))
    // the only window rank over unsalted keys is the nQueries × nCells
    // centroid ranking (bounded by the index size, not the corpus): every
    // other rank goes through the salted two-phase top-k
    assert(p.contains("windowspecdefinition(q_id"), p.take(1200))
    // saltedTopK's phase-1 rank column + the pmod(hash(...)) salt key
    assert(p.contains("__rk1") && p.contains("pmod(hash(vec_id"),
      "final top-k must be the salted two-phase rank")
  }

  test("q15: the scalar average subquery broadcasts; no shuffle of the grouped side for the filter") {
    val p = plan(Relational.q15Having(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(500))
  }

  test("q22 unpivot is map-only: top-k, no hash-partition exchange") {
    val p = plan(Relational.q22Unpivot(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    assert(!p.contains("Exchange hashpartitioning"), p.take(600))
  }

  test("e6 as-of join: exactly one shuffle (user_id), no join node") {
    val p = plan(graft.queries.Events.e6AsofJoin(spark, dir))
    assert(!p.contains("Join"), s"as-of must not plan a join:\n${p.take(500)}")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles:\n${p.take(600)}")
  }

  test("t7 rolling hash: codegen'd expression over a pruned scan, no shuffle") {
    val p = plan(graft.queries.TextDedup.t7RollingFingerprint(spark, dir))
    assert(p.contains("rolling_hash"), p.take(400))
    assert(!p.contains("Exchange hashpartitioning"), p.take(600))
    val readSchema = p.split("ReadSchema: ")(1).split("\n")(0)
    assert(readSchema.contains("doc_id") && readSchema.contains("text")
      && !readSchema.contains("lang"), s"expected pruned documents read: $readSchema")
  }

  test("s11: PQ scoring joins broadcast; the float payload never crosses a hash exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val root = physicalRoot(Embeddings.s11PqAdc(spark, dir))
    val p = root.toString
    // codebook, LUT and re-rank sides all reach the corpus as broadcasts
    assert(root.collect { case j: BroadcastHashJoinExec => j }.length >= 2,
      p.take(1200))
    // code assignment + LUT quantization use the codegen'd float×double fold
    assert(p.contains("float_double_vec_dot"), p.take(1200))
    // the per-(vector, subspace) argmin runs PER ROW through the
    // codegen'd pq_argmin kernel over the driver-collected
    // quantizer-bounded codebook (r18 — the r17 min(struct) hash agg's
    // exchange deduped nothing because each group came from one input
    // row, and the r16 rank-1 window sorted codebook× rows through an
    // exchange), so the plan must carry the kernel projection and
    // NEITHER a vec_id-keyed window NOR a (vec_id, sub) aggregate
    assert(p.contains("pq_argmin"), p.take(1200))
    assert(!p.contains("partial_min"), p.take(1200))
    assert(!p.contains("windowspecdefinition(vec_id"), p.take(1200))
    assert(!p.contains("HashAggregate(keys=[vec_id"), p.take(1200))
    // saltedTopK phase 1: the rank window partitions on (q_id, salt) —
    // the salt expression itself folds into the aggregate projection as
    // `_w0`, so pin the two-key window spec rather than the pmod text
    assert(p.contains("__rk1") &&
      "windowspecdefinition\\(q_id#\\d+L, _w0".r.findFirstIn(p).isDefined,
      s"ADC top-k must be the salted two-phase rank:\n${p.take(1200)}")
    // the PQ promise: scoring runs over codes, never the vectors — no
    // hash exchange anywhere carries the embedding payload
    val leakyEx = root.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] &&
          e.output.exists(_.name.contains("emb")) => e
    }
    assert(leakyEx.isEmpty,
      s"embedding payload crossed a hash exchange:\n${leakyEx.mkString("\n").take(800)}")
  }

  test("d15: consumes the materialized pair table; split sides broadcast; shingles never re-derived") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val root = physicalRoot(TextDedup.d15SplitLeakage(spark, dir))
    val pairScans = root.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("graft-pairs")) => s
    }
    assert(pairScans.length == 1, s"want 1 pair-parquet scan:\n${root.toString.take(1200)}")
    assert(!root.toString.contains("shingle"),
      "d15 must not re-derive shingles — that is dupPairs' job, done once")
    assert(root.collect { case j: BroadcastHashJoinExec => j }.length == 2,
      s"both split sides must broadcast:\n${root.toString.take(1200)}")
    val hashEx = root.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashEx.isEmpty, s"unexpected hash exchange:\n${hashEx.mkString("\n").take(800)}")
  }

  test("t17: per-doc bigram dedup is map-side; no window, no cartesian") {
    val root = physicalRoot(TextDedup.t17NgramNovelty(spark, dir))
    val p = root.toString
    // the distinct-bigram set is array_distinct BEFORE the explode — a
    // (doc, bigram) pre-aggregation would be a second corpus shuffle
    assert(p.contains("array_distinct"), p.take(1200))
    assert(root.collect { case n if n.nodeName.startsWith("Window") => n }.isEmpty,
      s"t17 must not use windows:\n${p.take(1200)}")
    assert(root.collect { case n if n.nodeName.contains("Cartesian") => n }.isEmpty,
      s"t17 must not cartesian:\n${p.take(1200)}")
  }

  test("p10: card aggregation is two-phase partial; no window, no single-task funnel") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val root = physicalRoot(TextDedup.p10DatasetCard(spark, dir))
    val p = root.toString
    // map-side partial aggregation on (split, lang) before the exchange
    assert(p.contains("partial_count"), p.take(1200))
    assert(root.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }.isEmpty, s"single-task funnel in p10:\n${p.take(1200)}")
    assert(root.collect { case n if n.nodeName.startsWith("Window") => n }.isEmpty,
      s"p10 must not use windows:\n${p.take(1200)}")
  }

  test("hive-partitioned writes prune partitions at the scan") {
    import org.apache.spark.sql.functions.col
    val dir2 = java.nio.file.Files.createTempDirectory("graft-part")
    try {
      // lake layout: documents partitioned by lang — the layout a 100-TB
      // corpus uses so per-language pipelines read 1/n of the data
      graft.Tables.documents(spark, dir)
        .write.partitionBy("lang").parquet(s"$dir2/docs_by_lang")
      val q = spark.read.parquet(s"$dir2/docs_by_lang")
        .filter(col("lang") === "en")
        .select(col("doc_id"))
      val p = plan(q)
      assert(p.contains("PartitionFilters: [isnotnull(lang"),
        s"lang filter must prune partitions, not scan+filter:\n${p.take(600)}")
      val read = q.count()
      val expected = graft.Tables.documents(spark, dir)
        .filter(col("lang") === "en").count()
      assert(read == expected && read > 0)
    } finally deleteRecursively(dir2)
  }

  test("bucketed tables co-locate a sort-merge join: no hash-partition exchange") {
    import org.apache.spark.sql.functions.col
    val whPath = java.nio.file.Files.createTempDirectory("graft-bucketed")
    val wh = whPath.toString
    try {
      // the pre-partitioning pattern a 100-TB deployment would use for
      // its recurring join keys: bucket both fact tables on the key at
      // write time, and the join needs no shuffle at read time
      graft.Tables.orders(spark, dir)
        .write.format("parquet").bucketBy(8, "o_custkey")
        .option("path", s"$wh/orders_b").saveAsTable("orders_b")
      graft.Tables.customer(spark, dir)
        .write.format("parquet").bucketBy(8, "c_custkey")
        .option("path", s"$wh/cust_b").saveAsTable("cust_b")
      // merge hint: keep the small test tables off the broadcast path so
      // the assertion exercises the shuffle-avoidance, not broadcast
      val joined = spark.table("orders_b").hint("merge")
        .join(spark.table("cust_b"), col("o_custkey") === col("c_custkey"))
      val p = plan(joined)
      assert(p.contains("SortMergeJoin"), p.take(400))
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${p.take(800)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS cust_b")
      // external tables: DROP leaves the files — remove the dir too
      deleteRecursively(whPath)
    }
  }

  test("d19: bloom probe is the codegen'd might_contain; only the hit branch joins") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val root = graft.queries.Ingest.d19BloomDedup(spark, dir)
        .queryExecution.executedPlan
      val p = root.toString
      // the probe is the native expression (codegen), never a UDF
      assert(p.contains("might_contain"), p.take(1200))
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
        p.take(800))
      // exactly ONE join in the whole plan: the bloom-hit remnant's
      // exact check — the miss branch reaches the union join-free
      val joins = root.collect {
        case j: BroadcastHashJoinExec => j
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }
      assert(joins.length == 1, s"want 1 join, got ${joins.length}:\n${p.take(1200)}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache()
    }
  }

  test("runtime bloom filter injects on a selective dim join (the q2/q3 shape at lake scale)") {
    // At 100 TB the fact side of every dim join wants a runtime filter:
    // Catalyst's InjectRuntimeFilter builds a bloom from the filtered
    // dim keys and pushes might_contain into the fact scan. The probe
    // pins that the engine's join shapes QUALIFY for the rewrite (the
    // size thresholds are tuned for clusters, so they're relaxed here —
    // the assertion is about plan eligibility, not tiny-file sizing).
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions.{col, count, lit}
      val part = graft.Tables.part(spark, dir)
        .filter(col("p_brand") === "Brand#12")
      val li = graft.Tables.lineitem(spark, dir)
      val joined = li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"runtime bloom filter must inject into the fact side:\n${p.take(1200)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("v3/v4/v5: survival curves shuffle only on the segment key — no corpus funnel") {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the distributed plans: the queries themselves finish on the driver
      Seq(graft.queries.Survival.v3CumHazard.plan(spark, dir),
          graft.queries.Survival.v4KaplanMeier.plan(spark, dir),
          graft.queries.Survival.v5LogRank.plan(spark, dir)).foreach { df =>
        val root = df.queryExecution.executedPlan
        val singles = root.collect {
          case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
        }
        assert(singles.isEmpty,
          s"no single-partition funnel:\n${singles.mkString.take(600)}")
        val hashed = root.collect {
          case e: ShuffleExchangeExec => e.outputPartitioning match {
            case h: HashPartitioning => Some(h)
            case _ => None
          }
        }.flatten
        assert(hashed.nonEmpty &&
          hashed.forall(_.expressions.exists(_.toString.contains("seg"))),
          s"every hash exchange keyed on seg:\n${hashed.mkString("\n").take(600)}")
        // the prefix-sum windows run per segment, never globally
        val p = root.toString
        assert(p.contains("windowspecdefinition(seg"), p.take(1200))
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("p14: stratum ranking is two-phase WindowGroupLimit — a giant stratum never funnels one task") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val root = TextDedup.p14StratifiedSample(spark, dir)
        .queryExecution.executedPlan
      val p = root.toString
      // two WindowGroupLimit passes (partial before the exchange, final
      // after) bound every task's buffer at k, salt included in phase 1
      assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p.take(1200))
      // the only SinglePartition exchanges are the prefix-sum machinery's
      // driver-sized tables (per-pid totals / corpus total), never the
      // document frame: each must sit above an aggregate keyed on pid or
      // an all-column-pruned count
      val singles = root.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
      assert(singles.forall(e =>
        e.toString.contains("HashAggregate(keys=[pid") ||
          e.toString.contains("HashAggregate(keys=[], ")),
        s"global funnels must be driver-sized tables:\n${
          singles.map(_.toString.take(300)).mkString("\n---\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("e15: scored frame rides the cached profile table — no events re-scan, windows keyed on pid") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val root = graft.queries.Events.e15RfmSegments(spark, dir)
        .queryExecution.executedPlan
      val p = root.toString
      // the quintile passes consume the persisted profile partitions
      // (materialized ONCE by the scorer's eager count): the corpus
      // parquet must not appear anywhere in the final plan
      val scans = root.collect {
        case s: FileSourceScanExec if s.toString.contains("events") => s
      }
      assert(scans.isEmpty,
        s"corpus must not re-scan, got ${scans.length}:\n${p.take(800)}")
      assert(p.contains("InMemoryTableScan"), p.take(1200))
      // quintile ranking windows stay keyed on pid (the e15 scorer
      // inherits the p3 prefix-sum shape), and the only global funnels
      // are the driver-sized offsets/total tables
      assert(p.contains("windowspecdefinition(pid"), p.take(1200))
      val singles = root.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
      assert(singles.forall(e =>
        e.toString.contains("HashAggregate(keys=[pid") ||
          e.toString.contains("HashAggregate(keys=[], ")),
        s"global funnels must be driver-sized tables:\n${
          singles.map(_.toString.take(300)).mkString("\n---\n")}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache()
    }
  }

  test("e22: native session windows plan session-merging aggregation, one user exchange") {
    import graft.queries.Events
    // e22, e2 and e25 all sessionize on the engine's session-merge
    // operator, not a lag window + prefix sum
    val plans = Seq("e22" -> Events.e22NativeSessions(spark, dir),
        "e2" -> Events.e2Sessionize(spark, dir),
        "e25" -> Events.e25SessionPairs(spark, dir))
      .map { case (q, df) => q -> plan(df) }.toMap
    plans.foreach { case (q, p) =>
      assert(p.contains("MergingSessions"), s"$q:\n${p.take(3000)}")
      assert(!p.contains("RunningWindowFunction") && !p.contains(" lag("),
        s"$q: no hand-rolled window sessionization:\n${p.take(3000)}")
    }
    // e22 and e2 shuffle on the user key once (plus the presentation
    // sort): e2 numbers only its 3000 kept rows, with no exchange
    Seq("e22", "e2").foreach { q =>
      val exchanges = "Exchange hashpartitioning\\(user_id".r
        .findAllIn(plans(q)).length
      val all = "Exchange hashpartitioning".r.findAllIn(plans(q)).length
      assert(exchanges == 1 && all == 1,
        s"$q: want 1 hash exchange on user_id, got $all:\n${plans(q).take(3000)}")
    }
  }

  test("q31: scalar subqueries decorrelate to grouped aggregates; COUNT compensation in-plan") {
    val p = plan(graft.queries.Relational.q31ScalarSubqueries(spark, dir))
    // no per-outer-row re-execution of any subquery
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
    // the COUNT-bug guard: empty groups project 0, not null
    assert(p.contains("alwaysTrue"), "count compensation missing:\n" + p.take(800))
    // all three rewritten joins are outer (absent groups survive)
    assert("LeftOuter".r.findAllIn(p).length == 3, p.take(800))
    // the selective subquery's predicate reaches its own scan
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,400000.0)")
      || p.contains("GreaterThan(o_totalprice,400000.0)"), p.take(800))
  }

  test("t22: sketch leg aggregates partially — objHashAggregate sketches, no token shuffle on the sketch side") {
    val p = plan(graft.queries.TextDedup.t22HeavyHitters(spark, dir))
    // the frequent-items sketch rides partial ObjectHashAggregate:
    // per-partition sketches merge after a single-row exchange
    assert(p.contains("ObjectHashAggregate"), p.take(1200))
    assert(p.contains("approx_top_k"), p.take(1200))
  }

  test("m11: banded Hamming is an equi-join on (band, bb) scoring bit_count — no cartesian, no substring fold") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // synthetic hash frame: plan shape is hash-frame-down, decode-free
    val base = "10011010" * 8
    val hashes = (0 until 60).map { i =>
      val b = base.toCharArray; b(i % 64) = if (b(i % 64) == '0') '1' else '0'
      (i.toLong, new String(b))
    }.toDF("doc_id", "phash")
    val df = graft.multimodal.Multimodal.phashNearDupOf(hashes)
    val p = plan(df)
    // candidate generation must be a real equi-join on the band keys —
    // never a nested-loop over all hash pairs
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
    assert(p.contains("band"), p.take(1200))
    // distance is the codegen'd popcount of the packed-long xor, not an
    // interpreted 128-substring aggregate fold
    assert(p.contains("bit_count"), p.take(1200))
    assert(!p.contains("aggregate(sequence"), p.take(1200))
  }

  test("p21: terciles never plan a window NTILE — closed form over broadcast offsets") {
    val p = plan(TextDedup.p21PerplexityBuckets(spark, dir))
    // a `ntile(3) OVER (PARTITION BY lang ...)` would funnel each
    // language into one task; the closed form must keep it out of the
    // physical plan entirely
    assert(!p.toLowerCase.contains("ntile"), p.take(1200))
    // the rank's offset/total side tables join broadcast, and the
    // per-partition row_number windows on (pid, lang) — task-local data
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(p.contains("row_number"), p.take(1200))
  }

  test("p22: global decile is rank-join shaped, no single-task window over the corpus") {
    val p = plan(TextDedup.p22QualityDupLift(spark, dir))
    assert(!p.toLowerCase.contains("ntile"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("t26: fertility reads only (lang, text); one partial-agg shuffle") {
    val df = TextDedup.t26TokenFertility(spark, dir)
    val p = plan(df)
    val readSchema = p.split("ReadSchema: ")(1).split("\n")(0)
    assert(readSchema.count(_ == ':') <= 2,
      s"expected a 2-column documents read, got $readSchema")
    // partial → final agg on the 5-value lang key, plus the result sort:
    // no other shuffle may appear
    assert("Exchange".r.findAllIn(p).length <= 2, p.take(1200))
    assert(p.contains("partial_"), p.take(1200))
  }

  test("e26: moment agg rides the lag window's user_id exchange — no second shuffle") {
    val p = plan(graft.queries.Events.e26BotRegularity(spark, dir))
    // window hashpartition(user_id) + the presentation range sort only
    assert("Exchange".r.findAllIn(p).length <= 2, p.take(1500))
    assert(p.contains("partial_"), p.take(1200))
    // the verdict is in-plan decimal arithmetic, not a UDF
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      p.take(1200))
  }

  test("t28: readability reads only (doc_id, lang, text); no shuffle before the sort") {
    val df = TextDedup.t28Readability(spark, dir)
    val p = plan(df)
    val readSchema = p.split("ReadSchema: ")(1).split("\n")(0)
    assert(readSchema.count(_ == ':') <= 3,
      s"expected a 3-column documents read, got $readSchema")
    assert("Exchange".r.findAllIn(p).length <= 1, p.take(1200))
  }

  test("s23: greedy rounds run per-query inside one MapGroups task") {
    val p = plan(Embeddings.s23MmrDiversify(spark, dir))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // r17: the selection loop is a flatMapGroups over the (q·k)-bounded
    // pool — no pair-matrix join, no per-round checkpoint pyramid; the
    // pool re-acquires its vectors through a broadcast join only
    assert(p.contains("MapGroups"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
  }

  test("p25: the temperature sweep is one scan — three verdicts map-side") {
    val df = TextDedup.p25TempSweep(spark, dir)
    val p = plan(df)
    val readSchema = p.split("ReadSchema: ")(1).split("\n")(0)
    assert(readSchema.count(_ == ':') <= 2,
      s"expected a 2-column documents read, got $readSchema")
    // no pow anywhere — the λ legs are sqrt compositions
    assert(!p.toLowerCase.contains("pow"), p.take(1200))
  }

  test("e29: entropy rides two partial-agg exchanges, nothing global") {
    val p = plan(graft.queries.Events.e29TypeEntropy(spark, dir))
    assert("Exchange".r.findAllIn(p).length <= 3, p.take(1500))
    assert(p.contains("partial_"), p.take(1200))
    assert(!p.toLowerCase.contains("ntile"), p.take(800))
  }

  test("v12: Newton rounds truncate lineage like s23 — final plan is a checkpoint read") {
    val p = plan(graft.queries.Survival.v12CoxHazardRatio.plan(spark, dir))
    assert(p.contains("Scan ExistingRDD"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("v1, v3–v14: the cohort queries' plans are local relations — " +
      "no exchange, no file scan") {
    graft.queries.Survival.cohortQueries.foreach { case (name, q) =>
      val df = q(spark, dir)
      val p = plan(df)
      assert(df.queryExecution.analyzed.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation], s"$name:\n$p")
      assert(p.contains("LocalTableScan") && !p.contains("Exchange"), s"$name:\n$p")
    }
  }

  test("t27: one gram-key shuffle serves all three orders; union is map-side") {
    val p = plan(TextDedup.t27NgramEntropy(spark, dir))
    // the three n-gram legs union BEFORE the (source, n, gram) agg —
    // hashpartitioning on the gram key must appear, and no leg may sort
    // or window on its own
    assert(p.contains("Union"), p.take(1200))
    assert(!p.toLowerCase.contains("ntile") && !p.contains("row_number"),
      p.take(1200))
    // gram-count agg + 15-row rollup + result sort — map-side partials
    assert(p.contains("partial_"), p.take(1200))
  }

  test("winnow consumers share the run-scoped selection asset: no re-hash " +
      "in d30/d9w/winnowPairs plans (r12 verdict, directive 2)") {
    // force the asset to exist, then inspect CONSUMER plans: each must
    // be a parquet scan of the materialized selection — any md5 or
    // token explode in a consumer means it re-ran the corpus hash pass
    TextDedup.winnowSelectionAsset(spark, dir).count()
    val consumers = Seq(
      "d30" -> TextDedup.d30Winnowing(spark, dir),
      "d9w" -> TextDedup.d9wContainmentWinnow(spark, dir),
      "winnowPairs" -> TextDedup.winnowPairs(spark, dir))
    consumers.foreach { case (name, df) =>
      val p = plan(df)
      assert(!p.contains("md5") && !p.toLowerCase.contains("posexplode"),
        s"$name re-hashes the corpus instead of reading the asset:\n" +
          p.take(1500))
      assert(p.contains("graft-winnowsel") || p.contains("winnowpairs"),
        s"$name does not scan a run-scoped winnow asset:\n${p.take(1500)}")
      // the pair join buckets by fingerprint — any EQUI join is fine
      // (AQE may broadcast the small side at spec scale); a nested-loop
      // or cartesian means fp fell out of the join keys
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"), s"$name:\n${p.take(1500)}")
    }
  }

  test("d34w probe: increment selections join the MATERIALIZED standing " +
      "postings — kernel selection, no raw-shingle machinery, no " +
      "cartesian (r13 verdict, directive 1)") {
    val (post, _) = TextDedup.d34wStandingAssets(spark, dir)
    val inc = Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0)
    val incSel = TextDedup.winnowLocalSelect(inc,
      TextDedup.WinnowW, TextDedup.WinnowWideHex)
    val p = plan(incSel.as("i").join(post.as("s"),
      org.apache.spark.sql.functions.col("i.fp") ===
        org.apache.spark.sql.functions.col("s.fp")))
    // the standing side is the run-scoped parquet asset (production's
    // checkpointed winnow index), never a recomputed standing selection
    assert(p.contains("graft-wstanding"), p.take(1500))
    // the increment side is the codegen'd kernel pass — no md5 string
    // function, no token posexplode, no window sort over tokens
    assert(!p.contains("md5(") && !p.toLowerCase.contains("posexplode"),
      p.take(1500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p.take(1500))
  }

  test("d10w/d12w decontamination twins: the pair leg reads the " +
      "tagged-pair asset, the score leg is one kernel projection — no " +
      "token-scale explode or doc_id exchange in either plan (r14/r15)") {
    TextDedup.winnowTaggedPairs(spark, dir).count()
    val p10 = plan(TextDedup.d10wDecontaminationWinnow(spark, dir))
    // both direction legs scan the run-scoped tagged-pair parquet (r15)
    // — no fp self-join, no split hash, no token explode in the
    // published query's own plan
    assert(p10.contains("graft-wtagpairs"), p10.take(1500))
    assert(!p10.toLowerCase.contains("posexplode"), p10.take(1500))
    assert(!p10.contains("md5"), p10.take(1500))
    assert(!p10.contains("SortMergeJoin") && !p10.contains("HashJoin"),
      p10.take(1500))
    assert(!p10.contains("CartesianProduct") &&
      !p10.contains("BroadcastNestedLoop"), p10.take(1500))
    // p26w reads the SAME asset instead of re-invoking d10w (r14
    // verdict directive 3): no fp self-join node, no inherited global
    // sort below its aggregate — its only join is the doc-scale LEFT
    // join onto documents
    val p26 = plan(TextDedup.p26wContaminationWinnow(spark, dir))
    assert(p26.contains("graft-wtagpairs"), p26.take(1500))
    assert(!p26.contains("graft-winnowsel"),
      "p26w re-ran the fp self-join instead of reading the tagged-pair " +
        "asset:\n" + p26.take(1500))
    assert(!p26.toLowerCase.contains("posexplode"), p26.take(1500))
    val p12 = plan(TextDedup.d12wOverlapWinnow(spark, dir))
    // d12w's selections compute inside the kernel projection; the split
    // attaches by doc-scale JOIN (a doc-level expression in the
    // generator's own select re-evaluates per exploded row — the
    // measured 17× r14 lesson), and no token-scale machinery appears
    assert(!p12.toLowerCase.contains("posexplode"), p12.take(1500))
    // the window-twin tell: a lead() over a token-scale sort
    assert(!p12.contains("lead("), p12.take(1500))
  }

  test("winnow asset build: per-doc array math — NO token-scale doc_id " +
      "exchange anywhere in the build plan (r13 scale rewrite)") {
    val p = plan(TextDedup.winnowCapped(
      TextDedup.winnowLocalSelect(Tables.documents(spark, dir),
        TextDedup.WinnowW, TextDedup.WinnowWideHex),
      TextDedup.WinnowSweepCap))
    // the window pipeline paid posexplode → hashpartitioning(doc_id) →
    // sort over EVERY token; the array build's only exchange is the
    // fingerprint rank cap over the per-doc-deduped selection frame
    assert(!"Exchange hashpartitioning\\(doc_id".r.findFirstIn(p).isDefined,
      p.take(1500))
    assert(!p.toLowerCase.contains("posexplode"), p.take(1500))
    val fpExchanges = "Exchange hashpartitioning\\(fp".r.findAllIn(p).length
    assert(fpExchanges == 1, s"expected 1 fp exchange, got $fpExchanges\n" +
      p.take(1500))
  }

  test("s27: the corpus never shuffles for scales/queries; ranks share the q_id exchange") {
    val p = plan(Embeddings.s27Int8Recall(spark, dir))
    // the 1-row scale vector and the query set join by broadcast — the
    // corpus side must reach the dot computation without an exchange
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(1500))
    // the two top-1 windows partition identically on q_id, and the
    // agree-rollup groups by q_id too: ONE real exchange serves all
    val qidExchanges = "Exchange hashpartitioning\\(q_id".r.findAllIn(p).length
    assert(qidExchanges == 1,
      s"expected 1 real q_id exchange, got $qidExchanges\n${p.take(1500)}")
  }

  test("m16: histogram collapses map-side; binary never reaches an exchange") {
    val p = plan(graft.multimodal.Multimodal.m16LumHistogram(spark, dir))
    assert(p.contains("partial_sum"), p.take(1200))
    // the exchange carries only (media_type, bin, count) — any 'content'
    // column in an exchange means payload bytes are shuffling
    val afterExchange = p.split("Exchange").drop(1).mkString
    assert(!afterExchange.contains("content"), p.take(1500))
  }

  test("p30: packing aggregates ride the groupByKey exchange; one source agg") {
    val p = plan(TextDedup.p30ContextPacking(spark, dir))
    // mapGroups shuffles once on the (source, shard) key; the per-source
    // rollup then partial-aggs shard rows — no second wide shuffle of
    // doc-level rows
    assert(p.contains("partial_sum"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("t31: growth checkpoints ride the pid-keyed prefix sum — no per-source single-task window") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val root = try TextDedup.t31HeapsLaw(spark, dir).queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val p = root.toString
      // both cumulative windows key on (source, pid) — the corpus never
      // funnels a whole source into one task
      assert(p.contains("windowspecdefinition(source"), p.take(1200))
      assert(p.contains("pid"), p.take(1200))
      // offsets reach the checkpoint frame as a broadcast
      assert(p.contains("BroadcastHashJoin"), p.take(1200))
      val singles = root.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
      assert(singles.length <= 3,
        s"funnels must be the ≤nParts offset tables:\n${p.take(1200)}")
    } finally spark.catalog.clearCache()
  }

  test("s28: anisotropy is two partial aggs — micro dims shuffle, the float payload doesn't") {
    val p = plan(Embeddings.s28Anisotropy(spark, dir))
    assert(p.contains("partial_"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
    p.split("\n").filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("embedding"), s"payload shuffled: $line")
    }
  }

  test("t32: Simpson is one token shuffle + a source rollup, no window") {
    val root = physicalRoot(TextDedup.t32SimpsonDiversity(spark, dir))
    val p = root.toString
    assert(p.contains("partial_"), p.take(1200))
    assert(root.collect { case n if n.nodeName.startsWith("Window") => n }.isEmpty,
      s"t32 must not use windows:\n${p.take(1200)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2, p.take(1200))
  }

  test("e34: spine joins keyed; moments partial-agg; only the 1-row span broadcasts nested-loop") {
    val root = physicalRoot(graft.queries.Events.e34DiurnalAutocorr(spark, dir))
    val p = root.toString
    assert(p.contains("partial_"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // the only nested-loop is the 1-row (h0, h1) span fanning the type
    // list — every corpus-sized join must be keyed
    val bnl = root.collect {
      case n if n.nodeName.contains("BroadcastNestedLoop") => n }
    assert(bnl.length <= 1, s"unexpected nested loops:\n${p.take(1200)}")
  }

  test("m18: reads the phash asset — no decode, no payload, no re-derivation") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = physicalRoot(
      graft.multimodal.Multimodal.m18PhashBitBalance(spark, dir))
    val assetScans = root.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("graft-phash")) => s
    }
    assert(assetScans.length == 1,
      s"want 1 phash-asset scan:\n${root.toString.take(1200)}")
    assert(!root.toString.contains("content"),
      "m18 must never touch payload bytes")
  }

  test("d31/p32: compose the materialized dedup assets — no shingle re-derivation") {
    for (df <- Seq(TextDedup.d31CrossLangPairs(spark, dir),
        TextDedup.p32DedupEpochs(spark, dir))) {
      val p = plan(df)
      assert(!p.contains("shingle"),
        s"must read the run-scoped assets, not re-shingle:\n${p.take(800)}")
    }
  }

  test("p29: the tau sweep is one corpus scan fanned by generator explode") {
    val p = plan(TextDedup.p29TemperatureMix(spark, dir))
    // documents must be scanned once — the sweep explodes a
    // |sources|-row aggregate, never re-reads the corpus per tau
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, got $scans\n${p.take(1200)}")
    assert(p.contains("Generate explode"), p.take(1200))
  }

  test("d35/p32b: compose the materialized assets — no shingle " +
      "re-derivation, no winnow re-hash") {
    for (df <- Seq(TextDedup.d35ClusterSizeProfile(spark, dir),
        TextDedup.p32bDedupEpochsWinnow(spark, dir))) {
      val p = plan(df)
      assert(!p.contains("shingle"),
        s"must read the run-scoped assets, not re-shingle:\n${p.take(800)}")
      assert(!p.contains("md5"),
        s"must read the pair asset, not re-hash:\n${p.take(800)}")
    }
  }

  test("q34: both dimension joins broadcast; share window keys on the " +
      "nation aggregate, never sort-merge") {
    val p = plan(Relational.q34SupplierHhi(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2, p.take(1000))
    assert(!p.contains("SortMergeJoin"), p.take(1000))
    assert(p.contains("windowspecdefinition(n_name"), p.take(1200))
    assert(p.contains("partial_"), p.take(1200))
  }

  test("e36: one user-keyed exchange feeds the lag; the share window " +
      "rides the bounded type aggregate") {
    val p = plan(graft.queries.Events.e36GapHistogram(spark, dir))
    val userEx = p.split("\n")
      .filter(l => l.contains("Exchange hashpartitioning")
        && l.contains("user_id"))
    assert(userEx.length == 1,
      s"want exactly one user_id exchange:\n${p.take(1200)}")
    assert(p.contains("partial_"), p.take(1200))
    assert(p.contains("windowspecdefinition(event_type"), p.take(1200))
  }

  test("d6b: the hot-posting rank cap is plan-free when the valve cap " +
      "already implies it (no Window over the posting index)") {
    // gate corpora: stopShingleCap(n) ≤ HotPostingCap, so the rank
    // guard must short-circuit — a shingle-partitioned row_number here
    // would mean every posting pays a sort-shuffle to enforce a cap
    // that cannot bind (the per-doc lead() windows of shingling itself
    // are fine and expected)
    val p = plan(TextDedup.d6bJaccardCapped(spark, dir))
    assert(!p.contains("row_number"), p.take(1200))
    assert(!p.contains("windowspecdefinition(shingle"), p.take(1200))
  }

  test("capHotPostings: only over-cap shingles' postings enter the " +
      "window; cold postings bypass via broadcast anti-join") {
    import spark.implicits._
    val idx = ((1L to 50L).map(id => (id, "hot")) ++
      (1L to 50L).map(id => (id, s"cold $id"))).toDF("doc_id", "shingle")
    val p = plan(TextDedup.capHotPostings(idx, 8L))
    assert(p.contains("Window"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    // the union reunites the two legs
    assert(p.contains("Union"), p.take(1200))
  }
}
