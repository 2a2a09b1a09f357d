package graft
import graft.app.Experiment.jsonValue
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric","value","unit","queries","sf"}.
  *
  * The session is [[Measure.session]]'s, the 100 TB posture scaled to
  * one node: shuffle partitions = cores (not 200 — small local
  * shuffles), AQE on (runtime coalescing + skew splitting), broadcast
  * threshold left at default so the dimension joins in the queries plan
  * as broadcasts.
  */
object Bench {

  /** The measurement + reporting half of the bench, factored from `main`
    * so `BenchSpec` can prove the error contract on an injected query
    * set: a throwing query must land in `errors`, be excluded from every
    * timing aggregate, and never surface as a fast timing.
    */
  case class Output(headline: String, full: String,
      errors: Map[String, String], summary: String)

  def runBench(spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      timedPasses: Int = 5): Output = {
    // A query that throws must NOT silently bench as a fast timing —
    // round 8's 24 analysis failures timed at ~0.05 s each and made the
    // total look 20 s faster. Record the error, exclude the query from
    // every aggregate, and fail the run loudly (non-zero exit) at the end.
    def pass(): Seq[(String, Double, Option[String])] =
      queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None } catch {
          case e: Throwable =>
            Some(e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(200))
        }
        val elapsed = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache() // per-query persists must not leak
        (name, elapsed, err)
      }

    // One untimed warmup pass (Janino codegen compilation + JVM JIT) —
    // measured warmup inflates first-query numbers 5-10× and is pure JVM
    // startup, not plan cost. Then FIVE timed interleaved passes. Two
    // aggregates are reported: the per-query MIN of the first three
    // (round-comparable, steal-resistant when a burst hits ≤1 pass) and
    // the per-query MEDIAN of all five — a burst spanning every pass
    // inflates the min silently but leaves median ≈ min, so divergence
    // between the two aggregates is the tell that the box, not the plan,
    // was slow (round-2's recorded d3/d5 were exactly this artifact).
    pass()
    val rawPasses = (1 to timedPasses).map { _ =>
      spark.sqlContext.clearCache() // no pass donates cached inputs
      // pass-boundary GC: r7→r8 showed 3–6× per-query swings with zero
      // code change when one pass's garbage collected inside another's
      // timed window — collect between passes so each starts from the
      // same heap posture (the run-scoped parquet assets live on disk,
      // not heap, and are built during the warmup pass)
      System.gc()
      pass()
    }
    // First error message per query across all passes; a query that
    // errored in ANY pass is excluded from every timing aggregate.
    val errors: Map[String, String] = rawPasses.flatten
      .collect { case (n, _, Some(e)) => n -> e }
      .groupBy(_._1).map { case (n, es) => n -> es.head._2 }
    val passes = rawPasses.map(_.collect {
      case (n, t, None) if !errors.contains(n) => n -> t
    }.toMap)
    val names = passes.head.keys.toSeq.sorted
    val best = names.map(n => n -> passes.take(3).map(_(n)).min)
    val median = names.map { n =>
      n -> passes.map(_(n)).sorted.apply(timedPasses / 2)
    }

    // 3 decimal places (1 ms grain) — full-precision doubles double the
    // line length for no information, and the stdout line must stay small
    // enough to survive the driver's log-tail capture (see below)
    def r3(v: Double): String = // Locale.ROOT: never a decimal comma
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def r2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def obj(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // Stdout keys are the unique id prefix ("q16b_approx_percentiles" →
    // "q16b" — the contract's own example form) at 10 ms grain: the
    // driver's log-tail budget is 2000 chars and the full-name map is
    // ~3.9 KB at 157 queries, unparseable for three rounds running.
    // Short keys + 2 decimals ≈ 1.7 KB. Collision ⇒ that key keeps its
    // full name (correctness over compactness); full names + 1 ms grain
    // always live in bench_result.json.
    def shortKey(n: String): String = n.split("_")(0)
    val collides: Set[String] = (names ++ errors.keys)
      .groupBy(shortKey).filter(_._2.size > 1).values.flatten.toSet
    def objShort(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) =>
        val key = if (collides(k)) k else shortKey(k)
        "\"" + key + "\":" + r2(v)
      }.mkString("{", ",", "}")
    val passTotals = passes.map(p => names.map(p).sum)
      .map(r3).mkString("[", ",", "]")
    // The headline total is the sum of the ROUNDED per-query values, so
    // a consumer cross-checking sum(queries) against "value" sees an
    // exact match (full-precision detail lives in bench_result.json).
    val total = best.map(kv => r3(kv._2).toDouble).sum
    val totalMedian = median.map(_._2).sum
    // Two artifacts from one run:
    //  - stdout: ONE line with the BARE contract fields only
    //    ({"metric","value","unit","queries","sf"}) with short-id keys,
    //    ~1.7 KB. The driver captures a 2000-char log TAIL (measured from
    //    BENCH_r06: "tail" length exactly 2000) and sbt's trailing
    //    "[success] Total time" line eats ~80 of it — r03–r06 all clipped
    //    and parsed null. Nothing beyond the contract goes on stdout.
    //  - bench_result.json: the full per-pass detail, committed to the
    //    repo each round so the complete artifact survives regardless.
    val sfShort = sfDir.replaceAll(".*sf", "") // "/root/testdata/sf0.1" → 0.1
    val sfJson =
      if (sfShort.matches("""\d+(\.\d+)?""")) sfShort else "\"" + sfDir + "\""
    // stdout carries short query ids + exception class only (same
    // budget discipline as objShort — full names and messages would
    // blow the 2000-char tail in a mass-failure round, clipping the
    // very JSON that reports the failure); everything goes to the file.
    def errObj(key: String => String, f: String => String): String =
      errors.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + key(k) + "\":" + jsonValue(f(v)) }
        .mkString("{", ",", "}")
    val errShort = if (errors.isEmpty) "" else {
      val short = errObj(k => if (collides(k)) k else shortKey(k),
        _.takeWhile(_ != ':'))
      s""","errors":$short"""
    }
    val errFull =
      if (errors.isEmpty) "" else s""","errors":${errObj(identity, identity)}"""
    val headline = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${objShort(best)},"sf":$sfJson$errShort}"""
    val full = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${obj(best)},"sf":"$sfDir","warmup_passes":1,"timed_passes":$timedPasses,"agg":"per-query min of first 3","total_median5":${r3(totalMedian)},"queries_median5":${obj(median)},"pass_totals":$passTotals,"queries_per_pass":${passes.map(p => obj(names.map(n => n -> p(n)))).mkString("[", ",", "]")}$errFull}"""
    // r9 post-mortem: at 202 queries even the short-key headline outgrew
    // the driver's 2000-char log tail and BENCH_r09 recorded
    // "parsed": null. A compact summary printed AFTER the full line is
    // what the tail parse actually lands on. r10 post-mortem: the ~100-char
    // summary survived complete in the captured tail and STILL parsed
    // null — the remaining suspects are the missing "queries" contract
    // key and sbt's "[info] " log prefix. So the summary now carries the
    // EXACT headline schema with a bounded top-k slowest "queries" map
    // (~400 chars, tail-safe at any query count), and build.sbt routes
    // forked stdout unprefixed (run / outputStrategy := StdoutOutput).
    val topK = best.sortBy(-_._2).take(20).sortBy(_._1)
    // tm5 (median-of-5 total) + the min/max pass totals ride the
    // tail-captured summary so every BENCH_r{N}.json carries the
    // variance band, not just bench_result.json (r13 verdict,
    // directive 3): min-agg vs median divergence is the box-noise
    // tell, and the pass spread bounds what a round-over-round total
    // drift can mean before anyone bisects a query.
    val passTotalNums = passes.map(p => names.map(p).sum)
    val summary = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${objShort(topK)},"sf":$sfJson,"n":${names.size},"errors":${errors.size},"tm5":${r2(totalMedian)},"pass_min":${r2(passTotalNums.min)},"pass_max":${r2(passTotalNums.max)}}"""
    Output(headline, full, errors, summary)
  }

  /** The quantizer/offset-frame finishers legitimately window ≤32-row
    * bounded aggregates with no partition key, and WindowExec logs
    * `No Partition Defined for Window operation` for each — ~200
    * known-bounded repeats per pass that bury any REAL unpartitioned
    * window a regression might introduce. The replacement signal is
    * `BoundedWindowSpec`, which walks every query's optimized plan and
    * fails by name if an empty-partition window ever reads more than
    * its documented row bound; with that guard in place the bench and
    * verify logs silence this one logger so their tails stay
    * warning-free (round-9 verdict, wrong-list item 4).
    */
  private[graft] def suppressBoundedWindowWarning(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Measure.session()

    val out = runBench(spark, sfDir, SparkEntry.queries)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile), out.full + "\n")
    // Full per-query headline first, compact summary LAST: the driver
    // tails the log, and the summary line is small enough (~100 chars)
    // that it can never be clipped out of a 2000-char tail.
    println(out.headline)
    println(out.summary)
    Console.out.flush()
    spark.stop()
    // A bench with errored queries is not a valid measurement — fail loud.
    if (out.errors.nonEmpty) sys.exit(1)
  }
}
