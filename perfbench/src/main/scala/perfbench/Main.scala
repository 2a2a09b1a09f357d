package perfbench

import graft.fitness.FitnessConfig
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** A benchmark workload: set-up, then units run one after another by a
  * single client (a closed loop).
  */
trait Workload {
  def name: String
  def prepare(spark: SparkSession): Unit
  def runUnit(spark: SparkSession, unit: Int, traced: Boolean): UnitResult
  /** Output-gate failures over every unit run so far. Blocks until the
    * reference answers are ready.
    */
  def gate(spark: SparkSession): Seq[String]
  /** Layer metrics of one traced unit. */
  def layers(spans: Vector[Trace.Span], spark: Counters.Snapshot, wall: Double): Map[String, Double]
}

/** One unit's outcome. `failed` counts operations that failed; a unit
  * with any failure is never used as a timing.
  */
case class UnitResult(seconds: Double, ops: Int, failed: Int, opsPerSecond: Double,
    extra: Map[String, Double])

/** Benchmark main. Runs one workload on a `local[cores]` session:
  * set-up (several times; the median is reported), one cold unit,
  * untimed warm-up units, then timed units until `seconds` have passed
  * and at least the workload's least number of them has run.
  * The last stdout line is the result object; the full record of the
  * run, with the environment, every unit and every layer metric, goes to
  * the `--out` file.
  */
object Main {

  val Setups = 5

  /** The per-layer metrics printed by a traced run: Spark scheduler,
    * Catalyst and JVM counters that every workload produces. The
    * workload's own layers (graft.io, graft.fitness, graft.dist,
    * graft.bbha, graft.app or graft.queries) go to the `--out` file.
    */
  val CommonLayers: Seq[String] = Seq("jvm.gc_s", "sql.plan_s", "spark.jobs",
    "spark.tasks", "spark.task_busy_s", "spark.task_idle_s", "spark.task_skew",
    "spark.job_overhead_s", "spark.driver_s", "spark.shuffle_write_bytes")

  case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      root: Path, cores: Int, commit: String, out: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Path.of(need("root")), need("cores").toInt,
      m.getOrElse("commit", "unknown"), Path.of(need("out")))
  }

  def session(cores: Int, work: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  /** A workload with its untimed warm-up count and its least number of
    * timed units.
    */
  case class Plan(workload: Workload, warmups: Int, minTimed: Int)

  def plan(a: Args, work: Path): Plan = {
    val bench = a.root.resolve("perfbench")
    a.workload match {
      case "bbha_kmeans" => Plan(new BbhaWorkload(a.workload, Inputs.Shape(200, 200),
        FitnessConfig(), stars = 30, iterations = 30, work, a.seed), warmups = 2, minTimed = 3)
      case "query_survival" =>
        val expected = Gates.readExpected(Files.readString(bench.resolve("expected/query_survival.json")))
        Plan(new QueryWorkload(a.workload, graft.queries.Survival.all.keys.toSeq,
          bench.resolve("data/sf0.1").toString, expected, a.seed), warmups = 0, minTimed = 2)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  case class Ran(unit: Int, kind: String, result: UnitResult, peakMb: Double,
      gcSeconds: Double, layers: Map[String, Double])

  /** (name, value, unit) of a reported metric. */
  type Metric = (String, Double, String)

  /** End-to-end metrics of a run. Only units with no failed operation
    * are timed; a missing value is NaN.
    */
  def endToEnd(setups: Seq[Double], units: Seq[Ran]): Seq[Metric] = {
    val clean = units.filter(_.result.failed == 0)
    val timed = clean.filter(_.kind == "timed")
    def med(f: Ran => Double) = if (timed.isEmpty) Double.NaN else Stats.median(timed.map(f))
    Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("cold_s", clean.find(_.kind == "cold").map(_.result.seconds).getOrElse(Double.NaN), "s"),
      ("unit_s", med(_.result.seconds), "s"),
      ("ops_per_s", med(_.result.opsPerSecond), "1/s"))
  }

  /** Median over the clean timed units of every layer metric. */
  def layerMedians(units: Seq[Ran]): Seq[Metric] = {
    val timed = units.filter(u => u.kind == "timed" && u.result.failed == 0)
    timed.headOption.map(_.layers.keys.toSeq.sorted).getOrElse(Nil)
      .map(n => (n, Stats.median(timed.map(_.layers(n))), unitOf(n)))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = a.root.resolve("perfbench/.work").resolve(a.workload)
    val Plan(w, warmups, minTimed) = plan(a, work)

    // set-up: the first from process start, then again on a fresh session
    // (stopping the previous one is not part of a set-up)
    var spark: SparkSession = null
    val setups = (1 to Setups).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(a.cores, work)
      spark.sparkContext.setLogLevel("WARN")
      w.prepare(spark)
      if (i == 1) (System.currentTimeMillis() - processStartMs) / 1e3
      else (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext

    val counters = if (a.trace) Some(new Counters) else None
    counters.foreach { c =>
      sc.addSparkListener(c)
      spark.listenerManager.register(c)
    }
    Trace.enabled = a.trace
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum

    def run(unit: Int, kind: String): Ran = {
      System.gc()
      counters.foreach(_.drain(sc))
      Trace.drain()
      Trace.unit = unit
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcMs
      val startMs = System.currentTimeMillis()
      val r = w.runUnit(spark, unit, a.trace)
      val gc = (gcMs - gc0) / 1e3
      val peak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val layers = counters.map { c =>
        val snap = c.drain(sc)
        val endMs = startMs + (r.seconds * 1e3).toLong
        w.layers(Trace.drain(), snap, r.seconds) ++ Map(
          "jvm.gc_s" -> gc,
          "sql.plan_s" -> snap.planSeconds,
          "spark.jobs" -> snap.jobs.size.toDouble,
          "spark.tasks" -> snap.tasks.size.toDouble,
          "spark.task_busy_s" -> snap.taskBusySeconds,
          "spark.task_idle_s" -> snap.taskIdleSeconds,
          "spark.task_skew" -> snap.taskSkew,
          "spark.job_overhead_s" -> snap.jobOverheadSeconds,
          "spark.driver_s" -> (r.seconds - snap.jobCoveredMs(startMs, endMs) / 1e3),
          "spark.shuffle_write_bytes" -> snap.shuffleWriteBytes.toDouble)
      }.getOrElse(Map.empty)
      Ran(unit, kind, r, peak, gc, layers)
    }

    val ran = Seq.newBuilder[Ran]
    ran += run(1, "cold")
    (1 to warmups).foreach(i => ran += run(1 + i, "warmup"))
    val gateWait = System.nanoTime()
    w.gate(spark) // the reference answers are ready before timing starts
    val gateWaitSeconds = (System.nanoTime() - gateWait) / 1e9
    val measureStart = System.nanoTime()
    var unit = 1 + warmups
    while (unit < 1 + warmups + minTimed || (System.nanoTime() - measureStart) / 1e9 < a.seconds) {
      unit += 1
      ran += run(unit, "timed")
    }
    val units = ran.result()
    val gateFailures = w.gate(spark)
    spark.stop()
    gateFailures.foreach(m => System.err.println(s"[perfbench] output gate failed: $m"))

    val correct = gateFailures.isEmpty
    val attempted = units.map(_.result.ops).sum
    val failed = units.map(_.result.failed).sum
    val e2e = endToEnd(setups, units)
    val layers = layerMedians(units)

    val env = JObject(
      "workload" -> JString(a.workload), "seed" -> JLong(a.seed),
      "seconds" -> JDouble(a.seconds), "trace" -> JBool(a.trace),
      "cores" -> JInt(a.cores),
      "heap_max_mb" -> JLong(Runtime.getRuntime.maxMemory / 1048576),
      "jvm" -> JString(s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}"),
      "spark" -> JString(org.apache.spark.SPARK_VERSION),
      "commit" -> JString(a.commit))
    def metricsObj(ms: Seq[Metric]) = JObject(ms.toList.map {
      case (n, v, u) => n -> JObject("value" -> JDouble(v), "unit" -> JString(u))
    })
    val shown = if (a.trace) layers.filter(l => CommonLayers.contains(l._1)) else e2e
    val complete = !e2e.exists(_._2.isNaN) && shown.nonEmpty
    val result = JObject("correct" -> JBool(correct), "attempted" -> JInt(attempted),
      "failed" -> JInt(failed), "metrics" -> metricsObj(shown))

    val record = JObject(
      "env" -> env,
      "setup_s" -> JArray(setups.toList.map(JDouble(_))),
      "gate_wait_s" -> JDouble(gateWaitSeconds),
      "units" -> JArray(units.toList.map { u =>
        JObject("unit" -> JInt(u.unit), "kind" -> JString(u.kind),
          "seconds" -> JDouble(u.result.seconds), "ops" -> JInt(u.result.ops),
          "failed" -> JInt(u.result.failed), "ops_per_s" -> JDouble(u.result.opsPerSecond),
          "peak_heap_mb" -> JDouble(u.peakMb), "gc_s" -> JDouble(u.gcSeconds),
          "extra" -> JObject(u.result.extra.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) }),
          "layers" -> JObject(u.layers.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) }))
      }),
      "end_to_end" -> metricsObj(e2e),
      "peak_heap_mb" -> JDouble(Stats.median(units.filter(_.kind == "timed").map(_.peakMb))),
      "layers" -> metricsObj(layers),
      "gate_failures" -> JArray(gateFailures.toList.map(JString(_))),
      "result" -> result)
    Files.createDirectories(a.out.getParent)
    Files.writeString(a.out, JsonMethods.pretty(JsonMethods.render(record)) + "\n")

    println(JsonMethods.compact(JsonMethods.render(JObject("env" -> env))))
    if (!complete) {
      System.err.println("[perfbench] no clean cold and timed units; no result")
      sys.exit(2)
    }
    println(JsonMethods.compact(JsonMethods.render(result)))
    Console.out.flush()
    if (!correct) sys.exit(1)
  }

  def unitOf(metric: String): String =
    if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_bytes")) "bytes"
    else if (metric.endsWith("skew") || metric.endsWith("ratio") || metric.endsWith("coverage")) "ratio"
    else if (metric.endsWith("_mean")) "features"
    else "count"
}
