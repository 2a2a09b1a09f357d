package perfbench

import graft.app.Experiment
import graft.bbha.{Bbha, EvalRound, Star}
import graft.dist.FitnessExecutor
import graft.fitness.{Fitness, FitnessConfig, FitnessResult}
import graft.io.SurvivalData
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.file.{Files, Path}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** A BBHA feature-selection experiment as a benchmark unit. The untimed
  * path is `Experiment.run` itself; the traced path rebuilds it from the
  * same public calls with a span around each.
  *
  * The run's seed makes the data; the search's own `random_state` is
  * fixed, as in one study re-run on new samples. The search's starting
  * population is then the same for every seed, so the work of a run does
  * not hinge on which random subset happened to win the first round.
  */
class BbhaWorkload(val name: String, shape: Inputs.Shape, fitness: FitnessConfig,
    stars: Int, iterations: Int, work: Path, seed: Long) extends Workload {

  private val inputDir = work.resolve("inputs")
  private var written: Inputs.Written = _
  private var lastTraced: Option[BbhaWorkload.Traced] = None

  def config(unit: Int): Experiment.Config = Experiment.Config(
    appName = s"unit$unit",
    moleculesPath = written.molecules.toString,
    clinicalPath = written.clinical.toString,
    resultsPath = work.resolve("results").toString,
    fitness = fitness,
    bbha = Bbha.Config(nStars = stars, nIterations = iterations,
      randomState = Some(BbhaWorkload.SearchSeed)))

  val opsPerUnit: Int = stars * (iterations + 1)

  def prepare(spark: SparkSession): Unit =
    written = Inputs.write(inputDir, shape, seed)

  private val outputs = Seq.newBuilder[(Int, String)]
  private var expected: Option[Future[String]] = None

  /** Starts the serial reference run on its own thread. It runs once per
    * run, after the cold unit, alongside the untimed warm-up.
    */
  private def startReference(spark: SparkSession): Unit = {
    val cfg = config(0)
    val ec = ExecutionContext.fromExecutorService(java.util.concurrent.Executors.newSingleThreadExecutor())
    expected = Some(Future {
      try Gates.serialResult(cfg, SurvivalData.read(spark, cfg.moleculesPath, cfg.clinicalPath))
      finally ec.shutdown()
    }(ec))
  }

  private[perfbench] def record(unit: Int, canonicalResult: String): Unit =
    outputs += unit -> canonicalResult

  def gate(spark: SparkSession): Seq[String] = {
    if (expected.isEmpty) startReference(spark)
    val want = Await.result(expected.get, Duration.Inf)
    outputs.result().collect { case (unit, got) if got != want =>
      s"$name unit $unit result.json differs from the serial reference:\n  got  $got\n  want $want"
    }
  }

  def runUnit(spark: SparkSession, unit: Int, traced: Boolean): UnitResult = {
    val cfg = config(unit)
    val t0 = System.nanoTime()
    val search =
      if (!traced) Experiment.run(spark, cfg).executionTime
      else {
        val t = BbhaWorkload.tracedRun(spark, cfg)
        lastTraced = Some(t)
        t.search
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val folder = Path.of(cfg.resultsPath, cfg.appName)
    val metrics = Files.readString(folder.resolve("metrics.json"))
    val (errors, empty) = BbhaWorkload.sentinels(metrics)
    record(unit, Gates.canonicalResult(Files.readString(folder.resolve("result.json"))))
    if (expected.isEmpty) startReference(spark)
    UnitResult(wall, opsPerUnit, errors, opsPerUnit / search,
      Map("search_s" -> search, "empty_masks" -> empty.toDouble,
        "features_mean" -> BbhaWorkload.featuresMean(metrics)))
  }

  /** Layer metrics of one traced unit, from its spans and Spark counters. */
  def layers(spans: Vector[Trace.Span], spark: Counters.Snapshot, wall: Double): Map[String, Double] = {
    def total(n: String) = spans.filter(_.name == n).map(_.seconds).sum
    val rounds = spans.filter(_.name == "dist.round")
    val roundIds = rounds.map(_.id).toSet
    val calls = spans.filter(s => s.name == "fitness.call" && roundIds(s.parent))
    val perRound = rounds.map { r =>
      val busy = calls.filter(_.parent == r.id).groupBy(_.partition).values.map(_.map(_.seconds).sum).toSeq
      val max = busy.maxOption.getOrElse(0.0)
      val slots = math.max(busy.size, lastTraced.map(_.workers).getOrElse(0))
      val idle = busy.map(max - _).sum + (slots - busy.size) * max
      val mean = busy.sum / slots
      (r.seconds - max, idle, if (mean > 0) max / mean else 1.0)
    }
    val callSecs = calls.map(_.seconds)
    val errors = calls.count(_.tag.startsWith("error"))
    val empty = calls.count(_.tag == "empty")
    val dist = spark.forLayer("dist")
    Map(
      "io.read_s" -> total("io.read"),
      "io.cells_parsed" -> written.cells.toDouble,
      "io.features_kept" -> lastTraced.map(_.features.toDouble).getOrElse(0.0),
      "io.samples_kept" -> lastTraced.map(_.samples.toDouble).getOrElse(0.0),
      "fitness.calls" -> calls.size.toDouble,
      "fitness.busy_s" -> callSecs.sum,
      "fitness.call_p50_s" -> Stats.median(callSecs),
      "fitness.call_p90_s" -> Stats.quantile(callSecs, 0.9),
      "fitness.errors" -> errors.toDouble,
      "fitness.empty_masks" -> empty.toDouble,
      "fitness.features_mean" -> calls.map(_.tag match {
        case "empty" => 0.0
        case t => t.stripPrefix("error:").stripPrefix("ok:").toDouble
      }).sum / math.max(calls.size, 1),
      "fitness.useful_ratio" -> (calls.size - errors - empty).toDouble / math.max(calls.size, 1),
      "dist.rounds" -> rounds.size.toDouble,
      "dist.round_p50_s" -> Stats.median(rounds.map(_.seconds)),
      "dist.round_p90_s" -> Stats.quantile(rounds.map(_.seconds), 0.9),
      "dist.jobs" -> dist.jobs.size.toDouble,
      "dist.tasks" -> dist.tasks.size.toDouble,
      "dist.shuffle_write_bytes" -> dist.shuffleWriteBytes.toDouble,
      "dist.overhead_s" -> perRound.map(_._1).sum,
      "dist.idle_s" -> perRound.map(_._2).sum,
      "dist.skew" -> Stats.median(perRound.map(_._3)),
      "bbha.self_s" -> (total("bbha.run") - rounds.map(_.seconds).sum),
      "app.broadcast_s" -> total("app.broadcast"),
      "app.baseline_s" -> total("app.baseline"),
      "app.sink_s" -> total("app.sink"),
      // share of the unit's wall time the driver-side spans account for
      "trace.coverage" -> (Seq("io.read", "app.broadcast", "app.baseline", "app.sink", "bbha.run")
        .map(total).sum / wall))
  }
}

object BbhaWorkload {
  val SearchSeed = 1L

  /** Counts of `Fitness.withChecking`'s two sentinels among a run's
    * evaluations, from `metrics.json`: (errors, empty masks). nFeatures 0
    * marks a kernel that threw (a failed operation), -1 an empty mask
    * (a legal outcome of the search).
    */
  def sentinels(metricsJson: String): (Int, Int) = {
    val n = (JsonMethods.parse(metricsJson) \ "number_of_features").children
      .collect { case JInt(v) => v.toInt }
    (n.count(_ == 0), n.count(_ == -1))
  }

  /** Mean number of features a fitness call scored, from `metrics.json`. */
  def featuresMean(metricsJson: String): Double = {
    val n = (JsonMethods.parse(metricsJson) \ "number_of_features").children
      .collect { case JInt(v) => math.max(v.toInt, 0).toDouble }
    n.sum / math.max(n.size, 1)
  }

  private def withLayer[T](spark: SparkSession, layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Counters.LayerKey, layer)
    try body finally sc.setLocalProperty(Counters.LayerKey, null)
  }

  /** `Experiment.run` rebuilt from its public calls, with a span around
    * each: ingest, broadcast, the all-features baseline, every fitness
    * call (task side), every fan-out round, the BBHA loop, and the sinks.
    * Writes the same `result.json`, `model.bin` and `metrics.json`.
    * Returns the search time, measured as `Experiment.run` measures it,
    * the features and samples that survived cleaning, and the fan-out
    * width.
    */
  case class Traced(search: Double, features: Int, samples: Int, workers: Int)

  def tracedRun(spark: SparkSession, cfg: Experiment.Config): Traced = {
    val sc = spark.sparkContext
    val nWorkers = if (cfg.numberOfWorkers > 0) cfg.numberOfWorkers else math.max(sc.defaultParallelism, 1)
    val appFolder = Path.of(cfg.resultsPath, cfg.appName)
    Files.createDirectories(appFolder)

    val data = Trace.span("io.read") {
      withLayer(spark, "io")(SurvivalData.read(spark, cfg.moleculesPath, cfg.clinicalPath))
    }
    val nFeatures = data.featureNames.length
    require(nFeatures > 0, "no features survived cleaning")
    val (xB, yB) = Trace.span("app.broadcast")((sc.broadcast(data.x), sc.broadcast(data.y)))
    val fitCfg = cfg.fitness

    val fitnessFn: (Array[Boolean], Int) => FitnessResult = (mask, partitionId) => {
      val t0 = System.nanoTime()
      val r = Fitness.withChecking(fitCfg, xB.value, yB.value, mask, partitionId)
      val selected = mask.count(identity)
      val tag =
        if (selected == 0) "empty"
        else if (r.nFeatures == 0 && r.workerTime == -1.0) s"error:$selected"
        else s"ok:$selected"
      val pid = Option(TaskContext.get()).map(_.partitionId()).getOrElse(-1)
      Trace.task("fitness.call", t0, System.nanoTime(), pid, tag)
      r
    }

    val baseline = Trace.span("app.baseline")(fitnessFn(Array.fill(nFeatures)(true), -1).fitness)
    val executor = new FitnessExecutor(sc, nWorkers, fitnessFn)
    val evaluate: Array[Star] => EvalRound = stars =>
      Trace.span("dist.round")(withLayer(spark, "dist")(executor.evaluate(stars)))
    val start = System.nanoTime()
    val outcome = Trace.span("bbha.run")(Bbha.run(cfg.bbha, nFeatures, evaluate))
    val search = (System.nanoTime() - start) / 1e9

    Trace.span("app.sink") {
      Files.writeString(appFolder.resolve("result.json"), Gates.resultJson(cfg, fitCfg.model,
        baseline, outcome.bestFitness, data.featureNames, outcome.bestMask, search))
      val model = Fitness.fitModel(fitCfg, data.x, data.y, outcome.bestMask.map(_ == 1))
      val oos = new java.io.ObjectOutputStream(Files.newOutputStream(appFolder.resolve("model.bin")))
      try oos.writeObject(model) finally oos.close()
      Experiment.writeJson(appFolder.resolve("metrics.json").toString,
        outcome.metrics ++ Map(
          "model" -> fitCfg.model,
          "dataset" -> cfg.moleculesPath,
          "parameters" -> fitCfg.toString,
          "number_of_samples" -> data.sampleIds.length))
      xB.destroy()
      yB.destroy()
    }
    Traced(search, nFeatures, data.sampleIds.length, nWorkers)
  }
}
