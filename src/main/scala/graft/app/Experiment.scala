package graft.app

import graft.bbha.{Bbha, Star}
import graft.dist.FitnessExecutor
import graft.fitness.{Fitness, FitnessConfig, FitnessResult}
import graft.io.SurvivalData
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** End-to-end BBHA feature-selection experiment (`run_bbha_experiment`,
  * /root/reference/scripts/core.py:80-291): ingest → broadcast →
  * all-features baseline → BBHA loop fanned out via FitnessExecutor →
  * `result.json` + metrics JSON sinks.
  */
object Experiment {

  case class Config(
      appName: String,
      moleculesPath: String,
      clinicalPath: String,
      resultsPath: String,
      fitness: FitnessConfig = FitnessConfig(),
      bbha: Bbha.Config = Bbha.Config(),
      numberOfWorkers: Int = 0, // 0 = use defaultParallelism
      algorithm: Int = 1) { // 0 = blind search (exhaustive), 1 = BBHA
    require(algorithm == 0 || algorithm == 1,
      s"algorithm must be 0 (blind search) or 1 (BBHA), got $algorithm")
    require(numberOfWorkers >= 0,
      s"number-of-workers must be at least 0, got $numberOfWorkers")
  }

  case class Result(
      dataset: String, improved: Int, model: String,
      bestMetricWithAllFeatures: Double, bestMetric: Double,
      features: Seq[String], executionTime: Double)

  def run(spark: SparkSession, cfg: Config): Result = {
    val sc = spark.sparkContext
    // worker discovery (main.py:259-262): executors minus the driver;
    // in local mode that is 0, so fall back to local parallelism
    val discovered = sc.statusTracker.getExecutorInfos.length - 1
    val workers = if (cfg.numberOfWorkers > 0) cfg.numberOfWorkers
      else if (discovered > 0) discovered
      else math.max(sc.defaultParallelism, 1)
    require(workers > 0, s"invalid number of workers $workers")

    val appFolder = Paths.get(cfg.resultsPath, cfg.appName)
    Files.createDirectories(appFolder)
    // 0o777 like create_folder_with_permissions (core.py:41-49)
    try Files.setPosixFilePermissions(appFolder,
      java.nio.file.attribute.PosixFilePermissions.fromString("rwxrwxrwx"))
    catch { case _: UnsupportedOperationException => () }

    val data = SurvivalData.read(spark, cfg.moleculesPath, cfg.clinicalPath)
    val nFeatures = data.featureNames.length
    require(nFeatures > 0, "no features survived cleaning")

    // matrix ships once per experiment (core.py:166-169)
    val xB = sc.broadcast(data.x)
    val yB = sc.broadcast(data.y)
    val fitCfg = cfg.fitness

    def fitnessFn(mask: Array[Boolean], partitionId: Int): FitnessResult =
      Fitness.withChecking(fitCfg, xB.value, yB.value, mask, partitionId)

    // all-features baseline (core.py:171-179)
    val baseline = fitnessFn(Array.fill(nFeatures)(true), -1).fitness

    val executor = new FitnessExecutor(sc, workers, fitnessFn)
    val start = System.nanoTime()
    val outcome =
      if (cfg.algorithm == 0) {
        val bs = graft.bbha.BlindSearch.run(sc, nFeatures,
          fitCfg.moreIsBetter,
          m => fitnessFn(m.map(_ == 1), -1).fitness)
        graft.bbha.Bbha.Outcome(bs.bestMask, bs.bestFitness,
          fitnessFn(bs.bestMask.map(_ == 1), -1),
          Map("evaluated_subsets" -> bs.evaluated))
      } else Bbha.run(cfg.bbha, nFeatures, executor.evaluate)
    val fsSeconds = (System.nanoTime() - start) / 1e9

    val selected = data.featureNames.zip(outcome.bestMask)
      .collect { case (name, 1) => name }.toSeq

    val r4 = (v: Double) => math.round(v * 1e4) / 1e4
    val result = Result(cfg.moleculesPath, 0, fitCfg.model,
      r4(baseline), r4(outcome.bestFitness), selected, fsSeconds)

    // result.json (core.py:277-289 schema)
    writeJson(appFolder.resolve("result.json").toString, Map(
      "dataset" -> result.dataset,
      "improved" -> result.improved,
      "model" -> result.model,
      "best_metric_with_all_features" -> result.bestMetricWithAllFeatures,
      "best_metric" -> result.bestMetric,
      "features" -> result.features.mkString(" | "),
      "execution_time" -> result.executionTime))

    // model sink (core.py:265-269's model.pkl): one targeted refit of
    // the winning subset instead of collecting every star's estimator
    val model = Fitness.fitModel(fitCfg, data.x, data.y,
      outcome.bestMask.map(_ == 1))
    val oos = new java.io.ObjectOutputStream(
      Files.newOutputStream(appFolder.resolve("model.bin")))
    try oos.writeObject(model) finally oos.close()

    // metrics JSON (metaheuristics.py:717-732 + core.py json_extra_data)
    writeJson(appFolder.resolve("metrics.json").toString,
      outcome.metrics ++ Map(
        "model" -> fitCfg.model,
        "dataset" -> cfg.moleculesPath,
        "parameters" -> fitCfg.toString,
        "number_of_samples" -> data.sampleIds.length))

    xB.destroy()
    yB.destroy()
    result
  }

  // ---- minimal deterministic JSON writer (driver-side tiny payloads,
  //      SURVEY §1.1 row 5-6)

  /** The JSON rendering of a value; its String case is the repo's one
    * string escaper (quote, backslash, every control char < 0x20). */
  def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN) "null"
      else if (d.isPosInfinity) "1e999"
      else if (d.isNegInfinity) "-1e999"
      else if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case m: Map[_, _] =>
      m.map { case (k, mv) => jsonValue(k.toString) + ": " + jsonValue(mv) }
        .mkString("{", ", ", "}")
    case it: Iterable[_] => it.map(jsonValue).mkString("[", ", ", "]")
    case (a, b) => jsonValue(Seq(a, b))
    case other => jsonValue(other.toString)
  }

  def writeJson(path: String, data: Map[String, Any]): Unit =
    Files.writeString(Paths.get(path), jsonValue(data))
}
