package graft.app

import graft.bbha.Bbha
import graft.fitness.FitnessConfig
import org.apache.spark.sql.SparkSession

/** CLI entry point mirroring the reference's argument surface
  * (/root/reference/scripts/parameters.py:75-173): `--app-name`,
  * `--molecules-dataset`, `--clinical-dataset`, `--model`,
  * clustering/SVM/RF/CV/BBHA knobs, with identical defaults. Datasets
  * resolve under DATASETS_PATH and results under RESULTS_PATH
  * (utils.py:7, core.py:140-147), defaulting to /var/data and
  * /var/results like the reference's Dockerfile.
  *
  * The expression matrix is always broadcast once per experiment, so the
  * reference's `--use-broadcast` has no setting here; like any flag this
  * parser does not know, it is accepted and ignored.
  */
object Main {

  def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  def buildConfig(a: Map[String, String]): Experiment.Config = {
    val datasetsPath = sys.env.getOrElse("DATASETS_PATH", "/var/data")
    val resultsPath = sys.env.getOrElse("RESULTS_PATH", "/var/results")
    def path(p: String) =
      if (p.startsWith("/")) p else s"$datasetsPath/$p"
    val randomState = a.get("random-state").map(_.toLong)
    Experiment.Config(
      appName = a.getOrElse("app-name",
        sys.error("--app-name is required")),
      moleculesPath = path(a.getOrElse("molecules-dataset",
        sys.error("--molecules-dataset is required"))),
      clinicalPath = path(a.getOrElse("clinical-dataset",
        sys.error("--clinical-dataset is required"))),
      resultsPath = resultsPath,
      fitness = FitnessConfig(
        model = a.getOrElse("model", "clustering"),
        clusteringAlgorithm = a.getOrElse("clustering-algorithm", "k_means"),
        clusteringScoringMethod =
          a.getOrElse("clustering-scoring-method", "log_likelihood"),
        numberOfClusters = a.getOrElse("number-of-clusters", "2").toInt,
        cvFolds = a.getOrElse("cv-folds", "10").toInt,
        rfNEstimators = a.getOrElse("rf-n-estimators", "10").toInt,
        rfTreeNJobs = a.getOrElse("tree-n-jobs", "1").toInt,
        svmKernel = a.getOrElse("svm-kernel", "linear"),
        svmOptimizer = a.getOrElse("svm-optimizer", "avltree"),
        svmMaxIterations = a.getOrElse("svm-max-iterations", "1000").toInt,
        svmIsRegression = a.getOrElse("svm-is-regression", "true") == "true",
        randomState = randomState,
        returnTrainScores = a.getOrElse("return-train-scores", "false") == "true"),
      bbha = Bbha.Config(
        nStars = a.getOrElse("n-stars", "30").toInt,
        nIterations = a.getOrElse("bbha-iterations", "30").toInt,
        randomState = randomState,
        binaryThreshold = a.get("binary-threshold") match {
          case Some("none") => None
          case Some(v) => Some(v.toDouble)
          case None => Some(0.6)
        }),
      numberOfWorkers = a.getOrElse("number-of-workers", "0").toInt,
      algorithm = a.getOrElse("algorithm", "1").toInt)
  }

  def main(args: Array[String]): Unit = {
    val cfg = buildConfig(parseArgs(args))
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName(cfg.appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val result = Experiment.run(spark, cfg)
      println(s"[graft] best_metric=${result.bestMetric} " +
        s"baseline=${result.bestMetricWithAllFeatures} " +
        s"n_features=${result.features.length} " +
        s"features=${result.features.mkString("|")}")
    } finally spark.stop()
  }
}
