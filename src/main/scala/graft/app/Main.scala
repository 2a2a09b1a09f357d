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
    // every numeric flag parses here, so a bad value fails naming its flag
    def number[A](key: String)(parse: String => Option[A]): Option[A] =
      a.get(key).map(v => parse(v).getOrElse(throw new IllegalArgumentException(
        s"--$key must be a number, got '$v'")))
    def int(key: String, default: Int): Int = number(key)(_.toIntOption).getOrElse(default)
    val randomState = number("random-state")(_.toLongOption)
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
        numberOfClusters = int("number-of-clusters", 2),
        cvFolds = int("cv-folds", 10),
        rfNEstimators = int("rf-n-estimators", 10),
        rfTreeNJobs = int("tree-n-jobs", 1),
        svmKernel = a.getOrElse("svm-kernel", "linear"),
        svmOptimizer = a.getOrElse("svm-optimizer", "avltree"),
        svmMaxIterations = int("svm-max-iterations", 1000),
        svmIsRegression = a.getOrElse("svm-is-regression", "true") == "true",
        randomState = randomState,
        returnTrainScores = a.getOrElse("return-train-scores", "false") == "true"),
      bbha = Bbha.Config(
        nStars = int("n-stars", 30),
        nIterations = int("bbha-iterations", 30),
        randomState = randomState,
        binaryThreshold =
          if (a.get("binary-threshold").contains("none")) None
          else number("binary-threshold")(_.toDoubleOption).orElse(Some(0.6))),
      numberOfWorkers = int("number-of-workers", 0),
      algorithm = int("algorithm", 1))
  }

  /** The app's and the job service's session; its master is a
    * deployment setting, so it is not [[graft.Measure.session]].
    */
  def session(appName: String): SparkSession = SparkSession.builder()
    .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
    .appName(appName)
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val cfg = buildConfig(parseArgs(args))
    val spark = session(cfg.appName)
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
