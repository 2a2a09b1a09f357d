package graft

import graft.app.Experiment
import graft.bbha.Bbha
import graft.fitness.FitnessConfig
import graft.io.{SurvivalClean, SurvivalData, SurvivalDataset}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
}

class SurvivalDataSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** FIXTURES.md §1.1: EGFR column (NaN) dropped by the column rule,
    * then TCGA-03 row (inf from MYC) dropped by the row rule.
    */
  private val fixtureMol =
    """molecule	TCGA-01	TCGA-02	TCGA-03	TCGA-04
      |BRCA1	2.31	1.07	3.92	0.55
      |TP53	0.12	4.40	2.21	1.90
      |EGFR	NaN	1.33	0.87	2.02
      |MYC	1.75	2.60	inf	0.44""".stripMargin
  private val fixtureClin =
    """sample	event	time
      |TCGA-01	1	1250.0
      |TCGA-02	0	2301.5
      |TCGA-03	1	402.0
      |TCGA-04	0	3650.0""".stripMargin

  private def write(mol: String, clin: String = fixtureClin): (String, String) = {
    val dir = Files.createTempDirectory("surv").toString
    Files.writeString(java.nio.file.Paths.get(dir, "molecules.tsv"), mol)
    Files.writeString(java.nio.file.Paths.get(dir, "clinical.tsv"), clin)
    (s"$dir/molecules.tsv", s"$dir/clinical.tsv")
  }

  private def writeFixture(): (String, String) = write(fixtureMol)

  private def read(files: (String, String)) =
    SurvivalData.read(spark, files._1, files._2)

  /** Every field as comparable sequences; doubles compare bit for bit. */
  private def fields(ds: SurvivalDataset) = (ds.sampleIds.toSeq,
    ds.featureNames.toSeq, ds.x.map(r => r.map(java.lang.Double.doubleToLongBits).toSeq).toSeq,
    ds.y.toSeq)

  test("cleaning order: transpose, drop NaN columns, drop NaN/Inf rows") {
    val (molPath, clinPath) = writeFixture()
    val ds = SurvivalData.read(spark, molPath, clinPath)
    // EGFR had a NaN → dropped as a feature; MYC (inf, no NaN) survives
    assert(ds.featureNames.toSeq == Seq("BRCA1", "TP53", "MYC"))
    // TCGA-03 row had inf in MYC → dropped
    assert(ds.sampleIds.toSeq == Seq("TCGA-01", "TCGA-02", "TCGA-04"))
    assert(ds.x.length == 3 && ds.x.head.length == 3)
    // clinical alignment follows the surviving samples
    assert(ds.y.map(_.event).toSeq == Seq(true, false, false))
    assert(ds.y.map(_.time).toSeq == Seq(1250.0, 2301.5, 3650.0))
    // values are the transposed matrix
    assert(ds.x(0).toSeq == Seq(2.31, 0.12, 1.75))
  }

  test("CRLF line ends, blank lines and quoted cells read as the plain fixture") {
    val plain = fields(read(writeFixture()))
    val crlf = write(fixtureMol.replace("\n", "\r\n") + "\r\n\r\n",
      fixtureClin.replace("\n", "\r\n") + "\r\n")
    assert(fields(read(crlf)) == plain)
    val quoted = write(fixtureMol
      .replace("\tTCGA-02\t", "\t\"TCGA-02\"\t")
      .replace("\t1.07\t", "\t\"1.07\"\t"))
    assert(fields(read(quoted)) == plain)
  }

  test("a short row reads as NaN, so its molecule is dropped") {
    val ds = read(write(fixtureMol.replace("\t1.90", "")))
    assert(ds.featureNames.toSeq == Seq("BRCA1", "MYC"))
    assert(ds.sampleIds.toSeq == Seq("TCGA-01", "TCGA-02", "TCGA-04"))
  }

  test("a long row fails naming its line; a duplicate sample id fails naming the id") {
    val long = intercept[IllegalArgumentException] {
      read(write(fixtureMol.replace("\t3.92\t0.55", "\t3.92\t0.55\t9.99")))
    }
    assert(long.getMessage.contains("molecules.tsv line 2"), long.getMessage)
    val dup = intercept[IllegalArgumentException] {
      read(write(fixtureMol.replace("TCGA-03", "TCGA-02")))
    }
    assert(dup.getMessage.contains("'TCGA-02'"), dup.getMessage)
  }

  test("distributed cleaning twin applies the same column-then-row rule") {
    import spark.implicits._
    val df = Seq(
      ("s1", 1.0, Double.NaN, 2.0),
      ("s2", 2.0, 3.0, Double.PositiveInfinity),
      ("s3", 3.0, 4.0, 5.0)).toDF("id", "f1", "f2", "f3")
    val cleaned = SurvivalClean.cleanDistributed(df, Seq("id"))
    // f2 dropped (NaN); s2 dropped (Inf in surviving f3)
    assert(cleaned.columns.toSeq == Seq("id", "f1", "f3"))
    assert(cleaned.select("id").collect().map(_.getString(0)).sorted.toSeq
      == Seq("s1", "s3"))
  }
}

class ExperimentSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Golden e2e fixture (FIXTURES.md §1.3): ~20 molecules × 40 samples,
    * 3 signal features; clustering/k-means/log-likelihood slice.
    */
  private def writeGolden(): (String, String) = {
    val dir = Files.createTempDirectory("golden").toString
    val rng = new scala.util.Random(123)
    val nSamples = 40
    val nMol = 20
    val samples = (1 to nSamples).map(i => f"S$i%02d")
    // two latent groups; molecules 0-2 encode the group, rest noise
    val group = Array.tabulate(nSamples)(i => i % 2)
    val rows = (0 until nMol).map { m =>
      val vals = (0 until nSamples).map { s =>
        val v = if (m < 3) group(s) * 3.0 + rng.nextGaussian() * 0.3
        else rng.nextGaussian()
        f"$v%.4f"
      }
      s"MOL$m\t${vals.mkString("\t")}"
    }
    val mol = s"molecule\t${samples.mkString("\t")}\n${rows.mkString("\n")}"
    val clin = samples.zipWithIndex.map { case (s, i) =>
      val t = if (group(i) == 0) 100.0 + rng.nextInt(50) else 1000.0 + rng.nextInt(50)
      val e = if (rng.nextDouble() < 0.8) 1 else 0
      s"$s\t$e\t$t"
    }
    val clinTsv = s"sample\tevent\ttime\n${clin.mkString("\n")}"
    Files.writeString(java.nio.file.Paths.get(dir, "molecules.tsv"), mol)
    Files.writeString(java.nio.file.Paths.get(dir, "clinical.tsv"), clinTsv)
    (s"$dir/molecules.tsv", s"$dir/clinical.tsv")
  }

  test("golden end-to-end BBHA experiment is deterministic and writes sinks") {
    val (molPath, clinPath) = writeGolden()
    val results = Files.createTempDirectory("results").toString
    def cfg(app: String) = Experiment.Config(
      appName = app, moleculesPath = molPath, clinicalPath = clinPath,
      resultsPath = results,
      fitness = FitnessConfig(model = "clustering",
        clusteringAlgorithm = "k_means",
        clusteringScoringMethod = "concordance_index",
        randomState = Some(77L)),
      bbha = Bbha.Config(nStars = 5, nIterations = 3, randomState = Some(77L)),
      numberOfWorkers = 2)

    val r1 = Experiment.run(spark, cfg("exp1"))
    val r2 = Experiment.run(spark, cfg("exp2"))
    // determinism: same seed ⇒ same selected features and metric
    assert(r1.features == r2.features)
    assert(r1.bestMetric == r2.bestMetric)
    // the search should do no worse than the all-features baseline
    assert(r1.bestMetric >= r1.bestMetricWithAllFeatures - 1e-9)
    // sinks exist with the reference's schema
    val resultJson = Files.readString(
      java.nio.file.Paths.get(results, "exp1", "result.json"))
    for (key <- Seq("dataset", "improved", "model",
        "best_metric_with_all_features", "best_metric", "features",
        "execution_time"))
      assert(resultJson.contains(s""""$key""""), s"missing $key")
    val metricsJson = Files.readString(
      java.nio.file.Paths.get(results, "exp1", "metrics.json"))
    for (key <- Seq("number_of_features", "execution_times", "fitness",
        "hosts", "workers_idle_times", "partition_ids"))
      assert(metricsJson.contains(s""""$key""""), s"missing $key")
    // (3 iterations + init) × 5 stars fitness entries
    assert(metricsJson.split("\"fitness\": \\[")(1).split("]")(0)
      .split(",").length == 20)
  }

  /** Small golden slice for the exhaustive path: 8 molecules (3 signal)
    * keeps blind search at 2⁸−1 = 255 distributed fitness calls.
    */
  private def writeSmallGolden(): (String, String) = {
    val dir = Files.createTempDirectory("golden_bs").toString
    val rng = new scala.util.Random(321)
    val nSamples = 30
    val nMol = 8
    val samples = (1 to nSamples).map(i => f"S$i%02d")
    val group = Array.tabulate(nSamples)(i => i % 2)
    val rows = (0 until nMol).map { m =>
      val vals = (0 until nSamples).map { s =>
        val v = if (m < 3) group(s) * 3.0 + rng.nextGaussian() * 0.3
        else rng.nextGaussian()
        f"$v%.4f"
      }
      s"MOL$m\t${vals.mkString("\t")}"
    }
    val mol = s"molecule\t${samples.mkString("\t")}\n${rows.mkString("\n")}"
    val clin = samples.zipWithIndex.map { case (s, i) =>
      val t = if (group(i) == 0) 100.0 + rng.nextInt(50) else 1000.0 + rng.nextInt(50)
      val e = if (rng.nextDouble() < 0.8) 1 else 0
      s"$s\t$e\t$t"
    }
    val clinTsv = s"sample\tevent\ttime\n${clin.mkString("\n")}"
    Files.writeString(java.nio.file.Paths.get(dir, "molecules.tsv"), mol)
    Files.writeString(java.nio.file.Paths.get(dir, "clinical.tsv"), clinTsv)
    (s"$dir/molecules.tsv", s"$dir/clinical.tsv")
  }

  test("blind-search e2e: exhaustive optimum is deterministic and never below BBHA's") {
    val (molPath, clinPath) = writeSmallGolden()
    val results = Files.createTempDirectory("results_bs").toString
    def cfg(app: String, algo: Int) = Experiment.Config(
      appName = app, moleculesPath = molPath, clinicalPath = clinPath,
      resultsPath = results,
      fitness = FitnessConfig(model = "clustering",
        clusteringAlgorithm = "k_means",
        clusteringScoringMethod = "concordance_index",
        randomState = Some(77L)),
      bbha = Bbha.Config(nStars = 5, nIterations = 3, randomState = Some(77L)),
      numberOfWorkers = 2, algorithm = algo)

    val blind1 = Experiment.run(spark, cfg("bs1", 0))
    val blind2 = Experiment.run(spark, cfg("bs2", 0))
    // exhaustive search has no randomness in the outcome at a fixed seed
    assert(blind1.features == blind2.features)
    assert(blind1.bestMetric == blind2.bestMetric)
    // the global optimum bounds the metaheuristic's result (both values
    // round at 1e-4 before comparison, hence the tolerance)
    val bbha = Experiment.run(spark, cfg("bb_vs_bs", 1))
    assert(blind1.bestMetric >= bbha.bestMetric - 1e-4,
      s"blind=${blind1.bestMetric} bbha=${bbha.bestMetric}")
    assert(blind1.bestMetric >= blind1.bestMetricWithAllFeatures - 1e-9)
    // the exhaustive path reports its coverage in the metrics sink
    val metricsJson = Files.readString(
      java.nio.file.Paths.get(results, "bs1", "metrics.json"))
    assert(metricsJson.contains("\"evaluated_subsets\": 255"),
      metricsJson.take(400))
  }
}
