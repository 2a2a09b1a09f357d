package graft

import graft.bbha.{Bbha, EvalRound, Star}
import graft.app.Main
import graft.dist.FitnessExecutor
import graft.fitness.{Fitness, FitnessConfig, FitnessResult}
import graft.surv.Clinical
import org.scalatest.funsuite.AnyFunSuite

class BbhaSpec extends AnyFunSuite {

  /** Driver-side evaluator: fitness = (# of the first 3 "signal" features
    * selected) − 0.01 × total selected. Optimum = exactly features {0,1,2}.
    */
  private def toyEvaluate(stars: Array[Star]): EvalRound = {
    val results = stars.map { s =>
      val signal = s.mask.take(3).sum
      val fit = signal - 0.01 * s.mask.sum
      (s.idx, FitnessResult(fit, 0.001, 0, "test-host", s.mask.sum, "", 0, 0, 0, 0, None))
    }
    EvalRound(results.sortBy(_._1), 0.01, stars.map(s => s.idx -> -1.0).toMap)
  }

  val cfg = Bbha.Config(nStars = 10, nIterations = 15, randomState = Some(42L))

  test("deterministic: same seed gives identical outcome") {
    val a = Bbha.run(cfg, 12, toyEvaluate)
    val b = Bbha.run(cfg, 12, toyEvaluate)
    assert(a.bestMask.toSeq == b.bestMask.toSeq)
    assert(a.bestFitness == b.bestFitness)
  }

  test("different seed explores differently") {
    val a = Bbha.run(cfg, 12, toyEvaluate)
    val b = Bbha.run(cfg.copy(randomState = Some(7L)), 12, toyEvaluate)
    // metrics fitness traces should differ (mask trajectory differs)
    assert(a.metrics("fitness") != b.metrics("fitness"))
  }

  test("black hole holds the best fitness ever evaluated") {
    val out = Bbha.run(cfg, 12, toyEvaluate)
    val allFit = out.metrics("fitness").asInstanceOf[List[Double]]
    assert(math.abs(out.bestFitness - allFit.max) < 1e-4 + 1e-12,
      s"bh=${out.bestFitness} max=${allFit.max}")
  }

  test("masks stay binary and never empty-evaluated as best") {
    val out = Bbha.run(cfg, 12, toyEvaluate)
    assert(out.bestMask.forall(v => v == 0 || v == 1))
    assert(out.bestMask.sum >= 1)
  }

  test("finds the signal features on the toy objective") {
    val out = Bbha.run(cfg.copy(nIterations = 30), 12, toyEvaluate)
    assert(out.bestMask.take(3).sum == 3, s"mask=${out.bestMask.mkString}")
  }

  test("metrics accumulate (iterations+1) × nStars entries, rounded to 4") {
    val out = Bbha.run(cfg, 12, toyEvaluate)
    val fit = out.metrics("fitness").asInstanceOf[List[Double]]
    assert(fit.length == (cfg.nIterations + 1) * cfg.nStars)
    assert(fit.forall(v => v == math.round(v * 1e4) / 1e4))
    val hosts = out.metrics("hosts").asInstanceOf[List[String]]
    assert(hosts.forall(_ == "test-host"))
  }

  test("randomSubset honors randint(1,n) bounds and shuffling") {
    for (seed <- 1L to 50L) {
      val m = Bbha.randomSubset(10, Some(seed), new scala.util.Random(0))
      assert(m.sum >= 1 && m.sum <= 10)
      assert(m.forall(v => v == 0 || v == 1))
    }
    // deterministic per seed
    val a = Bbha.randomSubset(10, Some(5L), new scala.util.Random(0))
    val b = Bbha.randomSubset(10, Some(5L), new scala.util.Random(99))
    assert(a.toSeq == b.toSeq)
  }

  test("a bad n-stars or bbha-iterations fails in Main.buildConfig, named") {
    val required = Map("app-name" -> "a", "molecules-dataset" -> "m.tsv",
      "clinical-dataset" -> "c.tsv")
    for ((key, value, extra) <- Seq[(String, String, Map[String, String])](
        ("n-stars", "0", Map()), ("bbha-iterations", "-1", Map()),
        ("n-stars", "abc", Map()), ("random-state", "x", Map()),
        ("cv-folds", "0", Map("model" -> "svm")), ("model", "foo", Map()),
        ("clustering-algorithm", "dbscan", Map()),
        ("clustering-scoring-method", "c_index", Map()),
        ("number-of-clusters", "0", Map()), ("algorithm", "7", Map()),
        ("number-of-workers", "-2", Map()))) {
      val e = intercept[IllegalArgumentException] {
        Main.buildConfig(required ++ extra + (key -> value))
      }
      assert(e.getMessage.contains(key), e.getMessage)
    }
  }

  test("mask distance is sqrt of hamming") {
    assert(Bbha.maskDistance(Array(1, 0, 1), Array(0, 0, 1)) == 1.0)
    assert(Bbha.maskDistance(Array(1, 1, 1), Array(0, 0, 0)) == math.sqrt(3))
  }
}

class FitnessSpec extends AnyFunSuite {
  val cfg = FitnessConfig(randomState = Some(1L))
  val rng = new scala.util.Random(2)
  // two survival regimes driven by feature 0
  val x: Array[Array[Double]] = Array.tabulate(60) { i =>
    Array(if (i < 30) 0.0 else 5.0, rng.nextDouble())
  }
  val y: Array[Clinical] = Array.tabulate(60) { i =>
    if (i < 30) Clinical(true, 1.0 + rng.nextDouble())
    else Clinical(rng.nextDouble() > 0.3, 8.0 + rng.nextDouble())
  }

  test("empty mask returns the worst-fitness sentinel without evaluating") {
    val r = Fitness.withChecking(cfg, x, y, Array(false, false), 0)
    assert(r.fitness == Double.NegativeInfinity)
    assert(r.nFeatures == -1)
  }

  test("clustering fitness (k-means + CoxPH log-likelihood) runs") {
    val r = Fitness.withChecking(cfg, x, y, Array(true, false), 3)
    assert(!r.fitness.isNaN && !r.fitness.isInfinite)
    assert(r.partitionId == 3)
    assert(r.nFeatures == 1)
  }

  test("concordance scoring separates the planted regimes") {
    val r = Fitness.withChecking(
      cfg.copy(clusteringScoringMethod = "concordance_index"),
      x, y, Array(true, false), 0)
    assert(r.fitness > 0.7, s"fitness ${r.fitness}")
  }

  test("signal feature scores better than noise feature") {
    val c = cfg.copy(clusteringScoringMethod = "concordance_index")
    val signal = Fitness.withChecking(c, x, y, Array(true, false), 0).fitness
    val noise = Fitness.withChecking(c, x, y, Array(false, true), 0).fitness
    assert(signal > noise)
  }

  test("rf CV fitness runs and beats chance on the planted signal") {
    val r = Fitness.withChecking(cfg.copy(model = "rf", cvFolds = 3),
      x, y, Array(true, true), 0)
    assert(r.fitness > 0.6, s"fitness ${r.fitness}")
  }

  test("svm CV fitness runs and beats chance on the planted signal") {
    val r = Fitness.withChecking(
      cfg.copy(model = "svm", cvFolds = 3, svmIsRegression = false,
        svmMaxIterations = 200),
      x, y, Array(true, true), 0)
    assert(r.fitness > 0.6, s"fitness ${r.fitness}")
    assert(r.numIterations > 0)
  }
}

class PartitionerSpec extends AnyFunSuite {
  test("fallback partitioner matches key * W // n (contiguous blocks)") {
    val p = (k: Int) => FitnessExecutor.partitionOf(k, 3, 30)
    for (k <- 0 until 30)
      assert(p(k) == k * 3 / 30)
    assert((0 until 30).map(p).distinct == Seq(0, 1, 2))
  }
}

object BlindToy extends Serializable {
  val fitness: Array[Int] => Double =
    mask => mask.take(3).sum - 0.01 * mask.sum
}

class BlindSearchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("exhaustive search finds the exact optimum {0,1,2}") {
    val out = graft.bbha.BlindSearch.run(spark.sparkContext, 8,
      moreIsBetter = true, BlindToy.fitness)
    assert(out.bestMask.toSeq == Seq(1, 1, 1, 0, 0, 0, 0, 0))
    assert(math.abs(out.bestFitness - 2.97) < 1e-9)
    assert(out.evaluated == 255)
  }

  test("mask materializes the subset index bit-for-bit") {
    assert(graft.bbha.BlindSearch.mask(0b1011L, 4).toSeq == Seq(1, 1, 0, 1))
  }

  test("tie-break prefers fewer features then lower index, any order") {
    // constant fitness: winner must be the single-feature subset idx 1
    val out = graft.bbha.BlindSearch.run(spark.sparkContext, 6,
      moreIsBetter = true, graft.bbha.BlindSearchSpecHelpers.const)
    assert(out.bestMask.toSeq == Seq(1, 0, 0, 0, 0, 0))
  }

  test("feature bound is enforced") {
    intercept[IllegalArgumentException] {
      graft.bbha.BlindSearch.run(spark.sparkContext, 21, true, graft.bbha.BlindSearchSpecHelpers.const)
    }
  }
}
