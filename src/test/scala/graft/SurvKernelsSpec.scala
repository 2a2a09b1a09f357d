package graft

import graft.fitness.{Fitness, FitnessConfig}
import graft.surv._
import org.scalatest.funsuite.AnyFunSuite

class CIndexSpec extends AnyFunSuite {
  val y = Array(Clinical(true, 1.0), Clinical(true, 2.0),
    Clinical(false, 3.0), Clinical(true, 4.0))

  test("perfect risk ordering gives C = 1") {
    // earlier event = higher risk
    assert(CIndex.concordance(y, Array(4, 3, 2, 1)) == 1.0)
  }
  test("reversed ordering gives C = 0") {
    assert(CIndex.concordance(y, Array(1, 2, 3, 4)) == 0.0)
  }
  test("constant risk gives C = 0.5") {
    assert(CIndex.concordance(y, Array(7, 7, 7, 7)) == 0.5)
  }
  test("hand-computed mixed example") {
    // pairs (i earlier event, j later): (0,1),(0,2),(0,3),(1,2),(1,3),(3,-)
    // censored sample 2 is never the earlier member.
    // risk = [3, 1, 2, 4]: (0,1) conc 3>1; (0,2) conc 3>2; (0,3) disc 3<4;
    // (1,2) disc 1<2; (1,3) disc 1<4 → 2/5; sample 3 (t=4) has no later j.
    assert(CIndex.concordance(y, Array(3, 1, 2, 4)) == 2.0 / 5.0)
  }
  test("no comparable pairs gives 0.5") {
    val cens = Array(Clinical(false, 1.0), Clinical(false, 2.0))
    assert(CIndex.concordance(cens, Array(1, 2)) == 0.5)
  }
}

class CoxPHSpec extends AnyFunSuite {
  // group 1 dies much earlier than group 0 → positive beta (higher group
  // value = higher hazard? group 1 earlier events ⇒ beta > 0)
  val x: Array[Array[Double]] =
    Array(0, 0, 0, 0, 1, 1, 1, 1).map(g => Array(g.toDouble))
  val y: Array[Clinical] = Array(
    Clinical(true, 10), Clinical(true, 12), Clinical(false, 15), Clinical(true, 14),
    Clinical(true, 1), Clinical(true, 2), Clinical(true, 3), Clinical(false, 4))

  test("beta sign follows the hazard direction") {
    val fit = CoxPH.fit(x, y)
    assert(fit.beta(0) > 1.0, s"expected strongly positive beta, got ${fit.beta(0)}")
  }
  test("fitted log-likelihood beats null model") {
    val fit = CoxPH.fit(x, y)
    assert(fit.logLik > CoxPH.logLikelihood(x, y, Array(0.0)))
  }
  test("gradient is ~zero at the optimum (stationarity)") {
    val fit = CoxPH.fit(x, y)
    val eps = 1e-5
    val up = CoxPH.logLikelihood(x, y, Array(fit.beta(0) + eps))
    val down = CoxPH.logLikelihood(x, y, Array(fit.beta(0) - eps))
    assert(math.abs(up - down) / (2 * eps) < 1e-3)
  }
  test("two-sample hand-computed partial likelihood") {
    // samples: (t=1, event, x=1), (t=2, event, x=0)
    // ll(b) = [b - log(e^b + 1)] + [0 - log(1)] ⇒ maximized as b→∞;
    // at b=0: ll = -log(2)
    val xs = Array(Array(1.0), Array(0.0))
    val ys = Array(Clinical(true, 1.0), Clinical(true, 2.0))
    assert(math.abs(CoxPH.logLikelihood(xs, ys, Array(0.0)) + math.log(2)) < 1e-12)
    val atOne = 1.0 - math.log(math.exp(1.0) + 1)
    assert(math.abs(CoxPH.logLikelihood(xs, ys, Array(1.0)) - atOne) < 1e-12)
  }
  test("efron ≡ breslow without ties; hand-computed efron values with ties") {
    // this suite's y has no tied times: the methods must coincide exactly
    assert(CoxPH.logLikelihood(x, y, Array(0.7), "efron")
      == CoxPH.logLikelihood(x, y, Array(0.7), "breslow"))
    // two tied events among three at risk: at beta
    //   efron ll = b − log(e^b+2) − log((e^b+3)/2)   (j/d = 1/2 correction)
    //   breslow  = b − 2·log(e^b+2)
    val xs = Array(Array(1.0), Array(0.0), Array(0.0))
    val ys = Array(Clinical(true, 1.0), Clinical(true, 1.0), Clinical(false, 2.0))
    assert(math.abs(CoxPH.logLikelihood(xs, ys, Array(0.0), "efron")
      + (math.log(3) + math.log(2))) < 1e-12)
    assert(math.abs(CoxPH.logLikelihood(xs, ys, Array(0.0), "breslow")
      + 2 * math.log(3)) < 1e-12)
    val b = 0.8
    val expected = b - math.log(math.exp(b) + 2) - math.log((math.exp(b) + 3) / 2)
    assert(math.abs(CoxPH.logLikelihood(xs, ys, Array(b), "efron") - expected) < 1e-12)
  }

  test("efron gradient is ~zero at the efron optimum when ties are present") {
    // deliberate tied event times across the two groups
    val xs = Array(0, 0, 0, 1, 1, 1, 0, 1).map(g => Array(g.toDouble))
    val ys = Array(
      Clinical(true, 5), Clinical(true, 5), Clinical(false, 8), Clinical(true, 2),
      Clinical(true, 2), Clinical(true, 3), Clinical(true, 6), Clinical(false, 4))
    val fit = CoxPH.fit(xs, ys) // default ties = efron
    val eps = 1e-5
    val up = CoxPH.logLikelihood(xs, ys, Array(fit.beta(0) + eps))
    val down = CoxPH.logLikelihood(xs, ys, Array(fit.beta(0) - eps))
    assert(math.abs(up - down) / (2 * eps) < 1e-3)
    // and the efron fit differs from the breslow fit on tied data
    val breslow = CoxPH.fit(xs, ys, ties = "breslow")
    assert(fit.beta(0) != breslow.beta(0))
  }

  test("concordance score of the fit separates the groups") {
    val fit = CoxPH.fit(x, y)
    assert(CoxPH.scoreConcordance(fit, x, y) > 0.7)
  }
  test("log-likelihood score is the average partial log-likelihood") {
    val fit = CoxPH.fit(x, y)
    assert(math.abs(CoxPH.scoreLogLikelihood(fit, x, y) -
      CoxPH.logLikelihood(x, y, fit.beta) / x.length) < 1e-12)
  }

  test("separation-prone fit: plain Newton diverges, step-halving stays finite and monotone") {
    // perfect separation: strictly higher covariate → strictly earlier
    // event, so the partial likelihood is maximized only as beta → ∞ and
    // an unguarded Newton step overflows exp(eta)
    val n = 40
    val xs = Array.tabulate(n)(i => Array(i.toDouble))
    val ys = Array.tabulate(n)(i => Clinical(event = true, time = (n - i).toDouble))

    // plain Newton (no line search): reproduce divergence
    var beta = 0.0
    var prev = CoxPH.logLikelihood(xs, ys, Array(0.0))
    var broke = false
    var it = 0
    while (it < 60 && !broke) {
      val (g, h) = CoxPH.gradHess(xs, ys, Array(beta), "efron")
      beta += CoxPH.solve(h, g)(0)
      val ll = CoxPH.logLikelihood(xs, ys, Array(beta))
      if (ll.isNaN || ll.isInfinite || beta.isNaN || ll < prev - 1e-9) broke = true
      else prev = ll
      it += 1
    }
    assert(broke, s"fixture not separation-prone: plain Newton survived 60 iters (beta=$beta)")

    // guarded fit: finite beta/ll, and ll is monotone in the iteration budget
    val lls = (1 to 15).map(k => CoxPH.fit(xs, ys, maxIter = k).logLik)
    lls.foreach(l => assert(!l.isNaN && !l.isInfinite, s"non-finite ll in $lls"))
    lls.sliding(2).foreach { case Seq(a, b) => assert(b >= a - 1e-9, s"ll decreased: $lls") }
    val fit = CoxPH.fit(xs, ys)
    assert(fit.beta.forall(b => !b.isNaN && !b.isInfinite), s"non-finite beta ${fit.beta.toSeq}")
    assert(fit.logLik >= CoxPH.logLikelihood(xs, ys, Array(0.0)))
  }

  test("fit's log-likelihood is bit-identical to logLikelihood at its beta") {
    def exact(xs: Array[Array[Double]], ys: Array[Clinical], ties: String): CoxPH.Fit = {
      val fit = CoxPH.fit(xs, ys, ties = ties)
      assert(fit.logLik == CoxPH.logLikelihood(xs, ys, fit.beta, ties), s"$ties fit $fit")
      fit
    }
    exact(x, y, "efron") // untied
    val tiedX = Array(0, 0, 0, 1, 1, 1, 0, 1).map(g => Array(g.toDouble))
    val tiedY = Array(
      Clinical(true, 5), Clinical(true, 5), Clinical(false, 8), Clinical(true, 2),
      Clinical(true, 2), Clinical(true, 3), Clinical(true, 6), Clinical(false, 4))
    exact(tiedX, tiedY, "efron")
    exact(tiedX, tiedY, "breslow")
    val n = 40 // the separation-prone case above
    val sepX = Array.tabulate(n)(i => Array(i.toDouble))
    val sepY = Array.tabulate(n)(i => Clinical(event = true, time = (n - i).toDouble))
    val sep = exact(sepX, sepY, "efron")
    assert(sep.iterations >= 10, s"separation fit ran only ${sep.iterations} iterations")
  }
}

class KMeansLocalSpec extends AnyFunSuite {
  val blobA: Array[Array[Double]] = Array.tabulate(20)(i => Array(0.0 + i * 0.01, 0.0))
  val blobB: Array[Array[Double]] = Array.tabulate(20)(i => Array(10.0 + i * 0.01, 10.0))

  test("separated blobs cluster cleanly and deterministically") {
    val r1 = KMeansLocal.fit(blobA ++ blobB, 2, seed = 42)
    val r2 = KMeansLocal.fit(blobA ++ blobB, 2, seed = 42)
    assert(r1.labels.toSeq == r2.labels.toSeq)
    val a = r1.labels.take(20).toSet
    val b = r1.labels.drop(20).toSet
    assert(a.size == 1 && b.size == 1 && a != b)
  }
  test("inertia is the within-cluster sum of squares") {
    val r = KMeansLocal.fit(blobA ++ blobB, 2, seed = 1)
    assert(r.inertia < 1.0)
  }

  /** Gaussian rows around `k` random centres, so Lloyd runs several rounds. */
  private def blobs(n: Int, dim: Int, k: Int, seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    val centres = Array.fill(k)(Array.fill(dim)(rng.nextGaussian() * 3))
    Array.tabulate(n)(i => centres(i % k).map(_ + rng.nextGaussian()))
  }

  private def bits(r: KMeansLocal.Result): (Seq[Int], Seq[Long], Long) =
    (r.labels.toSeq, r.centers.toSeq.flatMap(_.map(java.lang.Double.doubleToRawLongBits)),
      java.lang.Double.doubleToRawLongBits(r.inertia))

  test("four-row assignment is bit-identical to the one-row Lloyd loop") {
    for (k <- Seq(1, 2, 3, 5); n <- Seq(3, 8, 33, 64, 193); dim <- Seq(1, 2, 7, 60)
        if n > k) {
      val x = blobs(n, dim, k, n * 100L + dim)
      for (seed <- Seq(0L, 7L)) {
        val (want, _) = KMeansReference.fit(x, k, seed = seed)
        assert(bits(KMeansLocal.fit(x, k, seed = seed)) == bits(want), s"k=$k n=$n dim=$dim seed=$seed")
      }
    }
  }

  test("an empty-cluster reseed keeps bit parity") {
    // nine equal rows and two equal outliers: k-means++ can place only two
    // distinct centres, so the duplicate centres start empty and are reseeded
    for (k <- Seq(3, 5); n <- Seq(11, 12)) {
      val x = Array.tabulate(n)(i => if (i % 5 == 4) Array(1.0, 1.0) else Array(0.0, 0.0))
      val (want, reseeds) = KMeansReference.fit(x, k, seed = 3)
      assert(reseeds > 0, s"k=$k n=$n never reseeded")
      assert(bits(KMeansLocal.fit(x, k, seed = 3)) == bits(want), s"k=$k n=$n")
    }
  }
}

class SpectralLocalSpec extends AnyFunSuite {
  test("two well-separated rings/blobs split") {
    val blobA = Array.tabulate(15)(i => Array(math.cos(i), math.sin(i)))
    val blobB = Array.tabulate(15)(i => Array(20 + math.cos(i), 20 + math.sin(i)))
    val labels = SpectralLocal.fit(blobA ++ blobB, 2, seed = 7)
    assert(labels.take(15).toSet.size == 1)
    assert(labels.drop(15).toSet.size == 1)
    assert(labels.take(15).head != labels.drop(15).head)
  }

  test("labels equal k-means of the embedding under the one-row Lloyd loop") {
    val rng = new scala.util.Random(11)
    for (k <- Seq(2, 3); n <- Seq(9, 30, 41)) {
      val x = Array.fill(n)(Array.fill(4)(rng.nextGaussian()))
      val want = KMeansReference.fit(SpectralLocal.embedding(x, k, 1.0), k, seed = 5)._1.labels
      assert(SpectralLocal.fit(x, k, seed = 5).toSeq == want.toSeq, s"k=$k n=$n")
    }
  }
}

class RandomSurvivalForestSpec extends AnyFunSuite {
  // feature 0 drives survival: high value → early event
  val rng = new scala.util.Random(5)
  val n = 120
  val x: Array[Array[Double]] = Array.fill(n)(Array.fill(4)(rng.nextDouble()))
  val y: Array[Clinical] = x.map { row =>
    val t = if (row(0) > 0.5) 1.0 + rng.nextDouble() else 5.0 + rng.nextDouble()
    Clinical(rng.nextDouble() > 0.2, t)
  }

  test("learns the risk feature (train C-index well above chance)") {
    val m = RandomSurvivalForest.fit(x, y, nEstimators = 20, seed = 3)
    val c = CIndex.concordance(y, x.map(m.risk))
    assert(c > 0.75, s"C-index $c")
  }
  test("log-rank statistic separates distinct survival groups") {
    val idx1 = (0 until n).filter(i => x(i)(0) > 0.5).toArray
    val idx2 = (0 until n).filter(i => x(i)(0) <= 0.5).toArray
    assert(RandomSurvivalForest.logRank(y, idx1, idx2) > 10.0)
    // identical groups → ~0
    val half = (0 until n by 2).toArray
    val otherHalf = (1 until n by 2).toArray
    assert(RandomSurvivalForest.logRank(y, half, otherHalf) <
      RandomSurvivalForest.logRank(y, idx1, idx2))
  }
  test("deterministic under a fixed seed") {
    val a = RandomSurvivalForest.fit(x, y, nEstimators = 5, seed = 11)
    val b = RandomSurvivalForest.fit(x, y, nEstimators = 5, seed = 11)
    assert(x.map(a.risk).toSeq == x.map(b.risk).toSeq)
  }
  test("treeNJobs is a schedule, not a semantic: 1 ≡ 4 ≡ all-cores bit-identically") {
    val serial = RandomSurvivalForest.fit(x, y, nEstimators = 12, seed = 11,
      treeNJobs = 1)
    val par4 = RandomSurvivalForest.fit(x, y, nEstimators = 12, seed = 11,
      treeNJobs = 4)
    val parAll = RandomSurvivalForest.fit(x, y, nEstimators = 12, seed = 11,
      treeNJobs = -1)
    assert(x.map(serial.risk).toSeq == x.map(par4.risk).toSeq)
    assert(x.map(serial.risk).toSeq == x.map(parAll.risk).toSeq)
  }
  test("parallel tree growth is faster than serial (--tree-n-jobs)") {
    // heavier forest so per-tree work dominates pool overhead; serial runs
    // first, which also warms the JIT in the parallel run's favor — the
    // assertion is intentionally lenient (any speedup) to survive
    // co-tenant CPU steal on this box
    val bigX = Array.fill(400)(Array.fill(6)(rng.nextDouble()))
    val bigY = bigX.map { row =>
      val t = if (row(0) > 0.5) 1.0 + rng.nextDouble() else 5.0 + rng.nextDouble()
      Clinical(rng.nextDouble() > 0.2, t)
    }
    def time(jobs: Int): Double = {
      val t0 = System.nanoTime()
      RandomSurvivalForest.fit(bigX, bigY, nEstimators = 16, seed = 7,
        treeNJobs = jobs)
      (System.nanoTime() - t0) / 1e9
    }
    time(4) // JIT warmup, untimed
    // up to 3 attempts: a co-tenant steal burst during the parallel run
    // can mask a real ~3x speedup; any clean attempt proves the property
    val ok = (1 to 3).exists { _ =>
      val serial = time(1)
      val par = time(4)
      par < serial
    }
    assert(ok, "parallel tree growth never beat serial across 3 attempts")
  }
}

class SurvivalSVMSpec extends AnyFunSuite {
  val rng = new scala.util.Random(9)
  val n = 80
  val x: Array[Array[Double]] = Array.fill(n)(Array.fill(3)(rng.nextDouble() * 2 - 1))
  val y: Array[Clinical] = x.map { row =>
    Clinical(true, math.exp(-2.0 * row(0)) * (1 + 0.1 * rng.nextDouble()))
  }

  test("ranking mode recovers the risk direction") {
    val m = SurvivalSVM.fit(x, y, isRegression = false, maxIter = 500)
    val c = CIndex.concordance(y, x.map(m.risk))
    assert(c > 0.8, s"C-index $c")
  }
  test("regression mode fits log-time") {
    val m = SurvivalSVM.fit(x, y, isRegression = true, maxIter = 500)
    val c = CIndex.concordance(y, x.map(m.risk))
    assert(c > 0.8, s"C-index $c")
  }
  test("rbf/cosine/poly/sigmoid kernels run and beat chance") {
    for (k <- Seq("rbf", "cosine", "poly", "sigmoid")) {
      val m = SurvivalSVM.fit(x, y, kernel = k, isRegression = false, maxIter = 300)
      val c = CIndex.concordance(y, x.map(m.risk))
      assert(c > 0.6, s"kernel $k C-index $c")
    }
  }
  test("iteration count is reported") {
    val m = SurvivalSVM.fit(x, y, maxIter = 50)
    assert(m.iterations > 0 && m.iterations <= 50)
  }

  test("precomputed kernel ≡ linear kernel bit-identically (parameters.py:107-109)") {
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (p, q) => p * q }.sum
    val gram = Array.tabulate(n, n)((i, j) => dot(x(i), x(j)))
    val lin = SurvivalSVM.fit(x, y, kernel = "linear", isRegression = false,
      maxIter = 300)
    val pre = SurvivalSVM.fit(gram, y, kernel = "precomputed",
      isRegression = false, maxIter = 300)
    assert(lin.iterations == pre.iterations)
    // scoring: the precomputed model takes rows of K(x_test, X_train)
    x.indices.foreach { i =>
      assert(lin.risk(x(i)) == pre.risk(gram(i)), s"row $i")
    }
  }

  test("Fitness.fitModel fits the SVM the search fits, optimizer included; a bad clustering is a bad argument") {
    val cfg = FitnessConfig(model = "svm", svmIsRegression = false,
      svmOptimizer = "direct", svmMaxIterations = 200, randomState = Some(3L))
    val refit = Fitness.fitModel(cfg, x, y, Array(true, true, true))
      .asInstanceOf[SurvivalSVM.Model]
    val direct = SurvivalSVM.fit(x, y, isRegression = false, maxIter = 200,
      seed = 3L, optimizer = "direct")
    assert(x.map(refit.risk).toSeq == x.map(direct.risk).toSeq)
    intercept[IllegalArgumentException] {
      Fitness.fitModel(FitnessConfig(clusteringAlgorithm = "dbscan"), x, y,
        Array(true, true, true))
    }
  }

  test("precomputed kernel rejects a non-square matrix") {
    val bad = Array.fill(4)(Array.fill(3)(0.5))
    intercept[IllegalArgumentException] {
      SurvivalSVM.fit(bad, y.take(4), kernel = "precomputed")
    }
  }
}

class RankingGradientSpec extends AnyFunSuite {
  val rng = new scala.util.Random(13)

  private def randomCase(n: Int): (Array[Clinical], Array[Double]) = {
    val y = Array.fill(n)(Clinical(rng.nextDouble() < 0.7,
      (rng.nextInt(20) + 1).toDouble)) // deliberate time ties
    val s = Array.fill(n)(math.floor(rng.nextDouble() * 10) / 2.0) // score ties
    (y, s)
  }

  test("order-statistic-tree gradient equals the naive pair sweep") {
    for (trial <- 1 to 20) {
      val (y, s) = randomCase(5 + rng.nextInt(60))
      val (lT, gT) = RankingGradient.lossAndGradient(y, s)
      val (lN, gN) = RankingGradient.lossAndGradientNaive(y, s)
      assert(math.abs(lT - lN) <= 1e-8 * math.max(1.0, math.abs(lN)),
        s"trial $trial loss $lT vs $lN")
      gT.zip(gN).zipWithIndex.foreach { case ((a, b), i) =>
        assert(math.abs(a - b) <= 1e-8 * math.max(1.0, math.abs(b)),
          s"trial $trial grad[$i] $a vs $b")
      }
    }
  }

  test("empty and all-censored inputs give zero loss and gradient") {
    assert(RankingGradient.lossAndGradient(Array.empty, Array.empty)._1 == 0.0)
    val cens = Array.fill(5)(Clinical(false, 1.0))
    val (l, g) = RankingGradient.lossAndGradient(cens, Array(1.0, 2, 3, 4, 5))
    assert(l == 0.0 && g.forall(_ == 0.0))
  }

  test("avltree and rbtree optimizers fit identically; naive path agrees") {
    val x = Array.fill(40)(Array.fill(3)(rng.nextDouble() * 2 - 1))
    val y = x.map(r => Clinical(true, math.exp(-2.0 * r(0))))
    val risks = Seq("avltree", "rbtree", "direct").map { opt =>
      val m = SurvivalSVM.fit(x, y, isRegression = false, maxIter = 200,
        optimizer = opt)
      x.map(m.risk).toSeq
    }
    assert(risks(0) == risks(1))
    risks(0).zip(risks(2)).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6, s"$a vs $b")
    }
  }
}

/** The cohort-buffer scale boundary (flagged two rounds running): the
  * exact C-index is a pairwise statistic — all of a group's triples must
  * meet in one buffer — so the aggregator (a) runs the O(n log n)
  * Fenwick twin in finish, making 10⁶-row cohorts compute exactly, and
  * (b) hard-caps the buffered cohort at the memory bound and REFUSES
  * loudly beyond it. Lake-scale cohorts beyond the cap belong in
  * stratified or sampled estimates.
  */
class CIndexAggregatorScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("concordanceLogN is bit-identical to the pairwise loop under heavy ties") {
    for (seed <- Seq(1, 7, 42)) {
      val rng = new scala.util.Random(seed)
      val n = 500
      // small value domains force time AND risk ties; sprinkle NaN risks
      val y = Array.fill(n)(Clinical(rng.nextBoolean(), rng.nextInt(20).toDouble))
      val risk = Array.fill(n) {
        val r = rng.nextInt(15).toDouble
        if (rng.nextInt(50) == 0) Double.NaN else if (r == 3.0) -0.0 else r
      }
      val naive = CIndex.concordance(y, risk)
      val fast = CIndex.concordanceLogN(y, risk)
      assert(fast == naive, s"seed $seed: fast=$fast naive=$naive")
    }
  }

  test("small cohorts (the fitness-kernel scale) aggregate exactly") {
    import spark.implicits._
    import graft.queries.Survival
    val rows = (0 until 100).map(i =>
      Survival.SurvRow(i % 2 == 0, (i % 7).toDouble, (i * 37 % 101).toDouble))
    val res = rows.toDS().groupByKey(_ => 1)
      .agg(Survival.CIndexAggregator.toColumn.name("res"))
      .collect().head._2
    val expect = CIndex.concordance(
      rows.map(r => Clinical(r.event, r.time)).toArray, rows.map(_.risk).toArray)
    assert(res.n == 100 && math.abs(res.cindex - expect) < 1e-12,
      s"got $res expect $expect")
  }

  test("a 10^6-row cohort computes exactly (perfect ordering gives C = 1)") {
    import spark.implicits._
    import graft.queries.Survival
    // distinct times, risk = -time: every comparable pair concordant
    val big = spark.range(0, 1000000L)
      .map(i => Survival.SurvRow(i % 2 == 0, i.toDouble, -i.toDouble))
    val res = big.groupByKey(_ => 1L)
      .agg(Survival.CIndexAggregator.toColumn.name("res"))
      .collect().head._2
    assert(res.n == 1000000 && res.cindex == 1.0, s"got $res")
  }

  test("beyond the memory cap the cohort is refused loudly, not OOMed") {
    import spark.implicits._
    import graft.queries.Survival
    val big = spark.range(0, Survival.CIndexAggregator.MaxCohortRows + 1L)
      .repartition(1)
      .map(i => Survival.SurvRow(i % 2 == 0, (i % 97).toDouble, i.toDouble))
    val e = intercept[Exception] {
      big.groupByKey(_ => 1L)
        .agg(Survival.CIndexAggregator.toColumn.name("res"))
        .collect()
    }
    def chain(t: Throwable, n: Int = 0): List[Throwable] =
      if (t == null || n > 10) Nil else t :: chain(t.getCause, n + 1)
    assert(chain(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("pairwise")),
      s"expected the cohort-cap refusal, got: $e")
  }
}
