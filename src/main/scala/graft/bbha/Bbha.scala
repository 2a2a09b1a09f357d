package graft.bbha

import graft.fitness.FitnessResult
import scala.collection.mutable
import scala.util.Random

/** A candidate feature subset, keyed for partitioning.
  * (/root/reference/scripts/metaheuristics.py:307-327, 517-527 — int {0,1}
  * vector paired with its index.)
  */
case class Star(idx: Int, mask: Array[Int]) {
  def nSelected: Int = { var s = 0; var i = 0; while (i < mask.length) { s += mask(i); i += 1 }; s }
}

/** Result of one fitness fan-out: per-star results (sorted by star index)
  * and the wall time of the distribute+compute+collect round.
  * `predictedTimes` is empty from `FitnessExecutor`; a star without an
  * entry reports −1.0, the reference's no-balancer value.
  */
case class EvalRound(results: Array[(Int, FitnessResult)], totalTime: Double,
    predictedTimes: Map[Int, Double])

/** Binary Black Hole Algorithm — the reference's core search loop
  * (`binary_black_hole_spark`,
  * /root/reference/scripts/metaheuristics.py:468-734; BBHA per Pashaei &
  * Aydin, "Binary black hole algorithm for feature selection and
  * classification on biological data").
  *
  * Semantics preserved exactly:
  *  - per-star init seed `random_state * (i+1)` (metaheuristics.py:524-526);
  *  - init subset: `randint(1, n)` leading ones then shuffle (307-327);
  *  - black hole = star with best fitness, first-best on ties (169-192);
  *  - swap when strictly better, or equal fitness with strictly fewer
  *    selected features (647-681);
  *  - event horizon = bhFitness / starFitness — the reference's
  *    `np.sum(current_fitness)` sums a *scalar*, i.e. the current star's
  *    own fitness, not the population total (684). Preserved as-is;
  *  - horizon capture ⇒ respawn with seed `random_state * (i*(a+1))` (693);
  *  - position update `x_new = x_old + U(0,1)*(bh_d − x_old)`, bit = 1
  *    iff |tanh(x_new)| > threshold; threshold = binaryThreshold or a
  *    fresh U(0,1) per dimension when None (696-705);
  *  - all metrics rounded to 4 decimals into flat accumulators
  *    (554-560, 593-624) and per-host idle times (632-645, 707-714).
  *
  * RNG divergence (documented, SURVEY §7.4): the reference's streams are
  * CPython `random` + NumPy; we use `scala.util.Random` with the same
  * seed-derivation scheme — self-deterministic (same seed ⇒ same result
  * in this engine), not cross-engine stream-identical.
  */
object Bbha {

  case class Config(
      nStars: Int = 30,
      nIterations: Int = 30,
      moreIsBetter: Boolean = true,
      randomState: Option[Long] = None,
      binaryThreshold: Option[Double] = Some(0.6)) {
    require(nStars >= 1, s"n-stars must be at least 1, got $nStars")
    require(nIterations >= 0, s"bbha-iterations must be at least 0, got $nIterations")
  }

  case class Outcome(bestMask: Array[Int], bestFitness: Double,
      bestData: FitnessResult, metrics: Map[String, Any])

  /** Random subset: `randint(1, n)` ones, shuffled
    * (`get_random_subset_of_features`, metaheuristics.py:307-327).
    */
  def randomSubset(nFeatures: Int, seed: Option[Long], fallback: Random): Array[Int] = {
    val rng = seed.map(new Random(_)).getOrElse(fallback)
    val k = 1 + rng.nextInt(nFeatures) // inclusive upper like randint(1, n)
    val res = Array.tabulate(nFeatures)(i => if (i < k) 1 else 0)
    // Fisher–Yates
    var i = nFeatures - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = res(i); res(i) = res(j); res(j) = t
      i -= 1
    }
    res
  }

  /** Euclidean distance between binary masks = sqrt(hamming)
    * (np.linalg.norm of the int difference, metaheuristics.py:687).
    */
  def maskDistance(a: Array[Int], b: Array[Int]): Double = {
    var h = 0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); h += d * d; i += 1 }
    math.sqrt(h.toDouble)
  }

  private def isBetter(a: Double, b: Double, moreIsBetter: Boolean): Boolean =
    if (moreIsBetter) a > b else a < b

  def run(cfg: Config, nFeatures: Int,
      evaluate: Array[Star] => EvalRound): Outcome = {
    val masterRng = new Random(cfg.randomState.getOrElse(Random.nextLong()))
    val r4 = (v: Double) => math.round(v * 1e4) / 1e4 // round(x, 4)

    // flat metric accumulators (metaheuristics.py:505-515)
    val numberOfFeatures = mutable.ArrayBuffer[Int]()
    val hosts = mutable.ArrayBuffer[String]()
    val partitionIds = mutable.ArrayBuffer[Int]()
    val fitnessAcc = mutable.ArrayBuffer[Double]()
    val timeExec = mutable.ArrayBuffer[Double]()
    val predictedTimeExec = mutable.ArrayBuffer[Double]()
    val timesByIteration = mutable.ArrayBuffer[Double]()
    val timeTest = mutable.ArrayBuffer[Double]()
    val numOfIterations = mutable.ArrayBuffer[Double]()
    val trainScores = mutable.ArrayBuffer[Double]()
    val workersIdleTimes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[(Int, Double)]]()
    val workersExecPerIter = mutable.LinkedHashMap[String, mutable.ArrayBuffer[(Int, Double)]]()

    def accumulate(round: EvalRound): Unit =
      round.results.foreach { case (starIdx, d) =>
        numberOfFeatures += d.nFeatures
        hosts += d.host
        partitionIds += d.partitionId
        fitnessAcc += r4(d.fitness)
        timeExec += r4(d.workerTime)
        timesByIteration += r4(d.timeByIteration)
        timeTest += r4(d.testTime)
        numOfIterations += r4(d.numIterations)
        trainScores += r4(d.trainScore)
        predictedTimeExec += r4(round.predictedTimes.getOrElse(starIdx, -1.0))
      }

    // ---- init population (seeds random_state * (i+1))
    val stars = Array.tabulate(cfg.nStars) { i =>
      Star(i, randomSubset(nFeatures,
        cfg.randomState.map(_ * (i + 1)), masterRng))
    }
    val initRound = evaluate(stars)
    accumulate(initRound)

    // ---- black hole = best initial star (first best wins, argmax-style)
    var bhIdx = 0
    var bhData = initRound.results(0)._2
    initRound.results.foreach { case (idx, d) =>
      if (isBetter(d.fitness, bhData.fitness, cfg.moreIsBetter)) {
        bhIdx = idx; bhData = d
      }
    }
    var bhMask = stars(bhIdx).mask.clone()
    var bhFitness = bhData.fitness

    // ---- iterations
    for (i <- 0 until cfg.nIterations) {
      val round = evaluate(stars)
      accumulate(round)
      val resultByIdx = round.results.toMap

      // per-host execution/idle bookkeeping (metaheuristics.py:618-645)
      val execPerHost = mutable.LinkedHashMap[String, Double]()
      round.results.foreach { case (_, d) =>
        execPerHost(d.host) = execPerHost.getOrElse(d.host, 0.0) + d.workerTime
      }
      execPerHost.foreach { case (host, sumT) =>
        workersExecPerIter.getOrElseUpdate(host, mutable.ArrayBuffer()) += ((i, sumT))
        workersIdleTimes.getOrElseUpdate(host, mutable.ArrayBuffer()) +=
          ((i, round.totalTime - sumT))
      }

      // swap / event horizon (metaheuristics.py:647-694).
      // NOTE the reference's swap exchanges LOCAL variables only —
      // `stars_subsets[a]` is never reassigned, so the population keeps
      // the star's mask and only the black-hole bookkeeping moves; the
      // horizon check that follows then compares the new black hole
      // against the OLD black hole's mask and may respawn slot `a`
      // itself. Reproduced faithfully.
      for (a <- 0 until cfg.nStars if a != bhIdx) {
        var curMask = stars(a).mask
        var curData = resultByIdx(a)
        var curFitness = curData.fitness
        if (isBetter(curFitness, bhFitness, cfg.moreIsBetter) ||
            (curFitness == bhFitness &&
              stars(a).nSelected < bhMask.count(_ == 1))) {
          bhIdx = a
          val tm = bhMask; bhMask = curMask.clone(); curMask = tm
          val t = bhFitness; bhFitness = curFitness; curFitness = t
          val td = bhData; bhData = curData; curData = td
        }
        // event horizon: bhFitness / np.sum(scalar) = per-star fitness
        val eventHorizon = bhFitness / curFitness
        val dist = maskDistance(bhMask, curMask)
        if (dist < eventHorizon) {
          val seed = cfg.randomState.map(_ * (i.toLong * (a + 1)))
          stars(a) = Star(a, randomSubset(nFeatures, seed, masterRng))
        }
      }

      // binary position update (metaheuristics.py:696-705)
      for (a <- 0 until cfg.nStars if a != bhIdx) {
        val mask = stars(a).mask
        var d = 0
        while (d < nFeatures) {
          val xOld = mask(d).toDouble
          val threshold =
            cfg.binaryThreshold.getOrElse(masterRng.nextDouble())
          val xNew = xOld + masterRng.nextDouble() * (bhMask(d) - xOld)
          mask(d) = if (math.abs(math.tanh(xNew)) > threshold) 1 else 0
          d += 1
        }
      }
    }

    // idle-time mean/std per host — np.std is POPULATION std (ddof=0)
    val idleRes = workersIdleTimes.map { case (host, pairs) =>
      val ts = pairs.map(_._2)
      val mean = ts.sum / ts.length
      val std = math.sqrt(ts.map(t => (t - mean) * (t - mean)).sum / ts.length)
      host -> Map("mean" -> r4(mean), "std" -> r4(std))
    }.toMap

    val metrics: Map[String, Any] = Map(
      "number_of_features" -> numberOfFeatures.toList,
      "execution_times" -> timeExec.toList,
      "predicted_execution_times" -> predictedTimeExec.toList,
      "fitness" -> fitnessAcc.toList,
      "times_by_iteration" -> timesByIteration.toList,
      "test_times" -> timeTest.toList,
      "train_scores" -> trainScores.toList,
      "number_of_iterations" -> numOfIterations.toList,
      "hosts" -> hosts.toList,
      "workers_execution_times_per_iteration" ->
        workersExecPerIter.map { case (h, l) => h -> l.toList }.toMap,
      "workers_idle_times" -> idleRes,
      "workers_idle_times_per_iteration" ->
        workersIdleTimes.map { case (h, l) => h -> l.toList }.toMap,
      "partition_ids" -> partitionIds.toList)

    Outcome(bhMask, bhFitness, bhData, metrics)
  }
}
