package graft.surv

import scala.util.Random

/** Task-local k-means (Lloyd + k-means++ init, multiple restarts).
  *
  * The reference clusters each candidate feature subset with
  * `sklearn.cluster.KMeans(n_clusters)` inside the fitness function
  * (/root/reference/scripts/main.py:45-49, 83-87) — n_samples is a few
  * hundred, so single-node is the right scale; Spark parallelism is spent
  * on whole fitness calls, not on one k-means. Unlike the reference
  * (which leaves KMeans unseeded — nondeterministic), this is explicitly
  * seeded: the engine's replicability contract (SURVEY §2.4) is
  * self-determinism.
  */
object KMeansLocal {

  case class Result(labels: Array[Int], centers: Array[Array[Double]],
      inertia: Double)

  def fit(x: Array[Array[Double]], k: Int, seed: Long = 0L,
      nInit: Int = 10, maxIter: Int = 300, tol: Double = 1e-4): Result = {
    require(x.nonEmpty && k >= 1)
    val rng = new Random(seed)
    var best: Result = null
    var run = 0
    while (run < nInit) {
      val r = lloyd(x, k, rng, maxIter, tol)
      if (best == null || r.inertia < best.inertia) best = r
      run += 1
    }
    best
  }

  private def lloyd(x: Array[Array[Double]], k: Int, rng: Random,
      maxIter: Int, tol: Double): Result = {
    val n = x.length
    val dim = x(0).length
    var centers = plusPlusInit(x, k, rng)
    val labels = new Array[Int](n)
    var prevInertia = Double.MaxValue
    var iter = 0
    var inertia = 0.0
    var done = false
    while (iter < maxIter && !done) {
      inertia = assign(x, centers, labels)
      // update
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Int](k)
      var i = 0
      while (i < n) {
        val c = labels(i)
        counts(c) += 1
        var d = 0
        while (d < dim) { sums(c)(d) += x(i)(d); d += 1 }
        i += 1
      }
      centers = Array.tabulate(k) { c =>
        if (counts(c) == 0) x(rng.nextInt(n)).clone() // empty cluster: reseed
        else { val s = sums(c); var d = 0; while (d < dim) { s(d) /= counts(c); d += 1 }; s }
      }
      done = prevInertia - inertia < tol * math.max(1.0, prevInertia)
      prevInertia = inertia
      iter += 1
    }
    // final assignment so labels/inertia are consistent with the RETURNED
    // centers (the loop's labels refer to the pre-update centers)
    inertia = assign(x, centers, labels)
    Result(labels, centers, inertia)
  }

  /** Labels each row with its nearest centre (the first on ties) and
    * returns the inertia, summed in row order. Four rows share each pass
    * over a centre's features, so the pass carries four independent sums
    * instead of one serial chain; each sum is still added in feature
    * order, so every distance is bit-identical to `sqDist`'s.
    */
  private def assign(x: Array[Array[Double]], centers: Array[Array[Double]],
      labels: Array[Int]): Double = {
    val n = x.length
    val k = centers.length
    val dim = x(0).length
    var inertia = 0.0
    var i = 0
    while (i + 4 <= n) {
      val r0 = x(i); val r1 = x(i + 1); val r2 = x(i + 2); val r3 = x(i + 3)
      var b0 = Double.MaxValue; var b1 = Double.MaxValue
      var b2 = Double.MaxValue; var b3 = Double.MaxValue
      var l0 = 0; var l1 = 0; var l2 = 0; var l3 = 0
      var c = 0
      while (c < k) {
        val m = centers(c)
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
        var d = 0
        while (d < dim) {
          val md = m(d)
          val e0 = r0(d) - md; s0 += e0 * e0
          val e1 = r1(d) - md; s1 += e1 * e1
          val e2 = r2(d) - md; s2 += e2 * e2
          val e3 = r3(d) - md; s3 += e3 * e3
          d += 1
        }
        if (s0 < b0) { b0 = s0; l0 = c }
        if (s1 < b1) { b1 = s1; l1 = c }
        if (s2 < b2) { b2 = s2; l2 = c }
        if (s3 < b3) { b3 = s3; l3 = c }
        c += 1
      }
      labels(i) = l0; labels(i + 1) = l1; labels(i + 2) = l2; labels(i + 3) = l3
      inertia += b0; inertia += b1; inertia += b2; inertia += b3
      i += 4
    }
    while (i < n) {
      var bestC = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        val d = sqDist(x(i), centers(c))
        if (d < bestD) { bestD = d; bestC = c }
        c += 1
      }
      labels(i) = bestC
      inertia += bestD
      i += 1
    }
    inertia
  }

  /** k-means++ seeding (Arthur & Vassilvitskii 2007). */
  private[graft] def plusPlusInit(x: Array[Array[Double]], k: Int,
      rng: Random): Array[Array[Double]] = {
    val n = x.length
    val centers = new Array[Array[Double]](k)
    centers(0) = x(rng.nextInt(n)).clone()
    val d2 = Array.tabulate(n)(i => sqDist(x(i), centers(0)))
    var c = 1
    while (c < k) {
      val total = d2.sum
      val target = rng.nextDouble() * total
      var acc = 0.0; var pick = 0
      var i = 0
      while (i < n) { acc += d2(i); if (acc >= target) { pick = i; i = n } else i += 1 }
      centers(c) = x(pick).clone()
      i = 0
      while (i < n) { val d = sqDist(x(i), centers(c)); if (d < d2(i)) d2(i) = d; i += 1 }
      c += 1
    }
    centers
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }
}
