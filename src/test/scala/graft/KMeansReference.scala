package graft

import graft.surv.KMeansLocal
import scala.util.Random

/** The one-row-at-a-time Lloyd loop `KMeansLocal` ran before its
  * assignment step summed four rows per pass, kept as the bit-parity
  * reference. Seeding is `KMeansLocal.plusPlusInit` itself. It also
  * counts empty-cluster reseeds, so a spec can show that its input takes
  * that branch.
  */
object KMeansReference {

  def fit(x: Array[Array[Double]], k: Int, seed: Long = 0L,
      nInit: Int = 10, maxIter: Int = 300, tol: Double = 1e-4): (KMeansLocal.Result, Int) = {
    require(x.nonEmpty && k >= 1)
    val rng = new Random(seed)
    var best: KMeansLocal.Result = null
    var reseeds = 0
    for (_ <- 0 until nInit) {
      val (r, rs) = lloyd(x, k, rng, maxIter, tol)
      reseeds += rs
      if (best == null || r.inertia < best.inertia) best = r
    }
    (best, reseeds)
  }

  private def lloyd(x: Array[Array[Double]], k: Int, rng: Random,
      maxIter: Int, tol: Double): (KMeansLocal.Result, Int) = {
    val n = x.length
    val dim = x(0).length
    var centers = KMeansLocal.plusPlusInit(x, k, rng)
    val labels = new Array[Int](n)
    // one row at a time, one serial distance sum per centre
    def assign(): Double = {
      var inertia = 0.0
      for (i <- 0 until n) {
        var bestC = 0; var bestD = Double.MaxValue
        for (c <- 0 until k) {
          var d = 0.0; var f = 0
          while (f < dim) { val e = x(i)(f) - centers(c)(f); d += e * e; f += 1 }
          if (d < bestD) { bestD = d; bestC = c }
        }
        labels(i) = bestC
        inertia += bestD
      }
      inertia
    }
    var prevInertia = Double.MaxValue
    var iter = 0
    var done = false
    var reseeds = 0
    while (iter < maxIter && !done) {
      val inertia = assign()
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Int](k)
      for (i <- 0 until n) {
        counts(labels(i)) += 1
        for (d <- 0 until dim) sums(labels(i))(d) += x(i)(d)
      }
      centers = Array.tabulate(k) { c =>
        if (counts(c) == 0) { reseeds += 1; x(rng.nextInt(n)).clone() }
        else sums(c).map(_ / counts(c))
      }
      done = prevInertia - inertia < tol * math.max(1.0, prevInertia)
      prevInertia = inertia
      iter += 1
    }
    val inertia = assign()
    (KMeansLocal.Result(labels, centers, inertia), reseeds)
  }
}
