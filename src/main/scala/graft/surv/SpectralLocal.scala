package graft.surv

import breeze.linalg.{eigSym, DenseMatrix}

/** Task-local spectral clustering (normalized-cuts flavor):
  * RBF affinity → symmetric normalized Laplacian → k smallest
  * eigenvectors (Breeze `eigSym`) → row-normalize → k-means.
  *
  * Fills the reference's `sklearn.cluster.SpectralClustering(n_clusters)`
  * slot (/root/reference/scripts/main.py:50-52). Spark ML's nearest
  * analog is PowerIterationClustering, which changes semantics; the
  * task-local eigendecomposition is exact and cheap at n ≤ a few hundred
  * samples per fitness call.
  */
object SpectralLocal {

  def fit(x: Array[Array[Double]], k: Int, seed: Long = 0L,
      gamma: Double = 1.0): Array[Int] = {
    val n = x.length
    if (n <= k) Array.tabulate(n)(identity)
    else KMeansLocal.fit(embedding(x, k, gamma), k, seed = seed).labels
  }

  /** The rows' spectral embedding: the k smallest eigenvectors of the
    * normalized Laplacian, each row L2-normalized.
    */
  private[graft] def embedding(x: Array[Array[Double]], k: Int,
      gamma: Double): Array[Array[Double]] = {
    val n = x.length
    // RBF affinity (sklearn default: gamma = 1.0)
    val w = DenseMatrix.tabulate(n, n) { (i, j) =>
      if (i == j) 0.0
      else {
        var s = 0.0; var d = 0
        while (d < x(i).length) { val df = x(i)(d) - x(j)(d); s += df * df; d += 1 }
        math.exp(-gamma * s)
      }
    }
    // L_sym = I - D^{-1/2} W D^{-1/2}
    val dInvSqrt = Array.tabulate(n) { i =>
      var s = 0.0; var j = 0
      while (j < n) { s += w(i, j); j += 1 }
      if (s <= 0) 0.0 else 1.0 / math.sqrt(s)
    }
    val lSym = DenseMatrix.tabulate(n, n) { (i, j) =>
      val base = if (i == j) 1.0 else 0.0
      base - dInvSqrt(i) * w(i, j) * dInvSqrt(j)
    }
    val eig = eigSym(lSym) // eigenvalues ascending
    Array.tabulate(n) { i =>
      val row = Array.tabulate(k)(c => eig.eigenvectors(i, c))
      val nrm = math.sqrt(row.map(v => v * v).sum)
      if (nrm > 0) row.map(_ / nrm) else row
    }
  }
}
