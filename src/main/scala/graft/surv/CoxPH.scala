package graft.surv

/** Cox proportional-hazards regression via Newton–Raphson on the partial
  * likelihood, with Efron (default — lifelines' default) or Breslow tie
  * handling.
  *
  * The reference fits `lifelines.CoxPHFitter` on a frame
  * `{E, T, group}` where `group` is the cluster id as a single *numeric*
  * covariate (/root/reference/scripts/main.py:88-98 — no one-hot), and
  * scores with `cph.score(df, scoring_method)` for
  * `concordance_index` | `log_likelihood`
  * (/root/reference/scripts/main.py:100-102). This implementation keeps
  * exactly that shape: p covariates (p = 1 for the clustering fitness),
  * Efron ties like `CoxPHFitter()`'s default, score = average partial
  * log-likelihood or C-index of the linear predictor. Without tied event
  * times the two tie methods coincide exactly.
  *
  * Runs driver/task-local over ≤ a few hundred samples — no Spark here;
  * the engine fans *whole fitness calls* out, not the Newton iterations.
  */
object CoxPH {

  case class Fit(beta: Array[Double], logLik: Double, iterations: Int,
      converged: Boolean)

  /** Newton–Raphson on the partial likelihood. The survival-time order
    * depends only on `y`, so it is computed once per fit and shared by
    * every gradient and line-search evaluation; the loops and their
    * summation order are those of the public functions, so the fit is
    * bit-identical to recomputing the order at each call.
    * @param x n×p covariate matrix
    * @param ties "efron" (lifelines default) | "breslow"
    */
  def fit(x: Array[Array[Double]], y: Array[Clinical], maxIter: Int = 100,
      tol: Double = 1e-9, ties: String = "efron"): Fit = {
    val n = x.length
    val p = if (n == 0) 0 else x(0).length
    val beta = new Array[Double](p)
    val order = timeOrder(x, y)
    var ll = logLikelihood(x, y, beta, ties, order)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val (grad, hess) = gradHess(x, y, beta, ties, order)
      // solve hess * delta = grad  (hess is the negative Hessian, p.d.)
      val delta = solve(hess, grad)
      var step = 1.0
      var improved = false
      while (step > 1e-4 && !improved) { // halving line search (lifelines-style)
        val cand = Array.tabulate(p)(k => beta(k) + step * delta(k))
        val candLl = logLikelihood(x, y, cand, ties, order)
        // a full Newton step on a separation-prone fit overflows exp(eta)
        // → candLl NaN/-Inf; treat exactly like a likelihood decrease and
        // halve, so beta only ever moves to finite, non-worse points
        if (!candLl.isNaN && !candLl.isInfinite && candLl >= ll - 1e-12) {
          System.arraycopy(cand, 0, beta, 0, p)
          converged = math.abs(candLl - ll) < tol
          ll = candLl
          improved = true
        } else step /= 2
      }
      if (!improved) converged = true // stuck — accept current beta
      iter += 1
    }
    Fit(beta, ll, iter, converged)
  }

  /** Partial log-likelihood at beta.
    *
    * Walks distinct times descending, accumulating the risk-set
    * denominator; a block of d tied events at time t contributes
    *  - Breslow: Σ η_i − d·log(S₀)
    *  - Efron:   Σ η_i − Σ_{j=0}^{d−1} log(S₀ − (j/d)·T₀)
    * where S₀ sums exp(η) over the risk set and T₀ over the tied events.
    */
  def logLikelihood(x: Array[Array[Double]], y: Array[Clinical],
      beta: Array[Double], ties: String = "efron"): Double =
    logLikelihood(x, y, beta, ties, timeOrder(x, y))

  /** Sample indices by ascending time; stable, so tied times keep index order. */
  private def timeOrder(x: Array[Array[Double]], y: Array[Clinical]): Array[Int] =
    (0 until x.length).sortBy(i => y(i).time).toArray

  private def logLikelihood(x: Array[Array[Double]], y: Array[Clinical],
      beta: Array[Double], ties: String, order: Array[Int]): Double = {
    val n = x.length
    val eta = Array.tabulate(n)(i => dot(x(i), beta))
    var ll = 0.0
    var k = n - 1
    var riskSum = 0.0
    var idx = n - 1
    while (idx >= 0) {
      val t = y(order(idx)).time
      while (k >= 0 && y(order(k)).time >= t) {
        riskSum += math.exp(eta(order(k)))
        k -= 1
      }
      var blockStart = idx
      while (blockStart - 1 >= 0 && y(order(blockStart - 1)).time == t)
        blockStart -= 1
      var d = 0
      var etaSum = 0.0
      var tiedExp = 0.0
      var i = blockStart
      while (i <= idx) {
        val s = order(i)
        if (y(s).event) { d += 1; etaSum += eta(s); tiedExp += math.exp(eta(s)) }
        i += 1
      }
      if (d > 0) {
        ll += etaSum
        if (ties == "breslow") ll -= d * math.log(riskSum)
        else {
          var j = 0
          while (j < d) {
            ll -= math.log(riskSum - j.toDouble / d * tiedExp)
            j += 1
          }
        }
      }
      idx = blockStart - 1
    }
    ll
  }

  /** Gradient and negative Hessian of the partial likelihood. For a tied
    * block, Efron subtracts the j-th fraction of the tied-event sums from
    * every moment: Z_j = S − (j/d)·T, with per-j weighted means.
    */
  private[graft] def gradHess(x: Array[Array[Double]], y: Array[Clinical],
      beta: Array[Double], ties: String): (Array[Double], Array[Array[Double]]) =
    gradHess(x, y, beta, ties, timeOrder(x, y))

  private def gradHess(x: Array[Array[Double]], y: Array[Clinical],
      beta: Array[Double], ties: String,
      order: Array[Int]): (Array[Double], Array[Array[Double]]) = {
    val n = x.length
    val p = beta.length
    val eta = Array.tabulate(n)(i => dot(x(i), beta))
    val grad = new Array[Double](p)
    val hess = Array.ofDim[Double](p, p)
    var s0 = 0.0
    val s1 = new Array[Double](p)
    val s2 = Array.ofDim[Double](p, p)
    var k = n - 1
    var idx = n - 1
    while (idx >= 0) {
      val t = y(order(idx)).time
      while (k >= 0 && y(order(k)).time >= t) {
        val i = order(k)
        val w = math.exp(eta(i))
        s0 += w
        var a = 0
        while (a < p) {
          s1(a) += w * x(i)(a)
          var b = 0
          while (b < p) { s2(a)(b) += w * x(i)(a) * x(i)(b); b += 1 }
          a += 1
        }
        k -= 1
      }
      var blockStart = idx
      while (blockStart - 1 >= 0 && y(order(blockStart - 1)).time == t)
        blockStart -= 1
      // tied-event moments for this block
      var d = 0
      var t0 = 0.0
      val t1 = new Array[Double](p)
      val t2 = Array.ofDim[Double](p, p)
      var i = blockStart
      while (i <= idx) {
        val s = order(i)
        if (y(s).event) {
          d += 1
          val w = math.exp(eta(s))
          t0 += w
          var a = 0
          while (a < p) {
            grad(a) += x(s)(a) // Σ x_i over tied events
            t1(a) += w * x(s)(a)
            var b = 0
            while (b < p) { t2(a)(b) += w * x(s)(a) * x(s)(b); b += 1 }
            a += 1
          }
        }
        i += 1
      }
      if (d > 0) {
        var j = 0
        while (j < d) {
          val f = if (ties == "breslow") 0.0 else j.toDouble / d
          val denom = s0 - f * t0
          var a = 0
          while (a < p) {
            val z1a = (s1(a) - f * t1(a)) / denom
            grad(a) -= z1a
            var b = 0
            while (b < p) {
              hess(a)(b) += (s2(a)(b) - f * t2(a)(b)) / denom -
                z1a * ((s1(b) - f * t1(b)) / denom)
              b += 1
            }
            a += 1
          }
          j += 1
        }
      }
      idx = blockStart - 1
    }
    (grad, hess)
  }

  /** lifelines `score(df, 'log_likelihood')`: average partial
    * log-likelihood per observation.
    */
  def scoreLogLikelihood(fit: Fit, x: Array[Array[Double]],
      y: Array[Clinical], ties: String = "efron"): Double =
    logLikelihood(x, y, fit.beta, ties) / x.length

  /** lifelines `score(df, 'concordance_index')`: C-index of the linear
    * predictor (higher eta = higher risk).
    */
  def scoreConcordance(fit: Fit, x: Array[Array[Double]],
      y: Array[Clinical]): Double =
    CIndex.concordance(y, Array.tabulate(x.length)(i => dot(x(i), fit.beta)))

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Gaussian elimination with partial pivoting (p ≤ a handful). */
  private[graft] def solve(m: Array[Array[Double]], v: Array[Double]): Array[Double] = {
    val p = v.length
    val a = Array.tabulate(p, p + 1)((i, j) => if (j < p) m(i)(j) else v(i))
    var col = 0
    while (col < p) {
      var piv = col
      var r = col + 1
      while (r < p) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      val tmp = a(col); a(col) = a(piv); a(piv) = tmp
      val d = a(col)(col)
      if (math.abs(d) < 1e-12) {
        // singular (e.g. constant covariate): zero step on this axis
        a(col)(p) = 0.0; a(col)(col) = 1.0
      } else {
        var j = col
        while (j <= p) { a(col)(j) /= d; j += 1 }
        r = 0
        while (r < p) {
          if (r != col) {
            val f = a(r)(col)
            var jj = col
            while (jj <= p) { a(r)(jj) -= f * a(col)(jj); jj += 1 }
          }
          r += 1
        }
      }
      col += 1
    }
    Array.tabulate(p)(i => a(i)(p))
  }
}
