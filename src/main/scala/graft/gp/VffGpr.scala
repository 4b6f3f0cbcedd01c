package graft.gp

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.gp.DenseOps._

/** Variational Fourier Features GP (Hensman, Durrande & Solin 2017) with a
  * separable per-dimension Matern-3/2 kernel — the reference's
  * `GPflowVFFModel` / `GPR_kron` (GPSat/vff.py:564-676, adapted there from
  * the public st--/VFF code; GPSat/models/vff_model.py). Inter-domain
  * inducing features are cos/sin Fourier basis functions on a per-dim
  * interval [a_d, b_d]; the cross-dimension features are the Kronecker
  * (Khatri-Rao row) products.
  *
  * Collapsed bound (vff.py:612-645), replicated exactly:
  *   P = Kuf Kfu / s + Kuu,  L = chol(P),  c = L^-1 (Kuf y) / s
  *   elbo = -n/2 log(2 pi s) - 1/2 logdet P + 1/2 logdet Kuu
  *          - (y^T y)/(2s) + (c^T c)/2 - (sum_i kdiag_i)/(2s)
  *          + (sum Kuu^-1 o Kuf Kfu)/(2s)
  * where per dim (Matern32, vff.py:400-424), with lambda = sqrt(3)/ell_d and
  * omega = 2 pi m/(b-a):
  *   Kuu_d = blockdiag( diag(d_cos) + v_cos v_cos^T ,
  *                      diag(d_sin) + v_sin v_sin^T )
  *   d_cos = (b-a)(lambda^2+omega^2)^2 / lambda^3 / var / (4 if omega==0 else 8)
  *   v_cos = 1/sqrt(var);  d_sin as d_cos with /8;  v_sin = omega/lambda/sqrt(var)
  * and kdiag_i = prod_d var_d (the separable Matern32 diagonal).
  *
  * KEY COST STRUCTURE: Kuf depends only on the coordinates (vff.py:518-526),
  * so Kuf y and Kuf Kfu are precomputed ONCE; every hyperparameter
  * evaluation is O(M_total^3) — INDEPENDENT of n. That also makes
  * finite-difference gradients (2D+1 hyperparameters) the pragmatic
  * optimiser here, unlike the n-bound models where we derive analytic
  * gradients.
  *
  * Hyperparameters: per-dim lengthscales ell_d, per-dim variances var_d,
  * and likelihood variance s — packed [ell_1..ell_D, var_1..var_D, s].
  *
  * @param ms per-dim Fourier feature count (frequencies 0..ms_d-1; the
  *           per-dim basis size is 2 ms_d - 1: ms_d cosines + ms_d-1 sines)
  * @param a,b per-dim domain bounds; training coords must lie strictly
  *           inside (vff.py:598, the reference asserts the same)
  */
final class VffGpr(coords: DenseMatrix[Double], y: DenseVector[Double],
                   ms: Array[Int], a: Array[Double], b: Array[Double]) {
  require(coords.rows == y.length, "coords/obs length mismatch")
  val n: Int = coords.rows
  val d: Int = coords.cols
  require(ms.length == d && a.length == d && b.length == d, "per-dim ms/a/b required")
  (0 until d).foreach { k =>
    require(ms(k) >= 1, "need at least the zero frequency per dim")
    (0 until n).foreach(i => require(coords(i, k) > a(k) && coords(i, k) < b(k),
      s"training coords must lie strictly inside the domain (dim $k)"))
  }

  private val Log2Pi = math.log(2.0 * math.Pi)
  /** per-dim basis size 2 m - 1. */
  private val md: Array[Int] = ms.map(m => 2 * m - 1)
  val mTotal: Int = md.product

  private def omegas(k: Int): Array[Double] =
    Array.tabulate(ms(k))(m => 2.0 * math.Pi * m / (b(k) - a(k)))

  /** per-dim feature matrix (Md x n): cos rows (all freqs) then sin rows
    * (nonzero freqs) of omega (x - a) — make_Kuf_np (vff.py:518-526). */
  private def kufDim(k: Int, xs: Int => Double, cols: Int): DenseMatrix[Double] = {
    val om = omegas(k)
    val out = DenseMatrix.zeros[Double](md(k), cols)
    var j = 0
    while (j < cols) {
      val t = xs(j) - a(k)
      var r = 0
      while (r < ms(k)) { out(r, j) = math.cos(om(r) * t); r += 1 }
      var si = 1
      while (si < ms(k)) { out(ms(k) + si - 1, j) = math.sin(om(si) * t); si += 1 }
      j += 1
    }
    out
  }

  // static precomputes: Kuf, Kuf y, Kuf Kfu, y^T y (hyper-independent)
  private val kuf: DenseMatrix[Double] =
    kvs((0 until d).map(k => kufDim(k, i => coords(i, k), n)))
  private val kufY: DenseVector[Double] = kuf * y
  private val kufKfu: DenseMatrix[Double] = kuf * kuf.t
  private val trYTY: Double = y dot y

  /** per-dim Kuu (dense, Md x Md) + its inverse (Sherman-Morrison per
    * block) + logdet, from (ell_d, var_d). */
  private def kuuDim(k: Int, ell: Double, varK: Double)
  : (DenseMatrix[Double], DenseMatrix[Double], Double) = {
    val om = omegas(k)
    val lam = math.sqrt(3.0) / ell
    val span = b(k) - a(k)
    val dCos = Array.tabulate(ms(k)) { i =>
      val o2 = om(i) * om(i)
      val num = span * (lam * lam + o2) * (lam * lam + o2) / (lam * lam * lam) / varK
      num / (if (om(i) == 0.0) 4.0 else 8.0)
    }
    val vCos = Array.fill(ms(k))(1.0 / math.sqrt(varK))
    val dSin = Array.tabulate(ms(k) - 1) { i =>
      val o = om(i + 1)
      span * (lam * lam + o * o) * (lam * lam + o * o) / (lam * lam * lam) / varK / 8.0
    }
    val vSin = Array.tabulate(ms(k) - 1)(i => om(i + 1) / lam / math.sqrt(varK))

    val sz = md(k)
    val kuu = DenseMatrix.zeros[Double](sz, sz)
    val inv = DenseMatrix.zeros[Double](sz, sz)
    var logdet = 0.0
    def fillBlock(off: Int, dd: Array[Double], v: Array[Double]): Unit = {
      val mB = dd.length
      // K = diag(d) + v v^T ; K^-1 = D^-1 - (D^-1 v)(D^-1 v)^T / (1 + v^T D^-1 v)
      var vdv = 0.0
      val dv = Array.tabulate(mB)(i => v(i) / dd(i))
      (0 until mB).foreach(i => vdv += v(i) * dv(i))
      val denom = 1.0 + vdv
      var i = 0
      while (i < mB) {
        var j = 0
        while (j < mB) {
          kuu(off + i, off + j) = (if (i == j) dd(i) else 0.0) + v(i) * v(j)
          inv(off + i, off + j) = (if (i == j) 1.0 / dd(i) else 0.0) - dv(i) * dv(j) / denom
          j += 1
        }
        logdet += math.log(dd(i))
        i += 1
      }
      logdet += math.log(denom)
    }
    fillBlock(0, dCos, vCos)
    if (ms(k) > 1) fillBlock(ms(k), dSin, vSin)
    (kuu, inv, logdet)
  }

  /** packed hyper vector: [ell_1..ell_d, var_1..var_d, s]. */
  def nHypers: Int = 2 * d + 1

  /** negative ELBO (the minimised objective). */
  def negElbo(h: Array[Double]): Double = {
    require(h.length == nHypers)
    val s = h(2 * d)
    if (s <= 0 || (0 until d).exists(k => h(k) <= 0 || h(d + k) <= 0))
      return Double.PositiveInfinity
    try {
      val dims = (0 until d).map(k => kuuDim(k, h(k), h(d + k)))
      val kuu = kron(dims.map(_._1))
      val kuuInv = kron(dims.map(_._2))
      // logdet of the kron: sum_d (M_total / M_d) * logdet_d (vff.py:628-630)
      val kuuLogdet = (0 until d).map(k => (mTotal.toDouble / md(k)) * dims(k)._3).sum

      val p = (kufKfu / s) + kuu
      val l = breeze.linalg.cholesky(p)
      var logdetP = 0.0
      var i = 0
      while (i < mTotal) { logdetP += 2.0 * math.log(l(i, i)); i += 1 }
      // c = L^-1 KufY / s
      val c = lowerSolve(l, kufY) / s
      val cTc = c dot c
      var trKiK = 0.0
      i = 0
      while (i < mTotal) {
        var j = 0
        while (j < mTotal) { trKiK += kuuInv(i, j) * kufKfu(i, j); j += 1 }
        i += 1
      }
      val kdiagSum = n * (0 until d).map(k => h(d + k)).product
      val elbo = -0.5 * n * math.log(2.0 * math.Pi * s) - 0.5 * logdetP + 0.5 * kuuLogdet -
        0.5 * trYTY / s + 0.5 * cTc - 0.5 * kdiagSum / s + 0.5 * trKiK / s
      -elbo
    } catch { case _: Exception => Double.PositiveInfinity }
  }

  /** L-BFGS in bijector space with central-difference gradients over the
    * 2d+1 hyperparameters — each evaluation is O(M_total^3), independent
    * of n, so FD costs ~(4d+2) cheap evals per iteration.
    * Returns (hypers, objective, converged, iterationsActuallyRun).
    */
  def optimise(init: Array[Double], bijectors: Array[Bijector],
               maxIter: Int = 60, tolerance: Double = 1e-7): (Array[Double], Double, Boolean, Int) = {
    require(bijectors.length == nHypers)
    BijectedLbfgs.minimise(init, bijectors, negElbo, BijectedLbfgs.centralDiff(negElbo),
      maxIter, tolerance)
  }

  /** Posterior prediction (GPR_kron.predict_f, vff.py:647-676) with the
    * Matern32 EDGE-corrected features for points outside [a, b]
    * (make_Kuf, vff.py:457-516). y_var = f_var + s.
    */
  def predict(xs: DenseMatrix[Double], hyp: Array[Double]): GprPrediction = {
    val s = hyp(2 * d)
    val dims = (0 until d).map(k => kuuDim(k, hyp(k), hyp(d + k)))
    val kuu = kron(dims.map(_._1))
    val kuuInv = kron(dims.map(_._2))
    val p = (kufKfu / s) + kuu
    val l = breeze.linalg.cholesky(p)
    val c = lowerSolve(l, kufY) / s

    val mStar = xs.rows
    val kus = kvs((0 until d).map(k => kufDimEdge(k, hyp(k), j => xs(j, k), mStar)))
    val tmp = lowerSolve(l, kus) // M x m*
    val kiKus = kuuInv * kus
    val varPrior = (0 until d).map(k => hyp(d + k)).product
    val fs = new Array[Double](mStar)
    val fsVar = new Array[Double](mStar)
    val yVar = new Array[Double](mStar)
    var j = 0
    while (j < mStar) {
      var mean = 0.0
      var t2 = 0.0
      var t3 = 0.0
      var i = 0
      while (i < mTotal) {
        mean += tmp(i, j) * c(i)
        t2 += tmp(i, j) * tmp(i, j)
        t3 += kiKus(i, j) * kus(i, j)
        i += 1
      }
      fs(j) = mean
      fsVar(j) = varPrior + t2 - t3
      yVar(j) = fsVar(j) + s
      j += 1
    }
    GprPrediction(fs, fsVar, yVar)
  }

  /** edge-corrected per-dim features for prediction points (vff.py:487-503):
    * outside [a, b] the cos rows become the Matern32 covariance tail
    * (1+arg)e^-arg and the sin rows (x-edge) e^-arg omega. */
  private def kufDimEdge(k: Int, ell: Double, xs: Int => Double, cols: Int): DenseMatrix[Double] = {
    val om = omegas(k)
    val out = DenseMatrix.zeros[Double](md(k), cols)
    var j = 0
    while (j < cols) {
      val xv = xs(j)
      if (xv < a(k) || xv > b(k)) {
        val edge = if (xv < a(k)) a(k) else b(k)
        val arg = math.sqrt(3.0) * math.abs(xv - edge) / ell
        val cosEdge = (1.0 + arg) * math.exp(-arg)
        var r = 0
        while (r < ms(k)) { out(r, j) = cosEdge; r += 1 }
        var si = 1
        while (si < ms(k)) {
          out(ms(k) + si - 1, j) = (xv - edge) * math.exp(-arg) * om(si)
          si += 1
        }
      } else {
        val t = xv - a(k)
        var r = 0
        while (r < ms(k)) { out(r, j) = math.cos(om(r) * t); r += 1 }
        var si = 1
        while (si < ms(k)) { out(ms(k) + si - 1, j) = math.sin(om(si) * t); si += 1 }
      }
      j += 1
    }
    out
  }
}
