package graft.gp

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.gp.DenseOps._

/** One dimension's inter-domain feature basis of an [[InterDomainGpr]]:
  * everything VFF and ASVGP do not share.
  */
private[gp] trait InterDomainBasis {
  /** the basis's own per-dim input checks (run before any precompute). */
  def checkDim(k: Int): Unit
  /** per-dim basis size M_d. */
  def size(k: Int): Int
  /** per-dim features of training coords (M_d x cols): Kuf's dim-k factor. */
  def features(k: Int, xs: Int => Double, cols: Int): DenseMatrix[Double]
  /** per-dim features of prediction points; `ell` lets a basis correct
    * points outside the domain. */
  def predictFeatures(k: Int, ell: Double, xs: Int => Double, cols: Int): DenseMatrix[Double] =
    features(k, xs, cols)
  /** per-dim Kuu, its inverse and its log-determinant at (ell_d, var_d). */
  def kuu(k: Int, ell: Double, varK: Double): (DenseMatrix[Double], DenseMatrix[Double], Double)
}

/** Collapsed inter-domain GP with a separable per-dimension feature basis
  * on [a_d, b_d] — the shared body of [[VffGpr]] and [[AsvgpGpr]]
  * (the reference's `GPR_kron`, GPSat/vff.py:564-676). Cross-dimension
  * features are Kronecker (Khatri-Rao row) products of the per-dim ones.
  *
  * Collapsed bound (vff.py:612-645), replicated exactly:
  *   P = Kuf Kfu / s + Kuu,  L = chol(P),  c = L^-1 (Kuf y) / s
  *   elbo = -n/2 log(2 pi s) - 1/2 logdet P + 1/2 logdet Kuu
  *          - (y^T y)/(2s) + (c^T c)/2 - (sum_i kdiag_i)/(2s)
  *          + (sum Kuu^-1 o Kuf Kfu)/(2s)
  * with kdiag_i = prod_d var_d (the separable Matern32 diagonal).
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
  * The basis is a constructor argument rather than abstract members: the
  * precomputes below run in this constructor, before a subclass's own
  * fields exist.
  *
  * @param ms per-dim feature-count argument of the basis
  * @param a,b per-dim domain bounds; training coords must lie strictly
  *           inside (vff.py:598, the reference asserts the same)
  */
private[gp] abstract class InterDomainGpr(coords: DenseMatrix[Double], y: DenseVector[Double],
                                          ms: Array[Int], a: Array[Double], b: Array[Double],
                                          basis: InterDomainBasis) {
  require(coords.rows == y.length, "coords/obs length mismatch")
  val n: Int = coords.rows
  val d: Int = coords.cols
  require(ms.length == d && a.length == d && b.length == d, "per-dim ms/a/b required")
  (0 until d).foreach { k =>
    basis.checkDim(k)
    (0 until n).foreach(i => require(coords(i, k) > a(k) && coords(i, k) < b(k),
      s"training coords must lie strictly inside the domain (dim $k)"))
  }

  val mTotal: Int = (0 until d).map(basis.size).product

  // static precomputes: Kuf, Kuf y, Kuf Kfu, y^T y (hyper-independent)
  private val kuf: DenseMatrix[Double] =
    kvs((0 until d).map(k => basis.features(k, i => coords(i, k), n)))
  private val kufY: DenseVector[Double] = kuf * y
  private val kufKfu: DenseMatrix[Double] = kuf * kuf.t
  private val trYTY: Double = y dot y

  /** packed hyper vector: [ell_1..ell_d, var_1..var_d, s]. */
  def nHypers: Int = 2 * d + 1

  /** Kuu^-1 (Kronecker of the per-dim inverses), logdet Kuu and
    * L = chol(Kuf Kfu / s + Kuu) at packed hypers h. */
  private def factors(h: Array[Double]): (DenseMatrix[Double], Double, DenseMatrix[Double]) = {
    val dims = (0 until d).map(k => basis.kuu(k, h(k), h(d + k)))
    // logdet of the kron: sum_d (M_total / M_d) * logdet_d (vff.py:628-630)
    val kuuLogdet = (0 until d).map(k => (mTotal.toDouble / basis.size(k)) * dims(k)._3).sum
    val p = (kufKfu / h(2 * d)) + kron(dims.map(_._1))
    (kron(dims.map(_._2)), kuuLogdet, breeze.linalg.cholesky(p))
  }

  /** negative ELBO (the minimised objective). */
  def negElbo(h: Array[Double]): Double = {
    require(h.length == nHypers)
    val s = h(2 * d)
    if (s <= 0 || (0 until d).exists(k => h(k) <= 0 || h(d + k) <= 0))
      return Double.PositiveInfinity
    try {
      val (kuuInv, kuuLogdet, l) = factors(h)
      var logdetP = 0.0
      var i = 0
      while (i < mTotal) { logdetP += 2.0 * math.log(l(i, i)); i += 1 }
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

  /** Posterior prediction (GPR_kron.predict_f, vff.py:647-676) through the
    * basis's prediction features. y_var = f_var + s.
    */
  def predict(xs: DenseMatrix[Double], hyp: Array[Double]): GprPrediction = {
    val s = hyp(2 * d)
    val (kuuInv, _, l) = factors(hyp)
    val c = lowerSolve(l, kufY) / s

    val mStar = xs.rows
    val kus = kvs((0 until d).map(k => basis.predictFeatures(k, hyp(k), j => xs(j, k), mStar)))
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
}
