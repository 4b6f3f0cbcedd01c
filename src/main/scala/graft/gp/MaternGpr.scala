package graft.gp

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.gp.DenseOps._

/** Exact GP regression with SELECTABLE Matern smoothness nu in
  * {1/2, 3/2, 5/2} — the reference's GPyTorch backend exposes `smoothness`
  * as a first-class hyperparameter (gpytorch_models.py:229-246
  * get/set_smoothness "e.g. 0.5, 1.5, 2.5"); the engine's default
  * Matern32Gpr pins nu = 3/2. Kernel forms (q = sqrt(2 nu) * r with
  * r^2 = sum_k ((x_k - x'_k)/ell_k)^2, the gpytorch/sklearn convention):
  *
  *   nu = 1/2:  k = sf2 exp(-q)                        (q = r)
  *   nu = 3/2:  k = sf2 (1 + q) exp(-q)                (q = sqrt(3) r)
  *   nu = 5/2:  k = sf2 (1 + q + q^2/3) exp(-q)        (q = sqrt(5) r)
  *
  * The nu = 3/2 case must agree with Matern32Gpr to machine precision
  * (spec-pinned). Like the reference's gpytorch path this model optimises
  * by gradient descent on the NLML; gradients here are central-difference
  * (autodiff equivalent at these few-hyperparameter sizes) — this is an
  * opt-in alternative backend, not the tuned default hot path.
  *
  * Selecting nu itself: the reference sets smoothness explicitly per run;
  * `MaternGpr.bestNu` additionally picks nu from the discrete set by
  * optimised marginal likelihood — the practical version of a trainable
  * smoothness (continuous-nu Matern needs modified Bessel evaluations
  * whose cost the reference itself avoids by defaulting to the half-integer
  * family).
  */
final class MaternGpr(coords: DenseMatrix[Double], y: DenseVector[Double], val nu: Double) {
  require(coords.rows == y.length, "coords/obs length mismatch")
  require(nu == 0.5 || nu == 1.5 || nu == 2.5, s"nu must be one of 0.5/1.5/2.5, got $nu")
  val n: Int = coords.rows
  val d: Int = coords.cols

  private val twoNu = 2.0 * nu

  private def kOfQ(q: Double, sf2: Double): Double =
    if (nu == 0.5) sf2 * math.exp(-q)
    else if (nu == 1.5) sf2 * (1.0 + q) * math.exp(-q)
    else sf2 * (1.0 + q + q * q / 3.0) * math.exp(-q)

  private def kernelMatrix(hyp: Array[Double]): DenseMatrix[Double] = {
    val sf2 = hyp(d)
    val sn2 = hyp(d + 1)
    val inv2l = Array.tabulate(d)(k => twoNu / (hyp(k) * hyp(k)))
    val km = DenseMatrix.zeros[Double](n, n)
    var j = 0
    while (j < n) {
      km(j, j) = sf2 + sn2
      var i = 0
      while (i < j) {
        var s = 0.0
        var k = 0
        while (k < d) { val dv = coords(i, k) - coords(j, k); s += dv * dv * inv2l(k); k += 1 }
        val v = kOfQ(math.sqrt(s), sf2)
        km(i, j) = v; km(j, i) = v
        i += 1
      }
      j += 1
    }
    km
  }

  /** hypers packed [ell_1..ell_d, sf2, sn2]. */
  def nHypers: Int = d + 2

  def nlml(hyp: Array[Double]): Double = {
    require(hyp.length == nHypers)
    if (hyp.exists(_ <= 0)) return Double.PositiveInfinity
    try choleskyNlml(kernelMatrix(hyp), y)
    catch { case _: Exception => Double.PositiveInfinity }
  }

  def predict(xs: DenseMatrix[Double], hyp: Array[Double]): GprPrediction = {
    val sf2 = hyp(d)
    val sn2 = hyp(d + 1)
    val inv2l = Array.tabulate(d)(k => twoNu / (hyp(k) * hyp(k)))
    val l = breeze.linalg.cholesky(kernelMatrix(hyp))
    val alpha = upperSolve(l, lowerSolve(l, y))
    val mStar = xs.rows
    val fs = new Array[Double](mStar)
    val fsVar = new Array[Double](mStar)
    val yVar = new Array[Double](mStar)
    val kv = DenseVector.zeros[Double](n)
    var s0 = 0
    while (s0 < mStar) {
      var i = 0
      while (i < n) {
        var s = 0.0
        var k = 0
        while (k < d) { val dv = coords(i, k) - xs(s0, k); s += dv * dv * inv2l(k); k += 1 }
        kv(i) = kOfQ(math.sqrt(s), sf2)
        i += 1
      }
      var mean = 0.0
      i = 0
      while (i < n) { mean += kv(i) * alpha(i); i += 1 }
      val tmp = lowerSolve(l, kv)
      var red = 0.0
      i = 0
      while (i < n) { red += tmp(i) * tmp(i); i += 1 }
      fs(s0) = mean
      fsVar(s0) = sf2 - red
      yVar(s0) = fsVar(s0) + sn2
      s0 += 1
    }
    GprPrediction(fs, fsVar, yVar)
  }

  /** FD-gradient L-BFGS in bijector space ([[BijectedLbfgs]]). */
  def optimise(init: Array[Double], bijectors: Array[Bijector],
               maxIter: Int = 60, tolerance: Double = 1e-7): (Array[Double], Double, Boolean, Int) = {
    require(bijectors.length == nHypers)
    BijectedLbfgs.minimise(init, bijectors, nlml, BijectedLbfgs.centralDiff(nlml),
      maxIter, tolerance)
  }
}

object MaternGpr {
  /** Pick nu from the half-integer family by optimised marginal likelihood
    * — the discrete "trainable smoothness". Returns (nu, fitResult).
    */
  def bestNu(coords: DenseMatrix[Double], y: DenseVector[Double],
             init: Array[Double], bijectors: Array[Bijector],
             maxIter: Int = 40): (Double, Array[Double], Double) = {
    Seq(0.5, 1.5, 2.5).map { nu =>
      val gp = new MaternGpr(coords, y, nu)
      val (h, obj, _, _) = gp.optimise(init, bijectors, maxIter)
      (nu, h, obj)
    }.minBy(_._3)
  }
}
