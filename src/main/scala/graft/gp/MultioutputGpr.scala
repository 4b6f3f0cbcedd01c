package graft.gp

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.gp.DenseOps._

/** Exact multi-output GP regression with a linear observation (forward)
  * model — the reference's `MultioutputGPR` with `LinearModelLikelihood`
  * (GPSat/models/multioutput/gpr.py:14-79, likelihoods.py:40-143,
  * utils.py multioutput_conditional), used by the IS2+SMAP joint-training
  * path: P observed channels are linear mixtures of L latent GPs,
  *
  *     y_i = H f(x_i) + eps_i,   eps_i ~ N(0, diag(r_1..r_P)),
  *
  * with H a fixed P x L design (the measurement model: e.g. two
  * instruments reading the same latent freeboard field with different
  * gains). Each latent GP has its own ARD Matern-3/2 kernel — the same
  * kernel form as Matern32Gpr, so the P=1, L=1, H=[[1]] case must agree
  * with the exact single-output GP to machine precision (the spec pins
  * this), and H=I with diagonal mixing must factorise into independent
  * per-channel GPs (also pinned).
  *
  * NLML: the joint observation covariance over rows ordered (i major, p
  * minor) is
  *     C[(i,p),(j,q)] = sum_l H(p,l) H(q,l) k_l(x_i, x_j) + delta_ij delta_pq r_p
  * (gpr.py:41-58 builds exactly this (N,P,N,P) tensor and flattens);
  * Cholesky of the NP x NP matrix gives the exact log marginal.
  *
  * Hyperparameters packed [ls_{l=0,k=0..d-1}, .., ls_{L-1,*}, var_0..var_{L-1},
  * r_0..r_{P-1}]; FD-gradient L-BFGS in bijector space (the reference gets
  * gradients from TF autodiff; at tile scale the NP^3 factorisation
  * dominates either way).
  *
  * Scale shape: this is a PER-TILE model (NP <= a few thousand) run inside
  * the same cogroup as the single-output models — nothing here touches the
  * Spark plan.
  */
final class MultioutputGpr(coords: DenseMatrix[Double], ys: DenseMatrix[Double],
                           h: DenseMatrix[Double]) {
  require(coords.rows == ys.rows, "coords/obs length mismatch")
  val n: Int = coords.rows
  val d: Int = coords.cols
  val numOutputs: Int = ys.cols
  val numLatent: Int = h.cols
  require(h.rows == numOutputs, s"H must be P x L = $numOutputs x $numLatent")

  private val np = n * numOutputs

  /** packed: L*d lengthscales, L kernel variances, P noise variances. */
  def nHypers: Int = numLatent * d + numLatent + numOutputs

  private def k1(l: Int, hyp: Array[Double], xi: Int => Double, xj: Int => Double): Double = {
    var q2 = 0.0
    var k = 0
    while (k < d) {
      val dx = (xi(k) - xj(k)) / hyp(l * d + k)
      q2 += 3.0 * dx * dx
      k += 1
    }
    val q = math.sqrt(q2)
    hyp(numLatent * d + l) * (1.0 + q) * math.exp(-q)
  }

  /** joint covariance C (np x np), rows (i major, p minor). */
  private def cov(hyp: Array[Double]): DenseMatrix[Double] = {
    val c = DenseMatrix.zeros[Double](np, np)
    var i = 0
    while (i < n) {
      var j = i
      while (j < n) {
        // latent kernel values once per (i, j)
        var p = 0
        while (p < numOutputs) {
          var q = 0
          while (q < numOutputs) {
            var v = 0.0
            var l = 0
            while (l < numLatent) {
              v += h(p, l) * h(q, l) * k1(l, hyp, coords(i, _), coords(j, _))
              l += 1
            }
            c(i * numOutputs + p, j * numOutputs + q) = v
            c(j * numOutputs + q, i * numOutputs + p) = v
            q += 1
          }
          p += 1
        }
        j += 1
      }
      var p2 = 0
      while (p2 < numOutputs) {
        val idx = i * numOutputs + p2
        c(idx, idx) += hyp(numLatent * d + numLatent + p2)
        p2 += 1
      }
      i += 1
    }
    c
  }

  private def yFlat: DenseVector[Double] = {
    val v = DenseVector.zeros[Double](np)
    var i = 0
    while (i < n) {
      var p = 0
      while (p < numOutputs) { v(i * numOutputs + p) = ys(i, p); p += 1 }
      i += 1
    }
    v
  }

  /** negative log marginal likelihood; +inf when C is not SPD. */
  def nlml(hyp: Array[Double]): Double = {
    require(hyp.length == nHypers)
    if (hyp.exists(_ <= 0)) return Double.PositiveInfinity
    try choleskyNlml(cov(hyp), yFlat)
    catch { case _: Exception => Double.PositiveInfinity }
  }

  /** Posterior LATENT mean/variance per (prediction point, latent GP) —
    * multioutput_conditional (multioutput/utils.py): cross-covariance
    * between observed rows and latent l at x* is H(p, l) k_l(x_i, x*).
    * Returns (means N* x L, vars N* x L).
    */
  def predictLatent(xs: DenseMatrix[Double], hyp: Array[Double])
  : (DenseMatrix[Double], DenseMatrix[Double]) = {
    val l = breeze.linalg.cholesky(cov(hyp))
    val alpha = upperSolve(l, lowerSolve(l, yFlat))
    val mStar = xs.rows
    val means = DenseMatrix.zeros[Double](mStar, numLatent)
    val vars = DenseMatrix.zeros[Double](mStar, numLatent)
    val kvec = DenseVector.zeros[Double](np)
    var s = 0
    while (s < mStar) {
      var lat = 0
      while (lat < numLatent) {
        var i = 0
        while (i < n) {
          val kl = k1(lat, hyp, coords(i, _), xs(s, _))
          var p = 0
          while (p < numOutputs) { kvec(i * numOutputs + p) = h(p, lat) * kl; p += 1 }
          i += 1
        }
        var mean = 0.0
        var i2 = 0
        while (i2 < np) { mean += kvec(i2) * alpha(i2); i2 += 1 }
        val tmp = lowerSolve(l, kvec)
        var red = 0.0
        var i3 = 0
        while (i3 < np) { red += tmp(i3) * tmp(i3); i3 += 1 }
        means(s, lat) = mean
        vars(s, lat) = hyp(numLatent * d + lat) - red // k_l(x*,x*) = var_l
        lat += 1
      }
      s += 1
    }
    (means, vars)
  }

  /** Posterior OBSERVED-channel predictions: mean = H f*, variance
    * = H Cov(f*) H^T + diag(r) per channel, with the FULL conditional
    * latent covariance (distinct latents are prior-independent but become
    * correlated after conditioning through shared observations).
    */
  def predictObserved(xs: DenseMatrix[Double], hyp: Array[Double])
  : (DenseMatrix[Double], DenseMatrix[Double]) = {
    val l = breeze.linalg.cholesky(cov(hyp))
    val alpha = upperSolve(l, lowerSolve(l, yFlat))
    val mStar = xs.rows
    val means = DenseMatrix.zeros[Double](mStar, numOutputs)
    val vars = DenseMatrix.zeros[Double](mStar, numOutputs)
    val kvec = DenseVector.zeros[Double](np)
    var s = 0
    while (s < mStar) {
      // full latent covariance at x*: cov(f_a*, f_b*) after conditioning
      val latMean = new Array[Double](numLatent)
      val latCov = DenseMatrix.zeros[Double](numLatent, numLatent)
      val tmps = Array.ofDim[DenseVector[Double]](numLatent)
      var lat = 0
      while (lat < numLatent) {
        var i = 0
        while (i < n) {
          val kl = k1(lat, hyp, coords(i, _), xs(s, _))
          var p = 0
          while (p < numOutputs) { kvec(i * numOutputs + p) = h(p, lat) * kl; p += 1 }
          i += 1
        }
        var mean = 0.0
        var i2 = 0
        while (i2 < np) { mean += kvec(i2) * alpha(i2); i2 += 1 }
        latMean(lat) = mean
        tmps(lat) = lowerSolve(l, kvec.copy)
        lat += 1
      }
      var a = 0
      while (a < numLatent) {
        var b = 0
        while (b < numLatent) {
          var red = 0.0
          var i3 = 0
          while (i3 < np) { red += tmps(a)(i3) * tmps(b)(i3); i3 += 1 }
          val prior = if (a == b) hyp(numLatent * d + a) else 0.0
          latCov(a, b) = prior - red
          b += 1
        }
        a += 1
      }
      var p = 0
      while (p < numOutputs) {
        var mean = 0.0
        var vv = hyp(numLatent * d + numLatent + p)
        var a2 = 0
        while (a2 < numLatent) {
          mean += h(p, a2) * latMean(a2)
          var b2 = 0
          while (b2 < numLatent) { vv += h(p, a2) * h(p, b2) * latCov(a2, b2); b2 += 1 }
          a2 += 1
        }
        means(s, p) = mean
        vars(s, p) = vv
        p += 1
      }
      s += 1
    }
    (means, vars)
  }

  /** FD-gradient L-BFGS in bijector space; returns
    * (hypers, objective, converged, iterations).
    */
  def optimise(init: Array[Double], bijectors: Array[Bijector],
               maxIter: Int = 60, tolerance: Double = 1e-7): (Array[Double], Double, Boolean, Int) = {
    require(bijectors.length == nHypers)
    BijectedLbfgs.minimise(init, bijectors, nlml, BijectedLbfgs.centralDiff(nlml),
      maxIter, tolerance)
  }
}
