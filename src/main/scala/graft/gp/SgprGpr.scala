package graft.gp

import breeze.linalg.{DenseMatrix, DenseVector}
import dev.ludovic.netlib.blas.BLAS

/** Titsias (2009) sparse variational GP regression (SGPR) with a Matern-3/2
  * kernel — the reference's production model family (`GPflowSGPRModel`,
  * GPSat/models/gpflow_models.py:666-901; M=500 inducing points in the
  * production configs, gpflow_models.py:704). O(n m^2) per evaluation and
  * O(n m) memory instead of the exact GP's O(n^3)/O(n^2) — the
  * large-window path at 100 TB scale.
  *
  * Math replicated from the public GPflow SGPR formulation (the collapsed
  * Titsias bound; gpflow/models/sgpr.py, Apache-2.0), with Kuu jittered by
  * 1e-6 (GPflow default_jitter):
  *
  *   L  = chol(Kuu + jitter I),  A = L^-1 Kuf / sigma
  *   B  = I + A A^T,  LB = chol(B),  c = LB^-1 A y / sigma
  *   ELBO = -n/2 log 2pi - sum log diag LB - n/2 log s
  *          - (y^T y)/(2s) + (c^T c)/2 - (sum kdiag)/(2s) + tr(A A^T)/2
  *
  *   predict (GPflow SGPR.predict_f, full_cov=False):
  *     tmp1 = L^-1 Kus, tmp2 = LB^-1 tmp1
  *     f*    = tmp2^T c
  *     f*var = kss_diag + colsum(tmp2^2) - colsum(tmp1^2);  y_var = f*var + s
  *
  * Where GPflow differentiates the bound by autodiff, the gradients here
  * are ANALYTIC (validated against central finite differences in
  * SgprGprSpec), via the equivalent form
  *   ELBO = log N(y; 0, C) - (sum kdiag - tr Qff)/(2s),
  *   C = Qff + s I, Qff = Kuf^T Kuu^-1 Kuf:
  *
  *   dELBO = sum dKuf o Fu + sum dKuu o Fuu - (sum dkdiag)/(2s)
  *     Fu  = v a^T - R + P/s            (m x n)
  *     Fuu = -vv^T/2 + (R P^T)/2 - P P^T/(2s)   (m x m)
  *   with P = Kuu^-1 Kuf, a = C^-1 y = (y - A^T B^-1 A y)/s, v = P a,
  *        R = P C^-1 = (P - (P A^T)(B^-1 A))/s
  *   dELBO/ds = a^T a / 2 - (n - m + tr B^-1)/(2s) + (sum kdiag - tr Qff)/(2s^2)
  *
  * Inducing points: the reference uses a seeded random subsample of the
  * training coords (gpflow_models.py:813-824); selection here is an explicit
  * deterministic index argument (evenly-spaced stride over the canonically
  * sorted window by default, like [[NystroemGpr.strideSelect]]) so tile
  * results are reproducible at any parallelism. Inducing locations are NOT
  * optimised — the reference default (`train_inducing_points=False`,
  * gpflow_models.py:872-901).
  *
  * @param coords   n x d training coordinates, already divided by coords_scale
  * @param y        length-n observations, already demeaned
  * @param inducing indices into `coords` rows used as inducing points
  */
final class SgprGpr(coords: DenseMatrix[Double], y: DenseVector[Double], inducing: Array[Int]) {
  require(coords.rows == y.length, "coords/obs length mismatch")
  val n: Int = coords.rows
  val d: Int = coords.cols
  val m: Int = inducing.length
  require(m > 0 && m <= n, s"need 0 < m <= n, got m=$m n=$n")

  private val blas = BLAS.getInstance
  private val Log2Pi = math.log(2.0 * math.Pi)

  private val yArr = y.toArray
  private val cov = new Matern32Inducing(coords, inducing)
  private val allRows = Array.tabulate(n)(identity)

  /** negative ELBO and (optionally) its analytic gradient w.r.t.
    * [ell..., sf2, sn2]; (+inf, null) when a Cholesky fails.
    */
  private def evalCore(p: GprParams, wantGrad: Boolean): (Double, Array[Double]) = {
    val ell = p.lengthscales
    val sf2 = p.kernelVariance
    val s = p.likelihoodVariance
    if (s <= 0 || sf2 <= 0) return (Double.PositiveInfinity, null)
    val sigma = math.sqrt(s)
    val inv2l = Array.tabulate(d)(k => 3.0 / (ell(k) * ell(k)))

    val kuu = cov.kuu(inv2l, sf2) // becomes U with Kuu = U^T U
    if (FastSpd.potrfUpper(kuu, m) != 0) return (Double.PositiveInfinity, null)
    val kuf = cov.kuf(inv2l, sf2, allRows)

    // A = L^-1 Kuf / sigma  (L = U^T)
    val aMat = kuf.clone()
    FastSpd.trsmLUT(m, n, 1.0 / sigma, kuu, 0, m, aMat, 0, m)

    // B = I + A A^T (upper filled by syrkUN; mirror for potrs/potri use)
    val b = new Array[Double](m * m + m)
    FastSpd.syrkUN(m, n, 1.0, aMat, 0, m, 0.0, b, 0, m)
    var trAAT = 0.0
    var i = 0
    while (i < m) { trAAT += b(i + i * m); b(i + i * m) += 1.0; i += 1 }
    i = 0
    while (i < m) { var j = i + 1; while (j < m) { b(j + i * m) = b(i + j * m); j += 1 }; i += 1 }
    val ub = b.clone()
    if (FastSpd.potrfUpper(ub, m) != 0) return (Double.PositiveInfinity, null)

    var logDetLB = 0.0
    i = 0
    while (i < m) { logDetLB += math.log(ub(i + i * m)); i += 1 }

    // Ay = A y;  c = LB^-1 Ay / sigma
    val ay = new Array[Double](m)
    blas.dgemv("N", m, n, 1.0, aMat, 0, m, yArr, 0, 1, 0.0, ay, 0, 1)
    val c = ay.clone()
    FastSpd.trsmLUT(m, 1, 1.0 / sigma, ub, 0, m, c, 0, m)

    val yTy = blas.ddot(n, yArr, 1, yArr, 1)
    val cTc = blas.ddot(m, c, 1, c, 1)
    val sumKdiag = n * sf2

    val elbo = -0.5 * n * Log2Pi - logDetLB - 0.5 * n * math.log(s) -
      0.5 * yTy / s + 0.5 * cTc - 0.5 * sumKdiag / s + 0.5 * trAAT
    if (!wantGrad) return (-elbo, null)

    // ---- analytic gradient ----
    // w = B^-1 Ay ; alpha = (y - A^T w)/s
    val w = ay.clone()
    FastSpd.potrsUpper(ub, m, w)
    val alpha = new Array[Double](n)
    System.arraycopy(yArr, 0, alpha, 0, n)
    blas.dscal(n, 1.0 / s, alpha, 1)
    blas.dgemv("T", m, n, -1.0 / s, aMat, 0, m, w, 0, 1, 1.0, alpha, 0, 1)

    // P = sigma * U^-1 A ; Z = B^-1 A ; R = (P - (P A^T) Z)/s
    val pMat = aMat.clone()
    FastSpd.trsmLUN(m, n, sigma, kuu, 0, m, pMat, 0, m)
    val zMat = aMat.clone()
    FastSpd.potrsUpper(ub, m, zMat, n)
    val pat = new Array[Double](m * m)
    blas.dgemm("N", "T", m, m, n, 1.0, pMat, 0, m, aMat, 0, m, 0.0, pat, 0, m)
    val rMat = pMat.clone()
    blas.dgemm("N", "N", m, n, m, -1.0, pat, 0, m, zMat, 0, m, 1.0, rMat, 0, m)
    blas.dscal(m * n, 1.0 / s, rMat, 1)

    // v = P alpha ; trQff = sum P o Kuf
    val v = new Array[Double](m)
    blas.dgemv("N", m, n, 1.0, pMat, 0, m, alpha, 0, 1, 0.0, v, 0, 1)
    val trQff = blas.ddot(m * n, pMat, 1, kuf, 1)

    // Fu = v alpha^T - R + P/s  (reuse rMat storage)
    val fu = rMat
    blas.dscal(m * n, -1.0, fu, 1)
    blas.daxpy(m * n, 1.0 / s, pMat, 1, fu, 1)
    blas.dger(m, n, 1.0, v, 1, alpha, 1, fu, m)

    // Fuu = -vv^T/2 + (R P^T)/2 - PP^T/(2s) collapses to -(Fu P^T)/2:
    //   Fu P^T = (v a^T - R + P/s) P^T = v v^T - R P^T + PP^T/s,
    // so -(Fu P^T)/2 = -vv^T/2 + (R P^T)/2 - PP^T/(2s) = Fuu exactly —
    // one dgemm, no extra buffers (R was already overwritten into Fu).
    val fuu = new Array[Double](m * m)
    blas.dgemm("N", "T", m, m, n, -0.5, fu, 0, m, pMat, 0, m, 0.0, fuu, 0, m)

    // fused contractions with dKuf (m x n) and dKuu (m x m):
    //   dKuf/dl_k = 3 sf2 e^-q diff2_k / l_k^3 ; dKuf/dsf2 = (1+q)e^-q
    val gl = new Array[Double](d)
    var gsf = 0.0
    var j = 0
    while (j < n) {
      val off = j * m
      val xr = cov.x(j)
      var mi = 0
      while (mi < m) {
        val f = fu(mi + off)
        if (f != 0.0) gsf += cov.gradTerm(f, cov.z(mi), xr, inv2l, gl)
        mi += 1
      }
      j += 1
    }
    gsf = cov.kuuGrad(fuu, inv2l, gl, gsf)

    // tr(B^-1) for dELBO/ds
    val binv = b // reuse: b still holds B; factor+invert in place
    if (FastSpd.potrfUpper(binv, m) != 0) return (Double.PositiveInfinity, null)
    if (FastSpd.potriUpper(binv, m) != 0) return (Double.PositiveInfinity, null)
    var trBinv = 0.0
    i = 0
    while (i < m) { trBinv += binv(i + i * m); i += 1 }

    val aTa = blas.ddot(n, alpha, 1, alpha, 1)
    val dElboDs = 0.5 * aTa - 0.5 * (n - m + trBinv) / s +
      0.5 * (sumKdiag - trQff) / (s * s)

    val grad = new Array[Double](d + 2)
    cov.lengthscaleGrads(ell, sf2, gl, grad, 0)
    grad(d) = -(gsf - 0.5 * n / s) // d kdiag/dsf2 = 1 per point
    grad(d + 1) = -dElboDs
    (-elbo, grad)
  }

  /** negative ELBO (the minimised objective; +inf when not SPD). */
  def negElbo(p: GprParams): Double =
    try evalCore(p, wantGrad = false)._1
    catch { case _: Exception => Double.PositiveInfinity }

  /** negative ELBO and analytic gradient w.r.t. [ell..., sf2, sn2]. */
  def negElboAndGrad(p: GprParams): (Double, Array[Double]) =
    try {
      val (v, g) = evalCore(p, wantGrad = true)
      if (g == null) (v, new Array[Double](d + 2)) else (v, g)
    } catch { case _: Exception => (Double.PositiveInfinity, new Array[Double](d + 2)) }

  /** L-BFGS optimisation of the negative ELBO in bijector space through
    * [[BijectedLbfgs]] (the reference runs scipy L-BFGS-B
    * through gpflow.optimizers.Scipy, gpflow_models.py:872-901).
    */
  def optimise(init: GprParams, bijectors: Array[Bijector],
               maxIter: Int = 100, tolerance: Double = 1e-7): GprFitResult = {
    require(bijectors.length == d + 2, s"need ${d + 2} bijectors, got ${bijectors.length}")
    val (theta, objective, ok, iters) = BijectedLbfgs.minimise(init.toArray, bijectors,
      t => negElbo(GprParams.fromArray(t)), t => negElboAndGrad(GprParams.fromArray(t)),
      maxIter, tolerance)
    GprFitResult(GprParams.fromArray(theta), objective, ok, iters)
  }

  /** Posterior prediction at xs (mStar x d, already scaled) — GPflow
    * SGPR.predict_f (full_cov=False) plus y_var = f*_var + sn2.
    */
  def predict(xs: DenseMatrix[Double], p: GprParams): GprPrediction = {
    val ell = p.lengthscales
    val sf2 = p.kernelVariance
    val s = p.likelihoodVariance
    val sigma = math.sqrt(s)
    val inv2l = Array.tabulate(d)(k => 3.0 / (ell(k) * ell(k)))

    val kuu = cov.kuu(inv2l, sf2)
    require(FastSpd.potrfUpper(kuu, m) == 0, "Cholesky of Kuu failed in predict")
    val aMat = cov.kuf(inv2l, sf2, allRows)
    FastSpd.trsmLUT(m, n, 1.0 / sigma, kuu, 0, m, aMat, 0, m)
    val b = new Array[Double](m * m + m)
    FastSpd.syrkUN(m, n, 1.0, aMat, 0, m, 0.0, b, 0, m)
    var i = 0
    while (i < m) { b(i + i * m) += 1.0; i += 1 }
    require(FastSpd.potrfUpper(b, m) == 0, "Cholesky of B failed in predict")
    val ay = new Array[Double](m)
    blas.dgemv("N", m, n, 1.0, aMat, 0, m, yArr, 0, 1, 0.0, ay, 0, 1)
    val c = ay
    FastSpd.trsmLUT(m, 1, 1.0 / sigma, b, 0, m, c, 0, m)

    val mStar = xs.rows
    // Kus (m x mStar), tmp1 = L^-1 Kus, tmp2 = LB^-1 tmp1
    val kus = cov.kus(xs, inv2l, sf2)
    val tmp1 = kus.clone()
    FastSpd.trsmLUT(m, mStar, 1.0, kuu, 0, m, tmp1, 0, m)
    val tmp2 = tmp1.clone()
    FastSpd.trsmLUT(m, mStar, 1.0, b, 0, m, tmp2, 0, m)

    val fs = new Array[Double](mStar)
    val fsVar = new Array[Double](mStar)
    val yVar = new Array[Double](mStar)
    var j = 0
    while (j < mStar) {
      val off = j * m
      var mean = 0.0
      var s2 = 0.0
      var s1 = 0.0
      var mi = 0
      while (mi < m) {
        val t2 = tmp2(mi + off)
        val t1 = tmp1(mi + off)
        mean += t2 * c(mi)
        s2 += t2 * t2
        s1 += t1 * t1
        mi += 1
      }
      fs(j) = mean
      fsVar(j) = sf2 + s2 - s1 // kss_diag = sf2
      yVar(j) = fsVar(j) + s
      j += 1
    }
    GprPrediction(fs, fsVar, yVar)
  }
}

object SgprGpr {
  /** Deterministic inducing-index selection: evenly spaced stride over the
    * (canonically sorted) window — the reproducible analog of the
    * reference's seeded random subsample (gpflow_models.py:813-824).
    */
  def strideSelect(n: Int, m: Int): Array[Int] = NystroemGpr.strideSelect(n, math.min(m, n))
}
