package graft.gp

import breeze.linalg.{DenseMatrix, DenseVector}

/** Hyperparameters in constrained (parameter) space; vector order follows the
  * reference convention [lengthscales..., kernel_variance, likelihood_variance]
  * (GPSat/models/pure_python_gpr.py:309-314).
  */
final case class GprParams(
    lengthscales: Array[Double],
    kernelVariance: Double,
    likelihoodVariance: Double) {
  def dim: Int = lengthscales.length
  def toArray: Array[Double] = lengthscales ++ Array(kernelVariance, likelihoodVariance)
}

object GprParams {
  def fromArray(a: Array[Double]): GprParams =
    GprParams(a.dropRight(2), a(a.length - 2), a(a.length - 1))
  /** Reference-equivalent defaults (unit lengthscales / variances, the
    * GPflow and pure-python starting point).
    */
  def default(dim: Int): GprParams = GprParams(Array.fill(dim)(1.0), 1.0, 1.0)
}

final case class GprFitResult(
    params: GprParams,
    objective: Double, // negative log marginal likelihood at the optimum
    success: Boolean,
    iterations: Int)

final case class GprPrediction(
    fs: Array[Double],     // posterior mean f*
    fsVar: Array[Double],  // posterior variance f*_var
    yVar: Array[Double])   // predictive variance = f*_var + likelihood_variance

/** Exact Gaussian-process regression with a Matern-3/2 kernel: the per-tile
  * numeric payload of the engine. Raw-array hot path on LAPACK
  * (dpotrf/dpotrs/dpotri — the same netlib Spark MLlib uses); zero Spark
  * dependencies; runs inside `flatMapGroups` on executors.
  *
  * Math replicated from the reference:
  *  - kernel: Q = ||sqrt(3) x / ell - sqrt(3) x' / ell||_2,
  *    k = sigma^2 (1 + Q) exp(-Q)             (GPSat/models/pure_python_gpr.py:378-405)
  *  - NLML:   L = chol(K + sn2 I); alpha = (K + sn2 I)^-1 y;
  *    nlZ = y.alpha/2 + sum(log diag L) + n log(2 pi)/2;
  *    Cholesky failure => +inf                (pure_python_gpr.py:439-506)
  *  - predict (Rasmussen Algo 2.1): f* = K*^T alpha;
  *    f*_var = k** - k*^T (K + sn2 I)^-1 k*; y_var = f*_var + sn2
  *                                              (pure_python_gpr.py:509-553, :241-266)
  *  - optimisation runs in bijector-transformed variable space
  *    (pure_python_gpr.py:303-342); we use analytic gradients
  *    dnlZ/dtheta = tr((K^-1 - alpha alpha^T) dK/dtheta)/2 chained through
  *    the bijector, where the reference uses finite differences (jac=False).
  *
  * Performance structure (the engine's benchmark metric is tiles/sec):
  *  - per-dimension squared differences are ell-independent — computed once
  *    per tile and reused across every optimiser evaluation;
  *  - one n^2 pass fuses all d+2 gradient contractions, reading K^-1 from
  *    dpotri's triangle without materialising Q = K^-1 - alpha alpha^T.
  *
  * @param coords n x d matrix of coordinates, already divided by coords_scale
  * @param y      length-n observation vector, already demeaned/scaled
  */
final class Matern32Gpr(coords: DenseMatrix[Double], y: DenseVector[Double]) {
  require(coords.rows == y.length, "coords/obs length mismatch")
  val n: Int = coords.rows
  val d: Int = coords.cols

  private val Log2Pi = math.log(2.0 * math.Pi)
  private val yArr: Array[Double] = y.toArray

  /** Per-dim coordinate arrays (d x n, L1-resident). Squared differences
    * are recomputed on the fly in the kernel-build and gradient passes:
    * at 32 concurrent fits the n^2 passes are DRAM-bandwidth-bound, and
    * trading 3 cached n^2 sqDiff STREAMS (24 B/entry) for 3 subs+muls per
    * entry cuts the dominant memory traffic ~4x — the 8->32 thread scaling
    * lever (BENCH.md). Arithmetic is unchanged ((c_i - c_j)^2 in the same
    * order), so results are bit-identical to the cached-sqDiff form.
    */
  private val cArr: Array[Array[Double]] = Array.tabulate(d) { k =>
    Array.tabulate(n)(i => coords(i, k))
  }

  /** Shared evaluation: value and (optionally) the analytic gradient w.r.t.
    * [ell..., sf2, sn2]. Returns (+inf, null-gradient) when K + sn2 I is not
    * SPD (reference returns inf, pure_python_gpr.py:499-501).
    */
  // scratch buffers reused across optimiser evaluations (a fit makes ~50
  // evals; fresh n^2 buffers each would put ~100 GB/run of GC churn on a
  // 32-thread executor). Only ONE n^2 scratch: the fit stage is memory-
  // bandwidth contended at high thread counts, so the gradient pass
  // recomputes q/exp/kernel values from the cached sqDiff streams instead
  // of loading separate e/K buffers.
  private lazy val aBuf = new Array[Double](n * n + n) // padded: netlib bound checks
  private lazy val alphaBuf = new Array[Double](n)

  private def evalCore(p: GprParams, wantGrad: Boolean): (Double, Array[Double]) = {
    val ell = p.lengthscales
    val sf2 = p.kernelVariance
    val sn2 = p.likelihoodVariance
    val inv2l = new Array[Double](d) // 3 / ell_k^2 (the Matern sqrt(3)/ell scaling, squared)
    var k = 0
    while (k < d) { inv2l(k) = 3.0 / (ell(k) * ell(k)); k += 1 }
    // build A = K + sn2 I, UPPER triangle only — dpotrf/dpotrs/dpotri and
    // the gradient contraction below all read the upper triangle alone, so
    // mirroring the lower half would double the store traffic for nothing
    val a = aBuf
    val c0 = cArr(0); val c1 = if (d > 1) cArr(1) else null; val c2 = if (d > 2) cArr(2) else null
    var j = 0
    while (j < n) {
      val jn = j * n
      a(j + jn) = sf2 + sn2
      val xj0 = c0(j); val xj1 = if (d > 1) c1(j) else 0.0; val xj2 = if (d > 2) c2(j) else 0.0
      var i = 0
      while (i < j) {
        var s = 0.0
        val dv0 = c0(i) - xj0
        s += dv0 * dv0 * inv2l(0)
        if (d > 1) { val dv1 = c1(i) - xj1; s += dv1 * dv1 * inv2l(1) }
        if (d > 2) { val dv2 = c2(i) - xj2; s += dv2 * dv2 * inv2l(2) }
        var kk = 3
        while (kk < d) { val dv = cArr(kk)(i) - cArr(kk)(j); s += dv * dv * inv2l(kk); kk += 1 }
        val q = math.sqrt(s)
        a(i + jn) = sf2 * (1.0 + q) * math.exp(-q)
        i += 1
      }
      j += 1
    }
    var i = 0
    if (FastSpd.potrfUpper(a, n) != 0) return (Double.PositiveInfinity, null)

    var logDet = 0.0
    i = 0
    while (i < n) { logDet += math.log(a(i + i * n)); i += 1 }

    val alpha = alphaBuf
    System.arraycopy(yArr, 0, alpha, 0, n)
    FastSpd.potrsUpper(a, n, alpha)
    var yAlpha = 0.0
    i = 0
    while (i < n) { yAlpha += yArr(i) * alpha(i); i += 1 }
    val value = 0.5 * yAlpha + logDet + 0.5 * n * Log2Pi
    if (!wantGrad) return (value, null)

    // Kinv into a's upper triangle
    if (FastSpd.potriUpper(a, n) != 0) return (Double.PositiveInfinity, null)

    // fused contractions: Qm_ij = Kinv_ij - alpha_i alpha_j
    //   grad_ell_k = (3 sf2 / ell_k^3) * Sum_ij Qm_ij sqDiff_k(ij) e_ij / 2
    //   grad_sf2   = Sum_ij Qm_ij K_ij / (2 sf2)
    //   grad_sn2   = tr(Qm) / 2
    // squared diffs / e / K recomputed from the L1-resident coordinate
    // arrays — the only n^2 DRAM stream left is Kinv itself
    val gl = new Array[Double](d)
    var gsf = 0.0
    var gsn = 0.0
    j = 0
    while (j < n) {
      val jn = j * n
      val aj = alpha(j)
      // diagonal: zero distance -> no lengthscale term; K_jj = sf2
      val qmd = a(j + jn) - aj * aj
      gsf += qmd * sf2
      gsn += qmd
      val xj0 = c0(j); val xj1 = if (d > 1) c1(j) else 0.0; val xj2 = if (d > 2) c2(j) else 0.0
      var i2 = 0
      while (i2 < j) { // strict upper triangle, weight 2
        val qm = 2.0 * (a(i2 + jn) - alpha(i2) * aj)
        val dv0 = c0(i2) - xj0
        val sq0 = dv0 * dv0
        var s = sq0 * inv2l(0)
        var sq1 = 0.0
        var sq2 = 0.0
        if (d > 1) { val dv1 = c1(i2) - xj1; sq1 = dv1 * dv1; s += sq1 * inv2l(1) }
        if (d > 2) { val dv2 = c2(i2) - xj2; sq2 = dv2 * dv2; s += sq2 * inv2l(2) }
        var kk = 3
        while (kk < d) { val dv = cArr(kk)(i2) - cArr(kk)(j); s += dv * dv * inv2l(kk); kk += 1 }
        val q = math.sqrt(s)
        val e = math.exp(-q)
        gl(0) += qm * sq0 * e
        if (d > 1) gl(1) += qm * sq1 * e
        if (d > 2) gl(2) += qm * sq2 * e
        var kk2 = 3
        while (kk2 < d) {
          val dv = cArr(kk2)(i2) - cArr(kk2)(j)
          gl(kk2) += qm * dv * dv * e
          kk2 += 1
        }
        gsf += qm * sf2 * (1.0 + q) * e
        i2 += 1
      }
      j += 1
    }
    val grad = new Array[Double](d + 2)
    k = 0
    while (k < d) {
      grad(k) = 0.5 * gl(k) * 3.0 * sf2 / (ell(k) * ell(k) * ell(k))
      k += 1
    }
    grad(d) = 0.5 * gsf / sf2
    grad(d + 1) = 0.5 * gsn
    (value, grad)
  }

  /** Negative log marginal likelihood; +inf if K + sn2 I is not SPD. */
  def nlml(p: GprParams): Double =
    try evalCore(p, wantGrad = false)._1
    catch { case _: Exception => Double.PositiveInfinity }

  /** NLML and analytic gradient w.r.t. [ell_1..ell_d, sf2, sn2]. */
  def nlmlAndGrad(p: GprParams): (Double, Array[Double]) =
    try {
      val (v, g) = evalCore(p, wantGrad = true)
      if (g == null) (v, new Array[Double](d + 2)) else (v, g)
    } catch { case _: Exception => (Double.PositiveInfinity, new Array[Double](d + 2)) }

  /** L-BFGS optimisation of the NLML in bijector-transformed variable space.
    * `bijectors` has length d + 2, aligned with the parameter vector.
    * On failure returns the initial parameters with success = false.
    */
  def optimise(
      init: GprParams,
      bijectors: Array[Bijector],
      maxIter: Int = 100,
      tolerance: Double = 1e-7): GprFitResult = {
    require(bijectors.length == d + 2, s"need ${d + 2} bijectors, got ${bijectors.length}")
    val (theta, objective, ok, iters) = BijectedLbfgs.minimise(init.toArray, bijectors,
      t => nlml(GprParams.fromArray(t)), t => nlmlAndGrad(GprParams.fromArray(t)),
      maxIter, tolerance)
    GprFitResult(GprParams.fromArray(theta), objective, ok, iters)
  }

  /** Posterior prediction at xs (m x d, already scaled). */
  def predict(xs: DenseMatrix[Double], p: GprParams): GprPrediction = {
    val m = xs.rows
    val ell = p.lengthscales
    val sf2 = p.kernelVariance
    val sn2 = p.likelihoodVariance
    val Sqrt3 = math.sqrt(3.0)

    // K + sn2 I, upper triangle (all downstream LAPACK/BLAS calls read "U";
    // padded: netlib bound checks)
    val inv2l = Array.tabulate(d)(k => 3.0 / (ell(k) * ell(k)))
    val kn = new Array[Double](n * n + n)
    var j = 0
    while (j < n) {
      val jn = j * n
      kn(j + jn) = sf2 + sn2
      var i = 0
      while (i < j) {
        var s = 0.0
        var kk = 0
        while (kk < d) {
          val dv = cArr(kk)(i) - cArr(kk)(j)
          s += dv * dv * inv2l(kk)
          kk += 1
        }
        val q = math.sqrt(s)
        kn(i + jn) = sf2 * (1.0 + q) * math.exp(-q)
        i += 1
      }
      j += 1
    }
    val rc = FastSpd.potrfUpper(kn, n)
    require(rc == 0, s"Cholesky failed in predict (info=$rc)")

    val alpha = yArr.clone()
    FastSpd.potrsUpper(kn, n, alpha)

    // cross kernel n x m (column-major), solved in one dpotrs call
    val kc = new Array[Double](n * m)
    var jm = 0
    while (jm < m) {
      val off = jm * n
      var i = 0
      while (i < n) {
        var s = 0.0
        var kk = 0
        while (kk < d) {
          val dv = (coords(i, kk) - xs(jm, kk)) * Sqrt3 / ell(kk)
          s += dv * dv
          kk += 1
        }
        val q = math.sqrt(s)
        kc(i + off) = sf2 * (1.0 + q) * math.exp(-q)
        i += 1
      }
      jm += 1
    }
    val w = kc.clone()
    FastSpd.potrsUpper(kn, n, w, m)

    val fs = new Array[Double](m)
    val fsVar = new Array[Double](m)
    val yVar = new Array[Double](m)
    jm = 0
    while (jm < m) {
      val off = jm * n
      var mean = 0.0
      var quad = 0.0
      var i = 0
      while (i < n) {
        mean += kc(i + off) * alpha(i)
        quad += kc(i + off) * w(i + off)
        i += 1
      }
      fs(jm) = mean
      val variance = sf2 - quad // diag K(xs,xs) = sf2 at zero distance
      fsVar(jm) = variance
      yVar(jm) = variance + sn2
      jm += 1
    }
    GprPrediction(fs, fsVar, yVar)
  }
}
