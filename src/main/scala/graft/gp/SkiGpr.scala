package graft.gp

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.gp.DenseOps._

/** KISS-GP / SKI (structured kernel interpolation, Wilson & Nickisch 2015)
  * with a separable per-dimension Matern kernel — the reference's
  * `GPyTorchKISSGPModel` (gpytorch_models.py:321-386:
  * ScaleKernel(GridInterpolationKernel(MaternKernel))): the kernel is
  * approximated by cubic interpolation from a regular per-dim grid,
  *
  *     k~(x, x') = w(x)^T K_grid w(x'),
  *
  * with w(x) the sparse (4 points per dim) cubic-convolution interpolation
  * weights. For a PRODUCT kernel the Kronecker structure factorises
  * completely: k~(x, x') = prod_d  w_d(x)^T K_d w_d(x') — each factor a
  * 4x4 contraction against the per-dim g_d x g_d Matern gram — so the SKI
  * gram is a Hadamard product of per-dim interpolated 1-D kernels, exact
  * to the SKI model with NO iterative solver.
  *
  * Solver note: gpytorch pairs SKI with CG + stochastic Lanczos logdet
  * because it targets n ~ 10^5..10^6 in ONE model. This engine's per-tile
  * n is capped (maxObsPerTile) and big-n windows route to the sparse
  * family, so the SKI KERNEL (the modelling semantics: grid + cubic
  * interpolation) is paired with exact dense Cholesky — deterministic and
  * exactly reproducible, per the engine's no-RNG rule. The interpolation
  * features also depend only on coordinates, so W and the per-dim grids
  * are built once per tile.
  *
  * Hyperparameters packed [ell_1..ell_d, var_1..var_d, s] (per-dim
  * variances, product = the kernel variance — the VFF/ASVGP convention).
  *
  * @param gs per-dim grid size (>= 6; two cells of margin are added per
  *           side so every data point has its full 4-point cubic stencil)
  * @param nu Matern smoothness (0.5 / 1.5 / 2.5), default 3/2
  */
final class SkiGpr(coords: DenseMatrix[Double], y: DenseVector[Double],
                   gs: Array[Int], val nu: Double = 1.5) {
  require(coords.rows == y.length, "coords/obs length mismatch")
  require(nu == 0.5 || nu == 1.5 || nu == 2.5, s"nu must be one of 0.5/1.5/2.5, got $nu")
  val n: Int = coords.rows
  val d: Int = coords.cols
  require(gs.length == d && gs.forall(_ >= 6), "need >= 6 grid points per dim")

  private val Log2Pi = math.log(2.0 * math.Pi)
  private val twoNu = 2.0 * nu

  // per-dim uniform grids: inner span = data extent, 2 margin cells/side
  private[gp] val gridStart = new Array[Double](d)
  private[gp] val gridStep = new Array[Double](d)
  (0 until d).foreach { k =>
    val lo = (0 until n).map(coords(_, k)).min
    val hi = (0 until n).map(coords(_, k)).max
    val h = math.max(hi - lo, 1e-9) / (gs(k) - 5).toDouble
    gridStep(k) = h
    gridStart(k) = lo - 2.0 * h
  }

  /** Keys cubic-convolution weight (a = -1/2), |s| in [0, 2). */
  private def cubic(s0: Double): Double = {
    val s = math.abs(s0)
    if (s < 1.0) 1.5 * s * s * s - 2.5 * s * s + 1.0
    else if (s < 2.0) -0.5 * s * s * s + 2.5 * s * s - 4.0 * s + 2.0
    else 0.0
  }

  /** 4-point stencil (base grid index, weights) for x in dim k. */
  private[gp] def stencil(k: Int, x: Double): (Int, Array[Double]) = {
    val t = (x - gridStart(k)) / gridStep(k)
    val i0 = math.floor(t).toInt
    val base = math.max(1, math.min(gs(k) - 3, i0)) - 1 // clamp stencil inside grid
    val w = Array.tabulate(4)(j => cubic(t - (base + j)))
    (base, w)
  }

  // per-dim observation stencils, built once (coordinate-only)
  private val obsBase: Array[Array[Int]] = Array.tabulate(d)(k =>
    Array.tabulate(n)(i => stencil(k, coords(i, k))._1))
  private val obsW: Array[Array[Array[Double]]] = Array.tabulate(d)(k =>
    Array.tabulate(n)(i => stencil(k, coords(i, k))._2))

  private def kOfQ(q: Double, varK: Double): Double =
    if (nu == 0.5) varK * math.exp(-q)
    else if (nu == 1.5) varK * (1.0 + q) * math.exp(-q)
    else varK * (1.0 + q + q * q / 3.0) * math.exp(-q)

  /** per-dim grid gram K_d (g x g). */
  private def gridGram(k: Int, ell: Double, varK: Double): DenseMatrix[Double] = {
    val g = gs(k)
    val km = DenseMatrix.zeros[Double](g, g)
    var i = 0
    while (i < g) {
      var j = i
      while (j < g) {
        val r = (j - i) * gridStep(k) / ell
        val v = kOfQ(math.sqrt(twoNu) * r, varK)
        km(i, j) = v; km(j, i) = v
        j += 1
      }
      i += 1
    }
    km
  }

  /** per-dim interpolated obs gram B_d(i,j) = w_i^T K_d w_j (n x n). */
  private def obsDimGram(k: Int, kd: DenseMatrix[Double]): DenseMatrix[Double] = {
    // V = U K_d with U the sparse n x g stencil matrix
    val g = gs(k)
    val v = DenseMatrix.zeros[Double](n, g)
    var i = 0
    while (i < n) {
      val b = obsBase(k)(i); val w = obsW(k)(i)
      var c = 0
      while (c < g) {
        v(i, c) = w(0) * kd(b, c) + w(1) * kd(b + 1, c) + w(2) * kd(b + 2, c) + w(3) * kd(b + 3, c)
        c += 1
      }
      i += 1
    }
    val out = DenseMatrix.zeros[Double](n, n)
    var i2 = 0
    while (i2 < n) {
      var j = 0
      while (j < n) {
        val b = obsBase(k)(j); val w = obsW(k)(j)
        out(i2, j) = w(0) * v(i2, b) + w(1) * v(i2, b + 1) + w(2) * v(i2, b + 2) + w(3) * v(i2, b + 3)
        j += 1
      }
      i2 += 1
    }
    out
  }

  /** packed hyper vector: [ell_1..ell_d, var_1..var_d, s]. */
  def nHypers: Int = 2 * d + 1

  private def skiGram(hyp: Array[Double]): DenseMatrix[Double] = {
    val grams = (0 until d).map(k => obsDimGram(k, gridGram(k, hyp(k), hyp(d + k))))
    val km = DenseMatrix.ones[Double](n, n)
    grams.foreach { b =>
      var i = 0
      while (i < n) { var j = 0; while (j < n) { km(i, j) *= b(i, j); j += 1 }; i += 1 }
    }
    km
  }

  def nlml(hyp: Array[Double]): Double = {
    require(hyp.length == nHypers)
    val s = hyp(2 * d)
    if (s <= 0 || (0 until d).exists(k => hyp(k) <= 0 || hyp(d + k) <= 0))
      return Double.PositiveInfinity
    try {
      val km = skiGram(hyp)
      var i = 0
      while (i < n) { km(i, i) += s; i += 1 }
      choleskyNlml(km, y)
    } catch { case _: Exception => Double.PositiveInfinity }
  }

  /** d(grid gram)/d(ell_k): closed-form Matern radial derivatives
    * (dk/dell = var q^2 e^-q / ell for nu=3/2; q = sqrt(2 nu) r / ell).
    */
  private def gridGramDEll(k: Int, ell: Double, varK: Double): DenseMatrix[Double] = {
    val g = gs(k)
    val km = DenseMatrix.zeros[Double](g, g)
    var i = 0
    while (i < g) {
      var j = i
      while (j < g) {
        val q = math.sqrt(twoNu) * (j - i) * gridStep(k) / ell
        val v =
          if (nu == 0.5) varK * q * math.exp(-q) / ell
          else if (nu == 1.5) varK * q * q * math.exp(-q) / ell
          else varK * q * q * (1.0 + q) * math.exp(-q) / (3.0 * ell)
        km(i, j) = v; km(j, i) = v
        j += 1
      }
      i += 1
    }
    km
  }

  /** NLML and its ANALYTIC gradient in one pass. The SKI gram keeps its
    * Hadamard structure under differentiation:
    *   dK/ds      = I,
    *   dK/dvar_k  = K_f / var_k  (every B_d is linear in its variance,
    *                K_f = the noise-free gram — the usual product-variance
    *                redundancy),
    *   dK/dell_k  = dB_k/dell_k ∘ (∘_{j≠k} B_j),
    * so ONE Cholesky + one explicit K^-1 serves every component via
    * 0.5 <K^-1 - alpha alpha^T, dK/dtheta>_F — versus 2(2d+1) extra
    * factorizations per finite-difference evaluation.
    */
  def nlmlWithGrad(hyp: Array[Double]): (Double, Array[Double]) = {
    require(hyp.length == nHypers)
    val s = hyp(2 * d)
    if (s <= 0 || (0 until d).exists(k => hyp(k) <= 0 || hyp(d + k) <= 0))
      return (Double.PositiveInfinity, new Array[Double](nHypers))
    try {
      val kds = (0 until d).map(k => gridGram(k, hyp(k), hyp(d + k)))
      val bs = (0 until d).map(k => obsDimGram(k, kds(k)))
      // flat column-major noise-free gram (symmetric) for the blocked
      // FastSpd potrf/potrs/potri path Matern32Gpr uses
      val kf = new Array[Double](n * n)
      java.util.Arrays.fill(kf, 1.0)
      bs.foreach { b =>
        var j = 0
        while (j < n) {
          val col = j * n
          var i = 0
          while (i < n) { kf(i + col) *= b(i, j); i += 1 }
          j += 1
        }
      }
      val a = kf.clone()
      var i = 0
      while (i < n) { a(i + i * n) += s; i += 1 }
      if (FastSpd.potrfUpper(a, n) != 0)
        return (Double.PositiveInfinity, new Array[Double](nHypers))
      var logdet = 0.0
      i = 0
      while (i < n) { logdet += math.log(a(i + i * n)); i += 1 }
      val alpha = new Array[Double](n)
      i = 0
      while (i < n) { alpha(i) = y(i); i += 1 }
      FastSpd.potrsUpper(a, n, alpha)
      var quad = 0.0
      i = 0
      while (i < n) { quad += y(i) * alpha(i); i += 1 }
      val value = 0.5 * quad + logdet + 0.5 * n * Log2Pi
      // K^-1 into a's upper triangle
      if (FastSpd.potriUpper(a, n) != 0)
        return (Double.PositiveInfinity, new Array[Double](nHypers))
      // <K^-1 - alpha alpha^T, M>_F over the upper triangle (both symmetric)
      def inner(m: (Int, Int) => Double): Double = {
        var acc = 0.0
        var j = 0
        while (j < n) {
          val col = j * n
          acc += (a(j + col) - alpha(j) * alpha(j)) * m(j, j)
          var i2 = 0
          while (i2 < j) {
            acc += 2.0 * (a(i2 + col) - alpha(i2) * alpha(j)) * m(i2, j)
            i2 += 1
          }
          j += 1
        }
        acc
      }
      val g = new Array[Double](nHypers)
      // s: dK/ds = I
      var trA = 0.0
      i = 0
      while (i < n) { trA += a(i + i * n) - alpha(i) * alpha(i); i += 1 }
      g(2 * d) = 0.5 * trA
      // variances: one shared inner product, scaled per var_k
      val gVarCommon = 0.5 * inner((i2, j) => kf(i2 + j * n))
      (0 until d).foreach(k => g(d + k) = gVarCommon / hyp(d + k))
      // lengthscales: dB_k ∘ (product of the OTHER dims' B's)
      (0 until d).foreach { k =>
        val dB = obsDimGram(k, gridGramDEll(k, hyp(k), hyp(d + k)))
        g(k) = 0.5 * inner { (i2, j) =>
          var other = 1.0
          var kk = 0
          while (kk < d) { if (kk != k) other *= bs(kk)(i2, j); kk += 1 }
          dB(i2, j) * other
        }
      }
      (value, g)
    } catch { case _: Exception => (Double.PositiveInfinity, new Array[Double](nHypers)) }
  }

  /** SKI kernel value between arbitrary points (test surface + predict). */
  private[gp] def skiKernel(xa: Array[Double], xb: Array[Double], hyp: Array[Double]): Double = {
    var out = 1.0
    var k = 0
    while (k < d) {
      val kd = gridGram(k, hyp(k), hyp(d + k))
      val (ba, wa) = stencil(k, xa(k))
      val (bb, wb) = stencil(k, xb(k))
      var f = 0.0
      var i = 0
      while (i < 4) {
        var j = 0
        while (j < 4) { f += wa(i) * wb(j) * kd(ba + i, bb + j); j += 1 }
        i += 1
      }
      out *= f
      k += 1
    }
    out
  }

  def predict(xs: DenseMatrix[Double], hyp: Array[Double]): GprPrediction = {
    val s = hyp(2 * d)
    val kds = (0 until d).map(k => gridGram(k, hyp(k), hyp(d + k)))
    val km = skiGram(hyp)
    var i0 = 0
    while (i0 < n) { km(i0, i0) += s; i0 += 1 }
    val l = breeze.linalg.cholesky(km)
    val alpha = upperSolve(l, lowerSolve(l, y))
    val mStar = xs.rows
    val fs = new Array[Double](mStar)
    val fsVar = new Array[Double](mStar)
    val yVar = new Array[Double](mStar)
    val kv = DenseVector.zeros[Double](n)
    var s0 = 0
    while (s0 < mStar) {
      // per-dim v* = w*^T K_d, then cross rows via stored obs stencils
      val vStars = (0 until d).map { k =>
        val (b, w) = stencil(k, xs(s0, k))
        val kd = kds(k)
        Array.tabulate(gs(k))(c => w(0) * kd(b, c) + w(1) * kd(b + 1, c) + w(2) * kd(b + 2, c) + w(3) * kd(b + 3, c))
      }
      var i = 0
      while (i < n) {
        var prod = 1.0
        var k = 0
        while (k < d) {
          val b = obsBase(k)(i); val w = obsW(k)(i); val vs = vStars(k)
          prod *= w(0) * vs(b) + w(1) * vs(b + 1) + w(2) * vs(b + 2) + w(3) * vs(b + 3)
          k += 1
        }
        kv(i) = prod
        i += 1
      }
      var mean = 0.0
      i = 0
      while (i < n) { mean += kv(i) * alpha(i); i += 1 }
      val tmp = lowerSolve(l, kv)
      var red = 0.0
      i = 0
      while (i < n) { red += tmp(i) * tmp(i); i += 1 }
      val xArr = Array.tabulate(d)(k => xs(s0, k))
      val prior = skiKernel(xArr, xArr, hyp)
      fs(s0) = mean
      fsVar(s0) = prior - red
      yVar(s0) = fsVar(s0) + s
      s0 += 1
    }
    GprPrediction(fs, fsVar, yVar)
  }

  /** ANALYTIC-gradient L-BFGS in bijector space ([[BijectedLbfgs]]):
    * one Cholesky + K^-1 per evaluation via [[nlmlWithGrad]] instead of
    * the 2(2d+1) extra factorizations finite differences cost.
    */
  def optimise(init: Array[Double], bijectors: Array[Bijector],
               maxIter: Int = 60, tolerance: Double = 1e-7): (Array[Double], Double, Boolean, Int) = {
    require(bijectors.length == nHypers)
    BijectedLbfgs.minimise(init, bijectors, nlml, nlmlWithGrad, maxIter, tolerance)
  }
}
