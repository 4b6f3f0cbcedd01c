package graft.gp

import breeze.linalg.{DenseMatrix, DenseVector}
import dev.ludovic.netlib.blas.BLAS

/** Sparse Variational GP (Hensman et al. 2013) with a Gaussian likelihood —
  * the reference's `GPflowSVGPModel` (GPSat/models/gpflow_models.py:901+):
  * an explicit variational posterior q(u) = N(m, S = L L^T) over M inducing
  * outputs, trained by minibatch gradient ascent on the uncollapsed ELBO
  *
  *   ELBO = (n/b) sum_{i in batch} E_q[log N(y_i; f_i, s)] - KL(q(u)||p(u))
  *     mu_i = p_i^T m,  v_i = k_ii - k_ui^T p_i + ||L^T p_i||^2,
  *     p_i  = Kuu^-1 k_ui
  *     E_i  = -log(2 pi s)/2 - ((y_i - mu_i)^2 + v_i) / (2 s)
  *     KL   = (tr(Kuu^-1 S) + m^T Kuu^-1 m - M + log|Kuu| - log|S|) / 2
  *
  * Where GPflow trains by autodiff + (minibatched) Adam, the gradients here
  * are ANALYTIC in (m, L, hyperparameters) — validated against central
  * finite differences in SvgpGprSpec — and the optimiser is a deterministic
  * Adam: fixed init (m = 0, L = I, GPflow's defaults), contiguous stride
  * minibatches cycling in order (no RNG), fixed step schedule. With a
  * Gaussian likelihood and full batches the optimum of q coincides with the
  * collapsed Titsias solution, so at convergence the ELBO and predictions
  * must match [[SgprGpr]] at the same hyperparameters — the cross-model
  * consistency test. SVGP's reason to exist over SGPR is O(b m^2) steps
  * (constant in n) and non-Gaussian likelihoods; this implementation ships
  * the Gaussian case the reference tests.
  *
  * Instances are stateful: `optimise`/`fitVariational` update the stored
  * (m, L); `predict` uses the stored posterior (one instance per tile).
  */
final class SvgpGpr(coords: DenseMatrix[Double], y: DenseVector[Double],
                    inducing: Array[Int], batchSize: Int = 0) {
  require(coords.rows == y.length, "coords/obs length mismatch")
  val n: Int = coords.rows
  val d: Int = coords.cols
  val m: Int = inducing.length
  private val b = if (batchSize <= 0 || batchSize > n) n else batchSize

  private val blas = BLAS.getInstance

  private val yArr = y.toArray
  private val cov = new Matern32Inducing(coords, inducing)

  // variational state: mean (M) and lower-triangular scale (M x M col-major)
  private[gp] val vm = new Array[Double](m)
  private[gp] val vL = Array.tabulate(m * m)(i => if (i / m == i % m) 1.0 else 0.0)

  /** negative ELBO and (optionally) its analytic gradient w.r.t.
    * [vm (m) | vL lower-tri (m(m+1)/2, col-major) | ell... | sf2 | sn2]
    * over the given batch indices. (+inf, null) on Cholesky failure.
    */
  private[gp] def evalCore(p: GprParams, idx: Array[Int],
                           wantGrad: Boolean): (Double, Array[Double]) = {
    val ell = p.lengthscales
    val sf2 = p.kernelVariance
    val s = p.likelihoodVariance
    if (s <= 0 || sf2 <= 0) return (Double.PositiveInfinity, null)
    val inv2l = Array.tabulate(d)(k => 3.0 / (ell(k) * ell(k)))
    val bs = idx.length
    val rho = n.toDouble / bs

    val kuu = cov.kuu(inv2l, sf2)
    val u = kuu.clone()
    if (FastSpd.potrfUpper(u, m) != 0) return (Double.PositiveInfinity, null)
    var logDetKuu = 0.0
    var i = 0
    while (i < m) { logDetKuu += 2.0 * math.log(u(i + i * m)); i += 1 }
    // W = Kuu^-1 (upper triangle from potri; mirror for full-matrix BLAS)
    val w = u.clone()
    if (FastSpd.potriUpper(w, m) != 0) return (Double.PositiveInfinity, null)
    i = 0
    while (i < m) { var j = i + 1; while (j < m) { w(j + i * m) = w(i + j * m); j += 1 }; i += 1 }

    val kuf = cov.kuf(inv2l, sf2, idx)
    val pMat = kuf.clone()
    FastSpd.potrsUpper(u, m, pMat, bs) // P = Kuu^-1 Kuf_B

    // mu = P^T vm ; r = y_B - mu
    val mu = new Array[Double](bs)
    blas.dgemv("T", m, bs, 1.0, pMat, 0, m, vm, 0, 1, 0.0, mu, 0, 1)
    val r = new Array[Double](bs)
    var j = 0
    while (j < bs) { r(j) = yArr(idx(j)) - mu(j); j += 1 }

    // Q = L^T P ; v_i = sf2 - sum_k Kuf(k,i) P(k,i) + sum_k Q(k,i)^2
    val qMat = pMat.clone()
    blas.dtrmm("L", "L", "T", "N", m, bs, 1.0, vL, 0, m, qMat, 0, m)
    val v = new Array[Double](bs)
    var sumE = 0.0
    j = 0
    while (j < bs) {
      val off = j * m
      var t1 = 0.0
      var t2 = 0.0
      var k = 0
      while (k < m) { t1 += kuf(k + off) * pMat(k + off); t2 += qMat(k + off) * qMat(k + off); k += 1 }
      v(j) = sf2 - t1 + t2
      sumE += -0.5 * math.log(2.0 * math.Pi * s) - (r(j) * r(j) + v(j)) / (2.0 * s)
      j += 1
    }

    // KL terms; WL = W * L (dgemm — W is full-symmetric, L lower-tri)
    val wl = new Array[Double](m * m)
    blas.dgemm("N", "N", m, m, m, 1.0, w, 0, m, vL, 0, m, 0.0, wl, 0, m)
    var trWS = 0.0
    var mWm = 0.0
    var logDetS = 0.0
    val wm = new Array[Double](m)
    blas.dgemv("N", m, m, 1.0, w, 0, m, vm, 0, 1, 0.0, wm, 0, 1)
    i = 0
    while (i < m) {
      mWm += vm(i) * wm(i)
      val dia = vL(i + i * m)
      logDetS += math.log(dia * dia)
      var k = 0
      while (k < m) { trWS += wl(i + k * m) * vL(i + k * m); k += 1 }
      i += 1
    }
    val kl = 0.5 * (trWS + mWm - m + logDetKuu - logDetS)
    val elbo = rho * sumE - kl
    if (!wantGrad) return (-elbo, null)

    // ---------------- gradients of -ELBO ----------------
    val nv = m + m * (m + 1) / 2 + d + 2
    val g = new Array[Double](nv)

    // d(-ELBO)/dm = -(rho P r / s - W m)
    val pr = new Array[Double](m)
    blas.dgemv("N", m, bs, 1.0, pMat, 0, m, r, 0, 1, 0.0, pr, 0, 1)
    i = 0
    while (i < m) { g(i) = -(rho * pr(i) / s - wm(i)); i += 1 }

    // d(-ELBO)/dL = rho/s (P P^T) L + W L - diag(1/L_ii), lower triangle
    val ppt = new Array[Double](m * m)
    FastSpd.syrkUN(m, bs, 1.0, pMat, 0, m, 0.0, ppt, 0, m)
    i = 0
    while (i < m) { var k = i + 1; while (k < m) { ppt(k + i * m) = ppt(i + k * m); k += 1 }; i += 1 }
    val pptL = new Array[Double](m * m)
    blas.dgemm("N", "N", m, m, m, rho / s, ppt, 0, m, vL, 0, m, 0.0, pptL, 0, m)
    var gi = m
    var cCol = 0
    while (cCol < m) {
      var rRow = cCol
      while (rRow < m) {
        var gv = pptL(rRow + cCol * m) + wl(rRow + cCol * m)
        if (rRow == cCol) gv -= 1.0 / vL(rRow + rRow * m)
        g(gi) = gv
        gi += 1
        rRow += 1
      }
      cCol += 1
    }

    // hyperparameter gradients ------------------------------------------
    // c_i = rho r_i / s ; d_i = -rho/(2 s)
    val dconst = -rho / (2.0 * s)
    // S P = L (L^T P) = L Q
    val sp = qMat.clone()
    blas.dtrmm("L", "L", "N", "N", m, bs, 1.0, vL, 0, m, sp, 0, m)
    val wsp = new Array[Double](m * bs)
    blas.dgemm("N", "N", m, bs, m, 1.0, w, 0, m, sp, 0, m, 0.0, wsp, 0, m)
    // Fu = (W m) c^T - 2 d P ... : built per-entry below to avoid m x b temporaries
    // Pc = P c (m)
    val pc = new Array[Double](m)
    val cArrB = new Array[Double](bs)
    j = 0
    while (j < bs) { cArrB(j) = rho * r(j) / s; j += 1 }
    blas.dgemv("N", m, bs, 1.0, pMat, 0, m, cArrB, 0, 1, 0.0, pc, 0, 1)

    // dKuu coefficient (full):
    //   Fuu = -(W m)(P c)^T + d [P P^T] - 2 d (W S P) P^T
    //         - 0.5 [W - W S W - (W m)(W m)^T]
    // with d folded in via dconst (P D P^T = dconst * PPT since D = dconst I).
    val fuu = new Array[Double](m * m)
    // -2 dconst (W S P) P^T
    blas.dgemm("N", "T", m, m, bs, -2.0 * dconst, wsp, 0, m, pMat, 0, m, 0.0, fuu, 0, m)
    // + dconst PPT ; - (W m)(P c)^T ; -0.5 W + 0.5 WSW + 0.5 (Wm)(Wm)^T
    val wsw = new Array[Double](m * m)
    blas.dgemm("N", "T", m, m, m, 1.0, wl, 0, m, wl, 0, m, 0.0, wsw, 0, m) // (W L)(W L)^T = W S W
    i = 0
    while (i < m) {
      var k = 0
      while (k < m) {
        fuu(i + k * m) += dconst * ppt(i + k * m) - wm(i) * pc(k) -
          0.5 * w(i + k * m) + 0.5 * wsw(i + k * m) + 0.5 * wm(i) * wm(k)
        k += 1
      }
      i += 1
    }

    // contraction passes: gl(k) over dKuf and dKuu; gsf likewise
    val gl = new Array[Double](d)
    var gsf = 0.0
    j = 0
    while (j < bs) {
      val off = j * m
      val xr = cov.x(idx(j))
      val cj = cArrB(j)
      var mi = 0
      while (mi < m) {
        // Fu(mi, j) = (W m)_mi c_j - 2 dconst P(mi,j) + 2 dconst (W S P)(mi,j)
        val f = wm(mi) * cj - 2.0 * dconst * pMat(mi + off) + 2.0 * dconst * wsp(mi + off)
        gsf += cov.gradTerm(f, cov.z(mi), xr, inv2l, gl)
        mi += 1
      }
      j += 1
    }
    gsf = cov.kuuGrad(fuu, inv2l, gl, gsf)

    val base = m + m * (m + 1) / 2
    cov.lengthscaleGrads(ell, sf2, gl, g, base)
    // dkdiag/dsf2 = 1 per batch point: E-term contributes dconst * bs
    g(base + d) = -(gsf + dconst * bs)
    // d(-ELBO)/ds = -rho d/ds sum E_i
    var dEds = 0.0
    j = 0
    while (j < bs) { dEds += -0.5 / s + (r(j) * r(j) + v(j)) / (2.0 * s * s); j += 1 }
    g(base + d + 1) = -rho * dEds
    (-elbo, g)
  }

  private def batches: Array[Array[Int]] =
    if (b >= n) Array(Array.tabulate(n)(identity))
    else Array.tabulate((n + b - 1) / b)(k => Array.tabulate(math.min(b, n - k * b))(i => k * b + i))

  /** negative ELBO over the FULL data at the stored variational state. */
  def negElbo(p: GprParams): Double =
    try evalCore(p, Array.tabulate(n)(identity), wantGrad = false)._1
    catch { case _: Exception => Double.PositiveInfinity }

  def negElboAndGrad(p: GprParams, idx: Array[Int]): (Double, Array[Double]) =
    try {
      val (v0, g0) = evalCore(p, idx, wantGrad = true)
      if (g0 == null) (v0, new Array[Double](m + m * (m + 1) / 2 + d + 2)) else (v0, g0)
    } catch { case _: Exception =>
      (Double.PositiveInfinity, new Array[Double](m + m * (m + 1) / 2 + d + 2))
    }

  /** Deterministic Adam over [m | L | hypers-in-bijector-space] cycling the
    * stride minibatches in order. `trainHypers = false` freezes the
    * hyperparameters (variational-only fit — the predict-only rerun path).
    * Returns the fit result with the FULL-data negative ELBO as objective.
    */
  def optimise(init: GprParams, bijectors: Array[Bijector], steps: Int = 300,
               lr: Double = 0.05, trainHypers: Boolean = true): GprFitResult = {
    require(bijectors.length == d + 2, s"need ${d + 2} bijectors")
    val base = m + m * (m + 1) / 2
    val nv = base + d + 2
    val theta = init.toArray
    val uHyp = Array.tabulate(d + 2)(i => bijectors(i).inv(theta(i)))
    require(uHyp.forall(v0 => !v0.isNaN), "initial parameters map to NaN in variable space")

    val mom = new Array[Double](nv)
    val vel = new Array[Double](nv)
    val beta1 = 0.9; val beta2 = 0.999; val eps = 1e-8
    val bs = batches
    var step = 0
    var lastP = init
    while (step < steps) {
      val idx = bs(step % bs.length)
      val p = GprParams.fromArray(Array.tabulate(d + 2)(i => bijectors(i).fwd(uHyp(i))))
      lastP = p
      val (_, g) = negElboAndGrad(p, idx)
      // chain hyper grads through the bijectors
      var i = 0
      while (i < d + 2) { g(base + i) *= bijectors(i).grad(uHyp(i)); i += 1 }
      val t = step + 1
      val bc1 = 1.0 - math.pow(beta1, t)
      val bc2 = 1.0 - math.pow(beta2, t)
      i = 0
      while (i < nv) {
        if (i < base || trainHypers) {
          mom(i) = beta1 * mom(i) + (1 - beta1) * g(i)
          vel(i) = beta2 * vel(i) + (1 - beta2) * g(i) * g(i)
          val upd = lr * (mom(i) / bc1) / (math.sqrt(vel(i) / bc2) + eps)
          if (i < m) vm(i) -= upd
          else if (i < base) {
            // unpack lower-tri index
            val li = lowerIndex(i - m)
            vL(li) -= upd
          } else uHyp(i - base) -= upd
        }
        i += 1
      }
      step += 1
    }
    val pOpt = GprParams.fromArray(Array.tabulate(d + 2)(i => bijectors(i).fwd(uHyp(i))))
    val obj = negElbo(pOpt)
    if (obj.isInfinite || obj.isNaN) GprFitResult(lastP, negElbo(lastP), success = false, steps)
    else GprFitResult(pOpt, obj, success = true, steps)
  }

  // packed lower-tri (col-major, diag included) position -> m x m col-major index
  private val lowerIndexTable: Array[Int] = {
    val t = new Array[Int](m * (m + 1) / 2)
    var pos = 0
    var c = 0
    while (c < m) { var r0 = c; while (r0 < m) { t(pos) = r0 + c * m; pos += 1; r0 += 1 }; c += 1 }
    t
  }
  private def lowerIndex(packed: Int): Int = lowerIndexTable(packed)

  /** GPflow SVGP predict_f with the stored q(u): mean = P*^T m,
    * var = kss - sum Kus o P* + ||L^T P*||^2 per column; y_var = + s.
    */
  def predict(xs: DenseMatrix[Double], p: GprParams): GprPrediction = {
    val ell = p.lengthscales
    val sf2 = p.kernelVariance
    val s = p.likelihoodVariance
    val inv2l = Array.tabulate(d)(k => 3.0 / (ell(k) * ell(k)))
    val kuu = cov.kuu(inv2l, sf2)
    require(FastSpd.potrfUpper(kuu, m) == 0, "Cholesky of Kuu failed in predict")
    val mStar = xs.rows
    val kus = cov.kus(xs, inv2l, sf2)
    val pStar = kus.clone()
    FastSpd.potrsUpper(kuu, m, pStar, mStar)
    val qStar = pStar.clone()
    blas.dtrmm("L", "L", "T", "N", m, mStar, 1.0, vL, 0, m, qStar, 0, m)
    val fs = new Array[Double](mStar)
    val fsVar = new Array[Double](mStar)
    val yVar = new Array[Double](mStar)
    var j = 0
    while (j < mStar) {
      val off = j * m
      var mean = 0.0
      var t1 = 0.0
      var t2 = 0.0
      var i = 0
      while (i < m) {
        mean += pStar(i + off) * vm(i)
        t1 += kus(i + off) * pStar(i + off)
        t2 += qStar(i + off) * qStar(i + off)
        i += 1
      }
      fs(j) = mean
      fsVar(j) = sf2 - t1 + t2
      yVar(j) = fsVar(j) + s
      j += 1
    }
    GprPrediction(fs, fsVar, yVar)
  }
}

object SvgpGpr {
  /** deterministic inducing selection (same stride rule as SGPR). */
  def strideSelect(n: Int, m: Int): Array[Int] = SgprGpr.strideSelect(n, m)
}
