package graft.gp

import breeze.linalg.{cholesky, diag, eigSym, DenseMatrix, DenseVector}
import graft.gp.DenseOps._

/** Nyström low-rank approximation of the exact GP (reference `Nystroem`,
  * GPSat/models/pure_python_gpr.py:408-435; Williams & Seeger 2001): a
  * rank-M approximation of K with the Woodbury-identity inverse — the
  * large-window path (O(n^2 M) instead of O(n^3)).
  *
  * The reference selects the M landmark rows with a seeded
  * `np.random.choice`; landmark selection here is an explicit argument
  * (deterministic evenly-spaced stride by default) so results are
  * reproducible without replicating numpy's RNG stream. All math after
  * selection replicates the reference exactly, including the clamping of
  * non-positive eigenvalues to 1e-12 and the NaN posterior variance where
  * the low-rank residual goes negative (the reference squares a sqrt of a
  * negative diagonal, pure_python_gpr.py:548-551).
  */
object NystroemGpr {

  /** Evenly spaced landmark indices (deterministic default). */
  def strideSelect(n: Int, m: Int): Array[Int] =
    Array.tabulate(m)(i => ((i.toLong * n) / m).toInt)

  final case class NystroemState(
      ki: DenseMatrix[Double],    // approximate K^-1 (n x n)
      a: DenseVector[Double],     // Ki y
      halfLogDet: Double)         // slogdet(I sn2 + L~^T L~) / 2

  private def matern32(xa: DenseMatrix[Double], xb: DenseMatrix[Double],
                       ell: Array[Double], sf2: Double): DenseMatrix[Double] = {
    val sqrt3 = math.sqrt(3.0)
    DenseMatrix.tabulate[Double](xa.rows, xb.rows) { (i, j) =>
      var s = 0.0
      var k = 0
      while (k < ell.length) {
        val d = (xa(i, k) - xb(j, k)) * sqrt3 / ell(k)
        s += d * d
        k += 1
      }
      val q = math.sqrt(s)
      sf2 * (1.0 + q) * math.exp(-q)
    }
  }

  def fit(coords: DenseMatrix[Double], y: DenseVector[Double],
          landmarks: Array[Int], ell: Array[Double], sf2: Double, sn2: Double): NystroemState = {
    val n = coords.rows
    val m = landmarks.length
    val xm = DenseMatrix.tabulate[Double](m, coords.cols)((i, j) => coords(landmarks(i), j))
    val kmm = matern32(xm, xm, ell, sf2)
    val knm = matern32(coords, xm, ell, sf2)

    val es = eigSym(kmm) // ascending, like numpy eigh
    val s = es.eigenvalues.map(v => if (v <= 0) 1e-12 else v)
    val u = es.eigenvectors
    val sTilde = s * (n.toDouble / m)
    // u_tilde = sqrt(M/n) * Knm u / s  (column j divided by s(j))
    val uTilde = DenseMatrix.tabulate[Double](n, m) { (i, j) =>
      var acc = 0.0
      var k = 0
      while (k < m) { acc += knm(i, k) * u(k, j); k += 1 }
      math.sqrt(m.toDouble / n) * acc / s(j)
    }

    // L = chol(diag(1/s_tilde) + u~^T u~ / sn2)
    val inner = (uTilde.t * uTilde) / sn2 + diag(sTilde.map(1.0 / _))
    val l = cholesky(inner)
    // alpha = L^T \ (L \ (u~^T / sn2))   (m x n)
    val rhs = uTilde.t / sn2
    val z = lowerSolve(l, rhs)
    val alpha = upperSolve(l, z)
    // Ki = I/sn2 - (u~/sn2) alpha
    val ki = DenseMatrix.tabulate[Double](n, n) { (i, j) =>
      var acc = 0.0
      var k = 0
      while (k < m) { acc += uTilde(i, k) * alpha(k, j); k += 1 }
      (if (i == j) 1.0 / sn2 else 0.0) - acc / sn2
    }
    val a = ki * y

    // det = slogdet(I sn2 + L~^T L~)/2, L~ = u~ * diag(sqrt(s_tilde))
    val lt = DenseMatrix.tabulate[Double](n, m)((i, j) => uTilde(i, j) * math.sqrt(sTilde(j)))
    val detM = (lt.t * lt) + (DenseMatrix.eye[Double](m) * sn2)
    val lc = cholesky(detM)
    var halfLogDet = 0.0
    var i = 0
    while (i < m) { halfLogDet += math.log(lc(i, i)); i += 1 }
    // slogdet of (I_M sn2 + L~^T L~) has the same non-trivial part as the
    // full n x n determinant up to the sn2^(n-m) factor:
    // det(I_n sn2 + L~ L~^T) = sn2^(n-m) det(I_M sn2 + L~^T L~)
    // The reference computes slogdet of the M x M form directly (:430).
    NystroemState(ki, a, halfLogDet)
  }

  /** NLML with the Nyström approximation (reference SMLII_mod approx=True,
    * pure_python_gpr.py:497-499): y^T A / 2 + det + n log(2 pi)/2.
    */
  def nlml(y: DenseVector[Double], st: NystroemState): Double =
    0.5 * (y dot st.a) + st.halfLogDet + 0.5 * y.length * math.log(2.0 * math.Pi)

  /** Posterior prediction (reference GPR approx=True, pure_python_gpr.py:536-551):
    * f* = K*^T A; f*_var = diag(K** - K*^T Ki K*), NaN where negative.
    */
  def predict(coords: DenseMatrix[Double], xs: DenseMatrix[Double], st: NystroemState,
              ell: Array[Double], sf2: Double, sn2: Double): GprPrediction = {
    val kxsx = matern32(coords, xs, ell, sf2) // n x m*
    val err = kxsx.t * (st.ki * kxsx)
    val mStar = xs.rows
    val fs = new Array[Double](mStar)
    val fsVar = new Array[Double](mStar)
    val yVar = new Array[Double](mStar)
    var j = 0
    while (j < mStar) {
      var acc = 0.0
      var i = 0
      while (i < coords.rows) { acc += kxsx(i, j) * st.a(i); i += 1 }
      fs(j) = acc
      val v = sf2 - err(j, j) // diag K** = sf2
      // reference: sqrt then square -> NaN for negative low-rank residuals
      fsVar(j) = if (v < 0) Double.NaN else v
      yVar(j) = fsVar(j) + sn2
      j += 1
    }
    GprPrediction(fs, fsVar, yVar)
  }
}
