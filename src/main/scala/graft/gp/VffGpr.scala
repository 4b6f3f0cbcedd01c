package graft.gp

import breeze.linalg.{DenseMatrix, DenseVector}

/** Variational Fourier Features GP (Hensman, Durrande & Solin 2017) with a
  * separable per-dimension Matern-3/2 kernel — the reference's
  * `GPflowVFFModel` / `GPR_kron` (GPSat/vff.py:564-676, adapted there from
  * the public st--/VFF code; GPSat/models/vff_model.py). Inter-domain
  * inducing features are cos/sin Fourier basis functions on a per-dim
  * interval [a_d, b_d]; the bound, optimiser and predictor are the shared
  * [[InterDomainGpr]], with this Fourier basis per dim (Matern32,
  * vff.py:400-424), lambda = sqrt(3)/ell_d and omega = 2 pi m/(b-a):
  *   Kuu_d = blockdiag( diag(d_cos) + v_cos v_cos^T ,
  *                      diag(d_sin) + v_sin v_sin^T )
  *   d_cos = (b-a)(lambda^2+omega^2)^2 / lambda^3 / var / (4 if omega==0 else 8)
  *   v_cos = 1/sqrt(var);  d_sin as d_cos with /8;  v_sin = omega/lambda/sqrt(var)
  * Prediction uses the Matern32 EDGE-corrected features for points outside
  * [a, b] (make_Kuf, vff.py:457-516).
  *
  * @param ms per-dim Fourier feature count (frequencies 0..ms_d-1; the
  *           per-dim basis size is 2 ms_d - 1: ms_d cosines + ms_d-1 sines)
  * @param a,b per-dim domain bounds; training coords must lie strictly
  *           inside (vff.py:598, the reference asserts the same)
  */
final class VffGpr(coords: DenseMatrix[Double], y: DenseVector[Double],
                   ms: Array[Int], a: Array[Double], b: Array[Double])
    extends InterDomainGpr(coords, y, ms, a, b, new FourierBasis(ms, a, b))

/** VFF's per-dim cos/sin basis on [a_d, b_d]. */
private[gp] final class FourierBasis(ms: Array[Int], a: Array[Double], b: Array[Double])
    extends InterDomainBasis {
  def checkDim(k: Int): Unit = require(ms(k) >= 1, "need at least the zero frequency per dim")

  /** per-dim basis size 2 m - 1. */
  private val md: Array[Int] = ms.map(m => 2 * m - 1)
  def size(k: Int): Int = md(k)

  private def omegas(k: Int): Array[Double] =
    Array.tabulate(ms(k))(m => 2.0 * math.Pi * m / (b(k) - a(k)))

  /** per-dim feature matrix (Md x n): cos rows (all freqs) then sin rows
    * (nonzero freqs) of omega (x - a) — make_Kuf_np (vff.py:518-526). */
  def features(k: Int, xs: Int => Double, cols: Int): DenseMatrix[Double] = {
    val om = omegas(k)
    val out = DenseMatrix.zeros[Double](md(k), cols)
    var j = 0
    while (j < cols) { fillCosSin(k, om, out, j, xs(j) - a(k)); j += 1 }
    out
  }

  /** column j of the dim-k features at t = x - a. */
  private def fillCosSin(k: Int, om: Array[Double], out: DenseMatrix[Double], j: Int,
                         t: Double): Unit = {
    var r = 0
    while (r < ms(k)) { out(r, j) = math.cos(om(r) * t); r += 1 }
    var si = 1
    while (si < ms(k)) { out(ms(k) + si - 1, j) = math.sin(om(si) * t); si += 1 }
  }

  /** per-dim Kuu (dense, Md x Md) + its inverse (Sherman-Morrison per
    * block) + logdet, from (ell_d, var_d). */
  def kuu(k: Int, ell: Double, varK: Double)
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

  /** edge-corrected per-dim features for prediction points (vff.py:487-503):
    * outside [a, b] the cos rows become the Matern32 covariance tail
    * (1+arg)e^-arg and the sin rows (x-edge) e^-arg omega. */
  override def predictFeatures(k: Int, ell: Double, xs: Int => Double,
                               cols: Int): DenseMatrix[Double] = {
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
      } else fillCosSin(k, om, out, j, xv - a(k))
      j += 1
    }
    out
  }
}
