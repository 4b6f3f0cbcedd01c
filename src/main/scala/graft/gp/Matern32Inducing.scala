package graft.gp

import breeze.linalg.DenseMatrix

/** Matern-3/2 covariances between fixed inducing points (rows `inducing`
  * of `coords`) and the training rows, shared by [[SgprGpr]] and
  * [[SvgpGpr]]. Matrices are flat column-major arrays; every method takes
  * inv2l(k) = 3 / ell_k^2 and the kernel variance sf2, so
  * k(a, b) = sf2 (1 + q) e^-q with q = sqrt(sum_k (a_k - b_k)^2 inv2l(k)).
  */
private[gp] final class Matern32Inducing(coords: DenseMatrix[Double], inducing: Array[Int]) {
  private val d = coords.cols
  private val m = inducing.length
  private val Jitter = 1e-6

  // inducing and training coordinates, cached as rows (m x d, n x d)
  val z: Array[Array[Double]] =
    Array.tabulate(m)(i => Array.tabulate(d)(j => coords(inducing(i), j)))
  val x: Array[Array[Double]] =
    Array.tabulate(coords.rows)(i => Array.tabulate(d)(j => coords(i, j)))

  /** q = sqrt(3) * scaled distance between two cached coordinate rows. */
  private def qOf(a: Array[Double], b: Array[Double], inv2l: Array[Double]): Double = {
    var s = 0.0
    var k = 0
    while (k < d) { val dv = a(k) - b(k); s += dv * dv * inv2l(k); k += 1 }
    math.sqrt(s)
  }

  /** m x m Kuu + jitter I (padded for netlib offset checks). */
  def kuu(inv2l: Array[Double], sf2: Double): Array[Double] = {
    val a = new Array[Double](m * m + m)
    var j = 0
    while (j < m) {
      a(j + j * m) = sf2 + Jitter
      var i = j + 1
      while (i < m) {
        val q = qOf(z(i), z(j), inv2l)
        val v = sf2 * (1.0 + q) * math.exp(-q)
        a(i + j * m) = v; a(j + i * m) = v
        i += 1
      }
      j += 1
    }
    a
  }

  /** m x idx.length Kuf over the training rows idx. */
  def kuf(inv2l: Array[Double], sf2: Double, idx: Array[Int]): Array[Double] = {
    val a = new Array[Double](m * idx.length)
    var j = 0
    while (j < idx.length) {
      val off = j * m
      val xr = x(idx(j))
      var i = 0
      while (i < m) {
        val q = qOf(z(i), xr, inv2l)
        a(i + off) = sf2 * (1.0 + q) * math.exp(-q)
        i += 1
      }
      j += 1
    }
    a
  }

  /** m x xs.rows Kus at prediction points xs. */
  def kus(xs: DenseMatrix[Double], inv2l: Array[Double], sf2: Double): Array[Double] = {
    val mStar = xs.rows
    val a = new Array[Double](m * mStar)
    var j = 0
    while (j < mStar) {
      val off = j * m
      var i = 0
      while (i < m) {
        var ssum = 0.0
        var k = 0
        while (k < d) { val dv = z(i)(k) - xs(j, k); ssum += dv * dv * inv2l(k); k += 1 }
        val q = math.sqrt(ssum)
        a(i + off) = sf2 * (1.0 + q) * math.exp(-q)
        i += 1
      }
      j += 1
    }
    a
  }

  /** One entry of a gradient contraction with coefficient f at rows (a, b):
    * adds f (a_k - b_k)^2 e^-q to gl(k) and returns f (1 + q) e^-q, the
    * entry's dk/dsf2 term.
    */
  def gradTerm(f: Double, a: Array[Double], b: Array[Double], inv2l: Array[Double],
               gl: Array[Double]): Double = {
    val q = qOf(a, b, inv2l)
    val e = math.exp(-q)
    var k = 0
    while (k < d) { val dv = a(k) - b(k); gl(k) += f * dv * dv * e; k += 1 }
    f * (1.0 + q) * e
  }

  /** Contraction of dKuu with the m x m coefficient fuu, continuing the
    * sf2 sum gsf; returns the new gsf. */
  def kuuGrad(fuu: Array[Double], inv2l: Array[Double], gl: Array[Double], gsf: Double): Double = {
    var g = gsf
    var mj = 0
    while (mj < m) {
      val off = mj * m
      var mi = 0
      while (mi < m) { g += gradTerm(fuu(mi + off), z(mi), z(mj), inv2l, gl); mi += 1 }
      mj += 1
    }
    g
  }

  /** gradient of -ELBO w.r.t. ell_k from the contraction gl:
    * dk/dell_k = 3 sf2 e^-q (a_k - b_k)^2 / ell_k^3, into out(off + k). */
  def lengthscaleGrads(ell: Array[Double], sf2: Double, gl: Array[Double],
                       out: Array[Double], off: Int): Unit = {
    var k = 0
    while (k < d) { out(off + k) = -(3.0 * sf2 / (ell(k) * ell(k) * ell(k))) * gl(k); k += 1 }
  }
}
