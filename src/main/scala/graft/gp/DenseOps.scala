package graft.gp

import breeze.linalg.{DenseMatrix, DenseVector}

/** Dense triangular solves against a lower Cholesky factor L, the dense
  * Cholesky NLML, and the Kronecker / Khatri-Rao products of the
  * inter-domain models. Plain loops in a fixed order, so every caller gets
  * bit-identical results.
  */
private[gp] object DenseOps {

  private val Log2Pi = math.log(2.0 * math.Pi)

  /** Gaussian negative log marginal likelihood of y under N(0, K) through
    * a dense Cholesky of K: 0.5 y^T K^-1 y + logdet L + 0.5 n log 2 pi.
    * Throws when K is not positive definite.
    */
  def choleskyNlml(k: DenseMatrix[Double], y: DenseVector[Double]): Double = {
    val l = breeze.linalg.cholesky(k)
    val alpha = lowerSolve(l, y)
    val n = y.length
    var logdet = 0.0
    var quad = 0.0
    var i = 0
    while (i < n) { logdet += math.log(l(i, i)); quad += alpha(i) * alpha(i); i += 1 }
    0.5 * quad + logdet + 0.5 * n * Log2Pi
  }

  /** L x = v (forward substitution). */
  def lowerSolve(l: DenseMatrix[Double], v: DenseVector[Double]): DenseVector[Double] = {
    val out = v.copy
    var i = 0
    while (i < l.rows) {
      var ss = out(i)
      var j = 0
      while (j < i) { ss -= l(i, j) * out(j); j += 1 }
      out(i) = ss / l(i, i)
      i += 1
    }
    out
  }

  /** L X = B, column by column. */
  def lowerSolve(l: DenseMatrix[Double], b: DenseMatrix[Double]): DenseMatrix[Double] = {
    val out = b.copy
    var c = 0
    while (c < b.cols) {
      var i = 0
      while (i < l.rows) {
        var ss = out(i, c)
        var j = 0
        while (j < i) { ss -= l(i, j) * out(j, c); j += 1 }
        out(i, c) = ss / l(i, i)
        i += 1
      }
      c += 1
    }
    out
  }

  /** L^T x = v (back substitution on the lower factor). */
  def upperSolve(l: DenseMatrix[Double], v: DenseVector[Double]): DenseVector[Double] = {
    val out = v.copy
    var i = l.rows - 1
    while (i >= 0) {
      var ss = out(i)
      var j = i + 1
      while (j < l.rows) { ss -= l(j, i) * out(j); j += 1 }
      out(i) = ss / l(i, i)
      i -= 1
    }
    out
  }

  /** L^T X = B, column by column. */
  def upperSolve(l: DenseMatrix[Double], b: DenseMatrix[Double]): DenseMatrix[Double] = {
    val out = b.copy
    var c = 0
    while (c < b.cols) {
      var i = l.rows - 1
      while (i >= 0) {
        var ss = out(i, c)
        var j = i + 1
        while (j < l.rows) { ss -= l(j, i) * out(j, c); j += 1 }
        out(i, c) = ss / l(i, i)
        i -= 1
      }
      c += 1
    }
    out
  }

  /** Kronecker product of the matrices, left to right. */
  def kron(msq: Seq[DenseMatrix[Double]]): DenseMatrix[Double] =
    msq.reduce { (x, z) =>
      val out = DenseMatrix.zeros[Double](x.rows * z.rows, x.cols * z.cols)
      var i = 0
      while (i < x.rows) {
        var j = 0
        while (j < x.cols) {
          val v = x(i, j)
          var p = 0
          while (p < z.rows) {
            var q = 0
            while (q < z.cols) { out(i * z.rows + p, j * z.cols + q) = v * z(p, q); q += 1 }
            p += 1
          }
          j += 1
        }
        i += 1
      }
      out
    }

  /** Khatri-Rao row stack of per-dim feature matrices (make_kvs_np,
    * GPSat/vff.py:553-561): rows(A (x) B) = repeat(A rows, B.rows) *
    * tile(B rows), column by column. */
  def kvs(mats: Seq[DenseMatrix[Double]]): DenseMatrix[Double] =
    mats.reduce { (ab, c) =>
      val out = DenseMatrix.zeros[Double](ab.rows * c.rows, ab.cols)
      var i = 0
      while (i < ab.rows) {
        var j = 0
        while (j < c.rows) {
          var col = 0
          while (col < ab.cols) {
            out(i * c.rows + j, col) = ab(i, col) * c(j, col)
            col += 1
          }
          j += 1
        }
        i += 1
      }
      out
    }
}
