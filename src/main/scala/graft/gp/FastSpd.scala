package graft.gp

import dev.ludovic.netlib.blas.BLAS
import dev.ludovic.netlib.lapack.LAPACK
import org.netlib.util.intW

/** Blocked SPD factorization/inversion (upper storage, column-major) with
  * its own triangular level-3 kernels.
  *
  * Same numerics as LAPACK's blocked DPOTRF / DTRTRI / DLAUUM: the f2j
  * unblocked kernels (dpotf2/dtrti2/dlauu2) run on NB x NB diagonal
  * blocks, the off-diagonal panels go through level-3 routines. Only
  * dgemm has a SIMD implementation in the netlib BLAS (VectorBLAS, when
  * jdk.incubator.vector is enabled); its dsyrk/dtrsm/dtrmm are the scalar
  * f2j translations of the reference BLAS. Measured per n=400 Matern-3/2
  * evaluation (one thread): potrf+potri took 15.8 ms, of which 13.1 ms ran
  * in those six scalar routines at 0.7-3.2 GFlop/s and 2.0 ms in dgemm.
  *
  * So the seven upper-triangular forms the GP code needs are implemented
  * here (`syrkUT`, `syrkUN`, `trsmLUT`, `trsmLUN`, `trsmRUN`, `trmmLUN`,
  * `trmmRUT`). Each gives every output element exactly the operation
  * sequence the reference routine gives it: same order over the reduction
  * index, same alpha/beta expressions, same `!= 0` skips, a multiply then
  * an add (never an fma). Results are bit-identical to the BLAS calls they
  * replace. The speed comes from doing independent work together: the
  * dot-product forms (syrkUT, trsmLUT) compute 2 x 4 output tiles, so every
  * loaded operand is reused and eight dependency chains run side by side;
  * the axpy forms add four consecutive reduction terms, each in its own
  * order, in one pass over an output column (one store per element instead
  * of four). Per n=400 evaluation the six routines drop from 12.5-14.2 ms
  * to 6.3-7.2 ms (1.4-2.2x each; per-routine timing, one thread, 4-vCPU
  * AVX-512 VM).
  */
object FastSpd {
  // NOTE: netlib's Java bound checks require offset + lda * ncols elements
  // (a full trailing column stride), so buffers passed with offsets must be
  // padded by at least one extra column: length >= n * n + n.

  private val blas = BLAS.getInstance
  private val lapack = LAPACK.getInstance
  /** Panel width, fixed at 64 because the L-BFGS goldens are bit-stable
    * only at this value. Measured at the bench's n=400 tile cap
    * (median-of-9 KernelBench, ~0% steal): NB=48 gives ~4% higher absolute
    * 32-thread throughput (1023 vs 979 evals/s) but perturbs L-BFGS
    * trajectories enough to flip one benign line-search-stall flag.
    * Packed-triangular storage was evaluated and REJECTED: the
    * hot path already touches ONLY the upper triangle (lda=n), so packing
    * would not reduce the streamed bytes.
    */
  private val NB = 64

  /** In-place upper Cholesky: A = U^T U, upper triangle of `a` (col-major
    * n x n, lda = n) replaced by U. Returns 0 on success, >0 if not SPD.
    */
  def potrfUpper(a: Array[Double], n: Int): Int = {
    val info = new intW(0)
    var j = 0
    while (j < n) {
      val jb = math.min(NB, n - j)
      // diagonal block update: A(j:j+jb, j:j+jb) -= A(0:j, j:j+jb)^T A(0:j, j:j+jb)
      if (j > 0)
        syrkUT(jb, j, -1.0, a, j * n, n, 1.0, a, j + j * n, n)
      lapack.dpotf2("U", jb, a, j + j * n, n, info)
      if (info.`val` != 0) return info.`val` + j
      if (j + jb < n) {
        val cols = n - j - jb
        // A(j:j+jb, j+jb:) -= A(0:j, j:j+jb)^T A(0:j, j+jb:)
        if (j > 0)
          blas.dgemm("T", "N", jb, cols, j, -1.0, a, j * n, n,
            a, (j + jb) * n, n, 1.0, a, j + (j + jb) * n, n)
        // A(j:j+jb, j+jb:) = U(j:j+jb, j:j+jb)^-T A(j:j+jb, j+jb:)
        trsmLUT(jb, cols, 1.0, a, j + j * n, n, a, j + (j + jb) * n, n)
      }
      j += jb
    }
    0
  }

  /** In-place upper triangular inverse (non-unit): U -> U^-1 (LAPACK DTRTRI
    * blocked form). Assumes nonsingular U (checked diagonal).
    */
  private def trtriUpper(a: Array[Double], n: Int): Int = {
    val info = new intW(0)
    var j = 0
    while (j < n) {
      val jb = math.min(NB, n - j)
      if (j > 0) {
        // A(0:j, j:j+jb) = U(0:j, 0:j)^-1-so-far * A(0:j, j:j+jb)
        trmmLUN(j, jb, 1.0, a, 0, n, a, j * n, n)
        // A(0:j, j:j+jb) = -A(0:j, j:j+jb) * U(j:j+jb, j:j+jb)^-1
        trsmRUN(j, jb, -1.0, a, j + j * n, n, a, j * n, n)
      }
      lapack.dtrti2("U", "N", jb, a, j + j * n, n, info)
      if (info.`val` != 0) return info.`val` + j
      j += jb
    }
    0
  }

  /** In-place DLAUUM (upper): replace the upper triangle of A (holding a
    * triangular U) with the upper triangle of U U^T.
    */
  private def lauumUpper(a: Array[Double], n: Int): Unit = {
    val info = new intW(0)
    var i = 0
    while (i < n) {
      val ib = math.min(NB, n - i)
      if (i > 0) {
        // A(0:i, i:i+ib) = A(0:i, i:i+ib) * U(i:i+ib, i:i+ib)^T
        trmmRUT(i, ib, 1.0, a, i + i * n, n, a, i * n, n)
      }
      lapack.dlauu2("U", ib, a, i + i * n, n, info)
      if (i + ib < n) {
        val k = n - i - ib
        if (i > 0)
          // A(0:i, i:i+ib) += A(0:i, i+ib:) * A(i:i+ib, i+ib:)^T
          blas.dgemm("N", "T", i, ib, k, 1.0, a, (i + ib) * n, n,
            a, i + (i + ib) * n, n, 1.0, a, i * n, n)
        // A(i:i+ib, i:i+ib) += A(i:i+ib, i+ib:) A(i:i+ib, i+ib:)^T
        syrkUN(ib, k, 1.0, a, i + (i + ib) * n, n, 1.0, a, i + i * n, n)
      }
      i += ib
    }
  }

  /** In-place SPD inverse from the Cholesky factor: after potrfUpper, the
    * upper triangle of `a` holds U; on return it holds the upper triangle
    * of A^-1 = U^-1 U^-T (LAPACK DPOTRI semantics).
    */
  def potriUpper(a: Array[Double], n: Int): Int = {
    val r = trtriUpper(a, n)
    if (r != 0) return r
    lauumUpper(a, n)
    0
  }

  /** Solve (U^T U) x = b in place given the factor U (DPOTRS semantics,
    * single rhs): two triangular solves.
    */
  def potrsUpper(a: Array[Double], n: Int, b: Array[Double]): Unit = potrsUpper(a, n, b, 1)

  /** Multi-rhs DPOTRS (column-major b, n x m). */
  def potrsUpper(a: Array[Double], n: Int, b: Array[Double], m: Int): Unit = {
    trsmLUT(n, m, 1.0, a, 0, n, b, 0, n)
    trsmLUN(n, m, 1.0, a, 0, n, b, 0, n)
  }

  // ---- triangular level-3 kernels --------------------------------------
  // Argument order and meaning follow BLAS: A(i, k) = a(ao + i + k * lda),
  // B(i, j) = b(bo + i + j * ldb). The triangular matrix is upper and
  // non-unit. Operands must not overlap (true of every caller).

  /** B(0:m, 0:n) = 0: the reference routines' alpha == 0 branch. */
  private def zeroBlock(m: Int, n: Int, b: Array[Double], bo: Int, ldb: Int): Unit = {
    var j = 0
    while (j < n) { java.util.Arrays.fill(b, bo + j * ldb, bo + j * ldb + m, 0.0); j += 1 }
  }

  /** DSYRK's alpha == 0 branch on the upper triangle: C = 0 or beta * C. */
  private def scaleUpper(n: Int, beta: Double, c: Array[Double], co: Int, ldc: Int): Unit = {
    var j = 0
    while (j < n) {
      val cj = co + j * ldc
      var i = 0
      while (i <= j) { c(cj + i) = if (beta == 0.0) 0.0 else beta * c(cj + i); i += 1 }
      j += 1
    }
  }

  /** DSYRK "U","T": C := alpha * A^T A + beta * C (upper triangle), A is
    * k x n. Each C(i, j) is a dot product over l; tiles of 2 rows x 4
    * columns share their loads.
    */
  private[gp] def syrkUT(n: Int, k: Int, alpha: Double, a: Array[Double], ao: Int, lda: Int,
      beta: Double, c: Array[Double], co: Int, ldc: Int): Unit = {
    if (n == 0 || ((alpha == 0.0 || k == 0) && beta == 1.0)) return
    if (alpha == 0.0) { scaleUpper(n, beta, c, co, ldc); return }
    def store(i: Int, j: Int, temp: Double): Unit = {
      val q = co + i + j * ldc
      c(q) = if (beta == 0.0) alpha * temp else alpha * temp + beta * c(q)
    }
    def dot(i: Int, j: Int): Double = {
      val p = ao + i * lda; val q = ao + j * lda
      var temp = 0.0
      var l = 0
      while (l < k) { temp = temp + a(p + l) * a(q + l); l += 1 }
      temp
    }
    var j = 0
    while (j + 4 <= n) {
      val p0 = ao + j * lda; val p1 = p0 + lda; val p2 = p1 + lda; val p3 = p2 + lda
      var i = 0
      while (i < j) { // rows i, i + 1 <= j lie in all four columns
        val q0 = ao + i * lda; val q1 = q0 + lda
        var s00 = 0.0; var s01 = 0.0; var s02 = 0.0; var s03 = 0.0
        var s10 = 0.0; var s11 = 0.0; var s12 = 0.0; var s13 = 0.0
        var l = 0
        while (l < k) {
          val x0 = a(q0 + l); val x1 = a(q1 + l)
          val y0 = a(p0 + l); val y1 = a(p1 + l); val y2 = a(p2 + l); val y3 = a(p3 + l)
          s00 = s00 + x0 * y0; s01 = s01 + x0 * y1; s02 = s02 + x0 * y2; s03 = s03 + x0 * y3
          s10 = s10 + x1 * y0; s11 = s11 + x1 * y1; s12 = s12 + x1 * y2; s13 = s13 + x1 * y3
          l += 1
        }
        store(i, j, s00); store(i, j + 1, s01); store(i, j + 2, s02); store(i, j + 3, s03)
        store(i + 1, j, s10); store(i + 1, j + 1, s11); store(i + 1, j + 2, s12); store(i + 1, j + 3, s13)
        i += 2
      }
      var jj = j
      while (jj < j + 4) { var ii = j; while (ii <= jj) { store(ii, jj, dot(ii, jj)); ii += 1 }; jj += 1 }
      j += 4
    }
    while (j < n) { var i = 0; while (i <= j) { store(i, j, dot(i, j)); i += 1 }; j += 1 }
  }

  /** DSYRK "U","N": C := alpha * A A^T + beta * C (upper triangle), A is
    * n x k. Column j accumulates alpha * A(j, l) * A(:, l) over l; one
    * pass over the column adds four consecutive l terms in order.
    */
  private[gp] def syrkUN(n: Int, k: Int, alpha: Double, a: Array[Double], ao: Int, lda: Int,
      beta: Double, c: Array[Double], co: Int, ldc: Int): Unit = {
    if (n == 0 || ((alpha == 0.0 || k == 0) && beta == 1.0)) return
    if (alpha == 0.0) { scaleUpper(n, beta, c, co, ldc); return }
    var j = 0
    while (j < n) {
      val cj = co + j * ldc
      if (beta == 0.0) java.util.Arrays.fill(c, cj, cj + j + 1, 0.0)
      else if (beta != 1.0) { var i = 0; while (i <= j) { c(cj + i) = beta * c(cj + i); i += 1 } }
      var l = 0
      while (l < k) {
        val a0 = ao + l * lda; val a1 = a0 + lda; val a2 = a1 + lda; val a3 = a2 + lda
        val x0 = a(a0 + j)
        if (l + 4 <= k && x0 != 0.0 && a(a1 + j) != 0.0 && a(a2 + j) != 0.0 && a(a3 + j) != 0.0) {
          val t0 = alpha * x0; val t1 = alpha * a(a1 + j); val t2 = alpha * a(a2 + j); val t3 = alpha * a(a3 + j)
          var i = 0
          while (i <= j) {
            c(cj + i) = (((c(cj + i) + t0 * a(a0 + i)) + t1 * a(a1 + i)) + t2 * a(a2 + i)) + t3 * a(a3 + i)
            i += 1
          }
          l += 4
        } else {
          if (x0 != 0.0) {
            val temp = alpha * x0
            var i = 0
            while (i <= j) { c(cj + i) = c(cj + i) + temp * a(a0 + i); i += 1 }
          }
          l += 1
        }
      }
      j += 1
    }
  }

  /** DTRSM "L","U","T","N": B := alpha * U^-T B, U is m x m. Forward
    * substitution per column as a dot product over k; tiles of 2 rows x
    * 4 columns share their loads.
    */
  private[gp] def trsmLUT(m: Int, n: Int, alpha: Double, a: Array[Double], ao: Int, lda: Int,
      b: Array[Double], bo: Int, ldb: Int): Unit = {
    if (m == 0 || n == 0) return
    if (alpha == 0.0) { zeroBlock(m, n, b, bo, ldb); return }
    def row(i: Int, cj: Int): Unit = {
      val ai = ao + i * lda
      var temp = alpha * b(cj + i)
      var k = 0
      while (k < i) { temp = temp - a(ai + k) * b(cj + k); k += 1 }
      temp = temp / a(ai + i)
      b(cj + i) = temp
    }
    var j = 0
    while (j + 4 <= n) {
      val c0 = bo + j * ldb; val c1 = c0 + ldb; val c2 = c1 + ldb; val c3 = c2 + ldb
      var i = 0
      while (i + 2 <= m) {
        val ai = ao + i * lda; val ai1 = ai + lda
        var t0 = alpha * b(c0 + i); var t1 = alpha * b(c1 + i)
        var t2 = alpha * b(c2 + i); var t3 = alpha * b(c3 + i)
        var u0 = alpha * b(c0 + i + 1); var u1 = alpha * b(c1 + i + 1)
        var u2 = alpha * b(c2 + i + 1); var u3 = alpha * b(c3 + i + 1)
        var k = 0
        while (k < i) {
          val x = a(ai + k); val y = a(ai1 + k)
          val b0 = b(c0 + k); val b1 = b(c1 + k); val b2 = b(c2 + k); val b3 = b(c3 + k)
          t0 = t0 - x * b0; t1 = t1 - x * b1; t2 = t2 - x * b2; t3 = t3 - x * b3
          u0 = u0 - y * b0; u1 = u1 - y * b1; u2 = u2 - y * b2; u3 = u3 - y * b3
          k += 1
        }
        val d = a(ai + i)
        t0 = t0 / d; t1 = t1 / d; t2 = t2 / d; t3 = t3 / d
        b(c0 + i) = t0; b(c1 + i) = t1; b(c2 + i) = t2; b(c3 + i) = t3
        val y = a(ai1 + i)
        u0 = u0 - y * t0; u1 = u1 - y * t1; u2 = u2 - y * t2; u3 = u3 - y * t3
        val d1 = a(ai1 + i + 1)
        b(c0 + i + 1) = u0 / d1; b(c1 + i + 1) = u1 / d1
        b(c2 + i + 1) = u2 / d1; b(c3 + i + 1) = u3 / d1
        i += 2
      }
      if (i < m) { row(i, c0); row(i, c1); row(i, c2); row(i, c3) }
      j += 4
    }
    while (j < n) {
      val cj = bo + j * ldb
      var i = 0
      while (i < m) { row(i, cj); i += 1 }
      j += 1
    }
  }

  /** DTRSM "L","U","N","N": B := alpha * U^-1 B, U is m x m. Backward
    * substitution per column in axpy form: four consecutive pivots are
    * resolved first, then one pass over the rows above subtracts their four
    * terms in the reference order.
    */
  private[gp] def trsmLUN(m: Int, n: Int, alpha: Double, a: Array[Double], ao: Int, lda: Int,
      b: Array[Double], bo: Int, ldb: Int): Unit = {
    if (m == 0 || n == 0) return
    if (alpha == 0.0) { zeroBlock(m, n, b, bo, ldb); return }
    var j = 0
    while (j < n) {
      val cj = bo + j * ldb
      if (alpha != 1.0) { var i = 0; while (i < m) { b(cj + i) = alpha * b(cj + i); i += 1 } }
      var k = m - 1
      while (k >= 0) {
        val a0 = ao + k * lda; val a1 = a0 - lda; val a2 = a1 - lda; val a3 = a2 - lda
        val x0 = b(cj + k)
        // pivots of rows k, k-1, k-2, k-3, each needed nonzero for the
        // fused pass (the reference skips a zero pivot's column update)
        var fused = k >= 3 && x0 != 0.0
        var y0 = 0.0; var y1 = 0.0; var y2 = 0.0; var y3 = 0.0
        if (fused) {
          y0 = x0 / a(a0 + k)
          val x1 = b(cj + k - 1) - y0 * a(a0 + k - 1)
          fused = x1 != 0.0
          if (fused) {
            y1 = x1 / a(a1 + k - 1)
            val x2 = (b(cj + k - 2) - y0 * a(a0 + k - 2)) - y1 * a(a1 + k - 2)
            fused = x2 != 0.0
            if (fused) {
              y2 = x2 / a(a2 + k - 2)
              val x3 = ((b(cj + k - 3) - y0 * a(a0 + k - 3)) - y1 * a(a1 + k - 3)) - y2 * a(a2 + k - 3)
              fused = x3 != 0.0
              if (fused) y3 = x3 / a(a3 + k - 3)
            }
          }
        }
        if (fused) {
          b(cj + k) = y0; b(cj + k - 1) = y1; b(cj + k - 2) = y2; b(cj + k - 3) = y3
          var i = 0
          while (i < k - 3) {
            b(cj + i) = (((b(cj + i) - y0 * a(a0 + i)) - y1 * a(a1 + i)) - y2 * a(a2 + i)) - y3 * a(a3 + i)
            i += 1
          }
          k -= 4
        } else {
          if (x0 != 0.0) {
            val y = x0 / a(a0 + k)
            b(cj + k) = y
            var i = 0
            while (i < k) { b(cj + i) = b(cj + i) - y * a(a0 + i); i += 1 }
          }
          k -= 1
        }
      }
      j += 1
    }
  }

  /** DTRSM "R","U","N","N": B := alpha * B U^-1, U is n x n. Column j
    * subtracts U(k, j) B(:, k) for k < j in order, then scales; one pass
    * over the column subtracts four k terms.
    */
  private[gp] def trsmRUN(m: Int, n: Int, alpha: Double, a: Array[Double], ao: Int, lda: Int,
      b: Array[Double], bo: Int, ldb: Int): Unit = {
    if (m == 0 || n == 0) return
    if (alpha == 0.0) { zeroBlock(m, n, b, bo, ldb); return }
    var j = 0
    while (j < n) {
      val cj = bo + j * ldb
      if (alpha != 1.0) { var i = 0; while (i < m) { b(cj + i) = alpha * b(cj + i); i += 1 } }
      val aj = ao + j * lda
      var k = 0
      while (k < j) {
        val b0 = bo + k * ldb; val b1 = b0 + ldb; val b2 = b1 + ldb; val b3 = b2 + ldb
        val e0 = a(aj + k)
        if (k + 4 <= j && e0 != 0.0 && a(aj + k + 1) != 0.0 && a(aj + k + 2) != 0.0 && a(aj + k + 3) != 0.0) {
          val e1 = a(aj + k + 1); val e2 = a(aj + k + 2); val e3 = a(aj + k + 3)
          var i = 0
          while (i < m) {
            b(cj + i) = (((b(cj + i) - e0 * b(b0 + i)) - e1 * b(b1 + i)) - e2 * b(b2 + i)) - e3 * b(b3 + i)
            i += 1
          }
          k += 4
        } else {
          if (e0 != 0.0) { var i = 0; while (i < m) { b(cj + i) = b(cj + i) - e0 * b(b0 + i); i += 1 } }
          k += 1
        }
      }
      val temp = 1.0 / a(aj + j)
      var i = 0
      while (i < m) { b(cj + i) = temp * b(cj + i); i += 1 }
      j += 1
    }
  }

  /** DTRMM "L","U","N","N": B := alpha * U B, U is m x m. Axpy form per
    * column: step k adds alpha * B(k, j) * U(:k, k) to the rows above and
    * overwrites row k. One pass over the rows adds four k terms in order.
    */
  private[gp] def trmmLUN(m: Int, n: Int, alpha: Double, a: Array[Double], ao: Int, lda: Int,
      b: Array[Double], bo: Int, ldb: Int): Unit = {
    if (m == 0 || n == 0) return
    if (alpha == 0.0) { zeroBlock(m, n, b, bo, ldb); return }
    var j = 0
    while (j < n) {
      val cj = bo + j * ldb
      var k = 0
      while (k < m) {
        val a0 = ao + k * lda; val a1 = a0 + lda; val a2 = a1 + lda; val a3 = a2 + lda
        // rows k..k+3 still hold their inputs: step k touches rows <= k
        val x0 = b(cj + k)
        if (k + 4 <= m && x0 != 0.0 && b(cj + k + 1) != 0.0 && b(cj + k + 2) != 0.0 && b(cj + k + 3) != 0.0) {
          val t0 = alpha * x0; val t1 = alpha * b(cj + k + 1)
          val t2 = alpha * b(cj + k + 2); val t3 = alpha * b(cj + k + 3)
          var i = 0
          while (i < k) {
            b(cj + i) = (((b(cj + i) + t0 * a(a0 + i)) + t1 * a(a1 + i)) + t2 * a(a2 + i)) + t3 * a(a3 + i)
            i += 1
          }
          b(cj + k) = ((t0 * a(a0 + k) + t1 * a(a1 + k)) + t2 * a(a2 + k)) + t3 * a(a3 + k)
          b(cj + k + 1) = (t1 * a(a1 + k + 1) + t2 * a(a2 + k + 1)) + t3 * a(a3 + k + 1)
          b(cj + k + 2) = t2 * a(a2 + k + 2) + t3 * a(a3 + k + 2)
          b(cj + k + 3) = t3 * a(a3 + k + 3)
          k += 4
        } else {
          if (x0 != 0.0) {
            val temp = alpha * x0
            var i = 0
            while (i < k) { b(cj + i) = b(cj + i) + temp * a(a0 + i); i += 1 }
            b(cj + k) = temp * a(a0 + k)
          }
          k += 1
        }
      }
      j += 1
    }
  }

  /** DTRMM "R","U","T","N": B := alpha * B U^T, U is n x n. Column j is
    * scaled by alpha * U(j, j) at step j, then gains alpha * U(j, k) B(:, k)
    * for each k > j in order, from columns not yet overwritten. One pass
    * over the column adds four k terms.
    */
  private[gp] def trmmRUT(m: Int, n: Int, alpha: Double, a: Array[Double], ao: Int, lda: Int,
      b: Array[Double], bo: Int, ldb: Int): Unit = {
    if (m == 0 || n == 0) return
    if (alpha == 0.0) { zeroBlock(m, n, b, bo, ldb); return }
    var j = 0
    while (j < n) {
      val cj = bo + j * ldb
      val aj = ao + j
      val temp = alpha * a(aj + j * lda)
      if (temp != 1.0) { var i = 0; while (i < m) { b(cj + i) = temp * b(cj + i); i += 1 } }
      var k = j + 1
      while (k < n) {
        val b0 = bo + k * ldb; val b1 = b0 + ldb; val b2 = b1 + ldb; val b3 = b2 + ldb
        val e0 = a(aj + k * lda)
        if (k + 4 <= n && e0 != 0.0 && a(aj + (k + 1) * lda) != 0.0 &&
            a(aj + (k + 2) * lda) != 0.0 && a(aj + (k + 3) * lda) != 0.0) {
          val t0 = alpha * e0; val t1 = alpha * a(aj + (k + 1) * lda)
          val t2 = alpha * a(aj + (k + 2) * lda); val t3 = alpha * a(aj + (k + 3) * lda)
          var i = 0
          while (i < m) {
            b(cj + i) = (((b(cj + i) + t0 * b(b0 + i)) + t1 * b(b1 + i)) + t2 * b(b2 + i)) + t3 * b(b3 + i)
            i += 1
          }
          k += 4
        } else {
          if (e0 != 0.0) {
            val t = alpha * e0
            var i = 0
            while (i < m) { b(cj + i) = b(cj + i) + t * b(b0 + i); i += 1 }
          }
          k += 1
        }
      }
      j += 1
    }
  }
}
