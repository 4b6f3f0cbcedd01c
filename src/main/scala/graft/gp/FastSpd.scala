package graft.gp

import dev.ludovic.netlib.blas.BLAS
import dev.ludovic.netlib.lapack.LAPACK
import org.netlib.util.intW

/** Blocked SPD factorization/inversion routed through BLAS3.
  *
  * The stock netlib Java LAPACK (F2jLAPACK) is scalar translated Fortran
  * (~1 GFlop/s); the netlib BLAS picks the SIMD VectorBLAS when
  * jdk.incubator.vector is enabled. dpotrf/dpotri dominate the per-tile GP
  * eval, so re-blocking them over dsyrk/dgemm/dtrsm/dtrmm (with the f2j
  * unblocked kernels only on NB x NB diagonal blocks) moves ~90% of the
  * flops into SIMD code. Same numerics as LAPACK's own blocked algorithms
  * (DPOTRF / DTRTRI / DLAUUM, upper storage, column-major).
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
    * would not reduce the streamed bytes; the remaining 8->32 scaling gap
    * is the shared memory system, evidenced by n=200 (L2-resident
    * triangles) scaling at 0.91 with identical code.
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
        blas.dsyrk("U", "T", jb, j, -1.0, a, j * n, n, 1.0, a, j + j * n, n)
      lapack.dpotf2("U", jb, a, j + j * n, n, info)
      if (info.`val` != 0) return info.`val` + j
      if (j + jb < n) {
        val cols = n - j - jb
        // A(j:j+jb, j+jb:) -= A(0:j, j:j+jb)^T A(0:j, j+jb:)
        if (j > 0)
          blas.dgemm("T", "N", jb, cols, j, -1.0, a, j * n, n,
            a, (j + jb) * n, n, 1.0, a, j + (j + jb) * n, n)
        // A(j:j+jb, j+jb:) = U(j:j+jb, j:j+jb)^-T A(j:j+jb, j+jb:)
        blas.dtrsm("L", "U", "T", "N", jb, cols, 1.0, a, j + j * n, n,
          a, j + (j + jb) * n, n)
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
        blas.dtrmm("L", "U", "N", "N", j, jb, 1.0, a, 0, n, a, j * n, n)
        // A(0:j, j:j+jb) = -A(0:j, j:j+jb) * U(j:j+jb, j:j+jb)^-1
        blas.dtrsm("R", "U", "N", "N", j, jb, -1.0, a, j + j * n, n, a, j * n, n)
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
        blas.dtrmm("R", "U", "T", "N", i, ib, 1.0, a, i + i * n, n, a, i * n, n)
      }
      lapack.dlauu2("U", ib, a, i + i * n, n, info)
      if (i + ib < n) {
        val k = n - i - ib
        if (i > 0)
          // A(0:i, i:i+ib) += A(0:i, i+ib:) * A(i:i+ib, i+ib:)^T
          blas.dgemm("N", "T", i, ib, k, 1.0, a, (i + ib) * n, n,
            a, i + (i + ib) * n, n, 1.0, a, i * n, n)
        // A(i:i+ib, i:i+ib) += A(i:i+ib, i+ib:) A(i:i+ib, i+ib:)^T
        blas.dsyrk("U", "N", ib, k, 1.0, a, i + (i + ib) * n, n, 1.0, a, i + i * n, n)
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
  def potrsUpper(a: Array[Double], n: Int, b: Array[Double]): Unit = {
    blas.dtrsm("L", "U", "T", "N", n, 1, 1.0, a, 0, n, b, 0, n)
    blas.dtrsm("L", "U", "N", "N", n, 1, 1.0, a, 0, n, b, 0, n)
  }

  /** Multi-rhs DPOTRS (column-major b, n x m). */
  def potrsUpper(a: Array[Double], n: Int, b: Array[Double], m: Int): Unit = {
    blas.dtrsm("L", "U", "T", "N", n, m, 1.0, a, 0, n, b, 0, n)
    blas.dtrsm("L", "U", "N", "N", n, m, 1.0, a, 0, n, b, 0, n)
  }
}
