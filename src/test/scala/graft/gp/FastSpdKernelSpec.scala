package graft.gp

import dev.ludovic.netlib.blas.BLAS
import org.scalatest.funsuite.AnyFunSuite

/** Each FastSpd triangular kernel against the BLAS routine it replaces,
  * compared bit for bit over whole buffers (offset prefix and lda padding
  * included, so a stray write shows). Sizes straddle the 4-wide blocks and
  * the potrf panel width; B and the general operands hold zeros and
  * negative zeros so the reference `!= 0` skips are exercised; the unused
  * triangle of the triangular operand is NaN, so reading it shows.
  */
class FastSpdKernelSpec extends AnyFunSuite {
  private val blas = BLAS.getInstance
  private val sizes = Seq(0, 1, 3, 63, 64, 65, 130, 400)
  // 1, -1: potrf/potri/potrs; 1/sigma and sigma: SgprGpr; 0.7 and 0 cover
  // the remaining alpha branches.
  private val alphas = Seq(1.0, -1.0, 0.7, 1.0 / math.sqrt(0.05), math.sqrt(0.05), 0.0)
  private val aOff = 5
  private val bOff = 3

  private def bits(x: Array[Double]): Array[Long] = x.map(java.lang.Double.doubleToRawLongBits)

  /** rows x cols general matrix at offset `off` with leading dimension
    * rows + 2, about 10 % zeros (every 4th of them negative). */
  private def general(rows: Int, cols: Int, seed: Long, off: Int): (Array[Double], Int) = {
    val rng = new scala.util.Random(seed)
    val ld = math.max(1, rows) + 2
    val x = Array.fill(off + ld * (cols + 1))(rng.nextGaussian())
    for (q <- x.indices if rng.nextDouble() < 0.1) x(q) = if (rng.nextInt(4) == 0) -0.0 else 0.0
    (x, ld)
  }

  /** n x n upper triangle (well conditioned for solves up to n = 400) at
    * offset `off`, lda n + 3, NaN below the diagonal and in the padding. */
  private def upper(n: Int, seed: Long, off: Int): (Array[Double], Int) = {
    val rng = new scala.util.Random(seed)
    val ld = math.max(1, n) + 3
    val x = Array.fill(off + ld * (n + 1))(Double.NaN)
    for (j <- 0 until n; i <- 0 to j) {
      val q = off + i + j * ld
      x(q) =
        if (i == j) (1.0 + rng.nextDouble()) * (if (rng.nextBoolean()) 1 else -1)
        else if (rng.nextDouble() < 0.1) 0.0
        else rng.nextGaussian() / math.sqrt(n)
    }
    (x, ld)
  }

  private type Tri = (Int, Int, Double, Array[Double], Int, Int, Array[Double], Int, Int) => Unit

  /** Triangular kernel vs BLAS dtrsm/dtrmm: A is m x m for side L, n x n
    * for side R. */
  private def checkTri(name: String, side: String, trans: String, trsm: Boolean, mine: Tri): Unit =
    for (m <- sizes; n <- sizes; alpha <- alphas) {
      val (a, lda) = upper(if (side == "L") m else n, 31L * m + n, aOff)
      val (b0, ldb) = general(m, n, 17L * m + n + 1, bOff)
      val want = b0.clone()
      if (trsm) blas.dtrsm(side, "U", trans, "N", m, n, alpha, a, aOff, lda, want, bOff, ldb)
      else blas.dtrmm(side, "U", trans, "N", m, n, alpha, a, aOff, lda, want, bOff, ldb)
      val got = b0.clone()
      mine(m, n, alpha, a, aOff, lda, got, bOff, ldb)
      assert(bits(got).sameElements(bits(want)), s"$name m=$m n=$n alpha=$alpha")
    }

  private type Syrk = (Int, Int, Double, Array[Double], Int, Int, Double, Array[Double], Int, Int) => Unit

  private def checkSyrk(trans: String, mine: Syrk): Unit =
    for (n <- sizes; k <- sizes; alpha <- alphas; beta <- Seq(0.0, 1.0, 0.5)) {
      val (a, lda) = if (trans == "T") general(k, n, 7L * n + k, aOff) else general(n, k, 7L * n + k, aOff)
      val (c0, ldc) = general(n, n, 13L * n + k, bOff)
      val want = c0.clone()
      blas.dsyrk("U", trans, n, k, alpha, a, aOff, lda, beta, want, bOff, ldc)
      val got = c0.clone()
      mine(n, k, alpha, a, aOff, lda, beta, got, bOff, ldc)
      assert(bits(got).sameElements(bits(want)), s"syrk U,$trans n=$n k=$k alpha=$alpha beta=$beta")
    }

  test("syrkUT is bit-identical to dsyrk U,T") { checkSyrk("T", FastSpd.syrkUT) }
  test("syrkUN is bit-identical to dsyrk U,N") { checkSyrk("N", FastSpd.syrkUN) }
  test("trsmLUT is bit-identical to dtrsm L,U,T,N") { checkTri("trsmLUT", "L", "T", trsm = true, FastSpd.trsmLUT) }
  test("trsmLUN is bit-identical to dtrsm L,U,N,N") { checkTri("trsmLUN", "L", "N", trsm = true, FastSpd.trsmLUN) }
  test("trsmRUN is bit-identical to dtrsm R,U,N,N") { checkTri("trsmRUN", "R", "N", trsm = true, FastSpd.trsmRUN) }
  test("trmmLUN is bit-identical to dtrmm L,U,N,N") { checkTri("trmmLUN", "L", "N", trsm = false, FastSpd.trmmLUN) }
  test("trmmRUT is bit-identical to dtrmm R,U,T,N") { checkTri("trmmRUT", "R", "T", trsm = false, FastSpd.trmmRUT) }
}
