package graft.gp

import breeze.linalg.{DenseMatrix, DenseVector}
import org.scalatest.funsuite.AnyFunSuite

/** Matern-3/2 fits and predictions large enough to run FastSpd's blocked
  * path (n above the 64-wide panel; the L-BFGS goldens stop at n = 60).
  * Only the public `optimise` / `predict` API is used, so the fixtures
  * replay against any revision of the model.
  */
object BlockedGpFixtures {
  type Run = (Array[Double], Double, Boolean, Int, Array[Double], Array[Double])

  /** n points in (0, 1)^3 on a deterministic low-discrepancy walk, with a
    * smooth signal plus small structured noise. */
  private def data(n: Int): (DenseMatrix[Double], DenseVector[Double]) = {
    val x = DenseMatrix.tabulate[Double](n, 3)((i, k) =>
      0.02 + 0.96 * (((i + 1) * (41 + 26 * k) % 409) / 409.0))
    val y = DenseVector.tabulate[Double](n) { i =>
      math.sin(3.0 * x(i, 0)) + 0.5 * math.cos(2.0 * x(i, 1)) + 0.3 * x(i, 2) + ((i * 17 % 13) - 6) * 0.01
    }
    (x, y)
  }

  /** Fit from unit hyper-parameters, then predict at 12 fixed points with
    * the fitted ones: (params, objective, success, iterations, fs, fsVar). */
  def run(n: Int, maxIter: Int): Run = {
    val (x, y) = data(n)
    val gp = new Matern32Gpr(x, y)
    val fit = gp.optimise(GprParams.default(3), Array.fill(5)(Bijectors.default), maxIter = maxIter)
    val xs = DenseMatrix.tabulate[Double](12, 3)((i, k) => 0.05 + 0.9 * (((i + 3) * (7 + 5 * k) % 12) / 11.0))
    val pred = gp.predict(xs, fit.params)
    (fit.params.toArray, fit.objective, fit.success, fit.iterations, pred.fs, pred.fsVar)
  }

  val runs: Seq[(Int, Int)] = Seq(130 -> 40, 400 -> 20)
}

class BlockedGoldenSpec extends AnyFunSuite {
  private def bits(x: Array[Double]): Seq[Long] = x.toSeq.map(java.lang.Double.doubleToRawLongBits)

  // Bits of (params, objective, success, iterations, fs, fsVar), recorded
  // with the BLAS dsyrk/dtrsm/dtrmm calls FastSpd made before it had its
  // own triangular kernels.
  private val goldens: Map[Int, (Seq[Long], Long, Boolean, Int, Seq[Long], Seq[Long])] = Map(
    130 -> (
      Seq(
        0x401bae214c65de51L, 0x4032a41a7dd07615L, 0x4051aaa7389ab0b7L,
        0x40505642db7b76e4L, 0x3f578af12114f9d2L),
      0xc068738b7c8591e0L, true, 40,
      Seq(
        0x3ff5116868d2ac00L, 0x3ffa3811c7ed9800L, 0x3febc2c5c0a55000L,
        0x3ffaaaa7658db000L, 0x3ff2e8b5c89cc400L, 0x3ff7a5f6a7bcb400L,
        0x3ff885c64aca1400L, 0x3ff1b98b8c093800L, 0x3ffae7d23020a800L,
        0x3fe55975bf838800L, 0x3ff98b2301964400L, 0x3ff5eb459ada9c00L),
      Seq(
        0x3f3ea18395c80000L, 0x3f3b03a095480000L, 0x3f58851e97860000L,
        0x3f37f6a66ed80000L, 0x3f54ac620c2e0000L, 0x3f3b47026cc80000L,
        0x3f3c862bd97c0000L, 0x3f3d0b56320c0000L, 0x3f383a0e07c00000L,
        0x3f41c7acc6420000L, 0x3f36f32501540000L, 0x3f47519ce7900000L)),
    400 -> (
      Seq(
        0x3ffde750bddb7eabL, 0x3ff76cc51c19a75fL, 0x4033c53316f47371L,
        0x400817eebd83f220L, 0x3f458527181c3442L),
      0xc086f2b879122cb0L, true, 20,
      Seq(
        0x3ff4e419ce53f8b0L, 0x3ffa7ece63535580L, 0x3feb1348fafe6cc0L,
        0x3ffa6d8d0218a670L, 0x3ff1e32ef1a71aa0L, 0x3ff6ef091f3ea9b0L,
        0x3ff8853302581d10L, 0x3ff1b98e59a06d80L, 0x3ffafd353b8aaab0L,
        0x3fe52fc251ea4400L, 0x3ff8e4c363b28400L, 0x3ff5144d60368900L),
      Seq(
        0x3f2add4c083fc000L, 0x3f396f3faf962000L, 0x3f439481354a9000L,
        0x3f29340d1abec000L, 0x3f47878e4789b000L, 0x3f300f6080e5c000L,
        0x3f29cc1e10f44000L, 0x3f2c42a905a7c000L, 0x3f3208ab5bf10000L,
        0x3f341ef6c7d0e000L, 0x3f2b21f9ee35c000L, 0x3f2c5f0ae77f8000L)))

  BlockedGpFixtures.runs.foreach { case (n, maxIter) =>
    test(s"golden Matern32Gpr fit and predict at n=$n") {
      val (params, obj, ok, iters, fs, fsVar) = BlockedGpFixtures.run(n, maxIter)
      val (wantParams, wantObj, wantOk, wantIters, wantFs, wantFsVar) = goldens(n)
      assert(bits(params) == wantParams, s"params ${params.mkString(", ")}")
      assert(java.lang.Double.doubleToRawLongBits(obj) == wantObj, s"objective $obj")
      assert(ok == wantOk && iters == wantIters, s"success $ok iterations $iters")
      assert(bits(fs) == wantFs, s"fs ${fs.mkString(", ")}")
      assert(bits(fsVar) == wantFsVar, s"fsVar ${fsVar.mkString(", ")}")
    }
  }
}
