package graft.gp

import breeze.linalg.DenseMatrix
import java.lang.Double.doubleToRawLongBits
import org.scalatest.funsuite.AnyFunSuite

/** Raw bits of the sparse models' outputs on the [[LbfgsGoldenFixtures]]
  * data: the SGPR, VFF and ASVGP predictions at their golden-fit parameters
  * (the fits [[BijectedLbfgsSpec]] pins), and a minibatched SVGP Adam fit
  * with its prediction. Every value is compared bit for bit.
  *
  * A mismatch prints the bits it computed as a Scala literal. To
  * re-capture after an intended numeric change, run this spec against the
  * revision whose bits are the reference and paste the printed array.
  */
class SparseGoldenSpec extends AnyFunSuite {

  /** Four points inside the data extent, one left of VFF's [-1, 2] domain
    * and one above it, so VFF's edge-corrected features are covered. */
  private val xs = DenseMatrix((0.1, 0.2), (0.5, 0.5), (0.93, 0.07), (0.3, 0.8),
    (-1.4, 0.5), (0.6, 2.3))

  private def fittedParams(name: String): Array[Double] =
    LbfgsGoldenFixtures.runs.toMap.apply(name)()._1

  private def predictionBits(p: GprPrediction): Array[Long] =
    (p.fs ++ p.fsVar ++ p.yVar).map(doubleToRawLongBits)

  private def assertBits(name: String, got: Array[Long], want: Array[Long]): Unit = {
    val literal = got.grouped(3).map(_.map(b => f"0x$b%016xL").mkString(", "))
      .mkString("Array(\n      ", ",\n      ", ")")
    assert(got.sameElements(want), s"$name bits differ; got:\n    $literal")
  }

  test("SgprGpr predict at the golden fit: mean, f-var and y-var bits") {
    val (x, y) = LbfgsGoldenFixtures.data(60, 2)
    val gp = new SgprGpr(x, y, SgprGpr.strideSelect(60, 15))
    assertBits("SgprGpr predict",
      predictionBits(gp.predict(xs, GprParams.fromArray(fittedParams("SgprGpr")))), Array(
      0x3fdf7d3316a29fffL, 0x3ff183175b98dc3dL, 0x3fe7f1e8e2f6b2bfL,
      0x3fe780937f90404cL, 0xbfe53254e3887ff5L, 0xbfd60eab8a082365L,
      0x3f46667ac6031000L, 0x3f322afe83c15000L, 0x3f50f7e274f3d000L,
      0x3f48efc7e2a2a000L, 0x3fc25ab4b54eaed8L, 0x3fdd2fdbf3903b7cL,
      0x3f60bb4a87ee1ee0L, 0x3f5ace174dcb09bfL, 0x3f639d9d10e742e0L,
      0x3f615d9dcf1602e0L, 0x3fc2873b64a86443L, 0x3fdd461f4b3d1632L))
  }

  test("VffGpr predict at the golden fit, inside and outside the domain") {
    val (x, y) = LbfgsGoldenFixtures.data(40, 2)
    val gp = new VffGpr(x, y, Array(3, 3), Array(-1.0, -1.0), Array(2.0, 2.0))
    assertBits("VffGpr predict", predictionBits(gp.predict(xs, fittedParams("VffGpr"))), Array(
      0x3fe0c80553dae73bL, 0x3ff13b46a5c2c18dL, 0x3fe6eef5b3afac1aL,
      0x3fe7dbed3027ceaeL, 0x3fc3d1f6eb02d365L, 0x3faffc0b03d6e4dfL,
      0x3f824b1c5849de4cL, 0x3f78f15d940a0478L, 0x3f841fb633844790L,
      0x3f7b2a70c9d383a0L, 0x3fa8cf1ab8287155L, 0x3fa8f61229734ac7L,
      0x3f91eb9af6e42243L, 0x3f8e04c85f836876L, 0x3f92d5e7e48156e5L,
      0x3f8f2151fa68280aL, 0x3fad32211d880ae4L, 0x3fad59188ed2e456L))
  }

  test("AsvgpGpr predict at the golden fit") {
    val (x, y) = LbfgsGoldenFixtures.data(40, 2)
    val gp = new AsvgpGpr(x, y, Array(4, 4), Array(-1.0, -1.0), Array(2.0, 2.0))
    assertBits("AsvgpGpr predict", predictionBits(gp.predict(xs, fittedParams("AsvgpGpr"))), Array(
      0x3fe6c9f8fabe3e84L, 0x3feb8c3a6c3f8cacL, 0x3fefb9de5ea0e446L,
      0x3fe99ca269653486L, 0x3fd1c601e3cf6eedL, 0x3fedb3979c47b650L,
      0x3f6f34c28e86ec00L, 0x3f65e9a91ebb5800L, 0x3f6fe036928c6800L,
      0x3f6967077f783800L, 0x3fc9102fac8520c0L, 0x3fba8b586ec9b380L,
      0x3fa13c1a8ee71c2eL, 0x3fa0a768f7ea62eeL, 0x3fa146d1cf2773eeL,
      0x3fa0df3eddf630eeL, 0x3fcce2634604cc1cL, 0x3fc117dfd0e4851cL))
  }

  test("SvgpGpr minibatched Adam fit (params, objective, success, steps) and predict") {
    val (x, y) = LbfgsGoldenFixtures.data(60, 2)
    // batches of 25, 25 and a short last one of 10
    val gp = new SvgpGpr(x, y, SvgpGpr.strideSelect(60, 12), batchSize = 25)
    val fit = gp.optimise(GprParams(Array(1.0, 1.0), 1.0, 0.1),
      Array.fill[Bijector](4)(Bijectors.default), steps = 90)
    assert(fit.success && fit.iterations == 90)
    assertBits("SvgpGpr fit", (fit.params.toArray :+ fit.objective).map(doubleToRawLongBits),
      Array(
      0x3fe3915ba0c48f34L, 0x3fe55ec77ccb18b1L, 0x3ff3bcafb67a21b4L,
      0x3fd2b379d053babcL, 0x404aeaaa3f697752L))
    assertBits("SvgpGpr predict", predictionBits(gp.predict(xs, fit.params)), Array(
      0x3fe25145ff87936cL, 0x3feab97c34c63797L, 0x3fe7d42410e3b880L,
      0x3fd973a7f3e8dd6cL, 0x3fa5fd02669ff4d2L, 0x3fa69cec4ad8e28eL,
      0x3fe02d3b510e32a3L, 0x3fbc5d6058dad14cL, 0x3fe8c33f1278a240L,
      0x3fc47a53e1d1c262L, 0x3ff3a2256b2dbe28L, 0x3ff371cb13501791L,
      0x3fe986f839381001L, 0x3fd9cad1e68a6f0fL, 0x3ff10e7dfd513fcfL,
      0x3fdcf0a3c13c9bedL, 0x3ff84f03df42acd7L, 0x3ff81ea987650640L))
  }
}
