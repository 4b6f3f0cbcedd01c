package graft.gp

import breeze.linalg.DenseVector
import org.scalatest.funsuite.AnyFunSuite

/** The shared bijector-space L-BFGS harness: steer-back and chain rule of
  * the u-space objective, both fallbacks, the NaN-start guard, and golden
  * bits for every optimiser built on it.
  */
class BijectedLbfgsSpec extends AnyFunSuite {

  private val softplus: Array[Bijector] = Array.fill(2)(Bijectors.default)
  private def bowl(t: Array[Double]): Double =
    (t(0) - 2.0) * (t(0) - 2.0) + 3.0 * (t(1) - 0.5) * (t(1) - 0.5)
  private def bowlGrad(t: Array[Double]): (Double, Array[Double]) =
    (bowl(t), Array(2.0 * (t(0) - 2.0), 6.0 * (t(1) - 0.5)))

  test("u-space objective chains the gradient and steers back on an infinite value") {
    val u0 = DenseVector(0.3, -0.2)
    val f = BijectedLbfgs.uSpace(u0, softplus,
      t => if (t(0) > 1.5) (Double.PositiveInfinity, null) else bowlGrad(t))
    val u = DenseVector(0.1, 0.4)
    val t = Array(softplus(0).fwd(0.1), softplus(1).fwd(0.4))
    val (v, g) = f.calculate(u)
    assert(v == bowl(t))
    assert(g(0) == bowlGrad(t)._2(0) * softplus(0).grad(0.1))
    assert(g(1) == bowlGrad(t)._2(1) * softplus(1).grad(0.4))
    val far = DenseVector(5.0, 1.0)
    val (vInf, gInf) = f.calculate(far)
    assert(vInf == 1e25)
    assert(gInf == far - u0, "gradient points from u0 to u, so descent heads back")
  }

  test("minimise converges on a smooth bowl in constrained space") {
    val (t, obj, ok, iters) =
      BijectedLbfgs.minimise(Array(1.0, 1.0), softplus, bowl, bowlGrad, 100, 1e-9)
    assert(ok && iters > 0)
    assert(math.abs(t(0) - 2.0) < 1e-4 && math.abs(t(1) - 0.5) < 1e-4)
    assert(obj == bowl(t))
  }

  test("an exception in the optimiser returns init, objective(init), false, 0") {
    val init = Array(1.0, 1.0)
    val r = BijectedLbfgs.minimise(init, softplus, bowl,
      _ => throw new IllegalStateException("boom"), 100, 1e-9)
    assert(r._1 eq init)
    assert(r._2 == bowl(init) && !r._3 && r._4 == 0)
  }

  test("a non-finite optimum returns init and objective(init) with the iterations run") {
    val init = Array(1.0, 1.0)
    val (_, _, _, itersRun) =
      BijectedLbfgs.minimise(init, softplus, bowl, bowlGrad, 100, 1e-9)
    val nanAway = (t: Array[Double]) => if (t.sameElements(init)) bowl(t) else Double.NaN
    val r = BijectedLbfgs.minimise(init, softplus, nanAway, bowlGrad, 100, 1e-9)
    assert(r._1 eq init)
    assert(r._2 == bowl(init) && !r._3)
    assert(r._4 == itersRun && itersRun > 0)
  }

  test("a start that maps to NaN in variable space is rejected") {
    intercept[IllegalArgumentException] {
      BijectedLbfgs.minimise(Array(-1.0), Array[Bijector](Bijectors.ExpBijector),
        t => t(0) * t(0), t => (t(0) * t(0), Array(2.0 * t(0))), 10, 1e-9)
    }
  }

  test("centralDiff: (f(up) - f(dn)) / 2h per coordinate, skipped at an infinite value") {
    val h = BijectedLbfgs.FdStep
    val theta = Array(1.3, 0.7)
    val (v, g) = BijectedLbfgs.centralDiff(bowl)(theta)
    assert(v == bowl(theta))
    assert(g(0) == (bowl(Array(1.3 + h, 0.7)) - bowl(Array(1.3 - h, 0.7))) / (2 * h))
    assert(g(1) == (bowl(Array(1.3, 0.7 + h)) - bowl(Array(1.3, 0.7 - h))) / (2 * h))
    var calls = 0
    val (vInf, _) = BijectedLbfgs.centralDiff { _ => calls += 1; Double.PositiveInfinity }(theta)
    assert(vInf.isInfinite && calls == 1)
  }

  // Bits of (parameters, objective, success, iterations) for the fixtures
  // in LbfgsGoldenFixtures, recorded from the per-model optimisers before
  // they shared this harness.
  private val goldens: Map[String, (Array[Long], Long, Boolean, Int)] = Map(
    "Matern32Gpr" -> (
      Array(0x40021892aacfdfafL, 0x3ff11edee1db576eL, 0x3fdb901619b234dfL,
        0x3f41c1af045a82acL),
      0xc04c44cc602b0640L, true, 14),
    "SgprGpr" -> (
      Array(0x4015f91430c02aeaL, 0x40084693da88967eL, 0x3fffad1cbd8b78afL,
        0x3f564357acdab5bfL),
      0xc055422988452000L, true, 20),
    "VffGpr" -> (
      Array(0x3fe643de50695a4eL, 0x3fe3f27d04b415bfL, 0x3fcc85c16a1824c9L,
        0x3fcc85c1617e9b00L, 0x3f818c19957e663aL),
      0xc03048509ba74ed8L, true, 16),
    "AsvgpGpr" -> (
      Array(0x402c6348aea79b29L, 0x40440c602807d2ccL, 0x3ff99de520f4885eL,
        0x3ff746110f10c9a4L, 0x3f9e919ccbfd5addL),
      0xc01dcdf08fa79700L, true, 40),
    "SkiGpr" -> (
      Array(0x400c69a43e06b4d3L, 0x3ff92fd90833edecL, 0x3ff18a4e99684b8eL,
        0x3ff18a4e99684b8eL, 0x3f4937d97a44878dL),
      0xc04f3defaed73a98L, false, 17),
    "MultioutputGpr" -> (
      Array(0x40017b9ae7316913L, 0x3ff6b6064eac5a2eL, 0x3fd972bbc3b85c54L,
        0x3f650a8231923cabL, 0x3f282ca4c4f44031L),
      0xc047e5cbe3684f0aL, true, 16),
    "MaternGpr" -> (
      Array(0x3ff96dc9222f3a49L, 0x3fed1b51273df21eL, 0x3fda4e479e8c6ea5L,
        0x3f52558722db1e97L),
      0xc042ef7fc6906d20L, true, 17)
  )

  LbfgsGoldenFixtures.runs.foreach { case (name, run) =>
    test(s"golden fit: $name") {
      val (x, obj, ok, iters) = run()
      val (wantParams, wantObjective, wantOk, wantIters) = goldens(name)
      assert(x.map(java.lang.Double.doubleToRawLongBits).sameElements(wantParams),
        s"params ${x.mkString(", ")}")
      assert(java.lang.Double.doubleToRawLongBits(obj) == wantObjective, s"objective $obj")
      assert(ok == wantOk && iters == wantIters)
    }
  }
}
