package graft.gp

import breeze.linalg.{DenseMatrix, DenseVector}

/** Fixed fixtures for the seven bijector-space L-BFGS optimisers. Each run
  * returns (parameters, objective, success, iterations) as the model's
  * public `optimise` reports them; [[BijectedLbfgsSpec]] pins their bits.
  * Only public `optimise` signatures are used, so the same fixtures can be
  * replayed against any revision of the models.
  */
object LbfgsGoldenFixtures {

  type Fit = (Array[Double], Double, Boolean, Int)

  /** n points strictly inside (0, 1)^d on a deterministic low-discrepancy
    * walk, with a smooth signal plus small structured noise. */
  def data(n: Int, d: Int): (DenseMatrix[Double], DenseVector[Double]) = {
    val x = DenseMatrix.tabulate[Double](n, d)((i, k) =>
      0.03 + 0.94 * (((i + 1) * (37 + 24 * k) % 101) / 101.0))
    val y = DenseVector.tabulate[Double](n) { i =>
      val s = (0 until d).map(k => math.sin((2.0 + k) * x(i, k))).sum
      0.6 * s + ((i * 13 % 11) - 5) * 0.01
    }
    (x, y)
  }

  private def fromGpr(r: GprFitResult): Fit =
    (r.params.toArray, r.objective, r.success, r.iterations)

  private val softplus2: Array[Bijector] = Array.fill(4)(Bijectors.default)
  private val packed2: Array[Bijector] = Array.fill(5)(Bijectors.default)

  val runs: Seq[(String, () => Fit)] = Seq(
    "Matern32Gpr" -> { () =>
      val (x, y) = data(40, 2)
      fromGpr(new Matern32Gpr(x, y).optimise(GprParams.default(2), softplus2))
    },
    "SgprGpr" -> { () =>
      val (x, y) = data(60, 2)
      val gp = new SgprGpr(x, y, SgprGpr.strideSelect(60, 15))
      fromGpr(gp.optimise(GprParams(Array(1.0, 1.0), 1.0, 0.1), softplus2, maxIter = 60))
    },
    "VffGpr" -> { () =>
      val (x, y) = data(40, 2)
      val gp = new VffGpr(x, y, Array(3, 3), Array(-1.0, -1.0), Array(2.0, 2.0))
      gp.optimise(Array(1.0, 1.0, 1.0, 1.0, 0.1), packed2, maxIter = 40)
    },
    "AsvgpGpr" -> { () =>
      val (x, y) = data(40, 2)
      val gp = new AsvgpGpr(x, y, Array(4, 4), Array(-1.0, -1.0), Array(2.0, 2.0))
      gp.optimise(Array(1.0, 1.0, 1.0, 1.0, 0.1), packed2, maxIter = 40)
    },
    "SkiGpr" -> { () =>
      val (x, y) = data(40, 2)
      val gp = new SkiGpr(x, y, Array(8, 8))
      gp.optimise(Array(1.0, 1.0, 1.0, 1.0, 0.1), packed2, maxIter = 40)
    },
    "MultioutputGpr" -> { () =>
      val (x, y) = data(15, 2)
      val ys = DenseMatrix.tabulate[Double](15, 2)((i, p) =>
        if (p == 0) y(i) else 0.5 * y(i) + ((i * 7 % 5) - 2) * 0.02)
      val gp = new MultioutputGpr(x, ys, DenseMatrix(1.0, 0.5)) // P=2, L=1
      gp.optimise(Array(1.0, 1.0, 1.0, 0.1, 0.1), packed2, maxIter = 40)
    },
    "MaternGpr" -> { () =>
      val (x, y) = data(30, 2)
      new MaternGpr(x, y, 2.5).optimise(Array(0.3, 0.3, 0.5, 0.05), softplus2, maxIter = 40)
    })
}
