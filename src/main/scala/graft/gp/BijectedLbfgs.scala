package graft.gp

import breeze.linalg.DenseVector
import breeze.optimize.{DiffFunction, LBFGS}

/** The one hyperparameter optimiser harness every bijector-space GP in this
  * package shares: L-BFGS on the unconstrained variables u, with the
  * constrained parameters theta = bijector.fwd(u) — the reference fits every
  * local expert this way (scipy L-BFGS-B on the transformed variables,
  * GPSat/models/pure_python_gpr.py:303-342; gpflow `Scipy` for the sparse
  * models, gpflow_models.py:872-901).
  *
  * Models supply their objective over theta and either an analytic
  * gradient or [[centralDiff]]; the harness chains the gradient through the
  * bijectors. [[NystroemOptimise]] keeps its own loop: it differentiates in
  * u-space and has no steer-back.
  */
object BijectedLbfgs {

  /** Central-difference step of the finite-difference models. */
  val FdStep: Double = 1e-6

  /** Minimise `objective` from `init` (constrained space). `valueAndGrad`
    * returns the objective and its gradient w.r.t. theta (see [[uSpace]]).
    *
    * Returns (theta, objective(theta), converged, iterationsRun). When the
    * optimum is non-finite, or the optimiser throws, returns `init` and
    * `objective(init)` with converged = false and the iterations run
    * (0 on an exception).
    */
  def minimise(
      init: Array[Double],
      bijectors: Array[Bijector],
      objective: Array[Double] => Double,
      valueAndGrad: Array[Double] => (Double, Array[Double]),
      maxIter: Int,
      tolerance: Double): (Array[Double], Double, Boolean, Int) = {
    val u0 = DenseVector(init.indices.map(i => bijectors(i).inv(init(i))).toArray)
    require(u0.forall(v => !v.isNaN), "initial parameters map to NaN in variable space")
    val f = uSpace(u0, bijectors, valueAndGrad)
    try {
      val lbfgs = new LBFGS[DenseVector[Double]](maxIter = maxIter, m = 7, tolerance = tolerance)
      val state = lbfgs.minimizeAndReturnState(f, u0)
      val opt = theta(state.x, bijectors)
      val obj = objective(opt)
      if (obj.isInfinite || obj.isNaN) (init, objective(init), false, state.iter)
      else (opt, obj, !state.searchFailed, state.iter)
    } catch { case _: Exception => (init, objective(init), false, 0) }
  }

  private def theta(u: DenseVector[Double], bijectors: Array[Bijector]): Array[Double] =
    Array.tabulate(u.length)(i => bijectors(i).fwd(u(i)))

  /** The objective in u-space: gradient chained through the bijectors;
    * an infinite value (K not SPD) returns (1e25, u - u0), which steers the
    * line search back towards the start.
    */
  private[gp] def uSpace(u0: DenseVector[Double], bijectors: Array[Bijector],
                         valueAndGrad: Array[Double] => (Double, Array[Double]))
  : DiffFunction[DenseVector[Double]] = new DiffFunction[DenseVector[Double]] {
    def calculate(u: DenseVector[Double]): (Double, DenseVector[Double]) = {
      val (v, gTheta) = valueAndGrad(theta(u, bijectors))
      if (v.isInfinite) (1e25, u - u0)
      else (v, DenseVector(Array.tabulate(u.length)(i => gTheta(i) * bijectors(i).grad(u(i)))))
    }
  }

  /** Central-difference gradient w.r.t. theta, (f(theta + h e_i) -
    * f(theta - h e_i)) / (2 h) with h = [[FdStep]]; skipped when f(theta)
    * itself is infinite.
    */
  def centralDiff(objective: Array[Double] => Double)(
      theta: Array[Double]): (Double, Array[Double]) = {
    val v0 = objective(theta)
    val g = new Array[Double](theta.length)
    if (!v0.isInfinite) {
      var i = 0
      while (i < theta.length) {
        val up = theta.clone(); up(i) += FdStep
        val dn = theta.clone(); dn(i) -= FdStep
        g(i) = (objective(up) - objective(dn)) / (2 * FdStep)
        i += 1
      }
    }
    (v0, g)
  }
}
