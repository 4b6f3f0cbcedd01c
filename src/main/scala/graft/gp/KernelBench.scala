package graft.gp

import breeze.linalg.{DenseMatrix, DenseVector}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

/** Kernel-level scaling microbenchmark (no Spark): measures the per-tile
  * GP evaluation (kernel build -> dpotrf -> dpotrs -> dpotri -> fused
  * gradient contraction) under T concurrent threads — the hardware-roofline
  * evidence for the thread scaling numbers in BENCH.md. Each thread
  * owns its own Matern32Gpr instance (scratch buffers are per-instance,
  * exactly like one fit task per Spark core). Beside ms/eval it reports
  * ms per call of the three FastSpd factorisation steps an evaluation or a
  * prediction runs: potrfUpper, potriUpper and multi-rhs potrsUpper
  * (n x 200 right-hand sides); each timed call includes an O(n^2) copy of
  * its input.
  *
  * Repeats each thread-count measurement REPEATS times (default 5) and
  * reports the median with per-repeat /proc/stat steal deltas — single
  * samples on this shared host swing +-20% (BENCH.md).
  *
  * Usage: runMain graft.gp.KernelBench [n] [threads,threads,...] [evalsPerThread] [repeats]
  * (threads default: 1 and the number of available processors)
  */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 400
    val threadCounts = if (args.length > 1) args(1).split(",").map(_.toInt)
      else Array(1, Runtime.getRuntime.availableProcessors).distinct
    val evals = if (args.length > 2) args(2).toInt else 30
    val repeats = if (args.length > 3) args(3).toInt else 5
    val d = 3
    val p = GprParams(Array(3.0, 3.0, 2.0), 1.0, 0.05)

    def mkGp(seed: Int): Matern32Gpr = {
      val rng = new scala.util.Random(seed)
      val coords = DenseMatrix.tabulate[Double](n, d)((_, _) => rng.nextDouble() * 10)
      val y = DenseVector.tabulate[Double](n)(_ => rng.nextDouble() - 0.5)
      new Matern32Gpr(coords, y)
    }

    def cpuJiffies(): (Long, Long) = {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    }
    val rhs = 200
    /** Per-thread inputs of the timed FastSpd calls: K + 0.05 I, its
      * factor, and an n x rhs right-hand side. */
    final class Ops(seed: Int) {
      private val rng = new scala.util.Random(seed)
      private val x = Array.fill(n, d)(rng.nextDouble() * 10)
      val spd: Array[Double] = Array.tabulate(n * n + n) { q =>
        val i = q % n; val j = q / n
        if (j >= n) 0.0
        else {
          val r = math.sqrt((0 until d).map(k => 3.0 * math.pow(x(i)(k) - x(j)(k), 2) / 9.0).sum)
          (1.0 + r) * math.exp(-r) + (if (i == j) 0.05 else 0.0)
        }
      }
      val factor: Array[Double] = spd.clone()
      require(FastSpd.potrfUpper(factor, n) == 0)
      val b: Array[Double] = Array.fill(n * rhs)(rng.nextGaussian())
      val buf = new Array[Double](math.max(n * n + n, n * rhs))
      def potrf(): Unit = { System.arraycopy(spd, 0, buf, 0, spd.length); FastSpd.potrfUpper(buf, n) }
      def potri(): Unit = { System.arraycopy(factor, 0, buf, 0, factor.length); FastSpd.potriUpper(buf, n) }
      def potrs(): Unit = { System.arraycopy(b, 0, buf, 0, b.length); FastSpd.potrsUpper(factor, n, buf, rhs) }
    }

    println(s"n=$n evals/thread=$evals repeats=$repeats (kernel = build+potrf+potrs+potri+grad; " +
      s"potrs with $rhs rhs)")
    val results = threadCounts.map { t =>
      val pool = Executors.newFixedThreadPool(t)
      val gps = Array.tabulate(t)(mkGp)
      val ops = Array.tabulate(t)(new Ops(_))
      /** ms per call of `f(thread)` with every thread running it `calls` times. */
      def timed(calls: Int)(f: Int => Unit): Double = {
        val latch = new CountDownLatch(t)
        val t0 = System.nanoTime()
        (0 until t).foreach { ti =>
          pool.submit(new Runnable {
            def run(): Unit = {
              var i = 0
              while (i < calls) { f(ti); i += 1 }
              latch.countDown()
            }
          })
        }
        latch.await(30, TimeUnit.MINUTES)
        (System.nanoTime() - t0) / 1e6 / calls
      }
      // warmup (JIT + buffers): one untimed round of every timed loop, so
      // the kernels are compiled before the first sample
      timed(evals)(ti => gps(ti).nlmlAndGrad(p))
      timed(evals) { ti => ops(ti).potrf(); ops(ti).potri(); ops(ti).potrs() }
      val samples = (1 to repeats).map { _ =>
        val (s0, j0) = cpuJiffies()
        val msEval = timed(evals)(ti => gps(ti).nlmlAndGrad(p))
        val (s1, j1) = cpuJiffies()
        val steal = if (j1 > j0) 100.0 * (s1 - s0) / (j1 - j0) else 0.0
        val msOps = Array(timed(evals)(ops(_).potrf()), timed(evals)(ops(_).potri()),
          timed(evals)(ops(_).potrs()))
        (msEval, steal, msOps)
      }
      pool.shutdown()
      def median(xs: Seq[Double]): Double = xs.sorted.apply(repeats / 2)
      val med = median(samples.map(_._1))
      val opMed = (0 until 3).map(q => median(samples.map(_._3(q))))
      val stealStr = samples.map(v => f"${v._2}%.1f").mkString(",")
      println(f"threads=$t%2d  ms/eval median=$med%8.2f  min=${samples.map(_._1).min}%8.2f  evals/s-total=${t * 1000.0 / med}%8.1f  " +
        f"ms/call potrf=${opMed(0)}%7.2f potri=${opMed(1)}%7.2f potrs=${opMed(2)}%7.2f  steal%%=[$stealStr]")
      (t, med)
    }
    for (i <- 1 until results.length) {
      val (tLo, mLo) = results(i - 1)
      val (tHi, mHi) = results(i)
      println(f"scaling ${tLo}->${tHi}: per-eval efficiency ${mLo / mHi}%.2f")
    }
  }
}
