package graft.plans.perfbench

import graft.plans.{LocalExpertOI, OIConfig, PredRow, TrainRow}

/** One expert's window: observations (x, y, t, z) and prediction locations (x, y). */
final case class Window(key: (Double, Double, Double), obs: Array[Array[Double]],
                        pred: Array[Array[Double]])

/** Single-threaded GP baseline: `LocalExpertOI.fitTile` on captured windows,
  * in the calling thread and outside Spark, so kernel speed reads apart
  * from scheduling.
  */
object SoloFit {

  /** Fits every window once; returns the wall seconds of the whole sample. */
  def seconds(windows: Seq[Window], cfg: OIConfig): Double = {
    val tiles = windows.map { w =>
      val (ex, ey, et) = w.key
      (w.key,
        w.obs.map(o => TrainRow(ex, ey, et, o(0), o(1), o(2), o(3), None, None, None)),
        w.pred.map(p => PredRow(ex, ey, et, p(0), p(1))))
    }
    val t0 = System.nanoTime()
    tiles.foreach { case (k, tr, pr) => LocalExpertOI.fitTile(k, tr, pr, cfg) }
    (System.nanoTime() - t0) / 1e9
  }
}
