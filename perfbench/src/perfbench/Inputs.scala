package perfbench

import graft.functions.{Laea, TextHash}
import graft.plans.GpSatPipeline.PipelineConfig
import graft.sources.{ObsDoc, ObsDocs, Span}
import java.util.Locale
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Where a workload's observations fall, in EASE2 metres: `nBackground`
  * stations over the square [-bgHalf, bgHalf]^2, one per cell of a square
  * lattice at a spot inside its cell, plus `nHot` points uniform over a disc
  * of radius `hotRadius` around the pole.
  *
  * Positions, days and sources do not depend on the seed: every seed gives
  * the same windows, and so the same tile costs and schedule. The seed draws
  * the readings' noise and the documents' text.
  */
final case class Layout(bgHalf: Double, nBackground: Long, hotRadius: Double, nHot: Long) {
  val side: Long = math.sqrt(nBackground.toDouble).round
  require(side * side == nBackground, "nBackground must be a square")
  def nDocs: Long = nBackground + nHot
}

/** One benchmark workload: its inputs, pipeline configuration, pass shape
  * and the field-accuracy ceiling its correctness check enforces.
  * `smoothedRerun` selects the pass: false = runAll's fit half (bin, fit,
  * five sinks); true = smoothAndRerun over fixed hyperparameters on unbinned
  * rows, then the grid export.
  */
final case class Workload(name: String, layout: Layout, cfg: PipelineConfig,
                          smoothedRerun: Boolean, rmseCeiling: Double)

object Workloads {
  private val base = PipelineConfig()

  /** Sparse background plus a dense polar disc; binned at 50 km. Windows
    * over the disc reach the per-tile cap, the rest stay small, so window
    * sizes are heavy-tailed and the fitted tiles' cost is set by the disc.
    */
  val fitSkewed: Workload = Workload("fit_skewed",
    Layout(bgHalf = 900000.0, nBackground = 576, hotRadius = 100000.0, nHot = 8000),
    base.copy(expertRange = (-500000.0, 500000.0), expertSpacing = 200000.0,
      predSpacing = 25000.0, oi = base.oi.copy(maxObsPerTile = 400, maxIter = 20, obsMeanLocal = true)),
    smoothedRerun = false, rmseCeiling = 0.02)

  /** Many unbinned observations with a 10x-density polar disc; fixed
    * hyperparameters (predict-only rerun) with a small cap and a 5 km
    * prediction grid, so the join, the window shuffle and the result
    * writes carry the pass.
    */
  val joinHotspot: Workload = Workload("join_hotspot",
    Layout(bgHalf = 800000.0, nBackground = 64009, hotRadius = 150000.0, nHot = 16000),
    base.copy(expertRange = (-500000.0, 500000.0), expertSpacing = 200000.0,
      predSpacing = 5000.0, oi = base.oi.copy(maxObsPerTile = 64, obsMeanLocal = true)),
    smoothedRerun = true, rmseCeiling = 0.01)

  val all: Seq[Workload] = Seq(fitSkewed, joinHotspot)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(s"unknown workload $name"))
}

/** Seeded observation documents in the span layout of [[ObsDocs.makeDoc]]. */
object Inputs {
  private def u01(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** Full width of the uniform reading noise: small next to the model's
    * likelihood-variance floor and the interpolation error, so `field_rmse`
    * measures the interpolation rather than one noise draw (at widths 0.01
    * and 0.002 it moved 7 % and 5 % between seeds).
    */
  private val Noise = 0.0005

  private def fmt(v: Double, digits: Int = 6): String =
    String.format(Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** Document `i` of the workload: a pure function of (i, seed, layout). */
  def doc(i: Long, seed: Long, lay: Layout): ObsDoc = {
    def h(k: Long): Long = TextHash.mix64(i * 0x9e3779b97f4a7c15L ^ TextHash.mix64(seed * 1000003L + k))
    // placement draws, the same under every seed
    def g(k: Long): Long = TextHash.mix64(i * 0x9e3779b97f4a7c15L ^ TextHash.mix64(k))
    val (px, py) =
      if (i < lay.nBackground) {
        val cell = 2 * lay.bgHalf / lay.side
        (-lay.bgHalf + (i % lay.side + u01(g(1))) * cell, -lay.bgHalf + (i / lay.side + u01(g(2))) * cell)
      } else {
        val r = lay.hotRadius * math.sqrt(u01(g(1)))
        val a = 2 * math.Pi * u01(g(2))
        (r * math.cos(a), r * math.sin(a))
      }
    // the reading carries lon/lat at 6 decimals; the field value is taken
    // at the position those decimals encode, which the projection recovers
    val lon = fmt(Laea.invLon(px, py))
    val lat = fmt(Laea.invLat(px, py))
    val x = Laea.fwdX(lon.toDouble, lat.toDouble)
    val y = Laea.fwdY(lon.toDouble, lat.toDouble)
    // 8 whole days: mean t sits mid-day, so every seed gives the experts
    // the same t = floor(mean t) and the same +-4 day training window
    val t = 18322.0 + (g(3) >>> 32) % 8
    val z = ObsDocs.truthField(x, y, t) + (u01(h(4)) - 0.5) * Noise
    // six sources x eight days: up to 48 bins per 50 km cell, so the windows
    // over the disc hold well over the per-tile cap after binning
    val source = Seq("A", "B", "C", "D", "E", "F")(((g(5) >>> 33) % 6).toInt)
    val b = Seq.newBuilder[Span]
    var off = 0
    b += Span("text", s"obs station=${(h(6) >>> 40) % 512} rev=${h(7) >>> 50}", "", off); off += 1
    b += Span("text", s"lon=$lon;lat=$lat;t=${fmt(t, 1)};z=${fmt(z)};source=$source", "", off)
    off += 1
    if ((h(8) >>> 35) % 3 != 0L) {
      b += Span("media", "", f"swath://tile/${(h(9) >>> 30) % 100000}%05d.png", off); off += 1
    }
    if ((h(10) >>> 35) % 3 == 0L) {
      b += Span("text", s"qc flag=${h(11) >>> 55}", "", off); off += 1
    }
    ObsDoc(f"doc-$i%09d", b.result())
  }

  private val DocPartitions = 8

  /** The workload's document table, generated in Spark and cached. */
  def docs(spark: SparkSession, w: Workload, seed: Long): DataFrame = {
    import spark.implicits._
    val lay = w.layout
    val d = spark.range(0, lay.nDocs, 1, DocPartitions).map(i => doc(i, seed, lay)).toDF()
      .persist(StorageLevel.MEMORY_AND_DISK)
    d.count()
    d
  }
}
