package perfbench

import graft.io.ResultStore
import graft.plans.OIConfig
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Per-layer metrics of one traced pass, in BENCHMARK.json's order. */
object Layers {
  private val MB = 1e6

  def metrics(tr: Tracer, counts: Map[String, Double], wall: Double, gcS: Double,
              untracedPassS: Double, store: ResultStore, grid: Path, rdTable: String,
              oi: OIConfig, cores: Int): Seq[(String, Double, String)] = {
    def c(k: String): Double = counts.getOrElse(k, 0.0)
    def durations(ts: Seq[TaskRec]): Seq[Double] = ts.map(_.durationMs / 1e3)
    def maxOverP50(xs: Seq[Double]): Double = Stats.ratio(xs.foldLeft(0.0)(math.max), Stats.median(xs))

    // the pass's own LocalExpertOI.run job (the predict-only rerun when the
    // workload does not fit): the fit cogroup stage, and the stages that
    // feed it: broadcast builds and the map stages that scan the rows, join
    // them to the experts (SpatialJoin.radiusJoin) and write the window shuffle
    val fitSpan = if (tr.seconds("fit") > 0) "fit" else "rerun"
    val runStages = tr.stages(fitSpan)
    val cogroup = runStages.filter(_.isFitCoGroup)
    val fitStart = cogroup.map(_.submittedMs).foldLeft(Long.MaxValue)(math.min)
    val feeding = runStages.filter(s => !s.isFitCoGroup && s.completedMs <= fitStart)
    val (predMaps, trainMaps) = feeding.filter(_.isWindowMap).partition(_.isPredSide)
    def records(ss: Seq[StageRec]): Double = tr.tasksOf(ss).map(_.shuffleWriteRecords).sum.toDouble
    val fitTasks = tr.tasksOf(cogroup)
    val fitRun = fitTasks.map(_.runMs / 1e3)
    val fitStageS = cogroup.map(_.wallS).sum
    val all = tr.tasksOf(tr.allStages)

    // per-tile results as the pass committed them
    val rd = store.table(rdTable).select("num_obs", "run_time", "optimise_success", "parameters_optimised")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getBoolean(2), r.getBoolean(3)))
    val fitted = rd.filter(_._1 >= oi.minObs)
    val tileS = fitted.map(_._2).toSeq
    val n = fitted.map(_._1.toDouble).toSeq
    // the prediction side's shuffle carries one marker row per expert
    val predRows = records(predMaps) - rd.length
    val files = store.snapshots().filter(_.tsMs >= tr.startMs).flatMap(_.files)
    val gridBytes = if (!Files.exists(grid)) 0L else {
      val s = Files.walk(grid)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

    Seq(
      ("sources.project_s", tr.seconds("sources"), "s"),
      ("sources.rows_out", c("sources.rows_out"), "count"),
      ("binning.bin_s", tr.seconds("binning"), "s"),
      ("binning.rows_in", c("binning.rows_in"), "count"),
      ("binning.bins_out", c("binning.bins_out"), "count"),
      ("join.train_s", trainMaps.map(_.wallS).sum, "s"),
      ("join.pred_s", predMaps.map(_.wallS).sum, "s"),
      ("join.train_rows", records(trainMaps), "count"),
      ("join.pred_rows", predRows, "count"),
      ("join.shuffle_write_mb", tr.tasksOf(feeding).map(_.shuffleWriteBytes).sum / MB, "MB"),
      ("join.task_max_over_p50", maxOverP50(durations(tr.tasksOf(trainMaps))), "ratio"),
      ("fit.run_s", tr.seconds(fitSpan), "s"),
      ("fit.stage_s", fitStageS, "s"),
      ("fit.task_p50_s", Stats.median(fitRun), "s"),
      ("fit.task_max_s", fitRun.foldLeft(0.0)(math.max), "s"),
      ("fit.task_max_over_p50", maxOverP50(fitRun), "ratio"),
      ("fit.core_busy_frac", Stats.ratio(fitRun.sum, fitStageS * cores), "ratio"),
      ("fit.stub_frac", Stats.ratio(rd.length - fitted.length, rd.length), "ratio"),
      ("gp.tile_s_sum", tileS.sum, "s"),
      ("gp.tile_s_p50", Stats.median(tileS), "s"),
      ("gp.tile_s_max", tileS.foldLeft(0.0)(math.max), "s"),
      ("gp.n_p50", Stats.median(n), "count"),
      ("gp.n_max", n.foldLeft(0.0)(math.max), "count"),
      ("gp.optimise_failed", fitted.count(t => t._4 && !t._3).toDouble, "count"),
      ("store.append_s", tr.seconds("store.append"), "s"),
      ("store.overwrite_s", tr.seconds("store.overwrite"), "s"),
      ("store.read_s", tr.seconds("store.read"), "s"),
      ("store.mb_written", files.map(_.bytes).sum / MB, "MB"),
      ("store.files_written", files.length.toDouble, "count"),
      ("smooth.s", tr.seconds("smooth"), "s"),
      ("rerun.s", tr.seconds("rerun"), "s"),
      ("glue.s", tr.seconds("glue"), "s"),
      ("glue.rows_in", c("glue.rows_in"), "count"),
      ("gridio.write_s", tr.seconds("gridio.write"), "s"),
      ("gridio.read_s", tr.seconds("gridio.read"), "s"),
      ("gridio.mb", gridBytes / MB, "MB"),
      ("spark.gc_s", gcS, "s"),
      ("spark.spill_mb", all.map(_.spillBytes).sum / MB, "MB"),
      ("spark.shuffle_read_mb", all.map(_.shuffleReadBytes).sum / MB, "MB"),
      ("driver.gap_s", wall - tr.spannedSeconds, "s"),
      ("trace.pass_s", wall, "s"),
      ("trace.overhead_frac", Stats.ratio(wall, untracedPassS) - 1.0, "ratio"))
  }
}
