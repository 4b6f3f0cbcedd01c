package graft.plans

import graft.io.ResultStore
import graft.operators.{Binning, Grids, Postprocess}
import graft.sources.ObsDocs
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The full reference pipeline (examples/inline_example.py) as one
  * orchestrated Spark job sequence over the obs-doc table:
  *
  *   synthesize/read obs_docs -> span projection -> z filter -> 50 km bin
  *   -> expert grid -> [resume anti-join] -> local-expert OI (fit+predict)
  *   -> result tables -> hyperparameter smoothing -> predict-only rerun
  *   -> Gaussian-weighted glue.
  */
object GpSatPipeline {

  final case class PipelineConfig(
      nDocs: Long = 50000,
      seed: Long = 42,
      zFilter: (Double, Double) = (-0.35, 0.65), // inline_example.py:176
      binRes: Double = 50000.0,
      expertRange: (Double, Double) = (-500000.0, 500000.0),
      expertSpacing: Double = 200000.0,
      expertMasks: Seq[String] = Seq.empty, // "had_obs" | "grid_space:<n>"
                                            // (el_masks, dataloader.py:2715-2805)
      predSpacing: Double = 5000.0,
      smoothLengthscale: Double = 200000.0, // inline_example.py:459-474
      warmStartRerun: Boolean = false, // rerun re-optimises from smoothed
                                       // params (EMA warm-start re-design)
      oi: OIConfig = OIConfig(
        lengthscaleBounds = Some(Bounds(Array(1e-8, 1e-8, 1e-8), Array(600000.0, 600000.0, 9.0))),
        likelihoodVarianceBounds = Some(Bounds(Array(0.00125), Array(0.01)))))

  /** Stage 1-3: obs docs -> filtered, binned observations (the training table). */
  def binnedObs(spark: SparkSession, cfg: PipelineConfig): DataFrame = {
    val docs = ObsDocs.synthesize(spark, cfg.nDocs, cfg.seed).toDF()
    val obs = ObsDocs.extractObs(docs)
      .filter(col("z") > cfg.zFilter._1 && col("z") < cfg.zFilter._2)
    Binning.binDataBy(obs, Binning.BinConfig(
      valCol = "z", byCols = Seq("t", "source"), gridRes = cfg.binRes))
  }

  /** Expert locations. Without masks: the regular lattice at
    * expertSpacing. With `expertMasks` (reference el_masks production
    * shape, e.g. ["had_obs", "grid_space:4"]): experts ARE the binned
    * reference-grid cells, trimmed by each mask in order
    * (dataloader.py:2715-2805 + utils.py:1075-1133).
    */
  def experts(spark: SparkSession, binned: DataFrame, cfg: PipelineConfig): DataFrame =
    if (cfg.expertMasks.isEmpty)
      Grids.expertLocations(spark, binned, cfg.expertRange, cfg.expertRange, cfg.expertSpacing)
    else {
      val lattice = Grids.grid2dFlatten(spark, cfg.expertRange, cfg.expertRange, cfg.binRes)
      val masked = cfg.expertMasks.foldLeft(lattice) { (d, mk) =>
        if (mk == "had_obs") Grids.hadObsMask(d, binned, "z")
        else if (mk.startsWith("grid_space:"))
          Grids.gridSpaceMask(d, Seq("x", "y"), mk.stripPrefix("grid_space:").toInt)
        else throw new IllegalArgumentException(s"mask: $mk not understood")
      }
      val t = binned.agg(floor(avg(col("t"))).as("t"))
      masked.crossJoin(t.hint("broadcast"))
        .select(col("x"), col("y"), col("t").cast("double").as("t"))
    }

  def predGrid(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    Grids.predictionGrid(spark, cfg.expertRange, cfg.expertRange, cfg.predSpacing)

  final case class RunSummary(tiles: Long, skipped: Long, predRows: Long, fitSeconds: Double)

  /** Full run with checkpointed result tables; resumable — experts already
    * present in run_details are skipped via left-anti join.
    */
  def runAll(spark: SparkSession, store: ResultStore, cfg: PipelineConfig,
             smooth: Boolean = true): RunSummary = {
    val binned = binnedObs(spark, cfg).persist()
    binned.count() // materialise: data loading is a separate stage from the
                   // fit in the reference accounting (BASELINE.md rows 2-3)
    val allExperts = experts(spark, binned, cfg)
    val el = if (store.exists("run_details"))
      LocalExpertOI.resumeFilter(allExperts, store.table("run_details"))
    else allExperts
    val pg = predGrid(spark, cfg)

    val t0 = System.nanoTime()
    val results = LocalExpertOI.run(spark, binned, el, pg, cfg.oi)
    val tiles = results.count() // materialises the persisted fit pass
    val fitSec = (System.nanoTime() - t0) / 1e9

    val skipped = results.filter(_.num_obs < cfg.oi.minObs).count()
    val predRows = results.toDF().select(explode(col("preds"))).count()
    // result tables inherit the fit cogroup's partitions; the counts above
    // materialised them, so each sink's size estimate is exact
    store.append("run_details", ResultStore.sized(LocalExpertOI.runDetails(results)))
    store.append("preds", ResultStore.sized(LocalExpertOI.preds(results)))
    store.append("lengthscales", ResultStore.sized(LocalExpertOI.lengthscales(results)))
    store.append("kernel_variance", ResultStore.sized(LocalExpertOI.kernelVariance(results)))
    store.append("likelihood_variance", ResultStore.sized(LocalExpertOI.likelihoodVariance(results)))
    results.unpersist()

    if (smooth) smoothAndRerun(spark, store, binned, pg, cfg)
    binned.unpersist()
    RunSummary(tiles, skipped, predRows, fitSec)
  }

  /** Smoothing + predict-only rerun (inline_example.py:430-520): smooth each
    * hyperparameter field across experts, store *_SMOOTHED tables, rerun
    * with optimise=False loading the smoothed parameters, then glue.
    *
    * Each intermediate is computed once:
    *  1. the three fields, stacked into one long frame keyed by field name
    *     (`_dim_0 = 0` for the scalar ones), are smoothed in ONE
    *     `smoothHyperparameters` pass and cached;
    *  2. each `*_SMOOTHED` table is a filter of that cache;
    *  3. one `groupBy(x, y, t)` over the same cache builds the rerun's
    *     expert table with loaded parameters (an expert missing from any
    *     field is dropped), cached before the rerun;
    *  4. the rerun is materialised, then written; the glue is written last.
    * All six overwrites go through [[ResultStore.sized]], so each small table
    * is one file. Everything cached here is released on exit, also on failure.
    */
  def smoothAndRerun(spark: SparkSession, store: ResultStore, binned: DataFrame,
                     pg: DataFrame, cfg: PipelineConfig): Unit = {
    // Post-processing runs over EXPERT-sized tables (hyperparameter
    // fields, glued predictions) through many small exchanges; let AQE
    // coalesce those tiny shuffle partitions (the guide-recommended
    // production default, scale-adaptive by construction — partition
    // count follows the bytes). The session-level bench setting disables
    // coalescing because FIT tile cost is not proportional to bytes; that
    // reasoning is specific to the fit cogroup, so this stage scopes the
    // enable and restores the session value on exit. parallelismFirst
    // (default true) keeps the rerun's per-tile predict spread across
    // default-parallelism cores.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "true")
    try smoothAndRerunInner(spark, store, binned, pg, cfg)
    finally prev match {
      case Some(v) => spark.conf.set(coalesceKey, v)
      case None => spark.conf.unset(coalesceKey)
    }
  }

  /** The smoothed fields with the smooth_config_dict of the inline example
    * (inline_example.py:459-474): field, its `_dim_*` column, max clamp.
    */
  private val smoothedFields: Seq[(String, Option[String], Option[Double])] = Seq(
    ("lengthscales", Some("_dim_0"), None),
    ("kernel_variance", None, Some(0.1)),
    ("likelihood_variance", None, Some(0.3)))

  private def smoothAndRerunInner(spark: SparkSession, store: ResultStore, binned: DataFrame,
                                  pg: DataFrame, cfg: PipelineConfig): Unit = {
    val l = cfg.smoothLengthscale
    val cached = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    def materialised[T](ds: Dataset[T]): Dataset[T] = {
      cached += ds.persist()
      ds.count()
      ds
    }
    def clamp(v: Column, cap: Option[Double]): Column = cap.fold(v)(m => least(v, lit(m)))
    try {
      // clamped before smoothing as smoothHyperparameters clamps, NaN kept
      // so that NaN sources are skipped
      val stacked = smoothedFields.map { case (f, dim, cap) =>
        store.table(f).select(col("x"), col("y"), col("t"), lit(f).as("field"),
          dim.fold(lit(0))(col).as("_dim_0"),
          when(isnan(col(f)), col(f)).otherwise(clamp(col(f), cap)).as("value"))
      }.reduce(_ unionByName _)
      // clamped again after smoothing, per field
      val postClamped = smoothedFields.foldLeft(col("value")) { case (c, (f, _, cap)) =>
        when(col("field") === f, clamp(col("value"), cap)).otherwise(c)
      }
      val smoothed = materialised(Postprocess.smoothHyperparameters(stacked,
        Postprocess.SmoothConfig("value", otherDims = Seq("field", "t", "_dim_0"), lX = l, lY = l))
        .withColumn("value", postClamped))
      smoothedFields.foreach { case (f, dim, _) =>
        store.overwrite(f + "_SMOOTHED", ResultStore.sized(smoothed.filter(col("field") === f)
          .select((Seq(col("x"), col("y"), col("t")) ++ dim.map(col) :+ col("value").as(f)): _*)))
      }

      // experts with loaded params: _dim_* rows back to a sorted array
      def of(f: String, c: Column): Column = when(col("field") === f, c)
      val withParams = materialised(smoothed.groupBy("x", "y", "t").agg(
        transform(array_sort(collect_list(of("lengthscales", struct(col("_dim_0"), col("value"))))),
          s => s.getField("value")).as("ls"),
        max(of("kernel_variance", col("value"))).as("kvar"),
        max(of("likelihood_variance", col("value"))).as("lvar"))
        .filter(size(col("ls")) > 0 && col("kvar").isNotNull && col("lvar").isNotNull))

      // warmStartRerun: re-OPTIMISE from the smoothed parameters instead of
      // just evaluating them — the deterministic, parallel re-design of the
      // reference's EMA warm-start (local_experts.py consumes previously
      // fitted experts' params in visit order, which is order-dependent and
      // unparallelisable; initialising every tile from the SMOOTHED field
      // gives each fit the same neighborhood information with no ordering)
      val rerun = LocalExpertOI.run(spark, binned, withParams, pg,
        cfg.oi.copy(optimise = cfg.warmStartRerun))
      cached += rerun
      rerun.count()
      store.overwrite("preds_SMOOTHED", ResultStore.sized(LocalExpertOI.preds(rerun)))
      store.overwrite("run_details_SMOOTHED", ResultStore.sized(LocalExpertOI.runDetails(rerun)))

      // glue overlapping predictions (inference_radius / 2 lengthscale,
      // inline_example.py:527-534)
      val glued = Postprocess.getWeightedValues(store.table("preds_SMOOTHED"),
        refCols = Seq("pred_loc_x", "pred_loc_y", "pred_loc_t"),
        distToCols = Seq("x", "y", "t"),
        valCols = Seq("f*", "f*_var"),
        lengthscale = cfg.oi.inferenceRadius / 2)
      store.overwrite("preds_glued", ResultStore.sized(glued))
    } finally cached.foreach(_.unpersist())
  }
}
