package perfbench

import graft.io.ResultStore
import graft.operators.{Binning, Postprocess, SpatialJoin}
import graft.operators.SpatialJoin.{RadiusJoinConfig, TemporalWindow}
import graft.plans.{GpSatPipeline, LocalExpertOI, OIConfig, TileResult}
import graft.plans.GpSatPipeline.PipelineConfig
import graft.sources.{ObsDocs, ZarrGrid}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The public library calls a pass is composed of, with the arguments
  * `GpSatPipeline.runAll` and `LocalExpertOI.run` give them.
  */
object Steps {
  val gridDims: Seq[String] = Seq("t", "y", "x")
  val gridVars: Seq[String] = Seq("f_mean", "f_var")

  def project(docs: DataFrame, cfg: PipelineConfig): DataFrame =
    ObsDocs.extractObs(docs).filter(col("z") > cfg.zFilter._1 && col("z") < cfg.zFilter._2)

  def bin(obs: DataFrame, cfg: PipelineConfig): DataFrame =
    Binning.binDataBy(obs, Binning.BinConfig(valCol = "z", byCols = Seq("t", "source"),
      gridRes = cfg.binRes))

  /** runAll's output sizing: ~128 MB files from the known row counts. */
  private def sized(df: DataFrame, rows: Long, bytesPerRow: Long): DataFrame =
    df.coalesce(math.max(1L, math.min(10000L, rows * bytesPerRow / (128L << 20) + 1)).toInt)

  /** The five result tables, in runAll's order. */
  def appendSinks(store: ResultStore, results: Dataset[TileResult], tiles: Long,
                  predRows: Long): Unit = {
    store.append("run_details", sized(LocalExpertOI.runDetails(results), tiles, 120))
    store.append("preds", sized(LocalExpertOI.preds(results), predRows, 80))
    store.append("lengthscales", sized(LocalExpertOI.lengthscales(results), tiles * 3, 60))
    store.append("kernel_variance", sized(LocalExpertOI.kernelVariance(results), tiles, 40))
    store.append("likelihood_variance", sized(LocalExpertOI.likelihoodVariance(results), tiles, 40))
  }

  /** runAll's glue of overlapping expert predictions. */
  def glue(preds: DataFrame, cfg: PipelineConfig): DataFrame =
    Postprocess.getWeightedValues(preds,
      refCols = Seq("pred_loc_x", "pred_loc_y", "pred_loc_t"),
      distToCols = Seq("x", "y", "t"),
      valCols = Seq("f*", "f*_var"),
      lengthscale = cfg.oi.inferenceRadius / 2)

  def writeGrid(glued: DataFrame, dir: String): Unit =
    ZarrGrid.writeGridNdDistributed(
      glued.select(col("pred_loc_t").as("t"), col("pred_loc_y").as("y"), col("pred_loc_x").as("x"),
        col("f*").as("f_mean"), col("f*_var").as("f_var")),
      dir, gridDims, gridVars)

  def readGrid(spark: SparkSession, dir: String): Long =
    ZarrGrid.readGridNd(spark, dir, gridDims, gridVars).count()

  /** Expert table as LocalExpertOI.run extends it (null loaded parameters). */
  private def withParamCols(experts: DataFrame): DataFrame =
    if (experts.columns.contains("ls")) experts
    else experts.withColumn("ls", lit(null).cast("array<double>"))
      .withColumn("kvar", lit(null).cast("double")).withColumn("lvar", lit(null).cast("double"))

  /** The training-window join exactly as LocalExpertOI.run plans it. */
  def trainJoin(obs: DataFrame, experts: DataFrame, oi: OIConfig): DataFrame =
    SpatialJoin.radiusJoin(
      obs.select(col("x"), col("y"), col("t"), col(oi.obsCol).as("z")), withParamCols(experts),
      RadiusJoinConfig(radius = oi.trainingRadius,
        temporal = Some(TemporalWindow("t", "t", oi.tWindowBelow, oi.tWindowAbove)),
        broadcastRight = oi.broadcastExperts, saltBuckets = oi.saltBuckets))

  /** The inference-window join exactly as LocalExpertOI.run plans it. */
  def predJoin(pg: DataFrame, experts: DataFrame, oi: OIConfig): DataFrame =
    SpatialJoin.radiusJoin(pg.select("x", "y"), experts.select("x", "y", "t"),
      RadiusJoinConfig(radius = oi.inferenceRadius, inclusive = false,
        broadcastRight = oi.broadcastExperts, saltBuckets = oi.saltBuckets))

  /** Fixed hyperparameter tables for the experts, in the layout the five
    * sinks write: a +-5 % spread around one parameter set, so the smoothing
    * has a field to smooth. The spread is the same under every seed, like
    * the observations' placement.
    */
  def writeFixedParams(spark: SparkSession, store: ResultStore, experts: DataFrame): Unit = {
    import spark.implicits._
    val e = experts.select("x", "y", "t").as[(Double, Double, Double)].collect().sorted
    def jit(i: Int, k: Int): Double = {
      val h = graft.functions.TextHash.mix64(i * 31L + k)
      1.0 + 0.1 * ((h >>> 11).toDouble / (1L << 53).toDouble - 0.5)
    }
    val ls = for ((r, i) <- e.zipWithIndex; d <- 0 until 3)
      yield (r._1, r._2, r._3, d, Array(5.0, 5.0, 4.0)(d) * jit(i, d))
    store.append("lengthscales", ls.toSeq.toDF("x", "y", "t", "_dim_0", "lengthscales"))
    store.append("kernel_variance", e.zipWithIndex.toSeq.map { case (r, i) =>
      (r._1, r._2, r._3, 0.02 * jit(i, 3)) }.toDF("x", "y", "t", "kernel_variance"))
    store.append("likelihood_variance", e.zipWithIndex.toSeq.map { case (r, i) =>
      (r._1, r._2, r._3, 0.002 * jit(i, 4)) }.toDF("x", "y", "t", "likelihood_variance"))
  }
}

/** Tables a pass commits: run details, per-expert predictions, and the
  * final field (the glued one when the pass glues).
  */
final case class Tables(runDetails: String, preds: String, field: String)

/** One pass per workload, from the cached document table to the final
  * committed tables. The untraced pass is what the end-to-end metrics time;
  * the traced pass composes the same calls inside spans and materialises
  * each layer's output at its boundary.
  */
object Passes {
  import Steps._

  def tables(w: Workload): Tables =
    if (w.smoothedRerun) Tables("run_details_SMOOTHED", "preds_SMOOTHED", "preds_glued")
    else Tables("run_details", "preds", "preds")

  /** Runs one pass; returns the tiles it completed. */
  def run(spark: SparkSession, w: Workload, docs: DataFrame, store: ResultStore,
          gridDir: String): Long =
    if (w.smoothedRerun) smoothedRerun(spark, w.cfg, docs, store, gridDir)
    else fitHalf(spark, w.cfg, docs, store)

  def traced(spark: SparkSession, w: Workload, docs: DataFrame, store: ResultStore,
             gridDir: String, tr: Tracer): Map[String, Double] =
    if (w.smoothedRerun) tracedSmoothedRerun(spark, w.cfg, docs, store, gridDir, tr)
    else tracedFitHalf(spark, w.cfg, docs, store, tr)

  /** A copy of runAll's fit half (bin, fit, the five sinks), which runAll
    * offers no entry point for: it synthesizes its own documents. Keep it in
    * step with GpSatPipeline.runAll.
    */
  private def fitHalf(spark: SparkSession, cfg: PipelineConfig, docs: DataFrame,
                      store: ResultStore): Long = {
    val binned = bin(project(docs, cfg), cfg).persist()
    binned.count()
    val experts = GpSatPipeline.experts(spark, binned, cfg)
    val pg = GpSatPipeline.predGrid(spark, cfg)
    val results = LocalExpertOI.run(spark, binned, experts, pg, cfg.oi)
    val tiles = results.count()
    results.filter(_.num_obs < cfg.oi.minObs).count()
    val predRows = results.toDF().select(explode(col("preds"))).count()
    appendSinks(store, results, tiles, predRows)
    results.unpersist()
    binned.unpersist()
    tiles
  }

  /** The smoothed-rerun mode on unbinned rows: smooth the stored fixed
    * hyperparameters, predict-only rerun, glue (GpSatPipeline.smoothAndRerun),
    * then grid export and read-back.
    */
  private def smoothedRerun(spark: SparkSession, cfg: PipelineConfig, docs: DataFrame,
                            store: ResultStore, gridDir: String): Long = {
    GpSatPipeline.smoothAndRerun(spark, store, project(docs, cfg), GpSatPipeline.predGrid(spark, cfg), cfg)
    writeGrid(store.table("preds_glued"), gridDir)
    readGrid(spark, gridDir)
    store.table("run_details_SMOOTHED").count()
  }

  private def persisted(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  private def tracedFitHalf(spark: SparkSession, cfg: PipelineConfig, docs: DataFrame,
                            store: ResultStore, tr: Tracer): Map[String, Double] = {
    val obs = tr.span("sources")(persisted(project(docs, cfg)))
    val binned = tr.span("binning")(persisted(bin(obs, cfg)))
    val (experts, pg) = tr.span("grids")((persisted(GpSatPipeline.experts(spark, binned, cfg)),
      persisted(GpSatPipeline.predGrid(spark, cfg))))
    val (results, tiles, predRows) = tr.span("fit") {
      val r = LocalExpertOI.run(spark, binned, experts, pg, cfg.oi)
      val n = r.count()
      r.filter(_.num_obs < cfg.oi.minObs).count()
      (r, n, r.toDF().select(explode(col("preds"))).count())
    }
    tr.span("store.append")(appendSinks(store, results, tiles, predRows))
    results.unpersist()
    val out = Map("sources.rows_out" -> obs.count().toDouble,
      "binning.rows_in" -> obs.count().toDouble, "binning.bins_out" -> binned.count().toDouble)
    Seq(obs, binned, experts, pg).foreach(_.unpersist())
    out
  }

  /** Runs `body` with AQE partition coalescing on and restores the session
    * value after, as GpSatPipeline.smoothAndRerun scopes it.
    */
  private def coalescing[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** GpSatPipeline.smoothAndRerun's steps, in its order and with its
    * settings, each inside a span; then the grid export and read-back.
    */
  private def tracedSmoothedRerun(spark: SparkSession, cfg: PipelineConfig, docs: DataFrame,
                                  store: ResultStore, gridDir: String, tr: Tracer): Map[String, Double] = {
    val obs = tr.span("sources")(persisted(project(docs, cfg)))
    val pg0 = GpSatPipeline.predGrid(spark, cfg)
    val (preds, held) = coalescing(spark) {
      val l = cfg.smoothLengthscale
      val (lsT, kvT, lvT) = tr.span("store.read")((persisted(store.table("lengthscales")),
        persisted(store.table("kernel_variance")), persisted(store.table("likelihood_variance"))))
      val (lsSm, kvSm, lvSm) = tr.span("smooth")((
        persisted(Postprocess.smoothHyperparameters(lsT, Postprocess.SmoothConfig("lengthscales",
          otherDims = Seq("t", "_dim_0"), lX = l, lY = l))),
        persisted(Postprocess.smoothHyperparameters(kvT, Postprocess.SmoothConfig("kernel_variance",
          otherDims = Seq("t"), lX = l, lY = l, maxVal = Some(0.1)))),
        persisted(Postprocess.smoothHyperparameters(lvT, Postprocess.SmoothConfig("likelihood_variance",
          otherDims = Seq("t"), lX = l, lY = l, maxVal = Some(0.3))))))
      tr.span("store.overwrite") {
        store.overwrite("lengthscales_SMOOTHED", lsSm)
        store.overwrite("kernel_variance_SMOOTHED", kvSm)
        store.overwrite("likelihood_variance_SMOOTHED", lvSm)
      }
      val (withParams, pg) = tr.span("grids") {
        val lsArr = lsSm.groupBy("x", "y", "t")
          .agg(transform(array_sort(collect_list(struct(col("_dim_0"), col("lengthscales")))),
            s => s.getField("lengthscales")).as("ls"))
        (persisted(lsArr
          .join(kvSm.withColumnRenamed("kernel_variance", "kvar"), Seq("x", "y", "t"))
          .join(lvSm.withColumnRenamed("likelihood_variance", "lvar"), Seq("x", "y", "t"))),
          persisted(pg0))
      }
      val rerun = tr.span("rerun") {
        val r = LocalExpertOI.run(spark, obs, withParams, pg, cfg.oi.copy(optimise = cfg.warmStartRerun))
        r.count()
        r
      }
      tr.span("store.overwrite") {
        store.overwrite("preds_SMOOTHED", LocalExpertOI.preds(rerun))
        store.overwrite("run_details_SMOOTHED", LocalExpertOI.runDetails(rerun))
      }
      rerun.unpersist()
      val preds = tr.span("store.read")(persisted(store.table("preds_SMOOTHED")))
      val glued = tr.span("glue")(persisted(glue(preds, cfg)))
      tr.span("store.overwrite")(store.overwrite("preds_glued", glued))
      (preds, Seq(lsT, kvT, lvT, lsSm, kvSm, lvSm, withParams, pg, glued))
    }
    val field = tr.span("store.read")(persisted(store.table("preds_glued")))
    tr.span("gridio.write")(writeGrid(field, gridDir))
    tr.span("gridio.read")(readGrid(spark, gridDir))
    val out = Map("sources.rows_out" -> obs.count().toDouble, "glue.rows_in" -> preds.count().toDouble)
    (Seq(obs, preds, field) ++ held).foreach(_.unpersist())
    out
  }
}
