package perfbench

import graft.io.ResultStore
import graft.plans.GpSatPipeline
import graft.plans.perfbench.SoloFit
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Host readings that make a contended run identifiable from its output. */
object Host {
  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def loadAvg(): Double =
    try Files.readAllLines(Paths.get("/proc/loadavg")).get(0).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Peak use of the old generation, in MB: live data plus what was
    * promoted since the last full collection. Against peak RSS it tells
    * live data from young-generation churn, which touches the whole eden.
    */
  def oldGenPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getName.contains("Old Gen"))
      .map(_.getPeakUsage.getUsed / 1048576.0).sum

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** One benchmark run: `perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  * <work dir> <result file>`. Writes the result JSON (metrics, checks, host
  * readings) to the result file and exits 1 when a check fails.
  */
object Main {
  private val ShufflePartitions = 16

  /** Grids are written and read through a Hadoop view filesystem whose one
    * mount, `/work`, is the run's work directory. ZarrGrid.readGridNd skips
    * every chunk whose path contains `/.`, so a grid addressed by its file
    * path reads back empty when the checkout sits below a dot-directory; the
    * view path has no such component wherever the checkout is.
    */
  private val GridMount = "perfbench"

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  private def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(s"spark.hadoop.fs.viewfs.mounttable.$GridMount.link./work", Paths.get(work).toUri.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.registerAll(s)
    s
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach(f => Files.copy(f, to.resolve(from.relativize(f).toString)))
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedArg, secondsArg, traceArg, work, resultFile) = args
    val w = Workloads.byName(name)
    val seed = seedArg.toLong
    val budget = secondsArg.toDouble
    val traced = traceArg == "1"
    val oi = w.cfg.oi
    val cores = Runtime.getRuntime.availableProcessors()
    val (steal0, total0) = Host.cpuJiffies()
    val load0 = Host.loadAvg()
    val gc0 = Stats.gcSeconds()

    // ---- setup: session, inputs (generated and cached 3 times, median kept), warm pass
    val spark = session(work, cores)
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    var docs: DataFrame = null
    val genS = (1 to 3).map { _ =>
      if (docs != null) docs.unpersist(true)
      timed { docs = Inputs.docs(spark, w, seed) }._2
    }
    val template = Paths.get(work, "template")
    val (_, paramS) = timed {
      if (w.smoothedRerun) {
        val experts = GpSatPipeline.experts(spark, Steps.project(docs, w.cfg), w.cfg)
        Steps.writeFixedParams(spark, new ResultStore(spark, template.toString), experts)
      }
    }
    /** A pass's store and its grid's view-filesystem path. */
    def freshStore(i: Int): (ResultStore, String) = {
      val dir = Paths.get(work, s"pass$i")
      deleteTree(dir)
      if (Files.exists(template)) copyTree(template, dir)
      (new ResultStore(spark, dir.toString), s"viewfs://$GridMount/work/pass$i/grid.zarr")
    }
    val tables = Passes.tables(w)
    val (store0, grid0) = freshStore(0)
    val (_, warmS) = timed(Passes.run(spark, w, docs, store0, grid0))
    val out0 = Checks.passOutput(store0, tables, oi)
    val setupS = sessionS + Stats.median(genS) + paramS + warmS

    // ---- timed passes: at least 2, until their time reaches the budget; median kept
    val passS = ArrayBuffer.empty[Double]
    val tilesPerS = ArrayBuffer.empty[Double]
    val outs = ArrayBuffer(out0)
    while ((passS.length < 2 || passS.sum < budget) && passS.length < 50) {
      val i = passS.length + 1
      val (store, grid) = freshStore(i)
      val (tiles, s) = timed(Passes.run(spark, w, docs, store, grid))
      passS += s
      tilesPerS += tiles / s
      outs += Checks.passOutput(store, tables, oi)
      deleteTree(Paths.get(work, s"pass$i"))
    }

    // ---- correctness checks on the warm pass's inputs and outputs
    val checksT0 = System.nanoTime()
    val checks = ArrayBuffer.empty[Check]
    val obs = Steps.project(docs, w.cfg)
    checks += Checks.spanSequence(docs, graft.sources.ObsDocs.extractObs(docs))
    val joinIn = if (w.smoothedRerun) obs else Steps.bin(obs, w.cfg)
    val experts = if (w.smoothedRerun) store0.table("kernel_variance").select("x", "y", "t")
      else GpSatPipeline.experts(spark, joinIn, w.cfg)
    val pg = GpSatPipeline.predGrid(spark, w.cfg)
    val (joinChecks, brute) = Checks.joinParity(joinIn, experts, pg, oi)
    checks ++= joinChecks
    checks ++= Checks.tileParity(store0.table(tables.runDetails), store0.table(tables.preds), brute, oi)
    checks += Checks.oneRowPerExpert(out0, brute)
    if (w.smoothedRerun) {
      val gridRows = Steps.readGrid(spark, grid0)
      val lattice = brute.pred.values.flatten.map(p => (p(0), p(1))).toSet.size
      checks += Check("gridio.round_trip", gridRows == lattice && out0.field.length == lattice,
        s"grid rows $gridRows, glued rows ${out0.field.length}, prediction locations $lattice")
    }
    val rmse = Checks.rmse(out0.field)
    checks += Check("field.rmse_ceiling", rmse <= w.rmseCeiling, s"rmse $rmse > ceiling ${w.rmseCeiling}")
    val checksS = secondsSince(checksT0)

    // ---- traced passes (per-layer metrics)
    val untracedMedian = Stats.median(passS.toSeq)
    val layer: Seq[(String, Double, String)] =
      if (!traced) Nil
      else {
        val runs = (1 to 2).map { j =>
          val (store, grid) = freshStore(100 + j)
          val tr = new Tracer(spark, log)
          val g0 = Stats.gcSeconds()
          val (counts, wall) = timed(Passes.traced(spark, w, docs, store, grid, tr))
          val m = Layers.metrics(tr, counts, wall, Stats.gcSeconds() - g0, untracedMedian, store,
            Paths.get(work, s"pass${100 + j}", "grid.zarr"), tables.runDetails, oi, cores)
          outs += Checks.passOutput(store, tables, oi)
          deleteTree(Paths.get(work, s"pass${100 + j}"))
          m
        }
        val soloWindows =
          if (w == Workloads.fitSkewed) Checks.soloSample(brute)
          else {
            val sk = Workloads.fitSkewed
            val skDocs = Inputs.docs(spark, sk, seed)
            val b = Steps.bin(Steps.project(skDocs, sk.cfg), sk.cfg)
            val s = Checks.soloSample(Checks.joinParity(b, GpSatPipeline.experts(spark, b, sk.cfg),
              GpSatPipeline.predGrid(spark, sk.cfg), sk.cfg.oi)._2)
            skDocs.unpersist()
            s
          }
        val soloS = (1 to 3).map(_ => SoloFit.seconds(soloWindows, Workloads.fitSkewed.cfg.oi))
        val solo = ("gp.solo_tiles_per_s", soloWindows.length / Stats.median(soloS), "tiles/s")
        runs.head.map { case (k, _, unit) => (k, Stats.median(runs.map(_.find(_._1 == k).get._2)), unit) } :+ solo
      }

    // ---- result; every pass, traced ones included, must leave the same output
    val distinct = outs.map(_.fingerprint).distinct
    checks += Check("passes.same_output", distinct.length == 1,
      s"${distinct.length} distinct output fingerprints over ${outs.length} passes")
    val correct = checks.forall(_.ok)
    val timedOuts = outs.slice(1, 1 + passS.length)
    val attempted = timedOuts.map(_.tiles).sum
    val failedTiles = if (correct) timedOuts.map(_.failed).sum else attempted
    val (steal1, total1) = Host.cpuJiffies()
    val host = Seq(
      "steal_pct" -> (if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0),
      "load_avg_start" -> load0, "load_avg_end" -> Host.loadAvg(),
      "jvm_gc_s" -> (Stats.gcSeconds() - gc0), "old_gen_peak_mb" -> Host.oldGenPeakMb(), "cores" -> cores.toDouble,
      "passes" -> passS.length.toDouble, "pass_s_min" -> passS.min, "pass_s_max" -> passS.max,
      "warm_pass_s" -> warmS, "checks_s" -> checksS, "session_s" -> sessionS, "input_gen_s" -> Stats.median(genS))
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("tiles_per_s", Stats.median(tilesPerS.toSeq), "tiles/s"),
      ("field_rmse", rmse, "z"),
      ("peak_rss_mb", Host.peakRssMb(), "MB"),
      ("tiles_ok_frac", 1.0 - failedTiles.toDouble / math.max(1L, attempted), "ratio"))
    val metrics = if (traced) layer else endToEnd
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
    def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val json = new StringBuilder("{")
    json ++= s""""correct":$correct,"attempted":$attempted,"failed":$failedTiles,"metrics":{"""
    json ++= metrics.map { case (k, v, u) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }.mkString(",")
    json ++= """},"host":{""" + host.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString(",") + "}"
    json ++= ""","checks":[""" + checks.map(c =>
      s"""{"name":${str(c.name)},"ok":${c.ok},"detail":${str(c.detail)}}""").mkString(",") + "]}"
    spark.stop()
    Files.write(Paths.get(resultFile), json.toString.getBytes("UTF-8"))
    if (!correct) sys.exit(1)
  }
}
