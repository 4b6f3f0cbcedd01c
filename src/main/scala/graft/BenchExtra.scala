package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness (guide §1): times individual
  * catalog queries in isolation with the SAME action as the frozen
  * [[Bench]] (`.count()`), plus optional noop-sink timing (every column
  * materialized, §1.4) and `.explain("formatted")` dumps for the plan
  * evidence files under plans/r06/.
  *
  * Bench.scala itself is frozen for measurement; this separate main exists
  * so per-query iteration never touches the driver contract.
  *
  * Env:
  *   SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS     core count (default 32)
  *   SPARK_GRAFT_QUERIES  comma-separated query names (default: all)
  *   SPARK_GRAFT_REPS     timed reps per query after 1 warmup (default 2)
  *   SPARK_GRAFT_NOOP     "1" = also time a noop-sink write per query
  *   SPARK_GRAFT_PLANDIR  if set, write <q>.txt explain dumps there
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", (cpus.toInt * 8).toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "48g"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(spark)

    // optional per-job breakdown: prints one line per Spark job with its
    // wall time and stage/task counts, to attribute a query's seconds to
    // jobs vs driver-side gaps (planning/codegen/collect)
    if (sys.env.get("SPARK_GRAFT_JOBLOG").contains("1")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, Int, String)]()
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(js.jobId, (System.nanoTime(),
            js.stageInfos.length, js.stageInfos.map(_.numTasks).sum,
            js.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString(" | ").take(160)))
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = starts.remove(je.jobId)
          if (s != null)
            println(f"JOB ${je.jobId}%4d ${(System.nanoTime() - s._1) / 1e9}%7.3f s stages=${s._2}%2d tasks=${s._3}%4d  ${s._4}")
        }
      })
    }

    // optional operator scale-stress: the optimization round's changed
    // operators on a ~20x corpus (documents replicated with perturbed
    // text / shifted ids; embeddings likewise), timing each operator's
    // count. Run against both this round's code and the r05 worktree for
    // the before/after scaling evidence in OPTIMIZATION_r06.md.
    if (sys.env.get("SPARK_GRAFT_SCALE").contains("1")) {
      import org.apache.spark.sql.functions._
      val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "20").toInt
      val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val docsBig = (0 until mult).map { i =>
        docs0.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
          .withColumn("text",
            if (i == 0) col("text") else concat(lit(s"rep$i marker "), col("text")))
      }.reduce(_ unionByName _).repartition(64).localCheckpoint()
      val embBig = (0 until mult).map { i =>
        emb0.withColumn("vec_id", col("vec_id") + lit(i.toLong * 10000000L))
      }.reduce(_ unionByName _).repartition(64).localCheckpoint()
      println(s"SCALE docs=${docsBig.count()} embeddings=${embBig.count()}")
      def t(label: String)(body: => Long): Unit = {
        val t0 = System.nanoTime()
        val n = body
        println(f"SCALE $label ${(System.nanoTime() - t0) / 1e9}%8.3f s rows=$n")
      }
      (1 to 2).foreach { _ =>
        t("trigram_lm")(graft.operators.TextAnalysis.trigramLmScore(
          docsBig, "doc_id", "text", sampleFilter = col("doc_id") % 10 === 0).count())
        t("decontaminate")(graft.operators.Decontaminate.contaminatedIds(
          docsBig, docsBig.filter(col("doc_id") % 37 === 0), "doc_id", "text", n = 3).count())
        t("ngram_jaccard")(graft.operators.Dedup.ngramJaccardPairs(
          docsBig.filter(col("doc_id") % 1000 < 10), "doc_id", "text",
          n = 1, threshold = 0.8, maxNgramFreq = 100000).count())
        t("ivfpq_residual_topk")(graft.operators.SimilaritySearch.ivfPqTopK(
          embBig, embBig.filter(col("vec_id") < 3), "vec_id", "embedding", "vec_id",
          k = 3, nlist = 8, nprobe = 4, m = 8, ksub = 16, residual = true).count())
        t("sq8_topk")(graft.operators.SimilaritySearch.sqTopK(
          embBig, embBig.filter(col("vec_id") < 3), "vec_id", "embedding", "vec_id",
          k = 3).count())
        t("connected_components_1m")({
          val ids = spark.range(1000000L)
          val pairs = ids.select(col("id").as("idA"), (col("id") + 7).as("idB"))
            .filter(col("idA") % 50 < 43)
          graft.operators.Dedup.connectedComponents(pairs).count()
        })
        t("zarr_cube_write_read")({
          val nT = 9 * mult
          val cube = spark.range(nT).select(col("id").cast("double").as("t"))
            .crossJoin(spark.range(40).select((col("id") * 40000.0 - 800000.0).as("y")))
            .crossJoin(spark.range(40).select((col("id") * 40000.0 - 800000.0).as("x")))
            .withColumn("z_mean", col("t") * 1e-3 + col("x") * 1e-9 + col("y") * 1e-9)
          val tmp = java.nio.file.Files.createTempDirectory("graft_scale_").toString + "/cube.zarr"
          graft.sources.ZarrGrid.writeGridNdDistributed(cube, tmp, Seq("t", "y", "x"), Seq("z_mean"))
          graft.core.ConfigExpr.load(spark, graft.core.ConfigExpr.DataConfig(
            source = tmp, colSelect = Seq("t", "x", "y", "z_mean"))).count()
        })
      }
      spark.stop()
      return
    }

    // optional synthesis decomposition: times synthesize / extractObs /
    // bin separately over the bench's 6M-doc obs table
    if (sys.env.get("SPARK_GRAFT_SYNTH").contains("1")) {
      val liRows = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      val n = liRows * 10
      def t(label: String)(body: => Unit): Unit = {
        val t0 = System.nanoTime()
        body
        println(f"SYNTH $label ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      }
      (1 to 2).foreach { _ =>
        t("synthesize")(graft.sources.ObsDocs.synthesize(spark, n).toDF()
          .write.format("noop").mode("overwrite").save())
        t("synth+extract")(graft.sources.ObsDocs.extractObs(
          graft.sources.ObsDocs.synthesize(spark, n).toDF())
          .write.format("noop").mode("overwrite").save())
        t("binnedObs")({
          val cfg = graft.plans.GpSatPipeline.PipelineConfig(nDocs = n)
          graft.plans.GpSatPipeline.binnedObs(spark, cfg)
            .write.format("noop").mode("overwrite").save()
        })
      }
      spark.stop()
      return
    }

    // optional pipeline phase profile (same config as Bench's headline
    // pipeline run): times binnedObs / fit / sinks / smooth separately
    if (sys.env.get("SPARK_GRAFT_PIPELINE").contains("1")) {
      val liRows = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      val cfg = graft.plans.GpSatPipeline.PipelineConfig(
        nDocs = liRows * 10,
        predSpacing = 25000.0,
        expertRange = (-2100000.0, 2100000.0),
        oi = graft.plans.GpSatPipeline.PipelineConfig().oi.copy(
          maxObsPerTile = 400, maxIter = 50, minObs = 3))
      def t[A](label: String)(body: => A): A = {
        val t0 = System.nanoTime()
        val r = body
        println(f"PHASE $label ${(System.nanoTime() - t0) / 1e9}%7.3f s")
        r
      }
      val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
      (1 to reps).foreach { _ =>
        val dir = java.nio.file.Files.createTempDirectory("graft_bx_").toString
        val store = new graft.io.ResultStore(spark, dir)
        t("runAll_smooth") {
          val binned = t("binnedObs")(
            { val b = graft.plans.GpSatPipeline.binnedObs(spark, cfg).persist(); b.count(); b })
          val el = graft.plans.GpSatPipeline.experts(spark, binned, cfg)
          val pg = graft.plans.GpSatPipeline.predGrid(spark, cfg)
          val results = t("fit")(
            { val r = graft.plans.LocalExpertOI.run(spark, binned, el, pg, cfg.oi); r.count(); r })
          t("counts") {
            results.filter(_.num_obs < cfg.oi.minObs).count()
            results.toDF().select(org.apache.spark.sql.functions.explode(
              org.apache.spark.sql.functions.col("preds"))).count()
          }
          t("sinks") {
            store.append("run_details", graft.io.ResultStore.sized(graft.plans.LocalExpertOI.runDetails(results)))
            store.append("preds", graft.io.ResultStore.sized(graft.plans.LocalExpertOI.preds(results)))
            store.append("lengthscales", graft.io.ResultStore.sized(graft.plans.LocalExpertOI.lengthscales(results)))
            store.append("kernel_variance", graft.io.ResultStore.sized(graft.plans.LocalExpertOI.kernelVariance(results)))
            store.append("likelihood_variance", graft.io.ResultStore.sized(graft.plans.LocalExpertOI.likelihoodVariance(results)))
          }
          results.unpersist()
          t("smooth")(graft.plans.GpSatPipeline.smoothAndRerun(spark, store, binned, pg, cfg))
          binned.unpersist()
        }
      }
      spark.stop()
      return
    }

    val wanted = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val noop = sys.env.get("SPARK_GRAFT_NOOP").contains("1")
    val planDir = sys.env.get("SPARK_GRAFT_PLANDIR")
    planDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))

    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.forall(_.contains(n)) }
    val out = new StringBuilder("{")
    qs.zipWithIndex.foreach { case ((name, fn), qi) =>
      spark.sparkContext.setJobDescription(name)
      planDir.foreach { d =>
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(java.nio.file.Paths.get(d, s"$name.txt"),
          plan.getBytes("UTF-8"))
      }
      def once(): Double = {
        val t0 = System.nanoTime()
        try {
          if (noop) fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          else fn(spark, sfDir).count()
        } catch { case e: Throwable => println(s"ERR $name: ${e.getMessage}") }
        (System.nanoTime() - t0) / 1e9
      }
      val warm = once()
      val times = (1 to reps).map(_ => once())
      val best = (warm +: times).min
      println(f"TIMING $name warm=$warm%.3f reps=${times.map(t => f"$t%.3f").mkString("/")} best=$best%.3f")
      if (qi > 0) out.append(",")
      out.append("\"").append(name).append("\":").append(f"$best%.3f")
      spark.sparkContext.setJobDescription(null)
    }
    out.append("}")
    println("EXTRA_JSON " + out)
    spark.stop()
  }
}
