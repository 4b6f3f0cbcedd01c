package graft.plans

import graft.SparkTestBase
import graft.io.ResultStore
import graft.operators.Postprocess
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** `GpSatPipeline.smoothAndRerun` on a store of hand-built hyperparameter
  * tables: a NaN kernel-variance target, values above both variance clamps,
  * and one expert missing from likelihood_variance.
  */
class SmoothAndRerunSpec extends AnyFunSuite with SparkTestBase {

  private val cfg = GpSatPipeline.PipelineConfig()
  private val t0 = 18326.0
  private val experts = for (x <- Seq(-200000.0, 0.0, 200000.0); y <- Seq(-200000.0, 0.0, 200000.0))
    yield (x, y)
  private val missingLv = (200000.0, 200000.0)

  /** Writes the three fitted-hyperparameter tables and returns the store. */
  private def storeWithParams(): (ResultStore, String) = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_smooth_").toString
    val store = new ResultStore(spark, dir)
    val ls = for (((x, y), i) <- experts.zipWithIndex; d <- 0 until 3)
      yield (x, y, t0, d, Array(3.0, 3.5, 2.0)(d) + 0.2 * i)
    store.append("lengthscales", ls.toDF("x", "y", "t", "_dim_0", "lengthscales"))
    // NaN target at the centre; 0.25 and 0.6 sit above the 0.1 clamp
    val kv = Seq(0.05, 0.08, 0.25, 0.06, Double.NaN, 0.6, 0.04, 0.09, 0.07)
    store.append("kernel_variance", experts.zip(kv).map { case ((x, y), v) => (x, y, t0, v) }
      .toDF("x", "y", "t", "kernel_variance"))
    // 0.45 and 0.9 sit above the 0.3 clamp
    val lv = Seq(0.01, 0.45, 0.02, 0.015, 0.9, 0.03, 0.012, 0.02, 0.05)
    store.append("likelihood_variance", experts.zip(lv).filterNot(_._1 == missingLv)
      .map { case ((x, y), v) => (x, y, t0, v) }.toDF("x", "y", "t", "likelihood_variance"))
    (store, dir)
  }

  private def obs(): DataFrame = {
    import spark.implicits._
    val rows = for (i <- -6 to 6; j <- -6 to 6; t <- Seq(t0 - 1, t0)) yield {
      val (x, y) = (i * 50000.0, j * 50000.0)
      (x, y, t, 0.1 * math.sin(x / 150000.0) + 0.05 * math.cos(y / 100000.0) + 0.001 * (t - t0))
    }
    rows.toDF("x", "y", "t", "z")
  }

  private def predGrid(): DataFrame = {
    import spark.implicits._
    (for (i <- -3 to 3; j <- -3 to 3) yield (i * 100000.0, j * 100000.0)).toDF("x", "y")
  }

  /** Rows keyed by every column but the last, which holds the value. */
  private def keyed(df: DataFrame): Map[Seq[Any], Double] =
    df.collect().map(r => r.toSeq.init -> r.getDouble(r.length - 1)).toMap

  test("smoothed tables equal three per-field smoothings; an incomplete expert gets no rerun row") {
    val (store, _) = storeWithParams()
    GpSatPipeline.smoothAndRerun(spark, store, obs(), predGrid(), cfg)

    val l = cfg.smoothLengthscale
    val expected = Seq(
      "lengthscales" -> Postprocess.SmoothConfig("lengthscales", otherDims = Seq("t", "_dim_0"),
        lX = l, lY = l),
      "kernel_variance" -> Postprocess.SmoothConfig("kernel_variance", otherDims = Seq("t"),
        lX = l, lY = l, maxVal = Some(0.1)),
      "likelihood_variance" -> Postprocess.SmoothConfig("likelihood_variance", otherDims = Seq("t"),
        lX = l, lY = l, maxVal = Some(0.3)))
    expected.foreach { case (f, sc) =>
      val want = Postprocess.smoothHyperparameters(store.table(f), sc)
      val got = store.table(f + "_SMOOTHED")
      assert(got.columns.toSeq === want.columns.toSeq, f)
      val (w, g) = (keyed(want), keyed(got))
      assert(g.keySet === w.keySet, f)
      w.foreach { case (k, v) =>
        assert(math.abs(g(k) - v) <= 1e-12 * math.max(math.abs(v), math.abs(g(k))),
          s"$f at $k: ${g(k)} vs $v")
      }
    }
    // the clamps bite and the NaN target is filled from its neighbours
    assert(keyed(store.table("kernel_variance_SMOOTHED")).values.forall(v => !v.isNaN && v <= 0.1))
    assert(keyed(store.table("kernel_variance_SMOOTHED")).size === experts.size)

    val rerunExperts = store.table("run_details_SMOOTHED").select("x", "y").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(rerunExperts === experts.toSet - missingLv)
    assert(store.table("preds_SMOOTHED").filter(col("x") === missingLv._1 && col("y") === missingLv._2)
      .count() === 0)
    assert(store.table("preds_glued").count() > 0)
  }

  test("each smoothed-rerun table is committed as one parquet file") {
    val (store, dir) = storeWithParams()
    GpSatPipeline.smoothAndRerun(spark, store, obs(), predGrid(), cfg)
    val tables = Seq("lengthscales_SMOOTHED", "kernel_variance_SMOOTHED", "likelihood_variance_SMOOTHED",
      "preds_SMOOTHED", "run_details_SMOOTHED", "preds_glued")
    tables.foreach { t =>
      val s = Files.list(Paths.get(dir, t))
      val files = try s.iterator().asScala.map(_.getFileName.toString).count(_.endsWith(".parquet"))
        finally s.close()
      assert(files === 1, t)
    }
  }

  /** Cached RDDs, without the local checkpoints smoothHyperparameters keeps. */
  private def cachedRdds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.filterNot(_._2.isCheckpointed).keySet.toSet

  test("smoothAndRerun releases what it caches, also when the rerun fails") {
    val before = cachedRdds()
    val (store, _) = storeWithParams()
    GpSatPipeline.smoothAndRerun(spark, store, obs(), predGrid(), cfg)
    assert(cachedRdds() === before)
    // no observation column: the rerun fails after both caches are filled
    intercept[Exception](GpSatPipeline.smoothAndRerun(spark, store, obs().drop("z"), predGrid(), cfg))
    assert(cachedRdds() === before)
  }
}
