package graft

import graft.core.ConfigExpr
import graft.core.ConfigExpr.{DataConfig, Where}
import graft.operators.{Binning, SpatialJoin}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Physical-plan shape assertions — the BENCH.md "plan quality" claims as
  * enforced tests: filters reach the parquet scan, the observation side of
  * the radius join is never hash-shuffled, and binning is exactly one
  * exchange.
  */
class PlanSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def countOf(hay: String, needle: String): Int =
    needle.r.findAllIn(hay).size

  test("ConfigExpr.load where pushes into the parquet scan; col_select prunes ReadSchema") {
    val dir = Files.createTempDirectory("graft_plan_").toString
    Seq((1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c"))
      .toDF("id", "v", "g").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = ConfigExpr.load(spark, DataConfig(
      source = s"$dir/t.parquet",
      where = Seq(Where("v", ">=", 20.0)),
      colSelect = Seq("id", "v")))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThanOrEqual(v,20.0"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:int,v:double>"),
      s"column pruning failed (g must not be read):\n$plan")
  }

  test("radius join broadcast path: the big (left/observation) side is never hash-shuffled") {
    val obs = Seq.tabulate(500)(i => (i * 997.0 % 100000, i * 31.0 % 100000, 18326.0, 0.1))
      .toDF("x", "y", "t", "z")
    val experts = Seq((0.0, 0.0, 18326.0), (50000.0, 50000.0, 18326.0)).toDF("x", "y", "t")
    val joined = SpatialJoin.radiusJoin(obs, experts,
      SpatialJoin.RadiusJoinConfig(radius = 30000.0))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(countOf(plan, "Exchange hashpartitioning") === 0,
      s"observation side must not shuffle:\n$plan")
  }

  test("flagship OI plan: both radius joins broadcast; only the two cogroup-side shuffles") {
    import graft.plans.{LocalExpertOI, OIConfig}
    val obs = Seq.tabulate(500)(i => (i * 997.0 % 400000, i * 31.0 % 400000, 18326.0, 0.1))
      .toDF("x", "y", "t", "z")
    val experts = Seq((100000.0, 100000.0, 18326.0), (300000.0, 300000.0, 18326.0))
      .toDF("x", "y", "t")
    val pg = Seq((100000.0, 100000.0), (300000.0, 300000.0)).toDF("x", "y")
    val results = LocalExpertOI.run(spark, obs, experts, pg, OIConfig(maxIter = 5))
    val plan = results.queryExecution.executedPlan.toString
    results.unpersist()
    assert(countOf(plan, "BroadcastHashJoin") >= 2,
      s"train + pred radius joins must both broadcast the expert side:\n$plan")
    // the ONLY hash shuffles are the cogroup's two keyed sides (train and
    // pred+marker union) — the observation stream itself is never
    // re-partitioned before the per-tile gather
    assert(countOf(plan, "Exchange hashpartitioning") <= 2,
      s"unexpected extra shuffle in the OI plan:\n$plan")
  }

  test("binning is one shuffle: partial -> Exchange -> final HashAggregate") {
    val obs = Seq.tabulate(200)(i => (i * 13.0 % 100, i * 7.0 % 100, i * 0.5)).toDF("x", "y", "z")
    val binned = Binning.binDataBy(obs, Binning.BinConfig(
      valCol = "z", gridRes = 10.0, xRange = (0.0, 100.0), yRange = (0.0, 100.0)))
    val plan = binned.queryExecution.executedPlan.toString
    assert(countOf(plan, "Exchange hashpartitioning") === 1, s"expected ONE exchange:\n$plan")
    assert(countOf(plan, "HashAggregate") >= 2, "partial + final aggregate expected")
  }
}
