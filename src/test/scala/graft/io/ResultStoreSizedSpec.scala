package graft.io

import graft.SparkTestBase
import graft.plans.{LocalExpertOI, TileResult}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** `ResultStore.sized`, the output-sizing rule of every pipeline write. */
class ResultStoreSizedSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(): String = Files.createTempDirectory("store_sized_").toString

  private def parquetFiles(root: String, table: String): Int = {
    val s = Files.list(Paths.get(root, table))
    try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")) finally s.close()
  }

  test("a materialised small cache is committed as one file") {
    val df = spark.range(0, 10000, 1, 8).selectExpr("id", "id * 0.5 AS v").persist()
    try {
      df.count()
      val root = tmp()
      val store = new ResultStore(spark, root)
      store.overwrite("plain", df)
      store.overwrite("sized", ResultStore.sized(df))
      assert(parquetFiles(root, "plain") === 8, "plain writes keep the layout they are given")
      assert(parquetFiles(root, "sized") === 1)
      assert(store.snapshots().last.files.map(_.rows) === Seq(10000L))
    } finally df.unpersist()
  }

  test("a frame estimated above the target gets ceil(bytes / target) files, never more partitions") {
    // a range estimates 8 bytes per row
    val big = spark.range(0L, 1L << 30, 1, 4).toDF() // 8 GiB: 64 files > 4 partitions
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes > ResultStore.TargetFileBytes)
    assert(ResultStore.sized(big).rdd.getNumPartitions === 4)
    val mid = spark.range(0L, 40000000L, 1, 8).toDF() // 320 MB: 3 files
    assert(ResultStore.sized(mid).rdd.getNumPartitions === 3)
  }

  test("run_details written through sized keeps every row's partition_id") {
    import spark.implicits._
    val tiles = (0 until 40).map(i => TileResult(i.toDouble, 0.0, 18326.0, 10, 0.1, 1.0,
      parameters_optimised = true, optimise_success = true, "GraftGPR", "cpu", 0,
      Seq(1.0, 1.0, 1.0), 0.1, 0.01, Seq.empty))
    val results = spark.createDataset(tiles).repartition(4).persist()
    try {
      results.count()
      def ids(df: org.apache.spark.sql.DataFrame): Set[(Double, Int)] =
        df.select("x", "partition_id").collect().map(r => (r.getDouble(0), r.getInt(1))).toSet
      val expected = ids(LocalExpertOI.runDetails(results))
      assert(expected.map(_._2).size === 4)
      val root = tmp()
      val store = new ResultStore(spark, root)
      store.append("run_details", ResultStore.sized(LocalExpertOI.runDetails(results)))
      assert(parquetFiles(root, "run_details") === 1)
      assert(ids(store.table("run_details")) === expected)
    } finally results.unpersist()
  }
}
