package graft.io

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot manifests, time travel, and rollback — the Iceberg-analog
  * semantics of the parquet + `_snapshots.jsonl` store.
  */
class ResultStoreSnapshotSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("store_snap_").toString

  test("append snapshots carry file manifests with footer row counts") {
    import spark.implicits._
    val store = new ResultStore(spark, tmp())
    val s0 = store.append("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val s1 = store.append("t", Seq((3L, "c")).toDF("id", "v"))
    assert(s0 === 0L && s1 === 1L)
    val snaps = store.snapshots()
    assert(snaps.map(_.id) === Seq(0L, 1L))
    assert(snaps.forall(_.table == "t"))
    assert(snaps(0).files.nonEmpty && snaps(1).files.nonEmpty)
    // per-file rows come from parquet footers; sum = batch row count
    assert(snaps(0).files.map(_.rows).sum === 2L)
    assert(snaps(1).files.map(_.rows).sum === 1L)
    assert(snaps.flatMap(_.files).forall(_.bytes > 0L))
    // manifests are disjoint: each snapshot records only ITS files
    val names0 = snaps(0).files.map(_.name).toSet
    assert(snaps(1).files.map(_.name).forall(!names0.contains(_)))
  }

  test("tableAsOf reads the table as of each snapshot (VERSION AS OF analog)") {
    import spark.implicits._
    val store = new ResultStore(spark, tmp())
    val s0 = store.append("t", Seq((1L, "a")).toDF("id", "v"))
    val s1 = store.append("t", Seq((2L, "b"), (3L, "c")).toDF("id", "v"))
    val s2 = store.append("t", Seq((4L, "d")).toDF("id", "v"))
    assert(store.tableAsOf("t", s0).collect().map(_.getLong(0)).toSet === Set(1L))
    assert(store.tableAsOf("t", s1).collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    assert(store.tableAsOf("t", s2).collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
    // current read == latest snapshot
    assert(store.table("t").count() === 4L)
  }

  test("overwrite resets the manifest chain; older snapshots expire loudly") {
    import spark.implicits._
    val store = new ResultStore(spark, tmp())
    val s0 = store.append("t", Seq((1L, "a")).toDF("id", "v"))
    val s1 = store.overwrite("t", Seq((9L, "z")).toDF("id", "v"))
    assert(store.tableAsOf("t", s1).collect().map(_.getLong(0)).toSet === Set(9L))
    // the overwrite physically removed snapshot 0's files — Iceberg's
    // expired-snapshot failure mode, raised loudly rather than mis-read
    val e = intercept[IllegalArgumentException](store.tableAsOf("t", s0).collect())
    assert(e.getMessage.contains("expired"))
  }

  test("rollback deletes newer files so a plain read equals the target snapshot") {
    import spark.implicits._
    val store = new ResultStore(spark, tmp())
    val s0 = store.append("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    store.append("t", Seq((3L, "c")).toDF("id", "v"))
    store.append("t", Seq((4L, "d")).toDF("id", "v"))
    assert(store.table("t").count() === 4L)
    store.rollback("t", s0)
    assert(store.table("t").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(store.tableAsOf("t", s0).collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    val rb = store.snapshots().last
    assert(rb.mode === "rollback" && rb.info("rolled_back_to") === s0.toString)
    // snapshots per table interleave safely: another table is untouched
    store.append("u", Seq((7L, "x")).toDF("id", "v"))
    assert(store.table("u").count() === 1L)
  }
  test("time travel works past a rollback; rollback to an expired target refuses") {
    import spark.implicits._
    val store = new ResultStore(spark, tmp())
    val s0 = store.append("t", Seq((1L, "a")).toDF("id", "v"))
    store.append("t", Seq((2L, "b")).toDF("id", "v"))
    val rb = store.rollback("t", s0) // deletes batch 2's files
    val s3 = store.append("t", Seq((3L, "c")).toDF("id", "v"))
    // AS OF the post-rollback append: restored set + new batch — the
    // rollback manifest resets the chain, the deleted files never replay
    assert(store.tableAsOf("t", s3).collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    assert(store.tableAsOf("t", rb).collect().map(_.getLong(0)).toSet === Set(1L))
    // overwrite physically removes everything older; rolling back to a
    // pre-overwrite snapshot must REFUSE (not delete the live files)
    store.overwrite("t", Seq((9L, "z")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException](store.rollback("t", s0))
    assert(e.getMessage.contains("expired"))
    assert(store.table("t").collect().map(_.getLong(0)).toSet === Set(9L))
  }

  test("snapshot log survives hostile run-info values (JSON escaping)") {
    import spark.implicits._
    val store = new ResultStore(spark, tmp())
    store.append("t", Seq((1L, "a")).toDF("id", "v"),
      Map("path" -> "C:\\tmp\\x.h5", "note" -> "line1\nline2\t\"quoted\""))
    val snap = store.snapshots().last
    assert(snap.info("path") === "C:\\tmp\\x.h5")
    assert(snap.info("note") === "line1\nline2\t\"quoted\"")
    // and the log still parses for the NEXT commit
    store.append("t", Seq((2L, "b")).toDF("id", "v"))
    assert(store.snapshots().length === 2)
  }

  test("compact bin-packs files losslessly; time travel resets to the new manifest") {
    import spark.implicits._
    val store = new ResultStore(spark, tmp())
    val rows = (0 until 200).map(i => (i.toLong, s"v$i"))
    val s0 = store.append("t", rows.take(80).toDF("id", "v").repartition(4))
    store.append("t", rows.slice(80, 150).toDF("id", "v").repartition(4))
    store.append("t", rows.drop(150).toDF("id", "v").repartition(4))
    val filesBefore = store.snapshots().flatMap(_.files).map(_.name).toSet
    assert(filesBefore.size >= 12)
    val cid = store.compact("t") // default target >> data: one output file
    // rows unchanged, file count collapsed
    assert(store.table("t").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === rows.toSet)
    val cSnap = store.snapshots().last
    assert(cSnap.mode === "compact" && cSnap.id === cid)
    assert(cSnap.files.size === 1)
    assert(cSnap.files.map(_.rows).sum === 200L)
    assert(cSnap.info("files_before").toInt >= 12)
    // time travel to the compaction = full table, from the NEW manifest
    assert(store.tableAsOf("t", cid).count() === 200L)
    // pre-compaction snapshots expired loudly (their files are gone)
    val e = intercept[IllegalArgumentException](store.tableAsOf("t", s0).count())
    assert(e.getMessage.contains("expired"))
    // appends continue on top of the compacted snapshot
    store.append("t", Seq((999L, "z")).toDF("id", "v"))
    assert(store.table("t").count() === 201L)
  }

  private def logLine(id: Option[Long]): String =
    "{" + id.fold("")(i => s""""snapshot_id":"$i",""") +
      """"table":"t","mode":"append","ts_ms":"1","wall_ms":"0","files":[]}"""

  private def writeLog(dir: String, lines: Seq[String]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_snapshots.jsonl"),
      lines.map(_ + "\n").mkString.getBytes)

  test("snapshot ids continue across ResultStore instances on one root") {
    import spark.implicits._
    val dir = tmp()
    val df = Seq((1L, "a")).toDF("id", "v")
    assert(new ResultStore(spark, dir).append("t", df) === 0L)
    assert(new ResultStore(spark, dir).append("t", df) === 1L)
    assert(new ResultStore(spark, dir).overwrite("u", df) === 2L)
    assert(new ResultStore(spark, dir).snapshots().map(_.id) === Seq(0L, 1L, 2L))
  }

  test("snapshot ids continue after a legacy line without snapshot_id") {
    import spark.implicits._
    val dir = tmp()
    // legacy lines are numbered by their index among non-empty lines
    writeLog(dir, Seq(logLine(Some(0L)), logLine(Some(1L)), logLine(None), ""))
    val store = new ResultStore(spark, dir)
    assert(store.append("t", Seq((1L, "a")).toDF("id", "v")) === 3L)
    assert(store.append("t", Seq((2L, "b")).toDF("id", "v")) === 4L)
    assert(store.snapshots().map(_.id) === Seq(0L, 1L, 2L, 3L, 4L))
  }
}
