package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Result-table catalog with snapshot-append semantics — the engine's
  * checkpoint store (reference: one HDF5 file of named tables with buffered
  * appends, GPSat/dataloader.py:644-704, local_experts.py:499-550).
  *
  * Locally this is a directory of parquet tables plus a `_snapshots.jsonl`
  * lineage log (one line per append: table, batch id, rows, wall time,
  * run-info). On a production cluster the same call sites bind 1:1 to
  * Iceberg (`df.writeTo(tbl).append()`, snapshot summary = run-info);
  * nothing upstream depends on the storage engine — resume is a left-anti
  * join against the `run_details` TABLE, not against files.
  *
  * Output sizing is one rule, [[ResultStore.sized]], which every pipeline
  * write goes through; `append`/`overwrite` themselves write the layout they
  * are given.
  */
final class ResultStore(spark: SparkSession, root: String) {
  Files.createDirectories(Paths.get(root))

  private def path(table: String) = s"$root/$table"

  def exists(table: String): Boolean = Files.exists(Paths.get(path(table), "_SUCCESS"))

  def table(name: String): DataFrame = spark.read.parquet(path(name))

  /** One data file of a snapshot's manifest: name relative to the table
    * dir, size, and the parquet footer's row count (read driver-side from
    * metadata only — no Spark job, the Iceberg-manifest analog of
    * per-file record counts).
    */
  final case class ManifestFile(name: String, bytes: Long, rows: Long)

  /** One line of `_snapshots.jsonl`: a committed snapshot with its file
    * manifest (`files` = the data files THIS snapshot added) and run-info.
    */
  final case class Snapshot(id: Long, table: String, mode: String, tsMs: Long,
                            wallMs: Long, files: Seq[ManifestFile],
                            info: Map[String, String])

  private def dataFiles(name: String): Set[String] = {
    val d = Paths.get(path(name))
    if (!Files.exists(d)) Set.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(f => f.endsWith(".parquet") && !f.startsWith(".") && !f.startsWith("_"))
        .toSet
      finally s.close()
    }
  }

  private def footerRows(file: java.nio.file.Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri),
      spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** All committed snapshots, oldest first (empty log = none). Lines
    * predating file manifests parse with an empty `files` list.
    */
  def snapshots(): Seq[Snapshot] = {
    val log = Paths.get(root, "_snapshots.jsonl")
    if (!Files.exists(log)) return Seq.empty
    implicit val fmts: Formats = DefaultFormats
    Files.readAllLines(log).asScala.toSeq.filter(_.nonEmpty).zipWithIndex.map {
      case (line, i) =>
        val j = JsonMethods.parse(line)
        val known = Set("snapshot_id", "table", "mode", "ts_ms", "wall_ms", "files")
        val info = j match {
          case JObject(fs) => fs.collect {
            case (k, JString(v)) if !known.contains(k) => k -> v
          }.toMap
          case _ => Map.empty[String, String]
        }
        Snapshot(
          id = (j \ "snapshot_id").extractOpt[String].map(_.toLong).getOrElse(i.toLong),
          table = (j \ "table").extract[String],
          mode = (j \ "mode").extractOpt[String].getOrElse("append"),
          tsMs = (j \ "ts_ms").extract[String].toLong,
          wallMs = (j \ "wall_ms").extract[String].toLong,
          files = (j \ "files") match {
            case JArray(fs) => fs.map { f =>
              ManifestFile((f \ "name").extract[String],
                (f \ "bytes").extract[Long], (f \ "rows").extract[Long])
            }
            case _ => Nil
          },
          info = info)
    }
  }

  /** Full JSON string escaping — one unescaped backslash or newline in a
    * run-info value would otherwise corrupt the line and brick every
    * later `snapshots()` parse.
    */
  private def jsonEscape(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  private def logSnapshot(name: String, mode: String, t0: Long,
                          files: Seq[ManifestFile],
                          runInfo: Map[String, String]): Long = {
    val id = snapshots().lastOption.map(_.id + 1).getOrElse(0L)
    val kv = (runInfo ++ Map(
      "snapshot_id" -> id.toString,
      "table" -> name,
      "mode" -> mode,
      "ts_ms" -> t0.toString,
      "wall_ms" -> (System.currentTimeMillis() - t0).toString)).map {
      case (k, v) => s""""${jsonEscape(k)}":"${jsonEscape(v)}""""
    }.mkString(",")
    val manifest = files.map(f =>
      s"""{"name":"${f.name}","bytes":${f.bytes},"rows":${f.rows}}""").mkString("[", ",", "]")
    Files.write(Paths.get(root, "_snapshots.jsonl"),
      (s"""{$kv,"files":$manifest}""" + "\n").getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    id
  }

  private def manifestOf(name: String, added: Set[String]): Seq[ManifestFile] =
    added.toSeq.sorted.map { f =>
      val p = Paths.get(path(name), f)
      ManifestFile(f, Files.size(p), footerRows(p))
    }

  /** Append a batch (one Iceberg-snapshot analog) with lineage metadata;
    * the committed snapshot records the ADDED parquet files with their
    * sizes and footer row counts. Returns the snapshot id.
    */
  def append(name: String, df: DataFrame, runInfo: Map[String, String] = Map.empty): Long = {
    val t0 = System.currentTimeMillis()
    val before = dataFiles(name)
    df.write.mode(SaveMode.Append).parquet(path(name))
    logSnapshot(name, "append", t0, manifestOf(name, dataFiles(name) -- before), runInfo)
  }

  def overwrite(name: String, df: DataFrame, runInfo: Map[String, String] = Map.empty): Long = {
    val t0 = System.currentTimeMillis()
    df.write.mode(SaveMode.Overwrite).parquet(path(name))
    logSnapshot(name, "overwrite", t0, manifestOf(name, dataFiles(name)), runInfo)
  }

  /** The table's valid data-file set as of snapshot `id` (manifest
    * replay: overwrite/compact/rollback RESET the set — a rollback
    * snapshot's manifest records the full restored file set — appends
    * accumulate).
    */
  private def filesAsOf(name: String, id: Long): Seq[String] = {
    val mine = snapshots().filter(s => s.table == name && s.id <= id)
    require(mine.nonEmpty, s"$name: no snapshot with id <= $id")
    require(mine.forall(_.files.nonEmpty),
      s"$name: snapshots predate file manifests — time travel needs manifested snapshots")
    mine.foldLeft(Seq.empty[String]) { (acc, s) =>
      val names = s.files.map(f => f.name)
      if (s.mode == "append") acc ++ names else names // others reset
    }
  }

  /** Time travel (the Iceberg `VERSION AS OF` analog): read the table as
    * of snapshot `id`. Raises loudly when a required data file no longer
    * exists (expired by a later overwrite/rollback — exactly Iceberg's
    * expired-snapshot failure mode).
    */
  def tableAsOf(name: String, id: Long): DataFrame = {
    val files = filesAsOf(name, id)
    val missing = files.filterNot(f => Files.exists(Paths.get(path(name), f)))
    require(missing.isEmpty,
      s"$name@$id: data files expired by a later overwrite/rollback: ${missing.mkString(", ")}")
    spark.read.parquet(files.map(f => s"${path(name)}/$f"): _*)
  }

  /** Roll the table back to snapshot `id`: data files added after it are
    * DELETED and a `rollback` snapshot records the restored state, so a
    * plain `table(name)` read equals `tableAsOf(name, id)`.
    */
  def rollback(name: String, id: Long): Long = {
    val t0 = System.currentTimeMillis()
    val keepSet = filesAsOf(name, id).toSet
    // refuse BEFORE deleting anything: if the target's files were already
    // physically removed (by a later overwrite/compact/rollback), deleting
    // the current set would leave the table empty — unrecoverable
    val gone = keepSet.filterNot(f => Files.exists(Paths.get(path(name), f)))
    require(gone.isEmpty,
      s"$name@$id: cannot roll back — target snapshot's data files already " +
        s"expired by a later overwrite/compact/rollback: ${gone.mkString(", ")}")
    val drop = dataFiles(name) -- keepSet
    drop.foreach(f => Files.delete(Paths.get(path(name), f)))
    // the manifest records the RESTORED file set, so later time travel
    // replays from this reset point instead of the rolled-back files
    logSnapshot(name, "rollback", t0, manifestOf(name, keepSet),
      Map("rolled_back_to" -> id.toString, "deleted_files" -> drop.size.toString))
  }

  /** Bin-pack compaction (the Iceberg `rewrite_data_files` analog): the
    * small files buffered appends accumulate are rewritten into
    * ~`targetFileBytes` files WITHOUT changing a row, committed as a
    * `compact` snapshot whose manifest RESETS the table's valid file set
    * (overwrite semantics for time travel). Row counts are re-verified
    * from the rewritten parquet footers BEFORE the old files are
    * deleted; a crash mid-rewrite leaves the table untouched (the
    * rewrite lands in a temp dir). Old files are removed, so traveling
    * to a pre-compaction snapshot raises the documented expired-snapshot
    * error — exactly Iceberg's expire behavior.
    */
  def compact(name: String, targetFileBytes: Long = ResultStore.TargetFileBytes,
              runInfo: Map[String, String] = Map.empty): Long = {
    val t0 = System.currentTimeMillis()
    val before = dataFiles(name)
    require(before.nonEmpty, s"$name: nothing to compact")
    val beforePaths = before.toSeq.sorted.map(f => Paths.get(path(name), f))
    val totalBytes = beforePaths.map(Files.size).sum
    val rowsBefore = beforePaths.map(footerRows).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val tmp = path(name) + ".compact_tmp"
    table(name).coalesce(n).write.mode(SaveMode.Overwrite).parquet(tmp)
    val newNames = {
      val s = Files.list(Paths.get(tmp))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(f => f.endsWith(".parquet") && !f.startsWith(".") && !f.startsWith("_"))
        .toSeq.sorted
      finally s.close()
    }
    val rowsAfter = newNames.map(f => footerRows(Paths.get(tmp, f))).sum
    require(rowsAfter == rowsBefore,
      s"$name: compaction row count $rowsAfter != $rowsBefore — aborting, table untouched")
    // commit: move rewritten files in (task-UUID names never collide),
    // drop the old set, clean the temp dir
    newNames.foreach(f => Files.move(Paths.get(tmp, f), Paths.get(path(name), f)))
    before.foreach(f => Files.delete(Paths.get(path(name), f)))
    val ts = Files.list(Paths.get(tmp))
    try ts.iterator().asScala.toSeq.foreach(Files.delete) finally ts.close()
    Files.delete(Paths.get(tmp))
    logSnapshot(name, "compact", t0, manifestOf(name, newNames.toSet),
      runInfo ++ Map("files_before" -> before.size.toString,
        "files_after" -> newNames.size.toString,
        "bytes_before" -> totalBytes.toString))
  }

  /** Results reader (reference `get_results_from_h5file`,
    * GPSat/local_experts.py:1467-1620): read a result table and left-join
    * the expert-location attributes onto it on the coordinate columns,
    * suffixing colliding names with `_expert_location`.
    */
  def tableWithExpertLocs(name: String, expertTable: String = "run_details",
                          coordsCol: Seq[String] = Seq("x", "y", "t")): DataFrame = {
    val t = table(name)
    var e = table(expertTable).dropDuplicates(coordsCol)
    for (c <- e.columns if !coordsCol.contains(c) && t.columns.contains(c))
      e = e.withColumnRenamed(c, c + "_expert_location")
    t.join(e, coordsCol, "left")
  }

  /** Export store tables to ONE reference-shaped multi-key `.h5` — the
    * reference's store-file shape (one HDF5 file with run_details /
    * preds / ... keys, local_experts.py:499-550), so a reference user's
    * downstream `pd.read_hdf(file, key)` tooling reads this engine's
    * results directly (driver-side single-file write, the honest cost
    * for result-store-sized tables).
    * `format = "table"` writes the PyTables format='table' layout the
    * reference itself uses for its result stores (`write_to_hdf`,
    * GPSat/dataloader.py:644-704); "fixed" (default) writes the
    * BlockManagerFixed layout.
    */
  def exportH5(outPath: String, tables: Seq[String], format: String = "fixed"): Unit = {
    val present = tables.filter(exists)
    require(present.nonEmpty, s"none of ${tables.mkString(",")} exist in $root")
    format match {
      case "fixed" => graft.sources.Hdf5Table.writePandasFixedKeys(
        present.map(t => t -> table(t)), outPath)
      case "table" => graft.sources.Hdf5Table.writePandasTableKeys(
        present.map(t => t -> table(t)), outPath, chunkRows = 512, deflate = 6)
      case o => throw new IllegalArgumentException(
        s"export format '$o' not supported (fixed/table)")
    }
  }

  /** Import every key of a reference-shaped multi-key `.h5` store as
    * overwrite-mode tables (the migration path INTO this engine).
    */
  def importH5(spark: SparkSession, h5Path: String): Seq[String] = {
    val keys = graft.sources.Hdf5Table.pandasKeys(spark, h5Path)
    keys.foreach { k =>
      // readPandasKey dispatches format='fixed' vs format='table' by shape
      overwrite(k, graft.sources.Hdf5Table.readPandasKey(spark, h5Path, k).drop("index"),
        Map("imported_from" -> h5Path))
    }
    keys
  }

  /** Config identity (reference `get_previous_oi_config`, utils.py:1136-1273):
    * exact canonical-JSON equality against previously stored configs; a match
    * reuses its idx, otherwise max(idx) + 1 is assigned and appended.
    */
  def configId(configJson: String): Int = {
    import spark.implicits._
    if (exists("oi_config")) {
      val prev = table("oi_config")
      val hit = prev.filter(col("config") === configJson).select("idx").collect()
      if (hit.nonEmpty) return hit.head.getInt(0)
      val next = prev.agg(max("idx")).head().getInt(0) + 1
      append("oi_config", Seq((next, java.time.Instant.now.toString, configJson))
        .toDF("idx", "datetime", "config"))
      next
    } else {
      append("oi_config", Seq((0, java.time.Instant.now.toString, configJson))
        .toDF("idx", "datetime", "config"))
      0
    }
  }
}

object ResultStore {

  /** Target size of one written data file. */
  val TargetFileBytes: Long = 128L << 20

  /** The output-sizing rule: coalesce `df` to ceil(estimated bytes /
    * [[TargetFileBytes]]) partitions, so a result table is committed as
    * right-sized files rather than one file per input partition (each of
    * which the manifest then footer-reads). The estimate is the optimized
    * plan's `sizeInBytes`, exact for a materialised cache; materialise the
    * frame before sizing it. `coalesce` never adds partitions, so a frame
    * whose estimate is large, or unknown, keeps its layout. The coalesce
    * sits above the frame's own plan: `spark_partition_id()` in it still
    * reads the partitions the rows were computed in.
    */
  def sized(df: DataFrame): DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = ((bytes + TargetFileBytes - 1) / TargetFileBytes).max(1).min(Int.MaxValue)
    df.coalesce(files.toInt)
  }
}
