package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Gridded-granule netCDF source/sink — the Spark analog of the reference's
  * xarray branch (`DataLoader.load` on .nc, GPSat/dataloader.py:1124-1158:
  * open_dataset -> to_dataframe -> reset_index) and its gridded output sink
  * (dataloader.py:775-780).
  *
  * Scale shape: granule FILES are the unit of parallelism. `readGridNd`
  * (and `readGrid2d`, its rank-2 case) scans a path glob with Spark's
  * binaryFile source (one task per granule, no driver-side I/O), parses
  * each granule with the pure-JVM [[NetCdf3]] codec inside `flatMap`, and
  * emits the xarray `to_dataframe` row layout:
  * one row per (coord values) with the data variables as columns plus the
  * granule path for provenance. A 100 TB archive of granules reads as
  * one declarative scan -> flatMap pipeline; filters on the emitted
  * coordinate columns prune after parse (granule-level pruning composes
  * with `pathGlobFilter`).
  */
object NetCdfGrid {

  /** Read 2-d (yDim, xDim) double variables from every granule matching
    * `pathGlob` into rows (source_file, xDim, yDim, vars...): the rank-2
    * case of [[readGridNd]]. Variables must be laid out (yDim, xDim)
    * C-order with 1-d coordinate variables named like their dims — the
    * xarray gridded convention. Granules may be classic netCDF-3 or
    * NetCDF-4/HDF5.
    */
  def readGrid2d(spark: SparkSession, pathGlob: String, xDim: String, yDim: String,
                 varNames: Seq[String]): DataFrame =
    readGridNd(spark, pathGlob, Seq(yDim, xDim), varNames)
      .select((Seq("source_file", xDim, yDim) ++ varNames).map(col): _*)

  /** Read rank-R `(d1, ..., dR)` double variables from every granule
    * matching `pathGlob` into long-form rows
    * (source_file, dims..., vars...) — the N-d generalization of
    * [[readGrid2d]] and the Spark analog of
    * `xr.open_mfdataset(...).to_dataframe().reset_index()`. Each granule
    * carries its OWN coordinate arrays (a daily-granule archive has a
    * length-1 leading time dim per file), so the union of granule rows
    * IS the whole cube — granule files stay the unit of parallelism.
    * Granules may be classic netCDF-3 (CDF-1/2) OR NetCDF-4: the latter
    * is an HDF5 container whose variables are root datasets, decoded
    * in-task with [[Hdf5Lite]] (v0-superblock profile, contiguous or
    * chunked with gzip/shuffle — the layout `nc_create`/`to_netcdf`
    * default writers produce; files outside the profile raise errors
    * naming the feature).
    */
  def readGridNd(spark: SparkSession, pathGlob: String, dims: Seq[String],
                 varNames: Seq[String]): DataFrame = {
    require(dims.nonEmpty && varNames.nonEmpty, "dims and varNames must be non-empty")
    val files = spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("content"))
    files.flatMap { r =>
      val path = r.getString(0)
      val bytes = r.getAs[Array[Byte]](1)
      // (doubles, shape) accessors over either container format
      val (readD, shapeOf): (String => Array[Double], String => Seq[Int]) =
        if (isHdf5(bytes)) {
          val vars = Hdf5Lite.read(bytes).map(v => v.name -> v).toMap
          def vGet(n: String) = vars.getOrElse(n, throw new IllegalArgumentException(
            s"$path: no dataset '$n' (present: ${vars.keys.toSeq.sorted.mkString(", ")})"))
          (n => vGet(n).asDoubles, n => vGet(n).shape)
        } else {
          val nc = NetCdf3.parse(bytes)
          (n => nc.readDoubles(n), n => nc.shape(n))
        }
      val axes = dims.map(readD)
      val shape = axes.map(_.length)
      val data = varNames.map { v =>
        require(shapeOf(v) == shape,
          s"$path: $v shape ${shapeOf(v)} != $shape = (${dims.mkString(", ")})")
        readD(v)
      }
      granuleRows(path, axes, null, data)
    }(granuleEncoder(dims, varNames))
  }

  /** Row encoder of the granule scans: (source_file, dims..., vars...). */
  private def granuleEncoder(dims: Seq[String], varNames: Seq[String]) =
    org.apache.spark.sql.Encoders.row(StructType(
      StructField("source_file", StringType, nullable = false) +:
        dims.map(d => StructField(d, DoubleType, nullable = false)) ++:
        varNames.map(v => StructField(v, DoubleType, nullable = false))))

  /** Rows of one decoded granule: an odometer over its row-major cells,
    * skipping those outside `keeps` (per dim; null keeps every cell).
    */
  private def granuleRows(path: String, axes: Seq[Array[Double]],
                          keeps: Array[Array[Boolean]],
                          data: Seq[Array[Double]]): Iterator[Row] = {
    val rank = axes.length
    val ax = axes.toArray
    val shape = ax.map(_.length)
    val strides = new Array[Int](rank)
    var s = 1
    var d = rank - 1
    while (d >= 0) { strides(d) = s; s *= shape(d); d -= 1 }
    Iterator.range(0, shape.product).flatMap { p =>
      var ok = true
      val g = new Array[Int](rank)
      var i = 0
      while (i < rank) {
        g(i) = p / strides(i) % shape(i)
        if (keeps != null && !keeps(i)(g(i))) ok = false
        i += 1
      }
      if (!ok) None
      else Some(Row.fromSeq(path +: (0 until rank).map(i => ax(i)(g(i))) ++: data.map(_(p))))
    }
  }

  /** Files matching a granule glob; a matched directory contributes the
    * files directly inside it. */
  private def granuleFiles(fs: org.apache.hadoop.fs.FileSystem,
                           pathGlob: String): Seq[org.apache.hadoop.fs.FileStatus] =
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(pathGlob))).getOrElse(Array.empty)
      .toSeq.flatMap { s =>
        if (s.isDirectory) fs.listStatus(s.getPath).toSeq.filter(_.isFile) else Seq(s)
      }

  /** Pruning evidence for windowed granule scans (executor-side, so
    * accumulators): files listed, files whose data payload was decoded,
    * and bytes actually fetched.
    */
  final class GranuleWindowStats(spark: SparkSession) extends Serializable {
    val filesPlanned: org.apache.spark.util.LongAccumulator =
      spark.sparkContext.longAccumulator("nc.filesPlanned")
    val filesRead: org.apache.spark.util.LongAccumulator =
      spark.sparkContext.longAccumulator("nc.filesRead")
    val bytesRead: org.apache.spark.util.LongAccumulator =
      spark.sparkContext.longAccumulator("nc.bytesRead")
  }

  /** [[readGridNd]] with a coordinate WINDOW pushed to the granule level —
    * the open_mfdataset archive analog of partition pruning. Tasks read
    * each classic-CDF granule's HEADER and coordinate variables via
    * RANGED reads (a few KB); a granule whose axes miss the window skips
    * its data payload entirely, so a daily-granule archive with a time
    * window fetches only in-window days. NetCDF-4/HDF5 granules read
    * fully (their B-tree walk needs the file) but skip the DATA decode
    * when disjoint. Rows equal `readGridNd(...).filter(lo <= dim <= hi)`.
    */
  def readGridNdWindow(spark: SparkSession, pathGlob: String, dims: Seq[String],
                       varNames: Seq[String], ranges: Map[String, (Double, Double)],
                       stats: GranuleWindowStats = null): DataFrame = {
    require(dims.nonEmpty && varNames.nonEmpty, "dims and varNames must be non-empty")
    val unknown = ranges.keySet -- dims.toSet
    require(unknown.isEmpty, s"window ranges on non-dim columns: ${unknown.mkString(", ")}")
    val hconf = spark.sessionState.newHadoopConf()
    val fileList = granuleFiles(new org.apache.hadoop.fs.Path(pathGlob).getFileSystem(hconf),
      pathGlob).map(s => (s.getPath.toString, s.getLen))
    require(fileList.nonEmpty, s"$pathGlob: no granules matched")
    val filesPlanned = if (stats != null) stats.filesPlanned
      else spark.sparkContext.longAccumulator("nc.filesPlanned")
    val filesRead = if (stats != null) stats.filesRead
      else spark.sparkContext.longAccumulator("nc.filesRead")
    val bytesAcc = if (stats != null) stats.bytesRead
      else spark.sparkContext.longAccumulator("nc.bytesRead")
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(hconf))
    import spark.implicits._
    spark.createDataset(fileList)
      .repartition(math.min(fileList.size, 32))
      .flatMap { case (path, fileLen) =>
        filesPlanned.add(1L)
        val conf = confB.value.value
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(conf)
        def keepsOf(axes: Seq[Array[Double]]): Array[Array[Boolean]] =
          dims.indices.map { i =>
            ranges.get(dims(i)) match {
              case Some((lo, hi)) => axes(i).map(v => v >= lo && v <= hi)
              case None => Array.fill(axes(i).length)(true)
            }
          }.toArray
        val in = fs.open(p)
        try {
          if (sniffHdf5(in, fileLen)) {
            // NetCDF-4: the HDF5 B-tree walk needs the file — read fully,
            // but decode ONLY the coordinate datasets unless in-window
            val bytes = new Array[Byte](fileLen.toInt)
            in.readFully(0, bytes, 0, bytes.length)
            bytesAcc.add(fileLen)
            val dimSet = dims.toSet
            val coords = Hdf5Lite.read(bytes, dimSet.contains).map(v => v.name -> v).toMap
            val axes = dims.map(d => coords.getOrElse(d, throw new IllegalArgumentException(
              s"$path: no dataset '$d'")).asDoubles)
            val keeps = keepsOf(axes)
            if (keeps.exists(!_.exists(identity))) Iterator.empty
            else {
              filesRead.add(1L)
              val want = dimSet ++ varNames
              val vars = Hdf5Lite.read(bytes, want.contains).map(v => v.name -> v).toMap
              val shape = axes.map(_.length)
              val data = varNames.map { v =>
                val h = vars.getOrElse(v, throw new IllegalArgumentException(
                  s"$path: no dataset '$v'"))
                require(h.shape == shape, s"$path: $v shape ${h.shape} != $shape")
                h.asDoubles
              }
              granuleRows(path, axes, keeps, data)
            }
          } else {
            // classic CDF: ranged reads — the header, then only the
            // variables the window needs
            val (nc, headLen) = rangedHeader(in, fileLen)
            bytesAcc.add(headLen.toLong)
            def ranged(name: String): Array[Double] = {
              bytesAcc.add(nc.variable(name).vsize)
              rangedVar(in, nc, name)
            }
            val axes = dims.map(ranged)
            val keeps = keepsOf(axes)
            if (keeps.exists(!_.exists(identity))) Iterator.empty
            else {
              filesRead.add(1L)
              val shape = axes.map(_.length)
              val data = varNames.map { v =>
                require(nc.shape(v) == shape, s"$path: $v shape ${nc.shape(v)} != $shape")
                ranged(v)
              }
              granuleRows(path, axes, keeps, data)
            }
          }
        } finally in.close()
      }(granuleEncoder(dims, varNames))
  }

  /** Discover (dims in C-order, data variable names) from the FIRST
    * granule matching `pathGlob` — the xarray `open_dataset` layout
    * convention: coordinate variables are 1-d and named like their dim,
    * data variables are the granule's highest-rank (>= 2) variables and
    * must agree on one dim tuple. Classic CDF granules discover from a
    * ranged header read (a few KB, any granule size); NetCDF-4/HDF5
    * granules raise — pass dims/vars explicitly to [[readGridNd]] there.
    */
  def granuleLayout(spark: SparkSession, pathGlob: String): (Seq[String], Seq[String]) = {
    val gfs = new org.apache.hadoop.fs.Path(pathGlob)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val first = granuleFiles(gfs, pathGlob).sortBy(_.getPath.toString).headOption.getOrElse(
      throw new IllegalArgumentException(s"$pathGlob: no granules matched"))
    val p = first.getPath
    val len = first.getLen
    val in = gfs.open(p)
    val nc =
      try {
        require(!sniffHdf5(in, len),
          s"$p: NetCDF-4/HDF5 granule — layout discovery needs classic CDF; " +
            "pass dims/vars explicitly to readGridNd")
        rangedHeader(in, len)._1
      } finally in.close()
    val dimNames = nc.dims.map(d => d.name)
    val maxRank = nc.vars.map(v => v.dimIds.length).foldLeft(0)(math.max)
    require(maxRank >= 2, s"$p: no data variables (rank >= 2) found")
    val dataVars = nc.vars.filter(_.dimIds.length == maxRank)
    val dimTuples = dataVars.map(_.dimIds).distinct
    require(dimTuples.length == 1,
      s"$p: data variables disagree on dims: ${dimTuples.map(_.map(dimNames))}")
    val dims = dimTuples.head.map(dimNames)
    dims.foreach { d =>
      require(nc.vars.exists(v => v.name == d && v.dimIds.length == 1),
        s"$p: dim '$d' has no 1-d coordinate variable")
    }
    (dims, dataVars.map(v => v.name).sorted)
  }

  /** Write a gridded N-d table as a DIRECTORY of classic netCDF-3
    * granules FROM THE EXECUTORS — one granule per FIRST-dim slice (for
    * a `(t, y, x)` cube: one file per date holding a length-1 t dim plus
    * the full tail axes), i.e. the exact layout daily-granule archives
    * ship in and [[readGridNd]] unions back. Dims in C-order (slowest
    * first). Rows must cover the full lattice exactly once (validated by
    * count, never collected).
    */
  def writeGridNdDistributed(df: DataFrame, dir: String, dimCols: Seq[String],
                             valCols: Seq[String],
                             gattrs: Map[String, String] = Map.empty): Unit = {
    require(dimCols.length >= 2, s"need >= 2 dims, got $dimCols")
    GridAxes.withPersisted(df) {
      val (axes, total) = GridAxes.axesAndCount(df, dimCols)
      writeSlices(df, dir, dimCols, valCols, gattrs, axes, 0, total, bandRows = 1)
    }
  }

  /** The dim-0 coordinate values already present across a granule
    * archive, via a DISTRIBUTED ranged-read sweep (one tiny job; a
    * 10^5-granule archive must not serialize its header reads through
    * the driver) — only headers and the dim-0 coordinate payload are
    * fetched. Empty when the directory is missing or holds no granules
    * (idempotent streaming sinks probe before their first write).
    */
  def archivedDim0(spark: SparkSession, dir: String, d0Col: String): Set[Double] = {
    val hconf = spark.sessionState.newHadoopConf()
    val dp = new org.apache.hadoop.fs.Path(dir)
    val fs = dp.getFileSystem(hconf)
    if (!fs.exists(dp)) return Set.empty
    val existing = fs.listStatus(dp).toSeq.filter(s =>
      s.isFile && s.getPath.getName.endsWith(".nc"))
    if (existing.isEmpty) return Set.empty
    import spark.implicits._
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(hconf))
    val paths = existing.map(st => (st.getPath.toString, st.getLen))
    spark.createDataset(paths)
      .repartition(math.min(paths.size, 32))
      .flatMap { case (pathStr, fileLen) =>
        val conf = confB.value.value
        val p = new org.apache.hadoop.fs.Path(pathStr)
        val tfs = p.getFileSystem(conf)
        val in = tfs.open(p)
        try rangedVar(in, rangedHeader(in, fileLen)._1, d0Col).toSeq
        finally in.close()
      }.collect().toSet
  }

  /** Append new FIRST-dim slices to an existing granule archive written
    * by [[writeGridNdDistributed]] — new dates become NEW granule files
    * at offset part numbers; existing granules are never touched (the
    * natural growth mode of a daily-granule archive). Validates against
    * the archive via ranged header reads: tail axes must equal the first
    * granule's, new first-dim values must not collide with any granule's.
    */
  def appendGridNdDistributed(df: DataFrame, dir: String, dimCols: Seq[String],
                              valCols: Seq[String],
                              gattrs: Map[String, String] = Map.empty): Unit = {
    require(dimCols.length >= 2, s"need >= 2 dims, got $dimCols")
    val spark = df.sparkSession
    val hconf = spark.sessionState.newHadoopConf()
    val dp = new org.apache.hadoop.fs.Path(dir)
    val fs = dp.getFileSystem(hconf)
    val existing = fs.listStatus(dp).toSeq.filter(s =>
      s.isFile && s.getPath.getName.endsWith(".nc"))
    require(existing.nonEmpty, s"$dir: no existing granules — use writeGridNdDistributed")
    // archive metadata via ranged reads of the first granule (its header
    // and tail coordinates, a few KB; payloads are never fetched)
    val first = existing.minBy(_.getPath.getName)
    val tailAxes = {
      val in = fs.open(first.getPath)
      try {
        val nc = rangedHeader(in, first.getLen)._1
        dimCols.tail.map(d => rangedVar(in, nc, d))
      } finally in.close()
    }
    GridAxes.withPersisted(df) {
      // all dims + row count in ONE job (was rank + 1 input passes)
      val (newAxes, total) = GridAxes.axesAndCount(df, dimCols)
      dimCols.tail.zipWithIndex.foreach { case (d, i) =>
        require(java.util.Arrays.equals(newAxes(i + 1), tailAxes(i)),
          s"append $d axis differs from the archive's")
      }
      val existingD0 = archivedDim0(spark, dir, dimCols.head)
      val newVals = newAxes.head
      require(!newVals.exists(existingD0.contains),
        s"append ${dimCols.head} values overlap the archive: " +
          newVals.filter(existingD0.contains).take(3).mkString(", "))
      // next free part number, so filenames never collide
      val partRe = "part-(\\d+)\\.nc".r
      val offset = existing.map(_.getPath.getName).foldLeft(-1) {
        case (m, partRe(n)) => math.max(m, n.toInt)
        case (m, _) => m
      } + 1
      writeSlices(df, dir, dimCols, valCols, gattrs, newVals +: tailAxes, offset, total,
        bandRows = 1)
    }
  }

  /** The executor granule writer of every distributed netCDF sink: rows
    * of (dims..., vars...) hash-partition by band of `bandRows` first-dim
    * values; each band becomes one complete CDF-1 granule
    * `dir/part-(indexOffset + band).nc` whose first dim is the band's
    * length (the last band may be shorter) with the band's slice of axis
    * 0 as its coordinate, plus the full tail axes. Rows must cover the
    * `axes` lattice exactly once (`totalRows`, counted by the caller).
    */
  private def writeSlices(df: DataFrame, dir: String, dimCols: Seq[String],
                          valCols: Seq[String], gattrs: Map[String, String],
                          axes: Seq[Array[Double]], indexOffset: Int, totalRows: Long,
                          bandRows: Int): Unit = {
    val spark = df.sparkSession
    val rank = dimCols.length
    val shape = axes.map(_.length)
    require(totalRows == shape.map(_.toLong).product,
      s"rows $totalRows != full ${shape.mkString(" x ")} lattice (duplicates or gaps)")
    require(totalRows > 0, "no rows to write")
    val idxMaps = axes.map(_.zipWithIndex.toMap).toArray
    val axis0 = axes.head
    val br = math.min(bandRows, axis0.length)
    val sliceSize = shape.tail.product
    val strides = shape.tail.scanRight(1)(_ * _).tail.toArray
    val vars = valCols.toArray
    val tailDims = dimCols.tail.zip(axes.tail)
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    val bandOf = udf((v: Double) => idxMaps(0)(v) / br)
    df.select((dimCols ++ valCols).map(col): _*)
      .repartition((axis0.length + br - 1) / br, bandOf(col(dimCols.head)))
      .foreachPartition { (rows: Iterator[Row]) =>
        // assemble this partition's bands (hash may co-locate several)
        def bandLen(b: Int): Int = math.min(br, axis0.length - b * br)
        val bands = scala.collection.mutable.Map.empty[Int, Array[Array[Double]]]
        rows.foreach { r =>
          val i0 = idxMaps(0)(r.getDouble(0))
          val b = i0 / br
          var off = (i0 - b * br) * sliceSize
          var d = 1
          while (d < rank) { off += idxMaps(d)(r.getDouble(d)) * strides(d - 1); d += 1 }
          val band = bands.getOrElseUpdate(b,
            Array.fill(vars.length)(new Array[Double](bandLen(b) * sliceSize)))
          var v = 0
          while (v < vars.length) { band(v)(off) = r.getDouble(rank + v); v += 1 }
        }
        bands.foreach { case (b, band) =>
          val lo = b * br
          val dims = NetCdf3.NcDim(dimCols.head, bandLen(b)) +:
            tailDims.map { case (n, ax) => NetCdf3.NcDim(n, ax.length) }
          val wvars =
            NetCdf3.WVar(dimCols.head, Seq(dimCols.head),
              java.util.Arrays.copyOfRange(axis0, lo, lo + bandLen(b))) +:
              tailDims.map { case (n, ax) => NetCdf3.WVar(n, Seq(n), ax) } ++:
              vars.indices.map(i => NetCdf3.WVar(vars(i), dimCols, band(i)))
          val p = new org.apache.hadoop.fs.Path(dir, f"part-${indexOffset + b}%05d.nc")
          val out = p.getFileSystem(confB.value.value).create(p, true)
          try out.write(NetCdf3.write(dims, wvars, gattrs)) finally out.close()
        }
      }
  }

  /** Write a gridded table to ONE classic netCDF-3 file: rows must cover
    * the full (distinct xCol) x (distinct yCol) lattice. The output field
    * is grid-sized (the reference writes the final glued field this way),
    * so a driver-side collect is the honest cost — the big tables stay in
    * parquet/Iceberg.
    */
  def writeGrid2d(df: DataFrame, path: String, xCol: String, yCol: String,
                  valCols: Seq[String], gattrs: Map[String, String] = Map.empty): Unit = {
    val rows = df.select((xCol +: yCol +: valCols).map(col): _*).collect()
    val xs = rows.map(_.getDouble(0)).distinct.sorted
    val ys = rows.map(_.getDouble(1)).distinct.sorted
    val xIdx = xs.zipWithIndex.toMap
    val yIdx = ys.zipWithIndex.toMap
    // validate on DISTINCT cells, not raw row count: duplicate (x, y) rows
    // could otherwise mask missing cells and silently write 0.0 there
    val distinctCells = rows.map(r => (r.getDouble(0), r.getDouble(1))).distinct.length
    require(distinctCells == xs.length * ys.length,
      s"distinct cells $distinctCells != full ${xs.length} x ${ys.length} lattice")
    require(rows.length == distinctCells,
      s"${rows.length - distinctCells} duplicate ($xCol, $yCol) rows")
    val grids = valCols.indices.map { vi =>
      val g = new Array[Double](xs.length * ys.length)
      rows.foreach(r => g(yIdx(r.getDouble(1)) * xs.length + xIdx(r.getDouble(0))) = r.getDouble(2 + vi))
      g
    }
    val dims = Seq(NetCdf3.NcDim(yCol, ys.length), NetCdf3.NcDim(xCol, xs.length))
    val vars =
      NetCdf3.WVar(yCol, Seq(yCol), ys) +:
        NetCdf3.WVar(xCol, Seq(xCol), xs) +:
        valCols.zipWithIndex.map { case (v, i) => NetCdf3.WVar(v, Seq(yCol, xCol), grids(i)) }
    Files.write(Paths.get(path), NetCdf3.write(dims, vars, gattrs))
  }

  /** Write a gridded table as a DIRECTORY of classic netCDF-3 granules with
    * the granule files written FROM THE EXECUTORS — the scale-path gridded
    * sink (same shape as `ZarrGrid.writeGrid2dDistributed` and
    * `Hdf5Table.writeGranules`): the driver touches only the axes; each row
    * band of `bandRows` y-values becomes one complete CDF-1 granule
    * `dir/part-NNNNN.nc` (its y coordinate = the band slice, x = the full
    * axis), encoded and written through the Hadoop FileSystem inside a
    * task. A planet-scale grid exports as embarrassingly parallel granule
    * writes and reads back with [[readGrid2d]] on the `.nc` glob under
    * `dir` — the granule directory IS the xarray `open_mfdataset` layout.
    * Rows must cover the full (x, y) lattice exactly once (validated by
    * count, not collect).
    */
  def writeGrid2dDistributed(df: DataFrame, dir: String, xCol: String, yCol: String,
                             valCols: Seq[String], bandRows: Int,
                             gattrs: Map[String, String] = Map.empty): Unit = {
    require(bandRows > 0, "bandRows must be positive")
    GridAxes.withPersisted(df) {
      val (axes, total) = GridAxes.axesAndCount(df, Seq(yCol, xCol))
      writeSlices(df, dir, Seq(yCol, xCol), valCols, gattrs, axes, 0, total, bandRows)
    }
  }

  /** HDF5 magic (`\x89HDF`) at the start of `head`: a NetCDF-4 granule. */
  private def isHdf5(head: Array[Byte]): Boolean =
    head.length >= 4 && (head(0) & 0xff) == 0x89 &&
      head(1) == 'H' && head(2) == 'D' && head(3) == 'F'

  /** [[isHdf5]] on the first 4 bytes of an open granule. */
  private def sniffHdf5(in: org.apache.hadoop.fs.FSDataInputStream, fileLen: Long): Boolean = {
    val magic = new Array[Byte](math.min(4, fileLen).toInt)
    in.readFully(0, magic, 0, magic.length)
    isHdf5(magic)
  }

  /** Classic-CDF header of an open granule by ranged reads: 8 KB first,
    * growing 8x until the header parses (never past the file). Returns
    * the header and the bytes fetched.
    */
  private def rangedHeader(in: org.apache.hadoop.fs.FSDataInputStream,
                           fileLen: Long): (NetCdf3.NcFile, Int) = {
    var chunk = math.min(fileLen, 8192L).toInt
    var nc: NetCdf3.NcFile = null
    while (nc == null) {
      val head = new Array[Byte](chunk)
      in.readFully(0, head, 0, chunk)
      try nc = NetCdf3.parse(head)
      catch {
        case _: java.nio.BufferUnderflowException | _: IndexOutOfBoundsException
          if chunk < fileLen =>
          chunk = math.min(fileLen, chunk * 8L).toInt
      }
    }
    (nc, chunk)
  }

  /** One variable's doubles by a ranged read of its payload. */
  private def rangedVar(in: org.apache.hadoop.fs.FSDataInputStream, nc: NetCdf3.NcFile,
                        name: String): Array[Double] = {
    val v = nc.variable(name)
    val n = nc.shape(name).foldLeft(1L)(_ * _).toInt
    val raw = new Array[Byte](v.vsize.toInt)
    in.readFully(v.begin, raw, 0, raw.length)
    NetCdf3.decodeDoubles(v.ncType, n, raw, 0, raw.length)
  }
}
