package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.nio.{ByteBuffer, ByteOrder}

/** Zarr v2 gridded source/sink — the last suffix in the reference's
  * dispatch map (`GPSat/dataloader.py:28-35`: `zarr` -> the xarray
  * `open_zarr` branch, consumed like the netCDF path via `.to_dataframe`).
  * Implemented from the public Zarr v2 storage spec: a store is a
  * directory tree; each array directory holds a `.zarray` JSON (shape /
  * chunks / dtype / compressor / order) plus C-order chunk files named by
  * grid index (`0.0`, `0.1`, ... or nested `0/1`); xarray names each
  * array's dimensions in `.zattrs` `_ARRAY_DIMENSIONS`.
  *
  * Scale shape: zarr's unit of storage IS the chunk file, so the scan
  * parallelises at CHUNK granularity — finer than the per-granule netCDF
  * and HDF5 scans (ONE huge array still fans out across the cluster). The
  * driver reads only the tiny JSON metadata and the 1-d coordinate arrays
  * (broadcast with the task closure); every data chunk decodes inside a
  * binaryFile scan task, emitting rows for its own grid slice.
  *
  * Scope (checked, loud errors outside it): zarr v2 AND v3 READ (v3 =
  * zarr-python 3's default output: `zarr.json` metadata, regular chunk
  * grids, default `c/`-prefixed or v2-style chunk keys, `bytes` +
  * gzip/zstd/blosc codec chains, `dimension_names` discovery), C-order,
  * numeric
  * dtypes f4/f8, i1-i8, u1-u4 in either byte order ('<', '>', '|'),
  * compressor null, zlib/gzip, bare zstd (numcodecs `Zstd()`, via
  * [[ZstdLite]]), or blosc with blosclz/lz4/zlib/zstd inner codecs — the
  * zarr DEFAULT (numcodecs Blosc) — via the pure-JVM [[BloscLite]] frame
  * codec (snappy frames raise naming the codec); 1-d coordinate + N-d
  * data arrays.
  *
  * WRITE side emits either format: zarr v2 (`.zarray`/`.zattrs` +
  * consolidated `.zmetadata`, the xarray default) or zarr v3
  * (`zarr.json` per node, `dimension_names`, `c/` chunk keys, codec
  * chain `[bytes le, gzip|zstd|blosc]`) via the `zarrFormat` knob on
  * both the driver-side and executor-parallel grid sinks.
  */
object ZarrGrid extends Serializable {
  implicit private val formats: Formats = DefaultFormats

  // comp: "none" | "zlib" | "gzip3" (raw RFC-1952 gzip, the zarr v3 codec)
  // | "zstd" | "blosc" (blosc frames name their own inner codec);
  // prefix: chunk-key prefix ("" for v2, "c<sep>" for the v3 default
  // chunk key encoding)
  // innerChunks non-empty = v3 sharding_indexed: each chunk FILE is a
  // SHARD of inner chunks (innerComp-coded) plus a u64 (offset, nbytes)
  // index at the end/start; u64-max entries mean "inner chunk absent"
  private final case class ZMeta(shape: Seq[Int], chunks: Seq[Int], dtype: String,
                                 comp: String, sep: String, fill: Option[Double],
                                 prefix: String = "", innerChunks: Seq[Int] = Nil,
                                 innerComp: String = "none", indexAtEnd: Boolean = true,
                                 indexCrc: Boolean = false)

  private def parseZarray(json: String, name: String): ZMeta = {
    val j = JsonMethods.parse(json)
    require((j \ "zarr_format").extract[Int] == 2, s"$name: only zarr v2 supported")
    val order = (j \ "order").extractOpt[String].getOrElse("C")
    require(order == "C", s"$name: only C-order arrays supported (got '$order')")
    (j \ "filters") match {
      case JNull | JNothing | JArray(Nil) => ()
      case f => throw new IllegalArgumentException(s"$name: zarr filters $f not supported")
    }
    val comp = (j \ "compressor") match {
      case JNull | JNothing => "none"
      case c =>
        val id = (c \ "id").extract[String]
        id match {
          case "zlib" | "gzip" => "zlib"
          case "zstd" => "zstd" // numcodecs Zstd(): bare RFC 8878 frames
          case "blosc" =>
            // the zarr DEFAULT compressor (numcodecs Blosc, cname lz4);
            // decoded by the pure-JVM BloscLite frame codec. The frame
            // header names its own inner codec — unsupported ones
            // (snappy) raise there with the cname in the message.
            (c \ "cname").extractOpt[String].foreach { cn =>
              require(cn == "blosclz" || cn == "lz4" || cn == "lz4hc" || cn == "snappy" ||
                cn == "zlib" || cn == "zstd",
                s"$name: blosc cname '$cn' not supported (blosclz/lz4/lz4hc/snappy/zlib/zstd)")
            }
            "blosc"
          case o => throw new IllegalArgumentException(
            s"$name: compressor '$o' not supported (null/zlib/zstd/blosc only)")
        }
    }
    ZMeta((j \ "shape").extract[Seq[Int]], (j \ "chunks").extract[Seq[Int]],
      (j \ "dtype").extract[String], comp,
      (j \ "dimension_separator").extractOpt[String].getOrElse("."), fillOf(j))
  }

  /** `fill_value` of either format: absent chunk files legally mean "all
    * fill_value" (xarray/NaN-heavy stores omit them); a null fill makes
    * missing chunks raise.
    */
  private def fillOf(j: JValue): Option[Double] = (j \ "fill_value") match {
    case JNull | JNothing => None
    case JString("NaN") => Some(Double.NaN)
    case JString("Infinity") => Some(Double.PositiveInfinity)
    case JString("-Infinity") => Some(Double.NegativeInfinity)
    case v => Some(v.extract[Double])
  }

  /** Zarr V3 array metadata (`zarr.json`, the format zarr-python 3 writes
    * by default): regular chunk grid, default or v2 chunk-key encodings,
    * codec chain = `bytes` (endianness) plus at most one compression
    * codec (gzip -> raw RFC-1952 via "gzip3", zstd -> [[ZstdLite]],
    * blosc -> [[BloscLite]], none). Maps onto the same [[ZMeta]] the v2
    * reader uses, so every scan path serves both formats.
    */
  private def parseZarrayV3(json: String, name: String): ZMeta = {
    val j = JsonMethods.parse(json)
    require((j \ "zarr_format").extract[Int] == 3, s"$name: zarr.json is not zarr v3")
    require((j \ "node_type").extract[String] == "array", s"$name: zarr.json is not an array node")
    val shape = (j \ "shape").extract[Seq[Int]]
    require((j \ "chunk_grid" \ "name").extract[String] == "regular",
      s"$name: only the regular chunk grid is supported")
    val chunks = (j \ "chunk_grid" \ "configuration" \ "chunk_shape").extract[Seq[Int]]
    var endian = "little"
    var comp = "none"
    var innerChunks: Seq[Int] = Nil
    var innerComp = "none"
    var indexAtEnd = true
    var indexCrc = false
    def codecLoop(codecs: JValue, setComp: String => Unit): Unit = codecs match {
      case JArray(cs) => cs.foreach { c =>
        (c \ "name").extract[String] match {
          case "bytes" | "endian" =>
            endian = (c \ "configuration" \ "endian").extractOpt[String].getOrElse("little")
          case "gzip" => setComp("gzip3")
          case "zstd" => setComp("zstd")
          case "blosc" => setComp("blosc")
          case "transpose" =>
            val order = (c \ "configuration" \ "order").extractOpt[Seq[Int]].getOrElse(Nil)
            require(order == shape.indices, s"$name: transpose codec not supported")
          case "sharding_indexed" =>
            // the v3 scale feature: a chunk file is a SHARD of inner
            // chunks with a u64 offset/size index
            val cfg = c \ "configuration"
            innerChunks = (cfg \ "chunk_shape").extract[Seq[Int]]
            codecLoop(cfg \ "codecs", innerComp = _)
            indexAtEnd = (cfg \ "index_location").extractOpt[String].forall(_ != "start")
            (cfg \ "index_codecs") match {
              case JArray(ics) =>
                indexCrc = ics.exists(ic => (ic \ "name").extractOpt[String].contains("crc32c"))
              case _ => ()
            }
          case o => throw new IllegalArgumentException(
            s"$name: zarr v3 codec '$o' not supported (bytes/gzip/zstd/blosc/sharding_indexed)")
        }
      }
      case _ => ()
    }
    codecLoop(j \ "codecs", comp = _)
    val (code, size) = (j \ "data_type").extract[String] match {
      case "float64" => ("f", 8); case "float32" => ("f", 4)
      case "int64" => ("i", 8); case "int32" => ("i", 4)
      case "int16" => ("i", 2); case "int8" => ("i", 1)
      case "uint32" => ("u", 4); case "uint16" => ("u", 2); case "uint8" => ("u", 1)
      case o => throw new IllegalArgumentException(s"$name: zarr v3 data_type '$o' not supported")
    }
    val dtype =
      if (size == 1) s"|$code$size"
      else (if (endian == "big") ">" else "<") + code + size
    val cke = j \ "chunk_key_encoding"
    val ckName = (cke \ "name").extractOpt[String].getOrElse("default")
    val sep = (cke \ "configuration" \ "separator").extractOpt[String]
      .getOrElse(if (ckName == "v2") "." else "/")
    val prefix = ckName match {
      case "default" => "c" + sep
      case "v2" => ""
      case o => throw new IllegalArgumentException(s"$name: chunk key encoding '$o' not supported")
    }
    ZMeta(shape, chunks, dtype, comp, sep, fillOf(j), prefix,
      innerChunks, innerComp, indexAtEnd, indexCrc)
  }

  /** Array metadata for `name` under `dir`, v2 (`.zarray`, consolidated
    * or individual) or v3 (`zarr.json`) — every reader goes through here.
    */
  private def arrayMeta(spark: SparkSession, dir: String, name: String,
                        cons: Map[String, String]): ZMeta = {
    val fs = fsFor(spark, dir)
    if (cons.contains(s"$name/.zarray") ||
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$name/.zarray")))
      parseZarray(metaJson(spark, dir, s"$name/.zarray", cons), name)
    else parseZarrayV3(metaJson(spark, dir, s"$name/zarr.json", cons), name)
  }

  /** Fully-fill chunk for an absent chunk file, or a loud error when the
    * array declares no fill_value (silently dropping cells would break the
    * class contract of erroring outside supported scope).
    */
  private def fillChunk(m: ZMeta, name: String, chunkRel: String): Array[Double] =
    m.fill match {
      case Some(f) => Array.fill(m.chunks.product)(f)
      case None => throw new IllegalArgumentException(
        s"$name: chunk file '$chunkRel' is absent and .zarray has no fill_value — " +
          "cannot synthesize its cells")
    }

  private def dtypeSize(dt: String, name: String): Int = {
    require(dt.length == 3 && (dt(0) == '<' || dt(0) == '>' || dt(0) == '|'),
      s"$name: dtype '$dt' has no byte-order marker")
    require(dt(1) == 'f' || dt(1) == 'i' || dt(1) == 'u',
      s"$name: dtype '$dt' not supported (f/i/u only)")
    dt(2) - '0'
  }

  /** Decode one chunk file into row-major doubles (full chunk extent —
    * zarr pads edge chunks to the declared chunk shape). v3 sharded
    * arrays decode shard-wise: index parse, inner chunks through the
    * inner codec chain, absent entries from fill_value.
    */
  private def decodeChunk(raw: Array[Byte], m: ZMeta, name: String): Array[Double] =
    if (m.innerChunks.isEmpty) decodePlain(raw, m, name)
    else decodeShard(raw, m, name)

  private def decodeShard(raw: Array[Byte], m: ZMeta, name: String): Array[Double] = {
    val inner = m.innerChunks
    require(inner.length == m.chunks.length,
      s"$name: inner chunk rank ${inner.length} != shard rank ${m.chunks.length}")
    val nPer = m.chunks.indices.map(i => (m.chunks(i) + inner(i) - 1) / inner(i))
    val nInner = nPer.product
    val indexLen = 16 * nInner + (if (m.indexCrc) 4 else 0)
    require(raw.length >= indexLen, s"$name: shard of ${raw.length} bytes lacks its $indexLen-byte index")
    val idxBase = if (m.indexAtEnd) raw.length - indexLen else 0
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val innerMeta = m.copy(chunks = inner, comp = m.innerComp, innerChunks = Nil)
    val out = new Array[Double](m.chunks.product)
    m.fill.foreach(f => java.util.Arrays.fill(out, f))
    var li = 0
    while (li < nInner) {
      val off = bb.getLong(idxBase + li * 16)
      val len = bb.getLong(idxBase + li * 16 + 8)
      if (off == -1L && len == -1L) {
        require(m.fill.nonEmpty, s"$name: absent inner chunk $li with no fill_value")
      } else {
        require(off >= 0 && len >= 0 && off + len <= raw.length,
          s"$name: shard index entry $li (offset $off, $len bytes) outside the shard")
        val vals = decodePlain(
          java.util.Arrays.copyOfRange(raw, off.toInt, (off + len).toInt), innerMeta, name)
        placeInner(vals, out, m.chunks, inner, nPer, li, name)
      }
      li += 1
    }
    out
  }

  /** Place inner chunk `li`'s decoded values into the shard-extent output
    * (row-major), clipping inner chunks that overhang the shard edge.
    * Rank-generic: copies contiguous runs along the last dim.
    */
  private def placeInner(vals: Array[Double], out: Array[Double], chunks: Seq[Int],
                         inner: Seq[Int], nPer: Seq[Int], li: Int, name: String): Unit = {
    val rank = chunks.length
    // inner-grid coords of this inner chunk (row-major over nPer)
    val ii = new Array[Int](rank)
    var rem = li
    var d = rank - 1
    while (d >= 0) { ii(d) = rem % nPer(d); rem /= nPer(d); d -= 1 }
    // row-major strides over the shard extent
    val cStr = new Array[Int](rank)
    var s = 1
    d = rank - 1
    while (d >= 0) { cStr(d) = s; s *= chunks(d); d -= 1 }
    val lastBase = ii(rank - 1) * inner(rank - 1)
    val runLen = math.min(inner(rank - 1), chunks(rank - 1) - lastBase)
    if (runLen <= 0) return
    val outerDims = rank - 1
    val outerCells = inner.take(outerDims).product
    var oc = 0
    while (oc < outerCells) {
      var r2 = oc
      var dstCell = lastBase
      var inBounds = true
      var dd = outerDims - 1
      while (dd >= 0) {
        val pd = r2 % inner(dd); r2 /= inner(dd)
        val gd = ii(dd) * inner(dd) + pd
        if (gd >= chunks(dd)) inBounds = false
        dstCell += gd * cStr(dd)
        dd -= 1
      }
      if (inBounds)
        System.arraycopy(vals, oc * inner(rank - 1), out, dstCell, runLen)
      oc += 1
    }
  }

  /** Chunk bytes with compressor `comp` undone. */
  private def decompress(raw: Array[Byte], comp: String, name: String): Array[Byte] =
    comp match {
      case "none" => raw
      case "blosc" => BloscLite.decompress(raw, name)
      case "zstd" => ZstdLite.decompress(raw, name)
      case "gzip3" => // zarr v3 gzip codec: a full RFC-1952 gzip stream
        val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(raw))
        val o = new java.io.ByteArrayOutputStream(raw.length * 3 + 64)
        val tmp = new Array[Byte](8192)
        var got = in.read(tmp)
        while (got >= 0) { o.write(tmp, 0, got); got = in.read(tmp) }
        in.close()
        o.toByteArray
      case "zlib" => ChunkCodecs.inflate(raw, s"$name: truncated zlib chunk")
    }

  private def decodePlain(raw: Array[Byte], m: ZMeta, name: String): Array[Double] = {
    val bytes = decompress(raw, m.comp, name)
    val es = dtypeSize(m.dtype, name)
    val n = m.chunks.product
    require(bytes.length == n * es,
      s"$name: chunk has ${bytes.length} bytes, expected ${n * es}")
    val buf = ByteBuffer.wrap(bytes).order(
      if (m.dtype(0) == '>') ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Double](n)
    var i = 0
    (m.dtype(1), es) match {
      case ('f', 8) => while (i < n) { out(i) = buf.getDouble(i * 8); i += 1 }
      case ('f', 4) => while (i < n) { out(i) = buf.getFloat(i * 4).toDouble; i += 1 }
      case ('i', 8) => while (i < n) { out(i) = buf.getLong(i * 8).toDouble; i += 1 }
      case ('i', 4) => while (i < n) { out(i) = buf.getInt(i * 4).toDouble; i += 1 }
      case ('i', 2) => while (i < n) { out(i) = buf.getShort(i * 2).toDouble; i += 1 }
      case ('i', 1) => while (i < n) { out(i) = bytes(i).toDouble; i += 1 }
      case ('u', 8) => throw new IllegalArgumentException(
        s"$name: u8 exceeds double precision — rewrite as i8/f8")
      case ('u', 4) => while (i < n) { out(i) = (buf.getInt(i * 4).toLong & 0xffffffffL).toDouble; i += 1 }
      case ('u', 2) => while (i < n) { out(i) = (buf.getShort(i * 2).toInt & 0xffff).toDouble; i += 1 }
      case ('u', 1) => while (i < n) { out(i) = (bytes(i) & 0xff).toDouble; i += 1 }
      case _ => throw new IllegalArgumentException(s"$name: dtype ${m.dtype} not supported")
    }
    out
  }

  /** FileSystem for `path` with CRC sidecars off: a zarr store is an
    * externally-specified directory layout — Hadoop `.name.crc` files don't
    * belong in it, and other writers' edits must not fail our reads.
    */
  private def rawFs(path: String, conf: org.apache.hadoop.conf.Configuration) = {
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
    fs
  }

  private def fsFor(spark: SparkSession, path: String) =
    rawFs(path, spark.sparkContext.hadoopConfiguration)

  private def readSmall(spark: SparkSession, path: String): Array[Byte] = {
    val fs = fsFor(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val len = fs.getFileStatus(p).getLen.toInt
    val out = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, out) finally in.close()
    out
  }

  /** Consolidated metadata (`.zmetadata`, zarr_consolidated_format 1 —
    * what xarray writes by default): path ("x/.zarray") -> raw JSON
    * string. One read replaces every per-array metadata fetch, the
    * object-store round-trip killer on stores with many arrays.
    */
  private def consolidated(spark: SparkSession, dir: String): Map[String, String] = {
    val fs = fsFor(spark, dir)
    val v2 = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/.zmetadata")
      if (!fs.exists(p)) Map.empty[String, String]
      else {
        val root = JsonMethods.parse(new String(readSmall(spark, s"$dir/.zmetadata"), "UTF-8"))
        val fmt = (root \ "zarr_consolidated_format").extractOpt[Int]
        require(fmt.contains(1), s"$dir/.zmetadata: consolidated format $fmt not supported (1 only)")
        (root \ "metadata") match {
          case JObject(fields) =>
            fields.map { case (k, v) => k -> JsonMethods.compact(JsonMethods.render(v)) }.toMap
          case other => throw new IllegalArgumentException(
            s"$dir/.zmetadata: 'metadata' is ${other.getClass.getSimpleName}, expected an object")
        }
      }
    }
    // zarr v3: `zarr.consolidate_metadata()` (see [[consolidateMetadataV3]])
    // inlines every child node's metadata into the ROOT zarr.json under
    // consolidated_metadata — entries are keyed here as "<name>/zarr.json"
    // (disjoint from the v2 "<name>/.zarray" keys, so both can coexist)
    val v3 = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/zarr.json")
      if (!fs.exists(p)) Map.empty[String, String]
      else {
        val root = JsonMethods.parse(new String(readSmall(spark, s"$dir/zarr.json"), "UTF-8"))
        (root \ "consolidated_metadata" \ "metadata") match {
          case JObject(fields) =>
            fields.map { case (k, v) =>
              s"$k/zarr.json" -> JsonMethods.compact(JsonMethods.render(v))
            }.toMap
          case _ => Map.empty[String, String]
        }
      }
    }
    v2 ++ v3
  }

  /** Metadata JSON for `rel` ("x/.zarray"): the consolidated entry when
    * present, else the individual file.
    */
  private def metaJson(spark: SparkSession, dir: String, rel: String,
                       cons: Map[String, String]): String =
    cons.getOrElse(rel, new String(readSmall(spark, s"$dir/$rel"), "UTF-8"))

  /** The v3 analog of `zarr.consolidate_metadata()`: inline every child
    * node's `zarr.json` into the root's `consolidated_metadata` so one
    * root read serves all array metadata — the per-array round trips are
    * the object-store latency killer on stores with many arrays. Readers
    * here (and zarr-python with `use_consolidated=True`) then never touch
    * the per-array files; [[appendGridNdDistributed]] keeps the inlined
    * entries in sync when the store grows.
    */
  def consolidateMetadataV3(spark: SparkSession, dir: String): Unit = {
    val fs = fsFor(spark, dir)
    val rootP = new org.apache.hadoop.fs.Path(s"$dir/zarr.json")
    require(fs.exists(rootP), s"$dir: no root zarr.json — not a zarr v3 store")
    val rootJ = JsonMethods.parse(new String(readSmall(spark, s"$dir/zarr.json"), "UTF-8"))
      .asInstanceOf[JObject]
    val children = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName).sorted
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$d/zarr.json")))
    val md = JObject(children.map(d =>
      d -> JsonMethods.parse(new String(readSmall(spark, s"$dir/$d/zarr.json"), "UTF-8"))).toList)
    val cm: JValue = JObject(List(
      "kind" -> JString("inline"), "must_understand" -> JBool(false),
      "metadata" -> (md: JValue)))
    val newRoot = JObject(
      rootJ.obj.filterNot(_._1 == "consolidated_metadata") :+ ("consolidated_metadata" -> cm))
    val out = fs.create(rootP, true)
    try out.write(JsonMethods.compact(JsonMethods.render(newRoot)).getBytes("UTF-8"))
    finally out.close()
  }

  /** Driver-side full read of a small (coordinate) array; absent chunk
    * files resolve to fill_value (or raise if none declared).
    */
  private def readArrayLocal(spark: SparkSession, dir: String, name: String,
                             cons: Map[String, String]): Array[Double] = {
    val arrDir = s"$dir/$name"
    val m = arrayMeta(spark, dir, name, cons)
    require(m.shape.length == 1, s"$name: expected 1-d coordinate array, got ${m.shape}")
    val fs = fsFor(spark, arrDir)
    val out = new Array[Double](m.shape.head)
    val nChunks = (m.shape.head + m.chunks.head - 1) / m.chunks.head
    (0 until nChunks).foreach { ci =>
      val rel = s"${m.prefix}$ci"
      val vals =
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$arrDir/$rel")))
          decodeChunk(readSmall(spark, s"$arrDir/$rel"), m, name)
        else fillChunk(m, name, rel)
      val base = ci * m.chunks.head
      var i = 0
      while (i < m.chunks.head && base + i < m.shape.head) { out(base + i) = vals(i); i += 1 }
    }
    out
  }

  /** Present chunk indices of a rank-R array directory — one driver
    * listing walk (the same listing a binaryFile scan performs anyway).
    */
  private def presentChunks(spark: SparkSession, arrDir: String, m: ZMeta,
                            rank: Int): Set[Seq[Int]] = {
    val fs = fsFor(spark, arrDir)
    // v3 default keys nest under the "c" prefix directory (sep "/") or
    // flatten to "c.i.j" files (sep "."); v2 keys sit directly in the
    // array dir
    val base = new org.apache.hadoop.fs.Path(
      if (m.prefix.nonEmpty && m.sep == "/") s"$arrDir/c" else arrDir)
    if (!fs.exists(base)) Set.empty
    else if (m.sep == "/") {
      def walk(p: org.apache.hadoop.fs.Path, acc: List[Int]): Seq[Seq[Int]] =
        fs.listStatus(p).toSeq
          .filter(s => !s.getPath.getName.startsWith(".") && s.getPath.getName.forall(_.isDigit))
          .flatMap { s =>
            val next = acc :+ s.getPath.getName.toInt
            if (next.length == rank && s.isFile) Seq(next)
            else if (next.length < rank && s.isDirectory) walk(s.getPath, next)
            else Nil
          }
      walk(base, Nil).toSet
    } else {
      val prefixStr = if (m.prefix.nonEmpty) "c." else ""
      fs.listStatus(base).map(_.getPath.getName)
        .filter(n => !n.startsWith(".") && n.startsWith(prefixStr))
        .flatMap { n =>
          val parts = n.stripPrefix(prefixStr).split("\\.")
          if (parts.length == rank && parts.forall(p => p.nonEmpty && p.forall(_.isDigit)))
            Some(parts.map(_.toInt).toSeq)
          else None
        }.toSet
    }
  }

  /** Chunk files of array `v` under `dir` as (path, key, content), the
    * key being the path relative to the array directory. Metadata
    * (`zarr.json`, v2 dot-files) and hidden entries are dropped by the KEY,
    * so a store below a dot-directory (e.g. `/home/u/.cache/grid.zarr`)
    * still reads.
    */
  private def chunkFiles(spark: SparkSession, dir: String, v: String): DataFrame = {
    val key = substring_index(col("path"), s"/$v/", -1)
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(s"$dir/$v")
      .select(col("path"), key.as("key"), col("content"))
      .filter(!col("key").startsWith(".") && !col("key").contains("/.") &&
        !col("key").endsWith("zarr.json"))
  }

  private def readChunkFile(conf: org.apache.hadoop.conf.Configuration,
                            path: String): Option[Array[Byte]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = rawFs(path, conf)
    if (!fs.exists(p)) None
    else {
      val len = fs.getFileStatus(p).getLen.toInt
      val bytes = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0, bytes) finally in.close()
      Some(bytes)
    }
  }

  /** Read 2-d (yDim, xDim) variables of a zarr group into rows
    * (xDim, yDim, vars...) — the xarray `open_zarr().to_dataframe()`
    * layout: the rank-2 case of [[readGridNd]].
    */
  def readGrid2d(spark: SparkSession, dir: String, xDim: String, yDim: String,
                 varNames: Seq[String]): DataFrame =
    xFirst(readGridNd(spark, dir, Seq(yDim, xDim), varNames), Seq(yDim, xDim), varNames)

  /** The 2-d column order (xDim, yDim, vars...) of every rank-2 read;
    * other ranks keep the C-order dims. */
  private def xFirst(df: DataFrame, dims: Seq[String], varNames: Seq[String]): DataFrame =
    if (dims.length != 2) df
    else df.select((Seq(dims(1), dims(0)) ++ varNames).map(col): _*)

  /** chunk-file name of a rank-R chunk index for this array's key encoding. */
  private def chunkRelOf(m: ZMeta, idx: Seq[Int]): String =
    m.prefix + idx.mkString(m.sep)

  /** Rank-R chunk index back out of a chunk path's relative name. */
  private def parseChunkIdx(m: ZMeta, rel: String, path: String, rank: Int): Seq[Int] = {
    val r = if (m.prefix.nonEmpty && rel.startsWith(m.prefix)) rel.substring(m.prefix.length) else rel
    val idx = r.split(if (m.sep == "/") "/" else "\\.").map(_.toInt).toSeq
    require(idx.length == rank, s"$path: bad chunk name '$rel' (expected rank $rank)")
    idx
  }

  /** Shared prelude of [[readGridNd]] and [[readGridNdWindow]]: the dim
    * axes (driver-side, axis-sized), each variable's metadata checked
    * against them, and whether all variables share one chunk grid.
    */
  private def gridLayout(spark: SparkSession, dir: String, dims: Seq[String],
                         varNames: Seq[String])
      : (Seq[Array[Double]], Map[String, ZMeta], Boolean) = {
    require(varNames.nonEmpty, "no variables requested")
    require(dims.nonEmpty, "no dims given")
    val cons = consolidated(spark, dir)
    val axes = dims.map(d => readArrayLocal(spark, dir, d, cons))
    val shape = axes.map(_.length)
    val metas = varNames.map { v =>
      val m = arrayMeta(spark, dir, v, cons)
      require(m.shape == shape,
        s"$v shape ${m.shape} != $shape = (${dims.mkString(", ")})")
      require(m.chunks.length == dims.length, s"$v: chunk rank ${m.chunks.length} != ${dims.length}")
      v -> m
    }.toMap
    val m0 = metas(varNames.head)
    val aligned = varNames.forall(v =>
      metas(v).chunks == m0.chunks && metas(v).sep == m0.sep && metas(v).prefix == m0.prefix)
    (axes, metas, aligned)
  }

  /** Rows (dims..., vars...) of one chunk: an odometer over its cells
    * mapping chunk-local to global indices, skipping the padded cells of
    * edge chunks and, when `keep` is non-null, the cells outside the
    * window. `all` holds one decoded full-extent chunk per variable.
    */
  private def chunkRows(chunks: Seq[Int], cidx: Seq[Int], axes: Seq[Array[Double]],
                        keep: Array[Array[Boolean]], all: Seq[Array[Double]]): Iterator[Row] = {
    val rank = chunks.length
    val k = chunks.toArray
    val ax = axes.toArray
    val strides = new Array[Int](rank) // row-major strides within the chunk
    var s = 1
    var d = rank - 1
    while (d >= 0) { strides(d) = s; s *= k(d); d -= 1 }
    val cbase = cidx.toArray
    Iterator.range(0, k.product).flatMap { p =>
      val g = new Array[Int](rank)
      var rem = p
      var ok = true
      var i = 0
      while (i < rank) {
        val ci = rem / strides(i); rem %= strides(i)
        val gi = cbase(i) * k(i) + ci
        if (gi >= ax(i).length || (keep != null && !keep(i)(gi))) ok = false
        g(i) = gi
        i += 1
      }
      if (!ok) None
      else Some(Row.fromSeq((0 until rank).map(i => ax(i)(g(i))) ++ all.map(_(p))))
    }
  }

  /** Read rank-R variables of a zarr group into long-form rows
    * (dims..., vars...) — the xarray `to_dataframe().reset_index()`
    * layout; `(time, y, x)` daily-grid archives are the archetype, and
    * [[readGrid2d]] is the rank-2 case. Dims are given in the arrays' own
    * C-order (slowest-varying first). Chunk files are the unit of
    * parallelism: aligned variables ride ONE binaryFile scan with sibling
    * chunk reads in-task (zero shuffle); misaligned chunk grids fall back
    * to per-variable scans equi-joined on the dim columns; absent chunk
    * files synthesize fill_value cells.
    */
  def readGridNd(spark: SparkSession, dir: String, dims: Seq[String],
                 varNames: Seq[String]): DataFrame = {
    val (axes, metas, aligned) = gridLayout(spark, dir, dims, varNames)
    if (aligned) scanChunks(spark, dir, dims, varNames, axes, metas)
    else varNames.map(v => scanChunks(spark, dir, dims, Seq(v), axes, metas))
      .reduce((a, b) => a.join(b, dims))
  }

  /** One chunk-parallel scan of variables sharing a chunk grid: a
    * binaryFile scan over the first variable's chunks drives the job and
    * each task opens the SIBLING chunk files of the others directly, so
    * k-variable rows assemble in-task. Zarr legally omits all-fill chunk
    * files: cells of first-variable chunks with no file come from
    * fill_value in a (usually empty) side scan, or raise when the array
    * declares none.
    */
  private def scanChunks(spark: SparkSession, dir: String, dims: Seq[String],
                         varNames: Seq[String], axes: Seq[Array[Double]],
                         metas: Map[String, ZMeta]): DataFrame = {
    val rank = dims.length
    val schema = StructType(
      dims.map(d => StructField(d, DoubleType, nullable = false)) ++
        varNames.map(v => StructField(v, DoubleType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val v0 = varNames.head; val others = varNames.tail
    val m0 = metas(v0)
    // tasks read sibling chunks with the SESSION's Hadoop conf (fs.*
    // settings / credentials), not a default-constructed one
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    def siblingChunk(v: String, cidx: Seq[Int]): Array[Double] = {
      val rel = chunkRelOf(metas(v), cidx)
      readChunkFile(confB.value.value, s"$dir/$v/$rel") match {
        case Some(bytes) => decodeChunk(bytes, metas(v), v)
        case None => fillChunk(metas(v), v, rel)
      }
    }
    val scanned = chunkFiles(spark, dir, v0)
      .flatMap { r =>
        val cidx = parseChunkIdx(m0, r.getString(1), r.getString(0), rank)
        val all = decodeChunk(r.getAs[Array[Byte]](2), m0, v0) +:
          others.map(v => siblingChunk(v, cidx))
        chunkRows(m0.chunks, cidx, axes, null, all)
      }(enc)
    val nPer = axes.indices.map(i => (axes(i).length + m0.chunks(i) - 1) / m0.chunks(i))
    val expected = nPer.foldLeft(Seq(Seq.empty[Int])) { (acc, n) =>
      acc.flatMap(pfx => (0 until n).map(pfx :+ _))
    }
    val missing = expected.filterNot(presentChunks(spark, s"$dir/$v0", m0, rank))
    if (missing.isEmpty) scanned
    else {
      missing.foreach(c => if (m0.fill.isEmpty) fillChunk(m0, v0, chunkRelOf(m0, c)))
      import spark.implicits._
      val synthesized = missing.toDS().repartition(math.min(missing.size, 32))
        .flatMap { cidx =>
          val all = fillChunk(m0, v0, chunkRelOf(m0, cidx)) +:
            others.map(v => siblingChunk(v, cidx))
          chunkRows(m0.chunks, cidx, axes, null, all)
        }(enc)
      scanned.unionAll(synthesized)
    }
  }

  /** Pruning evidence for window reads: driver-side chunk planning counts
    * plus executor-side accumulators for shard-selective ranged I/O.
    */
  final class WindowStats(spark: SparkSession) extends Serializable {
    /** chunks in the full grid (driver-side plan). */
    var chunksTotal = 0
    /** chunks intersecting the window = files the scan touches. */
    var chunksPlanned = 0
    /** inner chunks materialized across all planned shards. */
    val innerChunksRead: org.apache.spark.util.LongAccumulator =
      spark.sparkContext.longAccumulator("zarr.innerChunksRead")
    /** inner chunks present across all planned shards. */
    val innerChunksTotal: org.apache.spark.util.LongAccumulator =
      spark.sparkContext.longAccumulator("zarr.innerChunksTotal")
    /** bytes fetched from chunk/shard files (indexes + payloads). */
    val bytesRead: org.apache.spark.util.LongAccumulator =
      spark.sparkContext.longAccumulator("zarr.bytesRead")
  }

  /** Shard-selective read: fetch ONLY the index footer and the inner
    * chunks whose global cells intersect the window — on an object store
    * these are ranged GETs against one shard object, the access pattern
    * `sharding_indexed` exists for. Returns the full-chunk-extent values
    * (non-window cells hold fill) or None when the shard file is absent.
    */
  private def readShardWindow(conf: org.apache.hadoop.conf.Configuration, path: String,
                              m: ZMeta, name: String, cidx: Seq[Int],
                              keep: Array[Array[Boolean]], shape: Array[Int],
                              innerRead: org.apache.spark.util.LongAccumulator,
                              innerTotal: org.apache.spark.util.LongAccumulator,
                              bytesAcc: org.apache.spark.util.LongAccumulator): Option[Array[Double]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = rawFs(path, conf)
    if (!fs.exists(p)) return None
    val inner = m.innerChunks
    val rank = m.chunks.length
    require(inner.length == rank, s"$name: inner chunk rank ${inner.length} != shard rank $rank")
    val nPer = m.chunks.indices.map(i => (m.chunks(i) + inner(i) - 1) / inner(i))
    val nInner = nPer.product
    val indexLen = 16L * nInner + (if (m.indexCrc) 4 else 0)
    val fileLen = fs.getFileStatus(p).getLen
    require(fileLen >= indexLen, s"$name: shard of $fileLen bytes lacks its $indexLen-byte index")
    val idxBase = if (m.indexAtEnd) fileLen - indexLen else 0L
    // inner chunk li needed <=> every dim has a kept in-bounds global index
    // inside li's global span
    val strides = nPer.scanRight(1)(_ * _).tail.toArray
    def needed(li: Int): Boolean = {
      var rem = li
      var d = 0
      while (d < rank) {
        val ii = rem / strides(d); rem %= strides(d)
        val g0 = cidx(d) * m.chunks(d) + ii * inner(d)
        val g1 = math.min(g0 + inner(d), math.min(cidx(d) * m.chunks(d) + m.chunks(d), shape(d)))
        var hit = false
        var g = g0
        while (g < g1 && !hit) { if (keep(d)(g)) hit = true; g += 1 }
        if (!hit) return false
        d += 1
      }
      true
    }
    val idxBuf = new Array[Byte](16 * nInner)
    val in = fs.open(p)
    try {
      in.readFully(idxBase, idxBuf, 0, 16 * nInner)
      bytesAcc.add(indexLen)
      val bb = ByteBuffer.wrap(idxBuf).order(ByteOrder.LITTLE_ENDIAN)
      val innerMeta = m.copy(chunks = inner, comp = m.innerComp, innerChunks = Nil)
      val out = new Array[Double](m.chunks.product)
      m.fill.foreach(f => java.util.Arrays.fill(out, f))
      var li = 0
      while (li < nInner) {
        val off = bb.getLong(li * 16)
        val len = bb.getLong(li * 16 + 8)
        if (!(off == -1L && len == -1L)) innerTotal.add(1L)
        if (needed(li)) {
          if (off == -1L && len == -1L) {
            require(m.fill.nonEmpty, s"$name: absent inner chunk $li with no fill_value")
          } else {
            require(off >= 0 && len >= 0 && off + len <= fileLen,
              s"$name: shard index entry $li (offset $off, $len bytes) outside the shard")
            val buf = new Array[Byte](len.toInt)
            in.readFully(off, buf, 0, len.toInt)
            bytesAcc.add(len)
            innerRead.add(1L)
            placeInner(decodePlain(buf, innerMeta, name), out, m.chunks, inner, nPer, li, name)
          }
        }
        li += 1
      }
      Some(out)
    } finally in.close()
  }

  /** [[readGridNd]] with a coordinate WINDOW pushed into the scan — the
    * zarr analog of parquet partition pruning: only chunk files whose
    * coordinate spans intersect `ranges` (closed intervals keyed by dim
    * name) enter the job at all, and `sharding_indexed` chunks fetch only
    * the index footer plus the intersecting INNER chunks via ranged reads.
    * Returns exactly the in-window rows (identical to
    * `readGridNd(...).filter(lo <= dim && dim <= hi ...)`). Misaligned
    * variable chunk grids fall back to the full scan + filter (no pruning,
    * same rows). Pass `stats` to observe the pruning.
    */
  def readGridNdWindow(spark: SparkSession, dir: String, dims: Seq[String],
                       varNames: Seq[String], ranges: Map[String, (Double, Double)],
                       stats: WindowStats = null): DataFrame = {
    val unknown = ranges.keySet -- dims.toSet
    require(unknown.isEmpty, s"window ranges on non-dim columns: ${unknown.mkString(", ")}")
    val (axes, metas, aligned) = gridLayout(spark, dir, dims, varNames)
    if (!aligned) {
      // no shared chunk grid to prune against: correct-but-unpruned path
      var df = readGridNd(spark, dir, dims, varNames)
      ranges.foreach { case (d, (lo, hi)) => df = df.filter(col(d) >= lo && col(d) <= hi) }
      return df
    }
    val m0 = metas(varNames.head)
    val shape = axes.map(_.length)
    val keep: Array[Array[Boolean]] = dims.indices.map { i =>
      ranges.get(dims(i)) match {
        case Some((lo, hi)) => axes(i).map(v => v >= lo && v <= hi)
        case None => Array.fill(axes(i).length)(true)
      }
    }.toArray
    val nPer = shape.indices.map(i => (shape(i) + m0.chunks(i) - 1) / m0.chunks(i))
    // per dim: which chunk indices contain at least one kept coordinate
    val chunkKeep: Seq[Array[Boolean]] = shape.indices.map { i =>
      val ck = new Array[Boolean](nPer(i))
      var g = 0
      while (g < shape(i)) { if (keep(i)(g)) ck(g / m0.chunks(i)) = true; g += 1 }
      ck
    }
    var needed: Seq[Seq[Int]] = Seq(Seq.empty)
    chunkKeep.foreach { ck =>
      needed = needed.flatMap(prefix => ck.indices.collect { case ci if ck(ci) => prefix :+ ci })
    }
    if (stats != null) {
      stats.chunksTotal = nPer.product
      stats.chunksPlanned = needed.size
    }
    val schema = StructType(
      dims.map(d => StructField(d, DoubleType, nullable = false)) ++
        varNames.map(v => StructField(v, DoubleType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val shapeB = shape.toArray
    val innerRead = if (stats != null) stats.innerChunksRead
      else spark.sparkContext.longAccumulator("zarr.innerChunksRead")
    val innerTotal = if (stats != null) stats.innerChunksTotal
      else spark.sparkContext.longAccumulator("zarr.innerChunksTotal")
    val bytesAcc = if (stats != null) stats.bytesRead
      else spark.sparkContext.longAccumulator("zarr.bytesRead")
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    import spark.implicits._
    val neededDs = needed.map(_.toArray).toDS()
      .repartition(math.min(math.max(needed.size, 1), 32))
    neededDs.flatMap { cidxArr =>
      val cidx = cidxArr.toSeq
      val conf = confB.value.value
      def chunkOf(v: String): Array[Double] = {
        val m = metas(v)
        val path = s"$dir/$v/${chunkRelOf(m, cidx)}"
        val got =
          if (m.innerChunks.nonEmpty)
            readShardWindow(conf, path, m, v, cidx, keep, shapeB,
              innerRead, innerTotal, bytesAcc)
          else readChunkFile(conf, path).map { bytes =>
            bytesAcc.add(bytes.length.toLong); decodeChunk(bytes, m, v)
          }
        got.getOrElse(fillChunk(m, v, chunkRelOf(m, cidx)))
      }
      chunkRows(m0.chunks, cidx, axes, keep, varNames.map(chunkOf))
    }(enc)
  }

  /** [[readGrid2d]] with an (x, y) window pushed into the scan; column
    * order matches readGrid2d (xDim, yDim, vars...).
    */
  def readGrid2dWindow(spark: SparkSession, dir: String, xDim: String, yDim: String,
                       varNames: Seq[String],
                       xRange: Option[(Double, Double)] = None,
                       yRange: Option[(Double, Double)] = None,
                       stats: WindowStats = null): DataFrame = {
    val ranges = Seq(xDim -> xRange, yDim -> yRange)
      .collect { case (d, Some(r)) => d -> r }.toMap
    xFirst(readGridNdWindow(spark, dir, Seq(yDim, xDim), varNames, ranges, stats),
      Seq(yDim, xDim), varNames)
  }

  /** [[readStore]] with a coordinate window: same array/dim discovery,
    * pruned scan. Range keys not naming a store dim raise (the caller's
    * predicate would silently not prune otherwise).
    */
  def readStoreWindow(spark: SparkSession, dir: String,
                      ranges: Map[String, (Double, Double)],
                      stats: WindowStats = null): DataFrame = {
    val (dims, dataVars) = storeLayout(spark, dir)
    xFirst(readGridNdWindow(spark, dir, dims, dataVars, ranges, stats), dims, dataVars)
  }

  /** Write a gridded table as one N-d zarr group with the CHUNK FILES
    * written FROM THE EXECUTORS: dims in C-order (slowest first — for a
    * daily cube `(t, y, x)`), chunk shape `(1, n2, ..., nR)` = one chunk
    * per first-dim slice per variable, so a time-partitioned archive
    * exports as embarrassingly parallel per-day writes (the layout
    * object-store zarr archives actually use). Rows must cover the full
    * dim lattice exactly once (validated by count, never collected).
    */
  def writeGridNdDistributed(df: DataFrame, dir: String, dimCols: Seq[String],
                             varNames: Seq[String], compressor: String = "zlib",
                             zarrFormat: Int = 2, shardInnerRows: Int = 0): Unit = {
    require(dimCols.length >= 2, s"need >= 2 dims, got $dimCols")
    writeDistributed(df, dir, dimCols, varNames, 1, compressor, zarrFormat, shardInnerRows)
  }

  /** The executor-side zarr sink behind [[writeGridNdDistributed]] and
    * [[writeGrid2dDistributed]]: axes and the lattice check in one job
    * (the only driver-side data), metadata, then [[writeBands]] with
    * chunks of `bandRows` first-dim values by the full tail axes.
    * Sharding splits the first chunk dim longer than 1 into inner chunks
    * of `shardInnerRows`: a 2-d `(cr, nx)` chunk gets `(shardInnerRows,
    * nx)` inner chunks and a daily `(1, ny, nx)` slice `(1,
    * shardInnerRows, nx)` y-band inner chunks — the ranged-read
    * object-store layout.
    */
  private def writeDistributed(df: DataFrame, dir: String, dims: Seq[String],
                               varNames: Seq[String], bandRows: Int, compressor: String,
                               zarrFormat: Int, shardInnerRows: Int): Unit = {
    require(zarrFormat == 2 || zarrFormat == 3, s"zarrFormat $zarrFormat (2 or 3)")
    require(shardInnerRows == 0 || zarrFormat == 3, "sharding is a zarr v3 feature")
    GridAxes.withPersisted(df) {
      val (axes, total) = GridAxes.axesAndCount(df, dims)
      val shape = axes.map(_.length)
      require(total == shape.map(_.toLong).product,
        s"rows $total != full ${shape.mkString(" x ")} lattice (duplicates or gaps)")
      require(total > 0, "no rows to write")
      val chunks = math.min(bandRows, shape.head) +: shape.tail
      val split = chunks.indexWhere(_ > 1)
      require(shardInnerRows == 0 || split >= 0 && chunks(split) % shardInnerRows == 0,
        s"shardInnerRows $shardInnerRows must divide the first chunk extent above 1 of " +
          chunks.mkString("(", ", ", ")"))
      val shardInner = if (shardInnerRows > 0) chunks.updated(split, shardInnerRows) else Nil
      // metadata + coordinate arrays (tiny, driver-side, via the Hadoop FS
      // API so the sink targets local paths, HDFS, or object stores alike)
      writeMetaNd(df.sparkSession, dir, dims, axes, varNames, chunks, compressor, zarrFormat,
        shardInner)
      val v3 = zarrFormat == 3
      writeBands(df, dir, dims, varNames, axes.map(_.zipWithIndex.toMap), chunks, 0,
        shardInner, compressor, v3, (_, idx) => chunkKey(idx, v3))
    }
  }

  /** The executor chunk writer of every distributed zarr sink. Rows of
    * (dims..., vars...) hash-partition by band of `chunks.head` first-dim
    * indices (`idxMaps`: coordinate value -> axis index, per dim); each
    * task assembles its bands, the ragged last band zero-padded to the
    * full chunk, and writes one file per (band, variable) under
    * `keyOf(variable, (first + band, 0, ...))`: a plain `comp`-coded
    * chunk, or a `sharding_indexed` shard of `shardInner` inner chunks.
    */
  private def writeBands(df: DataFrame, dir: String, dims: Seq[String], varNames: Seq[String],
                         idxMaps: Seq[Map[Double, Int]], chunks: Seq[Int], first: Int,
                         shardInner: Seq[Int], comp: String, v3: Boolean,
                         keyOf: (String, Seq[Int]) => String): Unit = {
    val spark = df.sparkSession
    val rank = dims.length
    val maps = idxMaps.toArray
    val c0 = chunks.head
    val bandSize = chunks.product
    // row-major strides within one band
    val strides = chunks.scanRight(1)(_ * _).tail.toArray
    val vars = varNames.toArray
    // tasks write with the SESSION's Hadoop conf (credentials, fs.* tuning)
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    val bandOf = udf((v: Double) => maps(0)(v) / c0)
    df.select((dims ++ varNames).map(col): _*)
      .repartition((maps(0).size + c0 - 1) / c0, bandOf(col(dims.head)))
      .foreachPartition { (rows: Iterator[Row]) =>
        // assemble the partition's bands (hash may co-locate several)
        val bands = scala.collection.mutable.Map.empty[Int, Array[Array[Double]]]
        rows.foreach { r =>
          val i0 = maps(0)(r.getDouble(0))
          val b = i0 / c0
          var off = (i0 - b * c0) * strides(0)
          var d = 1
          while (d < rank) { off += maps(d)(r.getDouble(d)) * strides(d); d += 1 }
          val band = bands.getOrElseUpdate(b, Array.fill(vars.length)(new Array[Double](bandSize)))
          var v = 0
          while (v < vars.length) { band(v)(off) = r.getDouble(rank + v); v += 1 }
        }
        if (bands.nonEmpty) {
          val conf = confB.value.value
          bands.foreach { case (b, band) =>
            vars.indices.foreach { v =>
              val p = new org.apache.hadoop.fs.Path(
                s"$dir/${vars(v)}/${keyOf(vars(v), (first + b) +: Seq.fill(rank - 1)(0))}")
              val payload =
                if (shardInner.nonEmpty)
                  encodeShard(doubleLeBytes(band(v)), chunks, shardInner, comp)
                else encodeChunk(doubleLeBytes(band(v)), comp, v3)
              val out = rawFs(p.toString, conf).create(p, true)
              try out.write(payload) finally out.close()
            }
          }
        }
      }
  }

  /** Append new FIRST-dim slices to a store written by
    * [[writeGridNdDistributed]] — the xarray `to_zarr(append_dim=dim0)`
    * analog, the way growing archives actually grow. New rows must cover
    * (new dim-0 values) x (the store's tail lattice) exactly; dim-0
    * values must be new. Chunk files for the new slices write FROM THE
    * EXECUTORS with the store's own codec and shard geometry; only the
    * dim-0 coordinate array and per-array `shape` metadata rewrite
    * driver-side (axis-sized work), `.zmetadata` kept in sync. Existing
    * chunk files are never touched — a crashed append leaves the store
    * readable at its old shape.
    */
  def appendGridNdDistributed(df: DataFrame, dir: String, dimCols: Seq[String],
                              varNames: Seq[String]): Unit = {
    require(dimCols.length >= 2, s"need >= 2 dims, got $dimCols")
    val spark = df.sparkSession
    val fs = fsFor(spark, dir)
    val v3 = fs.exists(new org.apache.hadoop.fs.Path(s"$dir/zarr.json"))
    val cons = consolidated(spark, dir)
    val oldAxes = dimCols.map(d => readArrayLocal(spark, dir, d, cons))
    val metas = varNames.map(v => v -> arrayMeta(spark, dir, v, cons)).toMap
    val m0 = metas(varNames.head)
    require(varNames.forall(v => metas(v).chunks == m0.chunks && metas(v).comp == m0.comp &&
      metas(v).innerChunks == m0.innerChunks),
      s"$dir: variables disagree on chunk/codec layout — cannot append uniformly")
    require(m0.shape == oldAxes.map(_.length),
      s"$dir: ${varNames.head} shape ${m0.shape} != axis lengths ${oldAxes.map(_.length)}")
    require(m0.chunks == 1 +: oldAxes.tail.map(_.length),
      s"$dir: append supports the per-first-dim-slice chunk layout, got chunks ${m0.chunks}")
    // sharded arrays carry the codec on the INNER chain
    val comp = (if (m0.innerChunks.nonEmpty) m0.innerComp else m0.comp) match {
      case "zlib" | "gzip3" => "zlib"
      case "zstd" => "zstd"
      case "blosc" => "blosc"
      case o => throw new IllegalArgumentException(
        s"$dir: cannot append with compressor '$o' (zlib/gzip/zstd/blosc)")
    }
    // new dim-0 values + tail-lattice equality (axis-sized driver work),
    // all dims + row count in ONE job (was rank + 1 input passes); input
    // persisted across the axis pass and the write pass, and unpersisted
    // even when a check below throws
    val (newVals, tailShape) = GridAxes.withPersisted(df) {
      val (newAxes, total) = GridAxes.axesAndCount(df, dimCols)
      val newVals = newAxes.head
      require(newVals.nonEmpty, "nothing to append")
      val oldSet = oldAxes.head.toSet
      require(!newVals.exists(oldSet.contains), s"append ${dimCols.head} values overlap " +
        s"the store: ${newVals.filter(oldSet.contains).take(3).mkString(", ")}")
      dimCols.tail.zipWithIndex.foreach { case (d, i) =>
        require(java.util.Arrays.equals(newAxes(i + 1), oldAxes(i + 1)),
          s"append $d axis differs from the store's")
      }
      val tailShape = oldAxes.tail.map(_.length)
      require(total == newVals.length.toLong * tailShape.map(_.toLong).product,
        s"rows $total != full ${newVals.length} x ${tailShape.mkString(" x ")} lattice")

      // new slice chunks from the executors, indices offset past the store
      val idxMaps = newVals.zipWithIndex.toMap +: oldAxes.tail.map(_.zipWithIndex.toMap)
      writeBands(df, dir, dimCols, varNames, idxMaps, m0.chunks, oldAxes.head.length,
        m0.innerChunks, comp, v3, (v, idx) => chunkRelOf(metas(v), idx))
      (newVals, tailShape)
    }

    // metadata LAST (commit point): grown dim-0 axis + per-array shapes
    val newAxis0 = oldAxes.head ++ newVals
    val newShape = newAxis0.length +: tailShape
    def writeFile(rel: String, bytes: Array[Byte]): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, rel), true)
      try out.write(bytes) finally out.close()
    }
    def patchShape(json: String, shape: Seq[Int], alsoChunks: Boolean): String = {
      var j = JsonMethods.parse(json).transformField {
        case ("shape", _) => ("shape", JArray(shape.map(n => JInt(n)).toList))
      }
      if (alsoChunks) j = j.transformField {
        case ("chunks", _) => ("chunks", JArray(shape.map(n => JInt(n)).toList))
        case ("chunk_grid", _) => ("chunk_grid", JsonMethods.parse(
          s"""{"name":"regular","configuration":{"chunk_shape":[${shape.mkString(",")}]}}"""))
      }
      JsonMethods.compact(JsonMethods.render(j))
    }
    val d0 = dimCols.head
    val metaRel = (a: String) => if (v3) s"$a/zarr.json" else s"$a/.zarray"
    val newEntries = scala.collection.mutable.Map.empty[String, String]
    // dim-0 coordinate: single-chunk array — rewrite metadata + chunk
    val d0meta = patchShape(metaJson(spark, dir, metaRel(d0), cons),
      Seq(newAxis0.length), alsoChunks = true)
    writeFile(metaRel(d0), d0meta.getBytes("UTF-8"))
    newEntries += (metaRel(d0) -> d0meta)
    val d0m = arrayMeta(spark, dir, d0, Map.empty) // re-read PATCHED meta
    writeFile(s"$d0/${chunkRelOf(d0m, Seq(0))}",
      encodeChunk(doubleLeBytes(newAxis0), comp, v3))
    varNames.foreach { v =>
      val patched = patchShape(metaJson(spark, dir, metaRel(v), cons),
        newShape, alsoChunks = false)
      writeFile(metaRel(v), patched.getBytes("UTF-8"))
      newEntries += (metaRel(v) -> patched)
    }
    if (!v3 && fs.exists(new org.apache.hadoop.fs.Path(s"$dir/.zmetadata"))) {
      val merged = consolidated(spark, dir) ++ newEntries
      writeFile(".zmetadata", consolidatedJson(merged.toSeq).getBytes("UTF-8"))
    }
    // v3 consolidated root: patch the inlined child entries so readers
    // that trust consolidated_metadata see the grown shapes
    if (v3) {
      val rootRel = "zarr.json"
      val rootP = new org.apache.hadoop.fs.Path(s"$dir/$rootRel")
      if (fs.exists(rootP)) {
        val rootJ = JsonMethods.parse(new String(readSmall(spark, s"$dir/$rootRel"), "UTF-8"))
        (rootJ \ "consolidated_metadata" \ "metadata") match {
          case JObject(fields) =>
            val newMd = JObject(fields.map { case (k, v) =>
              newEntries.get(s"$k/zarr.json")
                .map(s => k -> JsonMethods.parse(s)).getOrElse(k -> v)
            })
            val newRoot = JObject(rootJ.asInstanceOf[JObject].obj.map {
              case ("consolidated_metadata", cm: JObject) =>
                "consolidated_metadata" -> JObject(cm.obj.map {
                  case ("metadata", _) => "metadata" -> (newMd: JValue)
                  case f => f
                })
              case f => f
            })
            writeFile(rootRel, JsonMethods.compact(JsonMethods.render(newRoot)).getBytes("UTF-8"))
          case _ => () // unconsolidated v3 root — nothing to sync
        }
      }
    }
  }

  /** Read a whole xarray-shaped zarr store: data variables are the
    * arrays of the highest rank (>= 2), their dims come from `.zattrs`
    * `_ARRAY_DIMENSIONS` or `dimension_names` (all data variables must
    * share one dim tuple), coordinates are the dims' own 1-d arrays; a
    * 2-d store reads as (x, y, vars...). This is the `ConfigExpr.load`
    * `.zarr` dispatch target — `xr.open_zarr(...).to_dataframe().reset_index()`.
    */
  def readStore(spark: SparkSession, dir: String): DataFrame = {
    val (dims, dataVars) = storeLayout(spark, dir)
    xFirst(readGridNd(spark, dir, dims, dataVars), dims, dataVars)
  }

  /** The store's dim names in C-order (one consolidated-metadata read on
    * consolidated stores) — lets callers decide which predicate columns
    * are window-pushable before reading anything.
    */
  def storeDims(spark: SparkSession, dir: String): Seq[String] = storeLayout(spark, dir)._1

  /** One dim's coordinate values (driver-side, axis-sized) — e.g. the
    * already-archived dates, for idempotent append sinks.
    */
  def dimAxis(spark: SparkSession, dir: String, dim: String): Array[Double] =
    readArrayLocal(spark, dir, dim, consolidated(spark, dir))

  /** Array/dim discovery shared by [[readStore]] and [[readStoreWindow]]:
    * (dims in C-order, data variable names).
    */
  private def storeLayout(spark: SparkSession, dir: String): (Seq[String], Seq[String]) = {
    val fs = fsFor(spark, dir)
    val cons = consolidated(spark, dir)
    // array discovery: ONE .zmetadata read when consolidated (no listing,
    // no per-array existence probes), else the directory listing
    // v3 stores: zarr-python 3's default output — arrays carry their own
    // `zarr.json` and name their dims in `dimension_names`
    val v3 = fs.exists(new org.apache.hadoop.fs.Path(s"$dir/zarr.json"))
    val arrays =
      if (cons.nonEmpty)
        cons.collect {
          case (k, _) if k.endsWith("/.zarray") => k.stripSuffix("/.zarray")
          case (k, v) if k.endsWith("/zarr.json") &&
            (JsonMethods.parse(v) \ "node_type").extractOpt[String].contains("array") =>
            k.stripSuffix("/zarr.json")
        }.toArray.sorted
      else {
        val subdirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
          .filter(_.isDirectory).map(_.getPath.getName).sorted
        subdirs.filter(d =>
          fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$d/.zarray")) ||
            (v3 && fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$d/zarr.json"))))
      }
    require(arrays.nonEmpty, s"$dir: no zarr arrays found")
    def dimsOf(a: String): Seq[String] = {
      // v3 consolidated entry first (zero per-array reads), then the file
      if (cons.contains(s"$a/zarr.json"))
        return (JsonMethods.parse(cons(s"$a/zarr.json")) \
          "dimension_names").extractOpt[Seq[String]].getOrElse(Seq.empty)
      if (v3 && !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$a/.zattrs"))) {
        val p = new org.apache.hadoop.fs.Path(s"$dir/$a/zarr.json")
        if (!fs.exists(p)) return Seq.empty
        return (JsonMethods.parse(new String(readSmall(spark, s"$dir/$a/zarr.json"), "UTF-8")) \
          "dimension_names").extractOpt[Seq[String]].getOrElse(Seq.empty)
      }
      val rel = s"$a/.zattrs"
      val json =
        if (cons.contains(rel)) Some(cons(rel))
        else if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$rel")))
          Some(new String(readSmall(spark, s"$dir/$rel"), "UTF-8"))
        else None
      json.map(j => (JsonMethods.parse(j) \ "_ARRAY_DIMENSIONS")
        .extractOpt[Seq[String]].getOrElse(Seq.empty)).getOrElse(Seq.empty)
    }
    val withDims = arrays.map(a => a -> dimsOf(a)).toMap
    // data variables = the arrays of the store's highest rank >= 2 (an
    // xarray dataset's variables; aux 1-d arrays are the coordinates)
    val maxRank = withDims.values.map(_.length).foldLeft(0)(math.max)
    require(maxRank >= 2,
      s"$dir: no data variables (rank >= 2) with _ARRAY_DIMENSIONS/dimension_names found " +
        s"(arrays: ${arrays.mkString(", ")})")
    val dataVars = arrays.filter(a => withDims(a).length == maxRank).toSeq
    val dimSets = dataVars.map(withDims).distinct
    require(dimSets.length == 1,
      s"$dir: data variables disagree on dims: $dimSets")
    (dimSets.head, dataVars)
  }

  /** Re-encode one array's chunk files as blosc frames (the zarr-default
    * numcodecs layout: 16-byte header + block starts + lz4/zlib streams,
    * byte-shuffled) and patch its `.zarray` compressor accordingly.
    * Driver-side utility (store-conversion-sized work) — also how the
    * engine's own stores are made byte-compatible with readers expecting
    * the zarr default compressor.
    */
  def toBlosc(spark: SparkSession, arrDir: String, cname: String = "lz4",
              byteShuffle: Boolean = true): Unit = {
    val codec = cname match {
      case "blosclz" => BloscLite.CodecBloscLz
      case "lz4" | "lz4hc" => BloscLite.CodecLz4
      case "zlib" => BloscLite.CodecZlib
      case o => throw new IllegalArgumentException(
        s"blosc cname '$o' not supported (blosclz/lz4/zlib)")
    }
    recompress(spark, arrDir,
      s"""{"id":"blosc","cname":"$cname","clevel":5,"shuffle":${if (byteShuffle) 1 else 0},"blocksize":0}""",
      (plain, meta) => BloscLite.compress(plain, dtypeSize(meta.dtype, arrDir), codec,
        byteShuffle = byteShuffle))
  }

  /** Re-encode one array's chunk files as bare zstd frames and declare
    * the numcodecs `Zstd()` compressor — real entropy-coded frames via
    * [[ZstdLite.compress]] (LZ77 + predefined-FSE sequences; conformance
    * in ZstdSpec decodes them with the real zstd CLI). Keeps
    * `.zmetadata` in sync like [[toBlosc]].
    */
  def toZstd(spark: SparkSession, arrDir: String): Unit =
    recompress(spark, arrDir, """{"id":"zstd","level":5}""", (plain, _) => ZstdLite.compress(plain))

  /** Rewrite every chunk file of one zarr v2 array as `encode(plain bytes,
    * array meta)` after undoing its current compressor, then declare
    * `compressorJson` in its `.zarray` and keep the store's consolidated
    * metadata in sync (a stale `.zmetadata` would make consolidated
    * readers decode with the OLD compressor).
    */
  private def recompress(spark: SparkSession, arrDir: String, compressorJson: String,
                         encode: (Array[Byte], ZMeta) => Array[Byte]): Unit = {
    val meta = parseZarray(new String(readSmall(spark, s"$arrDir/.zarray"), "UTF-8"), arrDir)
    val fs = fsFor(spark, arrDir)
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
      fs.listStatus(p).toSeq.filterNot(_.getPath.getName.startsWith(".")).flatMap { s =>
        if (s.isDirectory) walk(s.getPath) else Seq(s.getPath)
      }
    walk(new org.apache.hadoop.fs.Path(arrDir)).foreach { p =>
      val plain = decompress(readSmall(spark, p.toString), meta.comp, p.toString)
      val out = fs.create(p, true)
      try out.write(encode(plain, meta)) finally out.close()
    }
    val zaPath = s"$arrDir/.zarray"
    val patched = JsonMethods.parse(new String(readSmall(spark, zaPath), "UTF-8"))
      .transformField { case ("compressor", _) =>
        ("compressor", JsonMethods.parse(compressorJson))
      }
    val patchedJson = JsonMethods.compact(JsonMethods.render(patched))
    val out = fs.create(new org.apache.hadoop.fs.Path(zaPath), true)
    try out.write(patchedJson.getBytes("UTF-8")) finally out.close()
    val slash = arrDir.stripSuffix("/").lastIndexOf('/')
    val (storeDir, arrName) = (arrDir.substring(0, slash), arrDir.substring(slash + 1))
    val zmPath = new org.apache.hadoop.fs.Path(s"$storeDir/.zmetadata")
    if (fs.exists(zmPath)) {
      val entries = consolidated(spark, storeDir) + (s"$arrName/.zarray" -> patchedJson)
      val o2 = fs.create(zmPath, true)
      try o2.write(consolidatedJson(entries.toSeq).getBytes("UTF-8")) finally o2.close()
    }
  }

  /** Write a gridded table as one xarray-shaped zarr group with the CHUNK
    * FILES written FROM THE EXECUTORS — the scale-path gridded sink: the
    * driver touches only the axes and JSON metadata; every (chunk row
    * band, variable) pair encodes + writes its own file through the
    * Hadoop FS inside a task, so a planet-scale grid exports as
    * embarrassingly parallel chunk writes. Rows must cover the full
    * (x, y) lattice exactly once (validated by count, not by collect).
    */
  def writeGrid2dDistributed(df: DataFrame, dir: String, xCol: String, yCol: String,
                             varNames: Seq[String], chunkRows: Int,
                             compressor: String = "zlib", zarrFormat: Int = 2,
                             shardInnerRows: Int = 0): Unit = {
    require(chunkRows > 0, "chunkRows must be positive")
    writeDistributed(df, dir, Seq(yCol, xCol), varNames, chunkRows, compressor, zarrFormat,
      shardInnerRows)
  }

  /** Encode one chunk under the named compressor: "zlib" (this writer's
    * historical default), "blosc" (the zarr ecosystem default — shuffled
    * blosc1-lz4 frames via BloscLite), or "zstd" (numcodecs `Zstd()` —
    * bare RFC 8878 frames via the pure-JVM entropy encoder). Under zarr
    * v3 the zlib knob maps to the spec's `gzip` codec (a full RFC-1952
    * stream, not a bare RFC-1950 one); blosc/zstd frames are identical
    * across formats.
    */
  private def encodeChunk(raw: Array[Byte], compressor: String, v3: Boolean = false): Array[Byte] =
    compressor match {
      case "zlib" => if (v3) gzipBytes(raw) else ChunkCodecs.deflate(raw, 5)
      case "blosc" => BloscLite.compress(raw, typesize = 8, BloscLite.CodecLz4)
      case "zstd" => ZstdLite.compress(raw)
      case o => throw new IllegalArgumentException(
        s"writer compressor '$o' not supported (zlib/blosc/zstd)")
    }

  /** Chunk key for index `idx`: v2 dotted names at the array root,
    * v3 default chunk-key-encoding under the `c/` prefix (sep "/").
    */
  private def chunkKey(idx: Seq[Int], v3: Boolean): String =
    if (v3) "c/" + idx.mkString("/") else idx.mkString(".")

  /** Encode one full-extent chunk as a zarr v3 `sharding_indexed` SHARD:
    * the chunk is subdivided into `inner`-shaped inner chunks (each dim
    * of `inner` must divide the chunk's — rank-generic), each coded
    * through the inner codec chain, followed by the u64-LE
    * (offset, nbytes) index plus its real CRC-32C (the spec's default
    * `index_codecs`), index at the end. Object stores read the tiny
    * index with one ranged GET and then only the inner chunks a query
    * touches — the v3 scale feature.
    */
  private def encodeShard(raw: Array[Byte], chunkShape: Seq[Int], inner: Seq[Int],
                          compressor: String): Array[Byte] = {
    val rank = chunkShape.length
    require(inner.length == rank &&
      inner.indices.forall(d => inner(d) > 0 && chunkShape(d) % inner(d) == 0),
      s"inner chunk $inner must divide the shard shape $chunkShape in every dim")
    require(raw.length == chunkShape.product * 8,
      s"shard payload ${raw.length} != ${chunkShape.product * 8}")
    val nPer = chunkShape.indices.map(d => chunkShape(d) / inner(d))
    val nI = nPer.product
    // row-major strides over the shard extent
    val cStr = new Array[Int](rank)
    var s = 1
    var d = rank - 1
    while (d >= 0) { cStr(d) = s; s *= chunkShape(d); d -= 1 }
    val runBytes = inner(rank - 1) * 8
    val outerDims = rank - 1
    val outerCells = inner.take(outerDims).product
    val body = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val index = ByteBuffer.allocate(16 * nI).order(ByteOrder.LITTLE_ENDIAN)
    var li = 0
    while (li < nI) {
      // gather this inner chunk's cells (row-major), runs along last dim
      val ii = new Array[Int](rank)
      var rem = li
      d = rank - 1
      while (d >= 0) { ii(d) = rem % nPer(d); rem /= nPer(d); d -= 1 }
      val innerRaw = new Array[Byte](inner.product * 8)
      var oc = 0
      while (oc < outerCells) {
        var r2 = oc
        var srcCell = ii(rank - 1) * inner(rank - 1)
        var dd = outerDims - 1
        while (dd >= 0) {
          val pd = r2 % inner(dd); r2 /= inner(dd)
          srcCell += (ii(dd) * inner(dd) + pd) * cStr(dd)
          dd -= 1
        }
        System.arraycopy(raw, srcCell * 8, innerRaw, oc * runBytes, runBytes)
        oc += 1
      }
      val enc = encodeChunk(innerRaw, compressor, v3 = true)
      index.putLong(body.size().toLong).putLong(enc.length.toLong)
      body.write(enc)
      li += 1
    }
    val crc = new java.util.zip.CRC32C()
    crc.update(index.array())
    val out = new java.io.ByteArrayOutputStream(body.size() + 16 * nI + 4)
    body.writeTo(out)
    out.write(index.array())
    val crcLe = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(crc.getValue.toInt).array()
    out.write(crcLe)
    out.toByteArray
  }

  private def gzipBytes(raw: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(o) { `def`.setLevel(5) }
    gz.write(raw); gz.close()
    o.toByteArray
  }

  private def doubleLeBytes(vals: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    vals.foreach(bb.putDouble)
    bb.array()
  }

  /** Rank-generic metadata + coordinate-array writer behind every grid
    * sink: dims in C-order (slowest-varying first — `(t, y, x)` for the
    * archetypal daily cube), one 1-d coordinate array per dim, each data
    * variable shaped by the dim lengths and chunked as `varChunks`.
    */
  private def writeMetaNd(spark: SparkSession, dir: String, dimNames: Seq[String],
                          dimVals: Seq[Array[Double]], varNames: Seq[String],
                          varChunks: Seq[Int], compressor: String,
                          zarrFormat: Int, shardInner: Seq[Int] = Nil): Unit = {
    require(dimNames.length == dimVals.length && dimNames.length == varChunks.length,
      s"dims ${dimNames.length} / axes ${dimVals.length} / chunks ${varChunks.length} mismatch")
    require(shardInner.isEmpty || zarrFormat == 3, "sharding is a zarr v3 feature")
    val shape = dimVals.map(_.length)
    val fs = fsFor(spark, dir)
    def writeFile(rel: String, bytes: Array[Byte]): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir, rel)
      val out = fs.create(p, true) // create() makes parent dirs
      try out.write(bytes) finally out.close()
    }
    if (zarrFormat == 3) {
      // zarr v3 (zarr-python 3's default): one `zarr.json` per node;
      // dims ride the array metadata itself (`dimension_names`), the
      // codec chain is [bytes le, <compressor>]; chunks live under c/
      val codecs = compressor match {
        case "blosc" =>
          """[{"name":"bytes","configuration":{"endian":"little"}},""" +
            """{"name":"blosc","configuration":{"cname":"lz4","clevel":5,""" +
            """"shuffle":"shuffle","typesize":8,"blocksize":0}}]"""
        case "zstd" =>
          """[{"name":"bytes","configuration":{"endian":"little"}},""" +
            """{"name":"zstd","configuration":{"level":5,"checksum":false}}]"""
        case _ =>
          """[{"name":"bytes","configuration":{"endian":"little"}},""" +
            """{"name":"gzip","configuration":{"level":5}}]"""
      }
      // data variables may shard: the outer codec becomes sharding_indexed
      // wrapping the plain chain, with the spec-default crc32c'd u64 index
      val varCodecs =
        if (shardInner.isEmpty) codecs
        else s"""[{"name":"sharding_indexed","configuration":{""" +
          s""""chunk_shape":[${shardInner.mkString(",")}],"codecs":$codecs,""" +
          s""""index_codecs":[{"name":"bytes","configuration":{"endian":"little"}},""" +
          s"""{"name":"crc32c"}],"index_location":"end"}}]"""
      def arrayJson(shape: Seq[Int], chunks: Seq[Int], dims: Seq[String],
                    codecsJson: String = codecs): String =
        s"""{"zarr_format":3,"node_type":"array","shape":[${shape.mkString(",")}],""" +
          s""""data_type":"float64","chunk_grid":{"name":"regular",""" +
          s""""configuration":{"chunk_shape":[${chunks.mkString(",")}]}},""" +
          s""""chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},""" +
          s""""fill_value":0.0,"codecs":$codecsJson,""" +
          s""""dimension_names":[${dims.map("\"" + _ + "\"").mkString(",")}],"attributes":{}}"""
      writeFile("zarr.json", """{"zarr_format":3,"node_type":"group","attributes":{}}""".getBytes("UTF-8"))
      def writeCoord3(name: String, vals: Array[Double]): Unit = {
        writeFile(s"$name/zarr.json",
          arrayJson(Seq(vals.length), Seq(vals.length), Seq(name)).getBytes("UTF-8"))
        writeFile(s"$name/${chunkKey(Seq(0), v3 = true)}",
          encodeChunk(doubleLeBytes(vals), compressor, v3 = true))
      }
      dimNames.zip(dimVals).foreach { case (n, vs) => writeCoord3(n, vs) }
      varNames.foreach { v =>
        writeFile(s"$v/zarr.json",
          arrayJson(shape, varChunks, dimNames, varCodecs).getBytes("UTF-8"))
      }
      return
    }
    val compJson = compressor match {
      case "blosc" => """{"id":"blosc","cname":"lz4","clevel":5,"shuffle":1,"blocksize":0}"""
      case "zstd" => """{"id":"zstd","level":5}"""
      case _ => """{"id":"zlib","level":5}"""
    }
    def zarrayJson(shape: Seq[Int], chunks: Seq[Int]): String =
      s"""{"zarr_format":2,"shape":[${shape.mkString(",")}],"chunks":[${chunks.mkString(",")}],""" +
        s""""dtype":"<f8","compressor":$compJson,"fill_value":0.0,""" +
        """"order":"C","filters":null}"""
    // every metadata doc also lands in ".zmetadata" (consolidated
    // format 1, what xarray writes by default) so readers make ONE
    // metadata fetch instead of 3 per array
    val consEntries = Seq.newBuilder[(String, String)]
    def writeMetaFile(rel: String, json: String): Unit = {
      consEntries += (rel -> json)
      writeFile(rel, json.getBytes("UTF-8"))
    }
    writeMetaFile(".zgroup", """{"zarr_format":2}""")
    def writeCoord(name: String, vals: Array[Double]): Unit = {
      writeMetaFile(s"$name/.zarray", zarrayJson(Seq(vals.length), Seq(vals.length)))
      writeMetaFile(s"$name/.zattrs", s"""{"_ARRAY_DIMENSIONS":["$name"]}""")
      writeFile(s"$name/0", encodeChunk(doubleLeBytes(vals), compressor))
    }
    dimNames.zip(dimVals).foreach { case (n, vs) => writeCoord(n, vs) }
    val dimsJson = dimNames.map("\"" + _ + "\"").mkString(",")
    varNames.foreach { v =>
      writeMetaFile(s"$v/.zarray", zarrayJson(shape, varChunks))
      writeMetaFile(s"$v/.zattrs", s"""{"_ARRAY_DIMENSIONS":[$dimsJson]}""")
    }
    // MERGE with any existing consolidated doc: appending a variable to a
    // store must not drop the entries of the arrays already there
    val merged = consolidated(spark, dir) ++ consEntries.result().toMap
    writeFile(".zmetadata", consolidatedJson(merged.toSeq).getBytes("UTF-8"))
  }

  /** zarr_consolidated_format-1 document from (path, raw JSON) entries. */
  private def consolidatedJson(entries: Seq[(String, String)]): String =
    entries.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
      .mkString("""{"metadata":{""", ",", """},"zarr_consolidated_format":1}""")

  /** Write a gridded table as ONE xarray-shaped zarr group (driver-side,
    * the result-grid-sized sink, like NetCdfGrid.writeGrid2d): coordinate
    * arrays + one 2-d zlib-chunked array per field, `.zattrs` naming the
    * dims. Rows must cover the full (x, y) lattice exactly once.
    */
  def writeGrid2d(df: DataFrame, dir: String, xCol: String, yCol: String,
                  varNames: Seq[String], chunkRows: Int = 0,
                  compressor: String = "zlib", zarrFormat: Int = 2): Unit = {
    require(zarrFormat == 2 || zarrFormat == 3, s"zarrFormat $zarrFormat (2 or 3)")
    val rows = df.select((Seq(xCol, yCol) ++ varNames).map(col): _*).collect()
    val xs = rows.map(_.getDouble(0)).distinct.sorted
    val ys = rows.map(_.getDouble(1)).distinct.sorted
    val distinctCells = rows.map(r => (r.getDouble(0), r.getDouble(1))).distinct.length
    require(distinctCells == xs.length * ys.length,
      s"distinct cells $distinctCells != full ${xs.length} x ${ys.length} lattice")
    require(rows.length == distinctCells,
      s"${rows.length - distinctCells} duplicate ($xCol, $yCol) rows")
    val xIdx = xs.zipWithIndex.toMap
    val yIdx = ys.zipWithIndex.toMap
    val cr = if (chunkRows > 0) math.min(chunkRows, ys.length) else ys.length
    val spark = df.sparkSession
    writeMetaNd(spark, dir, Seq(yCol, xCol), Seq(ys, xs), varNames, Seq(cr, xs.length),
      compressor, zarrFormat)

    val fs = fsFor(spark, dir)
    varNames.zipWithIndex.foreach { case (v, vi) =>
      val grid = new Array[Double](xs.length * ys.length)
      rows.foreach { r =>
        grid(yIdx(r.getDouble(1)) * xs.length + xIdx(r.getDouble(0))) = r.getDouble(2 + vi)
      }
      val nChunks = (ys.length + cr - 1) / cr
      (0 until nChunks).foreach { ci =>
        // full-extent chunk, zero-padded rows at the ragged edge
        val chunk = new Array[Double](cr * xs.length)
        var i = 0
        while (i < cr && ci * cr + i < ys.length) {
          System.arraycopy(grid, (ci * cr + i) * xs.length, chunk, i * xs.length, xs.length)
          i += 1
        }
        val out = fs.create(
          new org.apache.hadoop.fs.Path(dir, s"$v/${chunkKey(Seq(ci, 0), zarrFormat == 3)}"), true)
        try out.write(encodeChunk(doubleLeBytes(chunk), compressor, zarrFormat == 3)) finally out.close()
      }
    }
  }
}
