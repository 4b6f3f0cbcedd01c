package graft.sources

import graft.SparkTestBase
import graft.core.ConfigExpr
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class ZarrSpec extends AnyFunSuite with SparkTestBase {

  private def mkGrid(bias: Double) = {
    import spark.implicits._
    (for { iy <- 0 until 5; ix <- 0 until 7 }
      yield (10.0 * ix, 100.0 * iy, bias + iy * 7 + ix)).toDF("x", "y", "z")
  }

  test("writeGrid2d -> readGrid2d roundtrip is bit-exact, single and ragged multi-chunk") {
    for (chunkRows <- Seq(0, 2)) { // 0 = one chunk; 2 -> chunks of 2 rows, ragged last
      val dir = Files.createTempDirectory("zarr_").resolve("g.zarr").toString
      ZarrGrid.writeGrid2d(mkGrid(0.5), dir, "x", "y", Seq("z"), chunkRows = chunkRows)
      val back = ZarrGrid.readGrid2d(spark, dir, "x", "y", Seq("z"))
      assert(back.count() === 35)
      val got = back.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSet
      val want = (for { iy <- 0 until 5; ix <- 0 until 7 }
        yield (10.0 * ix, 100.0 * iy, 0.5 + iy * 7 + ix)).toSet
      assert(got === want, s"chunkRows=$chunkRows")
    }
  }

  test("aligned multi-variable store: sibling chunks read in-task, NO join in the plan") {
    val dir = Files.createTempDirectory("zarr_").resolve("s.zarr").toString
    val two = mkGrid(0.0).withColumn("w", col("z") * 2.0 + 1.0)
    ZarrGrid.writeGrid2d(two, dir, "x", "y", Seq("z", "w"), chunkRows = 3)
    val back = ZarrGrid.readStore(spark, dir)
    assert(back.columns.sorted.toSeq === Seq("w", "x", "y", "z"))
    assert(back.count() === 35)
    assert(back.filter(col("w") =!= col("z") * 2.0 + 1.0).count() === 0)
    val plan = back.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"aligned chunk grids must not shuffle-join:\n$plan")
  }

  test("misaligned chunk grids fall back to the (x, y) cell join, same values") {
    val dir = Files.createTempDirectory("zarr_").resolve("m.zarr").toString
    ZarrGrid.writeGrid2d(mkGrid(0.0), dir, "x", "y", Seq("z"), chunkRows = 3)
    ZarrGrid.writeGrid2d(mkGrid(0.0).withColumn("w", col("z") - 5.0)
      .select("x", "y", "w"), dir, "x", "y", Seq("w"), chunkRows = 2)
    val back = ZarrGrid.readStore(spark, dir)
    assert(back.count() === 35)
    assert(back.filter(col("w") =!= col("z") - 5.0).count() === 0)
    assert(back.queryExecution.executedPlan.toString.contains("Join"))
  }

  test("ConfigExpr.load dispatches .zarr with where / col_select") {
    val dir = Files.createTempDirectory("zarr_").resolve("obs.zarr").toString
    ZarrGrid.writeGrid2d(mkGrid(0.0), dir, "x", "y", Seq("z"))
    val out = ConfigExpr.load(spark, ConfigExpr.DataConfig(
      source = dir,
      where = Seq(ConfigExpr.Where("z", ">=", 30.0)),
      colSelect = Seq("x", "y", "z")))
    assert(out.columns.toSeq === Seq("x", "y", "z"))
    assert(out.count() === 5L)
  }

  test("executor-side distributed chunk write is byte-identical to the driver sink") {
    val dirA = Files.createTempDirectory("zarr_").resolve("a.zarr").toString
    val dirB = Files.createTempDirectory("zarr_").resolve("b.zarr").toString
    val two = mkGrid(3.0).withColumn("w", col("z") * 0.5)
    ZarrGrid.writeGrid2d(two, dirA, "x", "y", Seq("z", "w"), chunkRows = 2)
    ZarrGrid.writeGrid2dDistributed(two.repartition(5), dirB, "x", "y", Seq("z", "w"),
      chunkRows = 2)
    val a = ZarrGrid.readGrid2d(spark, dirA, "x", "y", Seq("z", "w")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    val b = ZarrGrid.readGrid2d(spark, dirB, "x", "y", Seq("z", "w")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(a === b && a.size === 35)
    for (v <- Seq("z", "w"); ci <- 0 until 3)
      assert(java.util.Arrays.equals(
        Files.readAllBytes(Paths.get(dirA, v, s"$ci.0")),
        Files.readAllBytes(Paths.get(dirB, v, s"$ci.0"))), s"$v/$ci.0 bytes")
  }

  test("dimension_separator '/' (nested chunk directories) reads identically") {
    val dir = Files.createTempDirectory("zarr_").resolve("n.zarr").toString
    ZarrGrid.writeGrid2d(mkGrid(1.0), dir, "x", "y", Seq("z"), chunkRows = 2)
    // convert z's chunk files to the nested layout and declare the separator
    val zdir = Paths.get(dir, "z")
    Files.list(zdir).toArray.map(_.toString).filter(_.matches(""".*/\d+\.\d+$""")).foreach { p =>
      val Array(a, b) = Paths.get(p).getFileName.toString.split("\\.")
      val target = zdir.resolve(a).resolve(b)
      Files.createDirectories(target.getParent)
      Files.move(Paths.get(p), target)
    }
    val za = zdir.resolve(".zarray")
    val txt = new String(Files.readAllBytes(za), "UTF-8")
      .replace(""""order":"C"""", """"order":"C","dimension_separator":"/"""")
    Files.write(za, txt.getBytes("UTF-8"))
    // hand-edited store: a stale .zmetadata would shadow the patch
    Files.deleteIfExists(Paths.get(dir, ".zmetadata"))
    val back = ZarrGrid.readGrid2d(spark, dir, "x", "y", Seq("z"))
    assert(back.count() === 35)
    assert(back.filter(col("x") === 30.0 && col("y") === 200.0)
      .head().getDouble(2) === 1.0 + 2 * 7 + 3)
  }

  test("absent chunk files synthesize fill_value cells (aligned and joined paths)") {
    // build a 2-var aligned store, delete one z chunk band and one w chunk
    // band; .zarray declares fill_value 0.0 -> those cells read back as 0.0
    val dir = Files.createTempDirectory("zarr_").resolve("f.zarr").toString
    val two = mkGrid(1.0).withColumn("w", col("z") + 100.0)
    ZarrGrid.writeGrid2d(two, dir, "x", "y", Seq("z", "w"), chunkRows = 2)
    Files.delete(Paths.get(dir, "z", "0.0")) // v0 chunk missing (side branch)
    Files.delete(Paths.get(dir, "w", "1.0")) // sibling chunk missing (in-task fill)
    val back = ZarrGrid.readGrid2d(spark, dir, "x", "y", Seq("z", "w"))
    assert(back.count() === 35, "absent chunks must still yield their cells")
    val z00 = back.filter(col("x") === 0.0 && col("y") === 0.0).head()
    assert(z00.getDouble(2) === 0.0 && z00.getDouble(3) === 101.0)
    val r2 = back.filter(col("x") === 0.0 && col("y") === 200.0).head()
    assert(r2.getDouble(2) === 1.0 + 2 * 7 && r2.getDouble(3) === 0.0)

    // fill_value null -> loud error naming the missing chunk
    val za = Paths.get(dir, "z", ".zarray")
    val txt = new String(Files.readAllBytes(za), "UTF-8")
      .replace(""""fill_value":0.0""", """"fill_value":null""")
    Files.write(za, txt.getBytes("UTF-8"))
    // hand-edited store: a stale .zmetadata would shadow the patch
    Files.deleteIfExists(Paths.get(dir, ".zmetadata"))
    val e = intercept[Exception](
      ZarrGrid.readGrid2d(spark, dir, "x", "y", Seq("z", "w")).collect())
    assert(e.getMessage.contains("fill_value") || e.getMessage.contains("0.0"),
      s"got: ${e.getMessage}")
  }

  test("writers emit the zarr-default blosc compressor natively (compressor knob)") {
    val dirA = Files.createTempDirectory("zarr_").resolve("bw.zarr").toString
    val dirB = Files.createTempDirectory("zarr_").resolve("bd.zarr").toString
    val two = mkGrid(4.0).withColumn("w", col("z") - 1.5)
    ZarrGrid.writeGrid2d(two, dirA, "x", "y", Seq("z", "w"), chunkRows = 2,
      compressor = "blosc")
    ZarrGrid.writeGrid2dDistributed(two.repartition(5), dirB, "x", "y", Seq("z", "w"),
      chunkRows = 2, compressor = "blosc")
    // chunk files are blosc1 frames; .zarray declares the numcodecs default
    for (dir <- Seq(dirA, dirB)) {
      val chunk = Files.readAllBytes(Paths.get(dir, "z", "0.0"))
      assert(chunk(0) === 2.toByte && ((chunk(2) & 0xff) >>> 5) === BloscLite.CodecLz4, dir)
      val za = new String(Files.readAllBytes(Paths.get(dir, "z", ".zarray")), "UTF-8")
      assert(za.contains("\"id\":\"blosc\"") && za.contains("\"cname\":\"lz4\""), za)
      val back = ZarrGrid.readGrid2d(spark, dir, "x", "y", Seq("z", "w"))
      assert(back.count() === 35, dir)
      assert(back.filter(col("w") =!= col("z") - 1.5).count() === 0, dir)
    }
    // distributed and driver sinks stay byte-identical under blosc too
    for (v <- Seq("z", "w"); ci <- 0 until 3)
      assert(java.util.Arrays.equals(
        Files.readAllBytes(Paths.get(dirA, v, s"$ci.0")),
        Files.readAllBytes(Paths.get(dirB, v, s"$ci.0"))), s"$v/$ci.0 bytes")
  }

  test("blosc-framed stores (the zarr default compressor) read chunk-parallel") {
    val dir = Files.createTempDirectory("zarr_").resolve("bl.zarr").toString
    val two = mkGrid(2.5).withColumn("w", col("z") * 3.0)
    ZarrGrid.writeGrid2d(two, dir, "x", "y", Seq("z", "w"), chunkRows = 2)
    // convert z to blosc-lz4 (shuffled) and w to blosc-zlib, plus a coord
    ZarrGrid.toBlosc(spark, s"$dir/z", cname = "lz4")
    ZarrGrid.toBlosc(spark, s"$dir/w", cname = "zlib", byteShuffle = false)
    ZarrGrid.toBlosc(spark, s"$dir/x", cname = "lz4")
    // chunk files are genuine blosc1 frames now (version byte 2, lz4 codec)
    val zchunk = Files.readAllBytes(Paths.get(dir, "z", "0.0"))
    assert(zchunk(0) === 2.toByte && ((zchunk(2) & 0xff) >>> 5) === BloscLite.CodecLz4)
    assert((zchunk(2) & 1) === 1, "shuffle flag set")
    val back = ZarrGrid.readGrid2d(spark, dir, "x", "y", Seq("z", "w"))
    assert(back.count() === 35)
    assert(back.filter(col("w") =!= col("z") * 3.0).count() === 0)
    assert(back.filter(col("x") === 30.0 && col("y") === 200.0)
      .head().getDouble(2) === 2.5 + 2 * 7 + 3)
    // unsupported blosc cname raises naming the codec
    val za = Paths.get(dir, "z", ".zarray")
    val txt = new String(Files.readAllBytes(za), "UTF-8").replace("\"lz4\"", "\"lzma\"")
    Files.write(za, txt.getBytes("UTF-8"))
    // hand-edited store: a stale .zmetadata would shadow the patch
    Files.deleteIfExists(Paths.get(dir, ".zmetadata"))
    val e = intercept[Exception](ZarrGrid.readGrid2d(spark, dir, "x", "y", Seq("z", "w")))
    assert(e.getMessage.contains("lzma"))
  }

  test("foreign dtypes: big-endian >f4 and byte |u1 arrays read correctly") {
    // hand-build an uncompressed store: x(3) <f8, y(2) <f8, z (2,3) >f4, m (2,3) |u1
    val dir = Files.createTempDirectory("zarr_").resolve("fx.zarr").toString
    def za(shape: String, chunks: String, dtype: String): String =
      s"""{"zarr_format":2,"shape":$shape,"chunks":$chunks,"dtype":"$dtype",""" +
        """"compressor":null,"fill_value":0.0,"order":"C","filters":null}"""
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = Paths.get(dir, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    def le(ds: Double*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(ds.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      ds.foreach(bb.putDouble); bb.array()
    }
    put(".zgroup", """{"zarr_format":2}""".getBytes)
    put("x/.zarray", za("[3]", "[3]", "<f8").getBytes)
    put("x/.zattrs", """{"_ARRAY_DIMENSIONS":["x"]}""".getBytes)
    put("x/0", le(10.0, 20.0, 30.0))
    put("y/.zarray", za("[2]", "[2]", "<f8").getBytes)
    put("y/.zattrs", """{"_ARRAY_DIMENSIONS":["y"]}""".getBytes)
    put("y/0", le(1.0, 2.0))
    val zbb = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.BIG_ENDIAN)
    Seq(1.5f, -2.5f, 3.0f, 4.5f, 5.0f, -6.5f).foreach(zbb.putFloat)
    put("z/.zarray", za("[2,3]", "[2,3]", ">f4").getBytes)
    put("z/.zattrs", """{"_ARRAY_DIMENSIONS":["y","x"]}""".getBytes)
    put("z/0.0", zbb.array())
    put("m/.zarray", za("[2,3]", "[2,3]", "|u1").getBytes)
    put("m/.zattrs", """{"_ARRAY_DIMENSIONS":["y","x"]}""".getBytes)
    put("m/0.0", Array[Byte](0, 1, 2, 3, 200.toByte, 255.toByte))
    val back = ZarrGrid.readStore(spark, dir)
      .collect().map(r => (r.getDouble(0), r.getDouble(1)) ->
        (r.getAs[Double]("z"), r.getAs[Double]("m"))).toMap
    assert(back((10.0, 1.0)) === ((1.5, 0.0)))
    assert(back((30.0, 1.0)) === ((3.0, 2.0)))
    assert(back((20.0, 2.0)) === ((5.0, 200.0)))
    assert(back((30.0, 2.0)) === ((-6.5, 255.0)))
  }

  test("consolidated metadata: sinks write .zmetadata and readers prefer it") {
    val dir = Files.createTempDirectory("zarr_").resolve("c.zarr").toString
    ZarrGrid.writeGrid2d(mkGrid(2.0), dir, "x", "y", Seq("z"), chunkRows = 2)
    // the sink wrote a consolidated doc covering every metadata file
    val zm = new String(Files.readAllBytes(Paths.get(s"$dir/.zmetadata")), "UTF-8")
    assert(zm.contains("\"zarr_consolidated_format\":1"))
    Seq(".zgroup", "x/.zarray", "y/.zarray", "z/.zarray", "z/.zattrs").foreach(k =>
      assert(zm.contains(s"\"$k\""), s"missing $k"))
    // delete every individual metadata file: the store must read PURELY
    // from .zmetadata (proving readers never touch the per-array files)
    Seq(".zgroup", "x/.zarray", "x/.zattrs", "y/.zarray", "y/.zattrs",
      "z/.zarray", "z/.zattrs").foreach(f => Files.delete(Paths.get(s"$dir/$f")))
    val back = ZarrGrid.readStore(spark, dir)
    assert(back.count() === 35)
    assert(back.agg(sum("z")).collect()(0).getDouble(0) ===
      (0 until 35).map(_ + 2.0).sum)
  }

  test("toBlosc keeps .zmetadata in sync with the patched compressor") {
    val dir = Files.createTempDirectory("zarr_").resolve("cb.zarr").toString
    ZarrGrid.writeGrid2d(mkGrid(1.0), dir, "x", "y", Seq("z"), chunkRows = 2)
    ZarrGrid.toBlosc(spark, s"$dir/z", cname = "lz4")
    val zm = new String(Files.readAllBytes(Paths.get(s"$dir/.zmetadata")), "UTF-8")
    assert(zm.contains("\"cname\":\"lz4\""), "consolidated entry still zlib")
    // consolidated-only read must decode the blosc chunks correctly
    Seq("z/.zarray", "z/.zattrs").foreach(f => Files.delete(Paths.get(s"$dir/$f")))
    val back = ZarrGrid.readStore(spark, dir)
    assert(back.agg(sum("z")).collect()(0).getDouble(0) ===
      (0 until 35).map(_ + 1.0).sum)
  }

  test("zarr V3 store (zarr-python 3 default): zarr.json metadata, c/ chunk keys, gzip codec") {
    val dir = Files.createTempDirectory("zarr3_").resolve("v3.zarr")
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = dir.resolve(rel); Files.createDirectories(p.getParent); Files.write(p, bytes)
    }
    def doubles(vs: Double*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(vs.length * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vs.foreach(bb.putDouble); bb.array()
    }
    def gz(raw: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(o)
      g.write(raw); g.close(); o.toByteArray
    }
    put("zarr.json", """{"zarr_format":3,"node_type":"group"}""".getBytes)
    def arrJson(shape: String, chunks: String, codecs: String, dims: String): String =
      s"""{"zarr_format":3,"node_type":"array","shape":$shape,"data_type":"float64",
         |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":$chunks}},
         |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
         |"fill_value":0.0,"codecs":$codecs,"dimension_names":$dims}""".stripMargin
    val bytesCodec = """[{"name":"bytes","configuration":{"endian":"little"}}]"""
    val gzipCodec =
      """[{"name":"bytes","configuration":{"endian":"little"}},{"name":"gzip","configuration":{"level":5}}]"""
    put("x/zarr.json", arrJson("[3]", "[3]", bytesCodec, """["x"]""").getBytes)
    put("x/c/0", doubles(10.0, 20.0, 30.0))
    put("y/zarr.json", arrJson("[4]", "[4]", bytesCodec, """["y"]""").getBytes)
    put("y/c/0", doubles(100.0, 200.0, 300.0, 400.0))
    // z: (4, 3) in (2, 3) chunks -> c/0/0 and c/1/0; c/1/0 ABSENT -> fill 0.0
    put("z/zarr.json", arrJson("[4,3]", "[2,3]", gzipCodec, """["y","x"]""").getBytes)
    put("z/c/0/0", gz(doubles(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)))
    val back = ZarrGrid.readStore(spark, dir.toString)
    assert(back.columns.sorted.toSeq === Seq("x", "y", "z"))
    assert(back.count() === 12)
    val got = back.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(got.contains((10.0, 100.0, 1.0)) && got.contains((30.0, 200.0, 6.0)))
    assert(got.contains((20.0, 300.0, 0.0)), "absent v3 chunk fills with fill_value")
    // the same store through the ConfigExpr .zarr dispatch
    val via = graft.core.ConfigExpr.load(spark, graft.core.ConfigExpr.DataConfig(
      source = dir.toString, where = Seq(graft.core.ConfigExpr.Where("z", ">", 2.5)),
      colSelect = Seq("x", "y", "z")))
    assert(via.collect().map(_.getDouble(2)).sorted.toSeq === Seq(3.0, 4.0, 5.0, 6.0))
  }

  test("zarr V3 with zstd codec and the v2 chunk-key encoding") {
    val dir = Files.createTempDirectory("zarr3_").resolve("v3z.zarr")
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = dir.resolve(rel); Files.createDirectories(p.getParent); Files.write(p, bytes)
    }
    def doubles(vs: Double*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(vs.length * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vs.foreach(bb.putDouble); bb.array()
    }
    put("zarr.json", """{"zarr_format":3,"node_type":"group"}""".getBytes)
    def arr(shape: String, chunks: String, codecs: String, dims: String, cke: String): String =
      s"""{"zarr_format":3,"node_type":"array","shape":$shape,"data_type":"float64",
         |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":$chunks}},
         |"chunk_key_encoding":$cke,
         |"fill_value":0.0,"codecs":$codecs,"dimension_names":$dims}""".stripMargin
    val bytesC = """[{"name":"bytes","configuration":{"endian":"little"}}]"""
    val zstdC =
      """[{"name":"bytes","configuration":{"endian":"little"}},{"name":"zstd","configuration":{"level":3}}]"""
    val v2keys = """{"name":"v2","configuration":{"separator":"."}}"""
    val defKeys = """{"name":"default","configuration":{"separator":"/"}}"""
    put("x/zarr.json", arr("[2]", "[2]", bytesC, """["x"]""", defKeys).getBytes)
    put("x/c/0", doubles(1.0, 2.0))
    put("y/zarr.json", arr("[2]", "[2]", bytesC, """["y"]""", defKeys).getBytes)
    put("y/c/0", doubles(5.0, 6.0))
    // z uses zstd frames AND v2-style "ci.cj" keys
    put("z/zarr.json", arr("[2,2]", "[1,2]", zstdC, """["y","x"]""", v2keys).getBytes)
    put("z/0.0", ZstdLite.compressStored(doubles(7.0, 8.0)))
    put("z/1.0", ZstdLite.compressStored(doubles(9.0, 10.0)))
    val back = ZarrGrid.readStore(spark, dir.toString)
    assert(back.count() === 4)
    assert(back.agg(sum("z")).collect()(0).getDouble(0) === 34.0)
  }

  test("zarr V3 sharding_indexed: shards of gzip inner chunks with absent-entry fill") {
    val dir = Files.createTempDirectory("zarr3_").resolve("v3s.zarr")
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = dir.resolve(rel); Files.createDirectories(p.getParent); Files.write(p, bytes)
    }
    def doubles(vs: Double*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(vs.length * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vs.foreach(bb.putDouble); bb.array()
    }
    def gz(raw: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(o)
      g.write(raw); g.close(); o.toByteArray
    }
    put("zarr.json", """{"zarr_format":3,"node_type":"group"}""".getBytes)
    val bytesC = """[{"name":"bytes","configuration":{"endian":"little"}}]"""
    def coord(shape: Int, vals: Array[Byte]): String =
      s"""{"zarr_format":3,"node_type":"array","shape":[$shape],"data_type":"float64",
         |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[$shape]}},
         |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
         |"fill_value":0.0,"codecs":$bytesC,"dimension_names":["COORD"]}""".stripMargin
    put("x/zarr.json", coord(4, null).replace("COORD", "x").getBytes)
    put("x/c/0", doubles(1.0, 2.0, 3.0, 4.0))
    put("y/zarr.json", coord(2, null).replace("COORD", "y").getBytes)
    put("y/c/0", doubles(50.0, 60.0))
    // z: (2, 4) as ONE shard chunk of (2, 4) with (1, 2) inner chunks ->
    // 4 inner chunks; inner chunk 3 (row 1, cols 2-3) ABSENT -> fill 0.0
    val shardCodec =
      """[{"name":"sharding_indexed","configuration":{
        |"chunk_shape":[1,2],
        |"codecs":[{"name":"bytes","configuration":{"endian":"little"}},{"name":"gzip","configuration":{"level":5}}],
        |"index_codecs":[{"name":"bytes","configuration":{"endian":"little"}},{"name":"crc32c"}],
        |"index_location":"end"}}]""".stripMargin
    put("z/zarr.json",
      s"""{"zarr_format":3,"node_type":"array","shape":[2,4],"data_type":"float64",
         |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2,4]}},
         |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
         |"fill_value":0.0,"codecs":$shardCodec,"dimension_names":["y","x"]}""".stripMargin.getBytes)
    // build the shard: 3 present inner chunks + u64 index (+4-byte crc slot)
    val innerRaw = Seq(doubles(1.5, 2.5), doubles(3.5, 4.5), doubles(5.5, 6.5))
    val innerGz = innerRaw.map(gz)
    val body = new java.io.ByteArrayOutputStream()
    val offsets = innerGz.map { g => val o = body.size(); body.write(g); (o.toLong, g.length.toLong) }
    val idx = java.nio.ByteBuffer.allocate(16 * 4 + 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    offsets.foreach { case (o, l) => idx.putLong(o).putLong(l) }
    idx.putLong(-1L).putLong(-1L) // inner chunk 3 absent
    idx.putInt(0)                 // crc32c slot (not validated)
    val shard = new java.io.ByteArrayOutputStream()
    body.writeTo(shard); shard.write(idx.array())
    put("z/c/0/0", shard.toByteArray)

    val back = ZarrGrid.readStore(spark, dir.toString)
    assert(back.count() === 8)
    val got = back.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSet
    // row 0: inner chunks (0,0) + (0,1); row 1: (1,0) present, (1,1) absent -> 0.0
    assert(got.contains((1.0, 50.0, 1.5)) && got.contains((2.0, 50.0, 2.5)))
    assert(got.contains((3.0, 50.0, 3.5)) && got.contains((4.0, 50.0, 4.5)))
    assert(got.contains((1.0, 60.0, 5.5)) && got.contains((2.0, 60.0, 6.5)))
    assert(got.contains((3.0, 60.0, 0.0)) && got.contains((4.0, 60.0, 0.0)),
      "absent inner chunk fills")
  }

  test("v3 WRITE: both sinks emit zarr.json stores that roundtrip under every codec") {
    val two = mkGrid(6.0).withColumn("w", col("z") * 0.25)
    for (comp <- Seq("zlib", "zstd", "blosc")) {
      val dirA = Files.createTempDirectory("zarr3w_").resolve(s"a_$comp.zarr").toString
      val dirB = Files.createTempDirectory("zarr3w_").resolve(s"b_$comp.zarr").toString
      ZarrGrid.writeGrid2d(two, dirA, "x", "y", Seq("z", "w"), chunkRows = 2,
        compressor = comp, zarrFormat = 3)
      ZarrGrid.writeGrid2dDistributed(two.repartition(5), dirB, "x", "y", Seq("z", "w"),
        chunkRows = 2, compressor = comp, zarrFormat = 3)
      for (dir <- Seq(dirA, dirB)) {
        // v3 layout: zarr.json nodes, c/-prefixed chunk keys, NO v2 metadata
        val root = new String(Files.readAllBytes(Paths.get(dir, "zarr.json")), "UTF-8")
        assert(root.contains("\"zarr_format\":3") && root.contains("\"node_type\":\"group\""))
        val zj = new String(Files.readAllBytes(Paths.get(dir, "z", "zarr.json")), "UTF-8")
        assert(zj.contains("\"dimension_names\":[\"y\",\"x\"]"), zj)
        val codecName = if (comp == "zlib") "gzip" else comp
        assert(zj.contains(s""""name":"$codecName""""), s"$comp -> $zj")
        assert(Files.exists(Paths.get(dir, "z", "c", "0", "0")), s"$dir chunk key")
        assert(!Files.exists(Paths.get(dir, ".zgroup")) &&
          !Files.exists(Paths.get(dir, "z", ".zarray")), "no v2 metadata in a v3 store")
        val back = ZarrGrid.readGrid2d(spark, dir, "x", "y", Seq("z", "w"))
        assert(back.count() === 35, s"$dir")
        assert(back.filter(col("w") =!= col("z") * 0.25).count() === 0, s"$dir")
        assert(back.filter(col("x") === 30.0 && col("y") === 200.0)
          .head().getDouble(2) === 6.0 + 2 * 7 + 3)
      }
      // driver and executor sinks byte-identical chunk-for-chunk
      for (v <- Seq("z", "w"); ci <- 0 until 3)
        assert(java.util.Arrays.equals(
          Files.readAllBytes(Paths.get(dirA, v, "c", s"$ci", "0")),
          Files.readAllBytes(Paths.get(dirB, v, "c", s"$ci", "0"))), s"$comp $v/c/$ci/0")
    }
  }

  test("v3 WRITE sharded: distributed sink emits real sharding_indexed shards") {
    val two = mkGrid(6.0).withColumn("w", col("z") * 0.25)
    val dir = Files.createTempDirectory("zarr3s_").resolve("s.zarr").toString
    ZarrGrid.writeGrid2dDistributed(two.repartition(5), dir, "x", "y", Seq("z", "w"),
      chunkRows = 2, compressor = "zstd", zarrFormat = 3, shardInnerRows = 1)
    val zj = new String(Files.readAllBytes(Paths.get(dir, "z", "zarr.json")), "UTF-8")
    assert(zj.contains("\"sharding_indexed\""), zj)
    assert(zj.contains("\"chunk_shape\":[1,7]"), zj) // inner chunk inside the shard config
    assert(zj.contains("\"crc32c\"") && zj.contains("\"index_location\":\"end\""), zj)
    // shard binary structure: 2 inner chunks, u64 index at end + real crc32c
    val shard = Files.readAllBytes(Paths.get(dir, "z", "c", "0", "0"))
    val bb = java.nio.ByteBuffer.wrap(shard).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val idxBase = shard.length - (16 * 2 + 4)
    val (o0, l0) = (bb.getLong(idxBase), bb.getLong(idxBase + 8))
    val (o1, l1) = (bb.getLong(idxBase + 16), bb.getLong(idxBase + 24))
    assert(o0 === 0L && l0 > 0L && o1 === l0 && o1 + l1 === idxBase.toLong, s"index ($o0,$l0,$o1,$l1)")
    val crc = new java.util.zip.CRC32C()
    crc.update(shard, idxBase, 32)
    assert(bb.getInt(idxBase + 32) === crc.getValue.toInt, "index crc32c")
    // roundtrip through the engine's own sharded reader
    val back = ZarrGrid.readGrid2d(spark, dir, "x", "y", Seq("z", "w"))
    assert(back.count() === 35)
    assert(back.filter(col("w") =!= col("z") * 0.25).count() === 0)
    assert(back.filter(col("x") === 30.0 && col("y") === 200.0)
      .head().getDouble(2) === 6.0 + 2 * 7 + 3)
  }

  test("windowed read prunes whole chunk files and matches the filtered full read") {
    val base = mkGrid(1.0).withColumn("w", col("z") * 2.0)
    val dir = Files.createTempDirectory("zarrw_").resolve("p.zarr").toString
    ZarrGrid.writeGrid2dDistributed(base, dir, "x", "y", Seq("z", "w"), chunkRows = 2)
    val stats = new ZarrGrid.WindowStats(spark)
    val got = ZarrGrid.readGrid2dWindow(spark, dir, "x", "y", Seq("z", "w"),
      xRange = Some((10.0, 40.0)), yRange = Some((100.0, 199.0)), stats = stats)
    val want = ZarrGrid.readGrid2d(spark, dir, "x", "y", Seq("z", "w"))
      .filter(col("x") >= 10.0 && col("x") <= 40.0 && col("y") >= 100.0 && col("y") <= 199.0)
    assert(got.columns.toSeq === want.columns.toSeq)
    assert(got.collect().toSet === want.collect().toSet)
    // y in [100, 199] hits only rows {1} -> 1 of the 3 row-band chunks
    assert(stats.chunksTotal === 3 && stats.chunksPlanned === 1,
      s"planned ${stats.chunksPlanned}/${stats.chunksTotal}")
  }

  test("windowed read on a SHARDED store fetches only intersecting inner chunks") {
    val base = mkGrid(2.0).withColumn("w", col("z") * 0.5)
    val dir = Files.createTempDirectory("zarrw_").resolve("s.zarr").toString
    ZarrGrid.writeGrid2dDistributed(base, dir, "x", "y", Seq("z", "w"),
      chunkRows = 2, compressor = "zstd", zarrFormat = 3, shardInnerRows = 1)
    val stats = new ZarrGrid.WindowStats(spark)
    // y == 200.0 -> global row 2 = shard chunk 1, inner chunk 0 of 2
    val got = ZarrGrid.readGrid2dWindow(spark, dir, "x", "y", Seq("z", "w"),
      yRange = Some((200.0, 200.0)), stats = stats)
    val want = ZarrGrid.readGrid2d(spark, dir, "x", "y", Seq("z", "w"))
      .filter(col("y") === 200.0)
    assert(got.collect().toSet === want.collect().toSet)
    assert(stats.chunksPlanned === 1 && stats.chunksTotal === 3)
    // 2 vars x 1 needed inner chunk, of 2 vars x 2 present inner chunks
    assert(stats.innerChunksRead.value === 2L, s"inner read ${stats.innerChunksRead.value}")
    assert(stats.innerChunksTotal.value === 4L, s"inner total ${stats.innerChunksTotal.value}")
    // ranged reads fetch strictly less than the planned shard files
    val shardBytes = Seq("z", "w").map(v =>
      Files.size(Paths.get(dir, v, "c", "1", "0"))).sum
    assert(stats.bytesRead.value < shardBytes,
      s"bytes ${stats.bytesRead.value} vs full shards $shardBytes")
  }

  test("ConfigExpr pushes dim-range where triples into the zarr chunk window") {
    import graft.core.ConfigExpr
    val dir = Files.createTempDirectory("zarrw_").resolve("c.zarr").toString
    ZarrGrid.writeGrid2dDistributed(mkGrid(3.0), dir, "x", "y", Seq("z"), chunkRows = 2)
    // strict > on a dim (window widens, residual trims) + a non-dim triple
    val cfg = ConfigExpr.DataConfig(source = dir, where = Seq(
      ConfigExpr.Where("y", ">", 100.0), ConfigExpr.Where("y", "<=", 300.0),
      ConfigExpr.Where("z", ">=", 10.0)))
    val got = ConfigExpr.load(spark, cfg)
    val want = ZarrGrid.readStore(spark, dir)
      .filter(col("y") > 100.0 && col("y") <= 300.0 && col("z") >= 10.0)
    assert(got.columns.toSeq === want.columns.toSeq)
    assert(got.collect().toSet === want.collect().toSet)
    // the same window measured directly: rows 2-3 -> shard chunks 1 (+2 for row 3)
    val stats = new ZarrGrid.WindowStats(spark)
    ZarrGrid.readStoreWindow(spark, dir, Map("y" -> (100.0, 300.0)), stats).count()
    assert(stats.chunksPlanned === 2 && stats.chunksTotal === 3)
  }

  test("N-d sharded WRITE: per-day shards of y-band inner chunks, windowed ranged reads") {
    val cube = mkCube(5.0)
    val dir = Files.createTempDirectory("zarr3s_").resolve("cube.zarr").toString
    ZarrGrid.writeGridNdDistributed(cube, dir, Seq("t", "y", "x"), Seq("v"),
      compressor = "zstd", zarrFormat = 3, shardInnerRows = 2)
    val zj = new String(Files.readAllBytes(Paths.get(dir, "v", "zarr.json")), "UTF-8")
    assert(zj.contains("\"sharding_indexed\"") && zj.contains("\"chunk_shape\":[1,2,5]"), zj)
    // one shard per day; 2 inner chunks (y bands) each; index = 2*16 + 4 crc
    val shard = Files.readAllBytes(Paths.get(dir, "v", "c", "1", "0", "0"))
    val bb = java.nio.ByteBuffer.wrap(shard).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val idxBase = shard.length - (16 * 2 + 4)
    assert(bb.getLong(idxBase) === 0L && bb.getLong(idxBase + 16) === bb.getLong(idxBase + 8))
    // full roundtrip through the rank-3 shard decoder
    val back = ZarrGrid.readGridNd(spark, dir, Seq("t", "y", "x"), Seq("v"))
    assert(back.count() === 60)
    val want = cube.collect().map(r =>
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(back.collect().map(r =>
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet === want)
    // windowed: one day, one y band -> 1 of 3 shards, 1 of its 2 inners
    val stats = new ZarrGrid.WindowStats(spark)
    val got = ZarrGrid.readGridNdWindow(spark, dir, Seq("t", "y", "x"), Seq("v"),
      Map("t" -> (1001.0, 1001.0), "y" -> (0.0, 150.0)), stats).collect()
    assert(got.length === 2 * 5)
    assert(got.map(_.getDouble(3)).sum ===
      (for { iy <- 0 until 2; ix <- 0 until 5 } yield 5.0 + 100 + iy * 10 + ix).sum)
    assert(stats.chunksPlanned === 1 && stats.chunksTotal === 3)
    assert(stats.innerChunksRead.value === 1L && stats.innerChunksTotal.value === 2L,
      s"inner ${stats.innerChunksRead.value}/${stats.innerChunksTotal.value}")
  }

  test("append grows the first dim in place: v2, v3, and v3-sharded stores") {
    import spark.implicits._
    def cube(ts: Seq[Double]) =
      (for { t <- ts; iy <- 0 until 4; ix <- 0 until 5 }
        yield (t, 100.0 * iy, 10.0 * ix, t + iy * 10 + ix)).toDF("t", "y", "x", "v")
    for ((fmt, shard) <- Seq((2, 0), (3, 0), (3, 2))) {
      val dir = Files.createTempDirectory("zarr_app_").resolve(s"a$fmt$shard.zarr").toString
      ZarrGrid.writeGridNdDistributed(cube(Seq(1000.0, 1001.0)), dir, Seq("t", "y", "x"),
        Seq("v"), compressor = "zstd", zarrFormat = fmt, shardInnerRows = shard)
      ZarrGrid.appendGridNdDistributed(cube(Seq(1002.0, 1003.0)), dir, Seq("t", "y", "x"),
        Seq("v"))
      val back = ZarrGrid.readGridNd(spark, dir, Seq("t", "y", "x"), Seq("v"))
      assert(back.count() === 4 * 4 * 5, s"fmt $fmt shard $shard")
      val want = cube(Seq(1000.0, 1001.0, 1002.0, 1003.0)).collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
      assert(back.collect().map(r =>
        (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet === want,
        s"fmt $fmt shard $shard")
      // a second append composes; the .zarr dispatch reads the grown store
      ZarrGrid.appendGridNdDistributed(cube(Seq(1004.0)), dir, Seq("t", "y", "x"), Seq("v"))
      assert(graft.core.ConfigExpr.load(spark,
        graft.core.ConfigExpr.DataConfig(source = dir)).count() === 5 * 4 * 5)
      // overlapping / misshapen appends raise loudly
      val e1 = intercept[IllegalArgumentException](
        ZarrGrid.appendGridNdDistributed(cube(Seq(1002.0)), dir, Seq("t", "y", "x"), Seq("v")))
      assert(e1.getMessage.contains("overlap"))
    }
    // v2 keeps .zmetadata consistent: consolidated-only read sees the growth
    val dir2 = Files.createTempDirectory("zarr_app_").resolve("zm.zarr").toString
    ZarrGrid.writeGridNdDistributed(cube(Seq(1.0)), dir2, Seq("t", "y", "x"), Seq("v"))
    ZarrGrid.appendGridNdDistributed(cube(Seq(2.0)), dir2, Seq("t", "y", "x"), Seq("v"))
    val zm = new String(Files.readAllBytes(Paths.get(dir2, ".zmetadata")), "UTF-8")
    assert(zm.contains("\"shape\":[2,4,5]"), zm)
  }

  test("v3 consolidated metadata: consolidated-only reads work; append keeps the root in sync") {
    import spark.implicits._
    def cube(ts: Seq[Double]) =
      (for { t <- ts; iy <- 0 until 4; ix <- 0 until 5 }
        yield (t, 100.0 * iy, 10.0 * ix, t + iy * 10 + ix)).toDF("t", "y", "x", "v")
    val dir = Files.createTempDirectory("zarr_v3cons_").resolve("c.zarr").toString
    ZarrGrid.writeGridNdDistributed(cube(Seq(1000.0, 1001.0)), dir, Seq("t", "y", "x"),
      Seq("v"), compressor = "zstd", zarrFormat = 3)
    ZarrGrid.consolidateMetadataV3(spark, dir)
    val root = new String(Files.readAllBytes(Paths.get(dir, "zarr.json")), "UTF-8")
    assert(root.contains("consolidated_metadata") && root.contains("\"node_type\":\"array\""))
    // delete every per-array zarr.json: reads must survive on the root alone
    def dropChildMeta(): Unit =
      Seq("t", "y", "x", "v").foreach(a => Files.deleteIfExists(Paths.get(dir, a, "zarr.json")))
    dropChildMeta()
    val back = ZarrGrid.readGridNd(spark, dir, Seq("t", "y", "x"), Seq("v"))
    assert(back.count() === 2 * 4 * 5)
    val want = cube(Seq(1000.0, 1001.0)).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(back.collect().map(r =>
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet === want)
    // append: metadata comes from the consolidated root, per-array files
    // are rewritten, and the inlined entries are PATCHED to the new shape
    ZarrGrid.appendGridNdDistributed(cube(Seq(1002.0)), dir, Seq("t", "y", "x"), Seq("v"))
    val rootAfter = new String(Files.readAllBytes(Paths.get(dir, "zarr.json")), "UTF-8")
    assert(rootAfter.contains("\"shape\":[3,4,5]"),
      s"consolidated root must see the grown shape:\n$rootAfter")
    dropChildMeta()
    assert(ZarrGrid.readGridNd(spark, dir, Seq("t", "y", "x"), Seq("v")).count() === 3 * 4 * 5)
  }

  private def mkCube(bias: Double) = {
    import spark.implicits._
    // (t, y, x) cube: 3 x 4 x 5 with v = bias + it*100 + iy*10 + ix
    (for { it <- 0 until 3; iy <- 0 until 4; ix <- 0 until 5 }
      yield (1000.0 + it, 100.0 * iy, 10.0 * ix,
        bias + it * 100 + iy * 10 + ix)).toDF("t", "y", "x", "v")
  }

  test("N-d: 3-d (t, y, x) cube roundtrips through the distributed sink, v2 and v3") {
    for (fmt <- Seq(2, 3)) {
      val dir = Files.createTempDirectory("zarrNd_").resolve(s"cube$fmt.zarr").toString
      val cube = mkCube(0.5).withColumn("w", col("v") * 2.0)
      ZarrGrid.writeGridNdDistributed(cube.repartition(7), dir, Seq("t", "y", "x"),
        Seq("v", "w"), compressor = if (fmt == 3) "zstd" else "zlib", zarrFormat = fmt)
      // one chunk per (t-slice, var): chunk shape (1, 4, 5)
      val key0 = if (fmt == 3) Paths.get(dir, "v", "c", "0", "0", "0")
        else Paths.get(dir, "v", "0.0.0")
      assert(Files.exists(key0), s"fmt=$fmt missing $key0")
      val back = ZarrGrid.readGridNd(spark, dir, Seq("t", "y", "x"), Seq("v", "w"))
      assert(back.columns.toSeq === Seq("t", "y", "x", "v", "w"))
      assert(back.count() === 60, s"fmt=$fmt")
      assert(back.filter(col("w") =!= col("v") * 2.0).count() === 0, s"fmt=$fmt")
      val r = back.filter(col("t") === 1002.0 && col("y") === 300.0 && col("x") === 40.0).head()
      assert(r.getDouble(3) === 0.5 + 234, s"fmt=$fmt")
      // readStore discovers rank-3 vars from dimension metadata
      val store = ZarrGrid.readStore(spark, dir)
      assert(store.columns.sorted.toSeq === Seq("t", "v", "w", "x", "y"), s"fmt=$fmt")
      assert(store.count() === 60, s"fmt=$fmt")
    }
  }

  test("N-d: absent slice chunks synthesize fill_value; ConfigExpr dispatch works on cubes") {
    val dir = Files.createTempDirectory("zarrNd_").resolve("fillcube.zarr").toString
    ZarrGrid.writeGridNdDistributed(mkCube(1.0), dir, Seq("t", "y", "x"), Seq("v"))
    Files.delete(Paths.get(dir, "v", "1.0.0")) // whole t=1001 slice absent -> 0.0
    val back = ZarrGrid.readGridNd(spark, dir, Seq("t", "y", "x"), Seq("v"))
    assert(back.count() === 60)
    assert(back.filter(col("t") === 1001.0).agg(sum("v")).head().getDouble(0) === 0.0)
    assert(back.filter(col("t") === 1000.0 && col("y") === 100.0 && col("x") === 20.0)
      .head().getDouble(3) === 1.0 + 12)
    // .zarr suffix dispatch + where + col_select over the cube
    val via = ConfigExpr.load(spark, ConfigExpr.DataConfig(
      source = dir, where = Seq(ConfigExpr.Where("t", ">=", 1002.0)),
      colSelect = Seq("t", "x", "y", "v")))
    assert(via.count() === 20)
    assert(via.columns.toSeq === Seq("t", "x", "y", "v"))
  }

  test("N-d: misaligned chunk grids fall back to the dim-column join, same values") {
    val dir = Files.createTempDirectory("zarrNd_").resolve("mis.zarr").toString
    ZarrGrid.writeGridNdDistributed(mkCube(0.0), dir, Seq("t", "y", "x"), Seq("v"))
    // second variable with a DIFFERENT chunking: whole-cube single chunk,
    // hand-written as one v2 array
    val cube = mkCube(0.0).orderBy("t", "y", "x").collect().map(_.getDouble(3) - 7.0)
    val bb = java.nio.ByteBuffer.allocate(cube.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    cube.foreach(bb.putDouble)
    val d = new java.util.zip.Deflater(5)
    d.setInput(bb.array()); d.finish()
    val outB = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!d.finished()) outB.write(tmp, 0, d.deflate(tmp))
    Files.createDirectories(Paths.get(dir, "u"))
    Files.write(Paths.get(dir, "u", ".zarray"),
      ("""{"zarr_format":2,"shape":[3,4,5],"chunks":[3,4,5],"dtype":"<f8",""" +
        """"compressor":{"id":"zlib","level":5},"fill_value":0.0,"order":"C","filters":null}""").getBytes)
    Files.write(Paths.get(dir, "u", ".zattrs"), """{"_ARRAY_DIMENSIONS":["t","y","x"]}""".getBytes)
    Files.write(Paths.get(dir, "u", "0.0.0"), outB.toByteArray)
    Files.deleteIfExists(Paths.get(dir, ".zmetadata")) // hand-extended store
    val back = ZarrGrid.readGridNd(spark, dir, Seq("t", "y", "x"), Seq("v", "u"))
    assert(back.count() === 60)
    assert(back.filter(col("u") =!= col("v") - 7.0).count() === 0)
    assert(back.queryExecution.executedPlan.toString.contains("Join"))
  }

  test("unsupported stores raise errors naming the blocker") {
    val dir = Files.createTempDirectory("zarr_").resolve("b.zarr").toString
    ZarrGrid.writeGrid2d(mkGrid(0.0), dir, "x", "y", Seq("z"))
    // swap the compressor for blosc in the .zarray
    val za = Paths.get(dir, "z", ".zarray")
    val txt = new String(Files.readAllBytes(za), "UTF-8")
      .replace("""{"id":"zlib","level":5}""",
        """{"id":"blosc","cname":"lz4","clevel":5,"shuffle":1}""")
    Files.write(za, txt.getBytes("UTF-8"))
    // hand-edited store: a stale .zmetadata would shadow the patch
    Files.deleteIfExists(Paths.get(dir, ".zmetadata"))
    val e = intercept[Exception](
      ZarrGrid.readGrid2d(spark, dir, "x", "y", Seq("z")).collect())
    assert(e.getMessage.contains("blosc") || e.getCause.getMessage.contains("blosc"))
  }

  test("a store below a dot-directory reads back in full and windowed") {
    val cube = mkCube(2.0)
    val want = cube.collect().map(r =>
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    for (fmt <- Seq(2, 3)) {
      val dir = Files.createTempDirectory("zarr_").resolve(".hidden").resolve("cube.zarr").toString
      ZarrGrid.writeGridNdDistributed(cube, dir, Seq("t", "y", "x"), Seq("v"), zarrFormat = fmt)
      val back = ZarrGrid.readGridNd(spark, dir, Seq("t", "y", "x"), Seq("v"))
      assert(back.collect().map(r =>
        (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet === want,
        s"fmt $fmt")
      val day = ZarrGrid.readGridNdWindow(spark, dir, Seq("t", "y", "x"), Seq("v"),
        Map("t" -> (1001.0, 1001.0))).collect()
      assert(day.length === 4 * 5 && day.forall(_.getDouble(0) == 1001.0), s"fmt $fmt")
    }
    val dir2 = Files.createTempDirectory("zarr_").resolve(".hidden").resolve("g.zarr").toString
    ZarrGrid.writeGrid2d(mkGrid(0.5), dir2, "x", "y", Seq("z"), chunkRows = 2)
    assert(ZarrGrid.readGrid2d(spark, dir2, "x", "y", Seq("z")).count() === 35)
  }

  test("a rejected append leaves the caller's frame unpersisted") {
    import spark.implicits._
    def cube(ts: Seq[Double]) =
      (for { t <- ts; iy <- 0 until 4; ix <- 0 until 5 }
        yield (t, 100.0 * iy, 10.0 * ix, t + iy * 10 + ix)).toDF("t", "y", "x", "v")
    val dir = Files.createTempDirectory("zarr_app_").resolve("p.zarr").toString
    ZarrGrid.writeGridNdDistributed(cube(Seq(1.0, 2.0)), dir, Seq("t", "y", "x"), Seq("v"))
    val overlapping = cube(Seq(2.0, 3.0))
    val e = intercept[IllegalArgumentException](
      ZarrGrid.appendGridNdDistributed(overlapping, dir, Seq("t", "y", "x"), Seq("v")))
    assert(e.getMessage.contains("overlap"))
    assert(overlapping.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
  }
}
