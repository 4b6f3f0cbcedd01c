package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.security.MessageDigest

/** Byte goldens for the executor-side grid sinks: each configuration the
  * oracle catalog uses (q45, q54, q68, q69/q75, q70/q76, q71) writes one
  * fixed in-test grid or cube, and the SHA-256 of every file it leaves
  * (metadata, coordinate and data chunks, granules) is
  * pinned by its path relative to the output directory.
  *
  * A mismatch prints the whole digest map as a Scala literal. To
  * re-capture after an intended format change, run this spec against the
  * revision whose bytes are the reference and paste the printed map.
  */
class GridSinkGoldenSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** 7 x columns by 5 y rows, two fields: 5 rows leave a ragged last band
    * under bands of 3 and 4. */
  private def grid: DataFrame =
    (for { iy <- 0 until 5; ix <- 0 until 7 }
      yield (10.0 * ix - 30.0, 100.0 * iy + 50.0, 0.125 * ix - iy / 3.0,
        math.sin(ix + 0.5 * iy)))
      .toDF("x", "y", "z", "w").repartition(3)

  /** (t, y, x) cube of 4 x 5 slices per day. */
  private def cube(ts: Seq[Double]): DataFrame =
    (for { t <- ts; iy <- 0 until 4; ix <- 0 until 5 }
      yield (t, 100.0 * iy, 10.0 * ix, t / 7.0 + iy * 0.3 - ix * 1.25))
      .toDF("t", "y", "x", "v").repartition(3)

  private def digests(root: Path): Map[String, String] = {
    val files = Files.walk(root).toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
    files.map { p =>
      val sha = MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      root.relativize(p).toString -> sha.map(b => f"${b & 0xff}%02x").mkString
    }.toMap
  }

  private def assertGolden(name: String, root: Path, want: Map[String, String]): Unit = {
    val got = digests(root)
    val literal = got.toSeq.sortBy(_._1)
      .map { case (k, v) => s"""      "$k" -> "$v"""" }.mkString(",\n")
    assert(got == want, s"$name digests differ; got:\n    Map(\n$literal)")
  }

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  test("zarr v2 zlib, chunkRows 3 (q54): every file byte-identical") {
    val dir = tmp("golden_zarr_v2_").resolve("g.zarr")
    ZarrGrid.writeGrid2dDistributed(grid, dir.toString, "x", "y", Seq("z", "w"), chunkRows = 3)
    assertGolden("zarr v2", dir, Map(
      ".zgroup" -> "bb8503b1300cb5a332e51ccf74c5d5b106809c6552e8bbc7f521088d0f38f13b",
      ".zmetadata" -> "bf735e86095a59ff993bc7d536f5a3501a360f703fe74f2e5643b82c268e2ffe",
      "w/.zarray" -> "43d0540c169b6b7314dc4ca088a46630ea0cc4454e6c0649392590e0e3548a80",
      "w/.zattrs" -> "43e20e665326fe14183fd3c7ad0585b00695e43e110ca3c40f76b30fbbf857ac",
      "w/0.0" -> "c78d9f00f8cf11c4e50613a8b11fc354bf60f3f31d805735a7380c66e2e8c307",
      "w/1.0" -> "f62ef2513dde177ada78f3e22295d70eaea60acef2fe644860379f77c41e76cb",
      "x/.zarray" -> "021718b9bf4ad631afe8819053f1076b0f2b6f6b30f1caeea195785b3c540a1d",
      "x/.zattrs" -> "5c908957ca641aa8804795c5e4f3e1a61e5eb543c53434b33f1d8244858bda74",
      "x/0" -> "06550c5ff25e04f08d88074368a31e3493ced8ea1bf7e6c4bdd47046a261f74e",
      "y/.zarray" -> "7fb1de53f46e1e4351afc0a0d014bb25dd8b5d6c3ccaa4d1b4bb82dcaf4d6be8",
      "y/.zattrs" -> "4a510a455fbd1fede5fd88267f39fc099cb577b051dc5db519ad69e88af9eda0",
      "y/0" -> "8849254d738d8e9e977ff4fe8c810fdbf67a71d677f91f5342ed101d7f3360e4",
      "z/.zarray" -> "43d0540c169b6b7314dc4ca088a46630ea0cc4454e6c0649392590e0e3548a80",
      "z/.zattrs" -> "43e20e665326fe14183fd3c7ad0585b00695e43e110ca3c40f76b30fbbf857ac",
      "z/0.0" -> "a4d6c6a77e0acbc76c8c65d4d5f1afc50d96f5bd84fcfa404a057ed2be26a799",
      "z/1.0" -> "88123b9838f2e20a71dba349a4a1213213d21d2dcf8077ac3d024c9fd8903c39"))
  }

  test("zarr v3 zstd, chunkRows 3 (q68): every file byte-identical") {
    val dir = tmp("golden_zarr_v3_").resolve("g.zarr")
    ZarrGrid.writeGrid2dDistributed(grid, dir.toString, "x", "y", Seq("z", "w"),
      chunkRows = 3, compressor = "zstd", zarrFormat = 3)
    assertGolden("zarr v3", dir, Map(
      "w/c/0/0" -> "91cabc509d543ffc2cce3888987b8ba51efd87912103f4542e1e1fd6a76285b7",
      "w/c/1/0" -> "1d2455e8109854ad1a8fa15635a3526f3ebdb48dd9ce7138e600308f5d42c238",
      "w/zarr.json" -> "1bba518e1fd68760775fe2a73d45263de2a16e33973ff0bd0458b0e502fcbb53",
      "x/c/0" -> "5ba0dfb4ce0759d76be7e72861b73f5ea55124dc9048b4d0cfd3d3f6cf84e205",
      "x/zarr.json" -> "5744707dedabc75209fbecdb49b518044112d419399b6225a6ea94f66573bd08",
      "y/c/0" -> "f71448deed689c0cbeec01307264f9b1837a5710d8db8134498f687cc30c36b3",
      "y/zarr.json" -> "88b4985a68cafadc45ee02e0d7c3670352030afbd9b7fca9d055749a8a8f1cec",
      "z/c/0/0" -> "d261d9dee4f36fda9f781e9a5599a01fe810cf7b9a427bc2c243b555e0f94884",
      "z/c/1/0" -> "db34fa3059377adea766620c0a8a527becd73903157705f60f46e1abf2ccb324",
      "z/zarr.json" -> "1bba518e1fd68760775fe2a73d45263de2a16e33973ff0bd0458b0e502fcbb53",
      "zarr.json" -> "5a74c13c504faff64ffd30ee6ce868cb0e9ee4d47b55184ee05bf31e008c2b4a"))
  }

  test("zarr v3 zstd sharded, chunkRows 4, shardInnerRows 2 (q71): every file byte-identical") {
    val dir = tmp("golden_zarr_shard_").resolve("g.zarr")
    ZarrGrid.writeGrid2dDistributed(grid, dir.toString, "x", "y", Seq("z", "w"),
      chunkRows = 4, compressor = "zstd", zarrFormat = 3, shardInnerRows = 2)
    assertGolden("zarr v3 sharded", dir, Map(
      "w/c/0/0" -> "17047770bf429b4c9927ce582b6a2d9d80d7962001c5fe74bae16d4539efb9e7",
      "w/c/1/0" -> "0869e9d39484ee3594fe07b1663eaead28249fe48ac7898816ab254bca87b81b",
      "w/zarr.json" -> "3d6e25b24a40712616d8915e4d1b2a1de6973c67d6ba05778136d7b5d858bb77",
      "x/c/0" -> "5ba0dfb4ce0759d76be7e72861b73f5ea55124dc9048b4d0cfd3d3f6cf84e205",
      "x/zarr.json" -> "5744707dedabc75209fbecdb49b518044112d419399b6225a6ea94f66573bd08",
      "y/c/0" -> "f71448deed689c0cbeec01307264f9b1837a5710d8db8134498f687cc30c36b3",
      "y/zarr.json" -> "88b4985a68cafadc45ee02e0d7c3670352030afbd9b7fca9d055749a8a8f1cec",
      "z/c/0/0" -> "d3d79f8b6f9603342dcc032fcf383ed863c09e2fdb0ae0727784ff14b864208b",
      "z/c/1/0" -> "4570bd6db9998c4c957d7b8a96cf64271d547a8b4804be0651636cc2a1fbae6f",
      "z/zarr.json" -> "3d6e25b24a40712616d8915e4d1b2a1de6973c67d6ba05778136d7b5d858bb77",
      "zarr.json" -> "5a74c13c504faff64ffd30ee6ce868cb0e9ee4d47b55184ee05bf31e008c2b4a"))
  }

  test("zarr N-d write then append (q69/q75): every file byte-identical") {
    val dir = tmp("golden_zarr_nd_").resolve("c.zarr")
    val dims = Seq("t", "y", "x")
    ZarrGrid.writeGridNdDistributed(cube(Seq(18326.0, 18327.0, 18328.0)), dir.toString,
      dims, Seq("v"))
    ZarrGrid.appendGridNdDistributed(cube(Seq(18329.0, 18330.0)), dir.toString, dims, Seq("v"))
    assertGolden("zarr N-d + append", dir, Map(
      ".zgroup" -> "bb8503b1300cb5a332e51ccf74c5d5b106809c6552e8bbc7f521088d0f38f13b",
      ".zmetadata" -> "e671b2a786176d174866e9d33f3a2ff81c1c1172628b8ff3292e0d5440d28c0e",
      "t/.zarray" -> "7fb1de53f46e1e4351afc0a0d014bb25dd8b5d6c3ccaa4d1b4bb82dcaf4d6be8",
      "t/.zattrs" -> "ca9e94aded463a127e804854c85c5c70dfc2b17bda79bdda7c44fbaf57344c51",
      "t/0" -> "56bd69eb6c65eb9cd06bcfcf56be67c04fdf15804713f22405a0a3a76aab1f2d",
      "v/.zarray" -> "c8ba35fa2e78373cbfa2b7e7b1032bca245064c9f71cbca16731310d9acbc5c3",
      "v/.zattrs" -> "1eeee990b1209ef4d1e629ae4d8ea227edbd6d1a9ded9ce455a099cef829abfe",
      "v/0.0.0" -> "7b92b5067448499caea2810782e9b24b74e68aae9612148134c855f0d6c4f3ac",
      "v/1.0.0" -> "a7a61c5dc8d0ef97d3a8bc247f5c200fbf87b529c9df57312b4ff10821eeddf5",
      "v/2.0.0" -> "6be1bff208759c5b941fd4cfb25ff3cd7d26a08789b67cbd0b2e9dff25c0f690",
      "v/3.0.0" -> "06203fc028b237bf61553f0c16231265f48a5be27bf5281c5be3e004442d9c76",
      "v/4.0.0" -> "12ce37d2c6c4533032d6d8af402cff293990d31af48f6e6f1012f539a0e3e82c",
      "x/.zarray" -> "7fb1de53f46e1e4351afc0a0d014bb25dd8b5d6c3ccaa4d1b4bb82dcaf4d6be8",
      "x/.zattrs" -> "5c908957ca641aa8804795c5e4f3e1a61e5eb543c53434b33f1d8244858bda74",
      "x/0" -> "fd93db6d9b42d70adb86117463e51e27dd0a57b8c93a72a8776c53519c025e00",
      "y/.zarray" -> "26352482c60afd50fd1536d578bbda4a51de8d231f171aeb491a52af06b5e721",
      "y/.zattrs" -> "4a510a455fbd1fede5fd88267f39fc099cb577b051dc5db519ad69e88af9eda0",
      "y/0" -> "1457728181e3d447d49276a509c138f3ddc053b0b71db567e6320c3254b6924f"))
  }

  test("netCDF bands of 3 rows with a ragged last band (q45): every file byte-identical") {
    val dir = tmp("golden_nc_2d_").resolve("bands")
    NetCdfGrid.writeGrid2dDistributed(grid, dir.toString, "x", "y", Seq("z", "w"),
      bandRows = 3, Map("source" -> "graft"))
    assertGolden("netCDF bands", dir, Map(
      "part-00000.nc" -> "d58928985101de2cfe6021bc28251645c9e8caa54d683d3175eacf11bfa983a1",
      "part-00001.nc" -> "1d20f1c49f0d40c5abbe13914b82247b37e51459ec9eca7902be03a15a5dd8de"))
  }

  test("netCDF N-d granules then append (q70/q76): every file byte-identical") {
    val dir = tmp("golden_nc_nd_").resolve("granules")
    val dims = Seq("t", "y", "x")
    NetCdfGrid.writeGridNdDistributed(cube(Seq(18326.0, 18327.0, 18328.0)), dir.toString,
      dims, Seq("v"))
    NetCdfGrid.appendGridNdDistributed(cube(Seq(18329.0, 18330.0)), dir.toString, dims, Seq("v"))
    assertGolden("netCDF N-d + append", dir, Map(
      "part-00000.nc" -> "4cf628b5da644be226cd078d7ddd6ca7539b53271225fa8e48972ed781358a85",
      "part-00001.nc" -> "ee667883e13287da425a58d8c02f52f99c73fd17cc0ccdf1a9f3964bdcfb4dbe",
      "part-00002.nc" -> "7910d47b4a5e250359edd037bbc6192c95554ba8208854b43cb2a7e977bc093f",
      "part-00003.nc" -> "4b4f862738a525176af9de112f9100408f58d920e030f077f154611bc6665ce6",
      "part-00004.nc" -> "ef27c1a463c5862ed0eed8d09c8b333fe6f28ba8321e8db3ba2b9f84400e7f35"))
  }
}
