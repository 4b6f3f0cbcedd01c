package graft.sources

/** Pure-JVM blosc1 frame codec — zarr v2's DEFAULT compressor (numcodecs
  * `Blosc(cname='lz4', clevel=5, shuffle=SHUFFLE)`), so any real-world
  * `.zarr` store the reference opens through xarray
  * (GPSat/dataloader.py:28-35) is framed this way.
  *
  * Implemented from the public c-blosc container format
  * (`c-blosc/README_HEADER.rst` + blosc.c): a 16-byte header
  * (version, versionlz, flags, typesize, nbytes, blocksize, cbytes), then
  * — unless the memcpy flag is set — an int32 array of absolute block
  * start offsets, then per block a sequence of int32-length-prefixed
  * compressed streams. A block may be SPLIT into `typesize` streams (byte
  * planes when shuffled); a stream whose stored length equals its
  * uncompressed length is raw. Byte-shuffle is applied per block before
  * compression. Inner codecs cover EVERY numcodecs cname: blosclz
  * ([[BloscLzLite]]), lz4 ([[Lz4Lite]]), snappy ([[SnappyLite]]), zlib,
  * zstd ([[ZstdLite]]); bit-shuffle raises.
  *
  * c-blosc decides split-ness from (codec, typesize, blocksize) at both
  * ends; since that heuristic has varied across 1.x releases, the DECODER
  * tries the heuristic's answer first and falls back to the other parse,
  * validating that stream lengths tile the block exactly — wrong guesses
  * cannot silently corrupt.
  */
object BloscLite {

  val CodecBloscLz = 0
  val CodecLz4 = 1
  val CodecSnappy = 2
  val CodecZlib = 3
  val CodecZstd = 4

  private def i32(a: Array[Byte], off: Int): Int =
    (a(off) & 0xff) | ((a(off + 1) & 0xff) << 8) | ((a(off + 2) & 0xff) << 16) | ((a(off + 3) & 0xff) << 24)

  private def zlibInflate(src: Array[Byte], off: Int, len: Int, outLen: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(src, off, len)
    val out = new Array[Byte](outLen)
    var done = 0
    while (done < outLen && !inf.finished()) {
      val got = inf.inflate(out, done, outLen - done)
      if (got == 0 && inf.needsInput())
        throw new IllegalArgumentException("blosc: truncated zlib stream")
      done += got
    }
    inf.end()
    require(done == outLen, s"blosc: zlib stream gave $done of $outLen bytes")
    out
  }

  /** c-blosc split heuristic (1.x defaults): blosclz/lz4 with small
    * typesizes split full blocks into one stream per byte plane.
    */
  private def splits(codec: Int, typesize: Int, bsize: Int, leftover: Boolean): Boolean =
    (codec == CodecBloscLz || codec == CodecLz4) && !leftover &&
      typesize > 1 && typesize <= 16 && bsize % typesize == 0 && bsize / typesize >= 128

  private def shuffle(block: Array[Byte], typesize: Int): Array[Byte] = {
    val elems = block.length / typesize
    val out = new Array[Byte](block.length)
    var j = 0
    while (j < typesize) {
      var i = 0
      while (i < elems) { out(j * elems + i) = block(i * typesize + j); i += 1 }
      j += 1
    }
    out
  }

  /** Decompress one blosc1 frame; `name` labels errors. */
  def decompress(frame: Array[Byte], name: String): Array[Byte] = {
    require(frame.length >= 16, s"$name: blosc frame shorter than its header")
    val flags = frame(2) & 0xff
    val typesize = frame(3) & 0xff
    val nbytes = i32(frame, 4)
    val blocksize = i32(frame, 8)
    val cbytes = i32(frame, 12)
    require(nbytes >= 0 && cbytes <= frame.length,
      s"$name: blosc header claims $cbytes compressed bytes, frame has ${frame.length}")
    val codec = (flags >>> 5) & 7
    val byteShuffle = (flags & 0x1) != 0
    val memcpyed = (flags & 0x2) != 0
    if ((flags & 0x4) != 0) throw new IllegalArgumentException(
      s"$name: blosc bit-shuffle not supported (byte-shuffle and unshuffled frames only)")
    if (memcpyed) {
      require(frame.length >= 16 + nbytes,
        s"$name: blosc memcpy frame holds ${frame.length - 16} of $nbytes payload bytes")
      val out = new Array[Byte](nbytes)
      System.arraycopy(frame, 16, out, 0, nbytes)
      return out
    }
    codec match {
      case CodecBloscLz | CodecLz4 | CodecSnappy | CodecZlib | CodecZstd => ()
      case c => throw new IllegalArgumentException(
        s"$name: blosc codec id $c not recognised (blosclz=0, lz4=1, snappy=2, " +
          "zlib=3, zstd=4)")
    }
    require(blocksize > 0 || nbytes == 0,
      s"$name: blosc header claims blocksize $blocksize for $nbytes bytes")
    val nblocks = if (nbytes == 0) 0 else (nbytes + blocksize - 1) / blocksize
    require(frame.length >= 16 + 4 * nblocks,
      s"$name: blosc frame too short for its $nblocks block offsets")
    val bstarts = Array.tabulate(nblocks) { i =>
      val s = i32(frame, 16 + 4 * i)
      require(s >= 16 + 4 * nblocks && s < frame.length,
        s"$name: blosc block $i start $s outside frame")
      s
    }

    def decodeStream(off: Int, cb: Int, outLen: Int): Array[Byte] =
      if (cb == outLen) { // stored raw
        val out = new Array[Byte](outLen)
        System.arraycopy(frame, off, out, 0, outLen)
        out
      } else codec match {
        case CodecBloscLz => BloscLzLite.decompress(frame, off, cb, outLen, name)
        case CodecSnappy => SnappyLite.decompress(frame, off, cb, outLen, name)
        case CodecLz4 => Lz4Lite.decompress(frame, off, cb, outLen)
        case CodecZlib => zlibInflate(frame, off, cb, outLen)
        case CodecZstd =>
          val out = ZstdLite.decompress(java.util.Arrays.copyOfRange(frame, off, off + cb), name)
          require(out.length == outLen, s"$name: zstd stream gave ${out.length} of $outLen bytes")
          out
      }

    // parse one block as `nstreams` length-prefixed streams; throws if the
    // streams don't tile the block exactly
    def parseBlock(start: Int, bsize: Int, nstreams: Int): Array[Byte] = {
      require(nstreams >= 1 && bsize % nstreams == 0, s"$name: $nstreams streams for $bsize bytes")
      val neblock = bsize / nstreams
      val out = new Array[Byte](bsize)
      var pos = start
      var sIdx = 0
      while (sIdx < nstreams) {
        require(pos + 4 <= frame.length, s"$name: blosc stream header past frame end")
        val cb = i32(frame, pos)
        pos += 4
        require(cb > 0 && pos + cb <= frame.length,
          s"$name: blosc stream of $cb bytes overruns frame")
        val part = decodeStream(pos, cb, neblock)
        System.arraycopy(part, 0, out, sIdx * neblock, neblock)
        pos += cb
        sIdx += 1
      }
      out
    }

    val out = new Array[Byte](nbytes)
    var bi = 0
    while (bi < nblocks) {
      val bsize = math.min(blocksize, nbytes - bi * blocksize)
      val leftover = bsize != blocksize
      val primary = if (splits(codec, typesize, bsize, leftover)) typesize else 1
      val alternate = if (primary == 1) typesize else 1
      val candidates = Seq(primary) ++
        (if (alternate != primary && alternate >= 1 && bsize % math.max(1, alternate) == 0 &&
          alternate <= 255 && typesize > 1) Seq(alternate) else Nil)
      val block0 = candidates.tail.foldLeft(
        scala.util.Try(parseBlock(bstarts(bi), bsize, candidates.head))) { (acc, ns) =>
        acc.recoverWith { case _ => scala.util.Try(parseBlock(bstarts(bi), bsize, ns)) }
      }.get
      val block =
        if (byteShuffle && typesize > 1 && bsize % typesize == 0)
          ChunkCodecs.unshuffle(block0, typesize)
        else block0
      System.arraycopy(block, 0, out, bi * blocksize, bsize)
      bi += 1
    }
    out
  }

  /** Compress into a blosc1 frame (the layout [[decompress]] reads and
    * c-blosc-framed readers expect). `codec` = CodecLz4 | CodecZlib.
    */
  def compress(raw: Array[Byte], typesize: Int, codec: Int, clevel: Int = 5,
               byteShuffle: Boolean = true): Array[Byte] = {
    require(codec == CodecLz4 || codec == CodecZlib || codec == CodecBloscLz ||
      codec == CodecSnappy || codec == CodecZstd, "blosclz/lz4/snappy/zlib/zstd only")
    require(typesize >= 1 && typesize <= 255, s"typesize $typesize")
    val nbytes = raw.length
    // block size: whole buffer up to 256 KB, aligned to typesize
    val blocksize = {
      val target = math.min(nbytes, 256 * 1024)
      math.max(typesize, target - target % typesize)
    }
    val nblocks = if (nbytes == 0) 0 else (nbytes + blocksize - 1) / blocksize
    val body = new java.io.ByteArrayOutputStream(nbytes / 2 + 64)
    val bstarts = new Array[Int](nblocks)
    val headerLen = 16 + 4 * nblocks
    def compressOne(src: Array[Byte]): Array[Byte] = codec match {
      case CodecBloscLz =>
        val c = BloscLzLite.compress(src)
        if (c != null) c else src // incompressible: caller stores raw below
      case CodecSnappy =>
        val c = SnappyLite.compress(src)
        if (c != null) c else src
      case CodecLz4 => Lz4Lite.compress(src)
      case CodecZstd => ZstdLite.compress(src)
      case CodecZlib => ChunkCodecs.deflate(src, clevel)
    }
    def writeI32(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      o.write(v & 0xff); o.write((v >>> 8) & 0xff); o.write((v >>> 16) & 0xff); o.write((v >>> 24) & 0xff)
    }
    var bi = 0
    while (bi < nblocks) {
      bstarts(bi) = headerLen + body.size()
      val bsize = math.min(blocksize, nbytes - bi * blocksize)
      val leftover = bsize != blocksize
      var block = new Array[Byte](bsize)
      System.arraycopy(raw, bi * blocksize, block, 0, bsize)
      if (byteShuffle && typesize > 1 && bsize % typesize == 0) block = shuffle(block, typesize)
      val nstreams = if (splits(codec, typesize, bsize, leftover)) typesize else 1
      val neblock = bsize / nstreams
      var sIdx = 0
      while (sIdx < nstreams) {
        val part = new Array[Byte](neblock)
        System.arraycopy(block, sIdx * neblock, part, 0, neblock)
        val comp = compressOne(part)
        if (comp.length >= neblock) { // incompressible: store raw
          writeI32(body, neblock); body.write(part, 0, neblock)
        } else {
          writeI32(body, comp.length); body.write(comp, 0, comp.length)
        }
        sIdx += 1
      }
      bi += 1
    }
    val out = new java.io.ByteArrayOutputStream(headerLen + body.size())
    out.write(2)        // blosc format version
    out.write(1)        // codec format version
    out.write((codec << 5) | (if (byteShuffle && typesize > 1) 1 else 0)) // flags
    out.write(typesize)
    writeI32(out, nbytes)
    writeI32(out, blocksize)
    writeI32(out, headerLen + body.size()) // cbytes
    bstarts.foreach(writeI32(out, _))
    body.writeTo(out)
    out.toByteArray
  }
}
