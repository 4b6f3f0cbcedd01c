package graft.sources

/** The zlib deflate, unsized inflate and byte-unshuffle shared by the
  * HDF5, Zarr and blosc codecs.
  */
private[sources] object ChunkCodecs {

  /** zlib stream of `raw` at compression `level`. */
  def deflate(raw: Array[Byte], level: Int): Array[Byte] = {
    val d = new java.util.zip.Deflater(level)
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end()
    out.toByteArray
  }

  /** Inflate one whole zlib stream of unknown decoded size; `truncated` is
    * the error text for a stream that ends early. */
  def inflate(raw: Array[Byte], truncated: => String): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(raw)
    val out = new java.io.ByteArrayOutputStream(raw.length * 3 + 64)
    val tmp = new Array[Byte](8192)
    while (!inf.finished()) {
      val got = inf.inflate(tmp)
      if (got == 0 && inf.needsInput()) throw new IllegalArgumentException(truncated)
      out.write(tmp, 0, got)
    }
    inf.end()
    out.toByteArray
  }

  /** byte-shuffle inverse: planes of `typesize` significance back to
    * interleaved elements. */
  def unshuffle(block: Array[Byte], typesize: Int): Array[Byte] = {
    val elems = block.length / typesize
    val out = new Array[Byte](block.length)
    var j = 0
    while (j < typesize) {
      var i = 0
      while (i < elems) { out(i * typesize + j) = block(j * elems + i); i += 1 }
      j += 1
    }
    out
  }
}
