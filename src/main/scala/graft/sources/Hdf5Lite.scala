package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

/** Minimal pure-JVM HDF5 codec — reference analog: the reference's CANONICAL
  * store format is HDF5 via `pd.HDFStore` (`GPSat/dataloader.py:28-35`
  * suffix map, `read_hdf` `:563-624`; result stores
  * `local_experts.py:499-550`). This engine keeps its big tables in
  * parquet, but reads/writes `.h5` granules so reference users' files and
  * pipelines keep working.
  *
  * Implemented from the public HDF5 File Format Specification (v1.x,
  * "version 0 superblock" profile — what libhdf5's `libver='earliest'`
  * default writes):
  *   superblock v0 -> root group symbol-table entry -> v1 group B-tree +
  *   local heap -> SNOD symbol nodes -> v1 object headers with Dataspace /
  *   Datatype / Fill-Value / Layout / Filter-Pipeline messages ->
  *   CONTIGUOUS raw data or CHUNKED data behind a v1 chunk B-tree with
  *   gzip (deflate) and shuffle filters — the layout h5py/netCDF-4
  *   actually write.
  *
  * Scope (documented, checked, and errored loudly outside it):
  *  - datasets under the root group or nested symbol-table sub-groups
  *    (names come back path-qualified, `group/dataset` — the shape
  *    `pd.HDFStore` keys produce);
  *  - fixed-shape 1-d/2-d datasets;
  *  - contiguous, or chunked with gzip/shuffle filters (szip/lzf/blosc
  *    granules raise errors naming the filter id);
  *  - IEEE float64/float32, signed int64/int32, and fixed-length strings
  *    (the datatype pandas axis labels use), little-endian.
  *
  * READ additionally covers the `libver='latest'` profile: superblock
  * v2/v3 (root addressed by object header), v2 'OHDR' object headers with
  * 'OCHK' continuations, compact Link-message groups, v2/v3 attribute
  * messages, ALL five layout v4 chunk indexes (single-chunk / implicit /
  * fixed-array paged-or-not / extensible-array — resizable
  * `maxshape=(None, ...)` appendable stores — / version-2 B-tree for
  * multiple unlimited dims), and DENSE link/attribute storage (fractal
  * heap + v2 B-tree name indexes — what `libver='latest'` switches to
  * beyond 8 links or attributes per object). Bit-shuffle and
  * huge/tiny/filtered fractal-heap objects raise errors naming the
  * feature.
  */
object Hdf5Lite {

  private val Signature: Array[Byte] =
    Array(0x89.toByte, 'H'.toByte, 'D'.toByte, 'F'.toByte, '\r'.toByte, '\n'.toByte, 0x1a.toByte, '\n'.toByte)
  private val Undef: Long = -1L // 0xFFFF_FFFF_FFFF_FFFF

  // ---------------------------------------------------------------- model

  /** One HDF5 attribute: a scalar (or small 1-d) value attached to a
    * dataset or group object header. Exactly one payload is set:
    * `bytesVal` (class-3 fixed string — also the home of PyTables' pickled
    * object attributes, which are raw bytes), `longsVal` (class-0 int64),
    * or `doublesVal` (class-1 float64). `scalar` selects a rank-0
    * dataspace (the shape h5py/PyTables write for single values).
    */
  final case class H5Attr(name: String, bytesVal: Array[Byte] = null,
                          longsVal: Array[Long] = null, doublesVal: Array[Double] = null,
                          scalar: Boolean = true) {
    require(Seq(bytesVal, longsVal, doublesVal).count(_ != null) == 1,
      s"attr $name: exactly one payload")
    def stringVal: String = {
      require(bytesVal != null, s"attr $name is not a string")
      var end = bytesVal.length
      while (end > 0 && bytesVal(end - 1) == 0) end -= 1
      new String(bytesVal, 0, end, "UTF-8")
    }
    def longVal: Long = { require(longsVal != null && scalar, s"attr $name not a scalar long"); longsVal(0) }
  }
  object H5Attr {
    def str(name: String, v: String): H5Attr = H5Attr(name, bytesVal = v.getBytes("UTF-8"))
    def long(name: String, v: Long): H5Attr = H5Attr(name, longsVal = Array(v))
    def bytes(name: String, v: Array[Byte]): H5Attr = H5Attr(name, bytesVal = v)
  }

  /** One member of a compound (record) datatype: `cls` is the HDF5
    * datatype class (0 fixed-point, 1 float, 3 string), `size` the byte
    * width of ONE element, `offset` its position inside the record, and
    * `arity` the element count (> 1 = an ARRAY member — the PyTables
    * `values_block_N` layout; total member bytes = size x arity).
    */
  final case class H5Member(name: String, offset: Int, cls: Int, size: Int,
                            arity: Int = 1)

  /** A 1-d compound-typed dataset (the PyTables `format='table'` record
    * layout): `data` holds nRecords x recordSize raw little-endian bytes.
    */
  final case class H5CompoundVar(name: String, nRecords: Int, recordSize: Int,
                                 members: Seq[H5Member], data: Array[Byte],
                                 attrs: Seq[H5Attr] = Nil) {
    require(data.length == nRecords * recordSize,
      s"$name: ${data.length} bytes != $nRecords x $recordSize")
    require(members.nonEmpty, s"$name: compound needs members")
  }

  /** One dataset: name, shape, and values (Doubles, Longs, or fixed-length
    * Strings — strings are always stored contiguous).
    */
  final case class H5Var(name: String, shape: Seq[Int], doubles: Array[Double] = null,
                         longs: Array[Long] = null, strings: Array[String] = null,
                         attrs: Seq[H5Attr] = Nil) {
    require(Seq(doubles, longs, strings).count(_ != null) == 1,
      s"$name: exactly one of doubles/longs/strings")
    private def len =
      if (doubles != null) doubles.length else if (longs != null) longs.length else strings.length
    require(shape.product == len, s"$name: shape ${shape.mkString("x")} != $len values")
    /** fixed element size: NUL-padded max byte length for strings, 8 else */
    private[sources] def elemSize: Int =
      if (strings == null) 8
      else math.max(1, strings.map(_.getBytes("UTF-8").length).max + 1)
  }

  // ------------------------------------------- shared binary encodings

  private def pad8(n: Int): Int = (n + 7) & ~7

  /** Unpadded datatype-message body size for a basic class: fixed-point
    * int (12), IEEE float64 (20), fixed string (8) — the v1 sizes the
    * dataset path has always written.
    */
  private def dtBodySize(cls: Int): Int = cls match {
    case 0 => 12
    case 1 => 20
    case 3 => 8
    case c => throw new IllegalArgumentException(s"datatype class $c not encodable")
  }

  /** Emit one basic datatype body (v1, little-endian): class 0 = signed
    * int of `size` bytes, class 1 = float64, class 3 = NUL-terminated
    * ASCII string of fixed `size`.
    */
  private def emitDtBody(buf: ByteBuffer, cls: Int, size: Int): Unit = cls match {
    case 0 =>
      buf.put(0x10.toByte); buf.put(0x08.toByte); buf.put(0.toByte); buf.put(0.toByte)
      buf.putInt(size); buf.putShort(0.toShort); buf.putShort((size * 8).toShort)
    case 1 =>
      require(size == 8, "float attrs/members are f8")
      buf.put(0x11.toByte); buf.put(0x20.toByte); buf.put(0x3f.toByte); buf.put(0.toByte)
      buf.putInt(8); buf.putShort(0.toShort); buf.putShort(64.toShort)
      buf.put(52.toByte); buf.put(11.toByte); buf.put(0.toByte); buf.put(52.toByte)
      buf.putInt(1023)
    case 3 =>
      buf.put(0x13.toByte); buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte)
      buf.putInt(size)
  }

  private def attrClsSize(a: H5Attr): (Int, Int) =
    if (a.bytesVal != null) (3, math.max(1, a.bytesVal.length))
    else if (a.longsVal != null) (0, 8) else (1, 8)
  private def attrNElems(a: H5Attr): Int =
    if (a.bytesVal != null) 1
    else if (a.longsVal != null) a.longsVal.length else a.doublesVal.length
  private def attrDsBodySize(a: H5Attr): Int = if (a.scalar) 8 else 16
  private def attrBodySize(a: H5Attr): Int = {
    val (cls, esize) = attrClsSize(a)
    8 + pad8(a.name.getBytes("UTF-8").length + 1) + pad8(dtBodySize(cls)) +
      pad8(attrDsBodySize(a)) + esize * attrNElems(a)
  }
  /** Full v1 Attribute message size: 8-byte header + padded body. */
  private def attrMsgSize(a: H5Attr): Int = 8 + pad8(attrBodySize(a))
  private def attrsMsgSize(as: Seq[H5Attr]): Int = as.map(attrMsgSize).sum

  /** Emit one v1 Attribute message (header + body) at the current position. */
  private def emitAttr(buf: ByteBuffer, a: H5Attr): Unit = {
    require(!a.scalar || attrNElems(a) == 1, s"attr ${a.name}: scalar with ${attrNElems(a)} values")
    val body = attrBodySize(a)
    // the v1 message size is a u16: an oversized attribute (e.g. a pickled
    // non_index_axes for a very wide frame) must fail loudly, not wrap
    require(pad8(body) <= 0xFFFF,
      s"attr ${a.name}: ${pad8(body)} bytes exceeds the 64 KB v1 attribute message limit")
    buf.putShort(0x000C.toShort); buf.putShort(pad8(body).toShort); buf.putInt(0)
    val start = buf.position()
    val nameB = a.name.getBytes("UTF-8")
    val (cls, esize) = attrClsSize(a)
    buf.put(1.toByte); buf.put(0.toByte)                 // version 1, reserved
    buf.putShort((nameB.length + 1).toShort)             // name size incl NUL
    buf.putShort(dtBodySize(cls).toShort)                // datatype size (unpadded)
    buf.putShort(attrDsBodySize(a).toShort)              // dataspace size (unpadded)
    val nameStart = buf.position()
    buf.put(nameB); buf.put(0.toByte)
    buf.position(nameStart + pad8(nameB.length + 1))
    val dtStart = buf.position()
    emitDtBody(buf, cls, esize)
    buf.position(dtStart + pad8(dtBodySize(cls)))
    val dsStart = buf.position()
    if (a.scalar) { buf.put(1.toByte); buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte); buf.putInt(0) }
    else {
      buf.put(1.toByte); buf.put(1.toByte); buf.put(0.toByte); buf.put(0.toByte); buf.putInt(0)
      buf.putLong(attrNElems(a).toLong)
    }
    buf.position(dsStart + pad8(attrDsBodySize(a)))
    if (a.bytesVal != null) buf.put(a.bytesVal)
    else if (a.longsVal != null) a.longsVal.foreach(buf.putLong)
    else a.doublesVal.foreach(buf.putDouble)
    buf.position(start + pad8(body))
  }

  /** v1 compound member entry size: padded NUL name + offset(4) +
    * dimensionality(1) + reserved(3) + permutation(4) + reserved(4) +
    * 4 dim sizes(16) + the member's datatype body (unpadded, per spec).
    */
  private def compoundMemberEntrySize(m: H5Member): Int =
    pad8(m.name.getBytes("UTF-8").length + 1) + 4 + 1 + 3 + 4 + 4 + 16 + dtBodySize(m.cls)
  private def compoundDtSize(c: H5CompoundVar): Int =
    pad8(8 + c.members.map(compoundMemberEntrySize).sum)

  private def emitCompoundDt(buf: ByteBuffer, c: H5CompoundVar): Unit = {
    val n = c.members.length
    buf.put(0x16.toByte)                                  // version 1, class 6
    buf.put((n & 0xff).toByte); buf.put(((n >> 8) & 0xff).toByte); buf.put(0.toByte)
    buf.putInt(c.recordSize)
    c.members.foreach { m =>
      val nameB = m.name.getBytes("UTF-8")
      val nameStart = buf.position()
      buf.put(nameB); buf.put(0.toByte)
      buf.position(nameStart + pad8(nameB.length + 1))
      buf.putInt(m.offset)
      buf.put((if (m.arity > 1) 1 else 0).toByte)         // dimensionality
      buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte)
      buf.putInt(0)                                       // dimension permutation
      buf.putInt(0)                                       // reserved
      buf.putInt(if (m.arity > 1) m.arity else 0)         // dim size 0
      (0 until 3).foreach(_ => buf.putInt(0))             // dim sizes 1..3
      emitDtBody(buf, m.cls, m.size)
    }
  }

  // ---------------------------------------------------------------- write

  /** Encode datasets (root-group children) into one HDF5 byte image.
    *
    * `chunkRows > 0` switches from contiguous to CHUNKED layout (chunks
    * along the first dimension, a v1 chunk B-tree index — the layout real
    * h5py/netCDF-4 writers produce), and `deflate` 1..9 adds the gzip
    * filter pipeline on each chunk. `chunkRows = 0` is bit-identical to the
    * original contiguous form.
    *
    * `group` non-empty places every dataset under ONE child group of root
    * (the `pd.HDFStore` key shape, `/key/axis0` etc.).
    */
  def write(vars: Seq[H5Var], chunkRows: Int = 0, deflate: Int = 0,
            group: String = "", groupAttrs: Seq[H5Attr] = Nil): Array[Byte] =
    if (group.isEmpty) writeImage(vars, Nil, chunkRows, deflate,
      if (groupAttrs.isEmpty) Map.empty else Map("" -> groupAttrs))
    else writeImage(Nil, Seq(group -> vars), chunkRows, deflate,
      if (groupAttrs.isEmpty) Map.empty else Map(group -> groupAttrs))

  /** Multi-key image: each (key, datasets) pair becomes one root child
    * group — the multi-table `pd.HDFStore` store shape the reference keeps
    * its run results in (run_details / preds / hyperparameter tables
    * side by side in ONE `.h5`, local_experts.py:499-550).
    *
    * `groupAttrs` attaches attributes to a key's group object header (""
    * = the root group); `compounds` places 1-d compound-typed datasets
    * (the PyTables `format='table'` record layout) under their key group
    * alongside any plain datasets.
    */
  def writeKeys(keyed: Seq[(String, Seq[H5Var])], chunkRows: Int = 0,
                deflate: Int = 0, groupAttrs: Map[String, Seq[H5Attr]] = Map.empty,
                compounds: Seq[(String, H5CompoundVar)] = Nil): Array[Byte] =
    writeImage(Nil, keyed, chunkRows, deflate, groupAttrs, compounds)

  /** Jenkins lookup3 `hashlittle` (public domain, lookup3.c) — the
    * checksum HDF5 stores on every `libver='latest'` metadata block
    * (H5_checksum_metadata = hashlittle(data, len, 0)). Needed so
    * [[writeExtensible]] images validate under checksum-checking readers.
    */
  private def lookup3(data: Array[Byte], off: Int, len: Int): Int = {
    def rot(x: Int, k: Int): Int = (x << k) | (x >>> (32 - k))
    var a = 0xdeadbeef + len; var b = a; var c = a
    var p = off; var rem = len
    def k(i: Int): Int =
      (data(p + 4 * i) & 0xff) | ((data(p + 4 * i + 1) & 0xff) << 8) |
        ((data(p + 4 * i + 2) & 0xff) << 16) | ((data(p + 4 * i + 3) & 0xff) << 24)
    while (rem > 12) {
      a += k(0); b += k(1); c += k(2)
      a -= c; a ^= rot(c, 4); c += b
      b -= a; b ^= rot(a, 6); a += c
      c -= b; c ^= rot(b, 8); b += a
      a -= c; a ^= rot(c, 16); c += b
      b -= a; b ^= rot(a, 19); a += c
      c -= b; c ^= rot(b, 4); b += a
      p += 12; rem -= 12
    }
    if (rem == 0) return c
    // tail: accumulate remaining bytes little-endian into a/b/c
    def tail(i: Int): Int = if (i < rem) (data(p + i) & 0xff) else 0
    a += tail(0) | (tail(1) << 8) | (tail(2) << 16) | (tail(3) << 24)
    if (rem > 4) b += tail(4) | (tail(5) << 8) | (tail(6) << 16) | (tail(7) << 24)
    if (rem > 8) c += tail(8) | (tail(9) << 8) | (tail(10) << 16) | (tail(11) << 24)
    c ^= b; c -= rot(b, 14)
    a ^= c; a -= rot(c, 11)
    b ^= a; b -= rot(a, 25)
    c ^= b; c -= rot(b, 16)
    a ^= c; a -= rot(c, 4)
    b ^= a; b -= rot(a, 14)
    c ^= b; c -= rot(b, 24)
    c
  }

  /** Write resizable (appendable) float64 datasets the way an
    * `h5py libver='latest'` writer with `maxshape=(None,)` lays them out:
    * superblock v3, v2 'OHDR' object headers, v2 dataspaces with an
    * unlimited max dimension, and a layout-v4 EXTENSIBLE-ARRAY chunk
    * index per dataset ("EAHD" / "EAIB" / "EASB" / "EADB", geometry per
    * the public HDF5 File Format Specification III.A.3) — the shape of
    * every appendable user store the reference's `read_hdf` accepts
    * (GPSat/dataloader.py:563-624). All metadata blocks carry real
    * Jenkins-lookup3 checksums. Creation parameters mirror the library
    * defaults (idxElmts=4, minElmts=16, minPtrs=4, pageBits=10); paged
    * data blocks are out of write scope, bounding one dataset at 65,524
    * chunks — a self-imposed write-side cap raised loudly.
    * [[read]] round-trips the image through [[eaElementReader]].
    */
  def writeExtensible(name: String, values: Array[Double], chunkElems: Int): Array[Byte] =
    writeExtensibleAll(Seq(name -> values), chunkElems)

  /** Multi-series form of [[writeExtensible]]: each (name, values) pair
    * becomes one root-level appendable dataset — the multi-column series
    * store [[Hdf5Table.read]] maps to a DataFrame.
    */
  def writeExtensibleAll(series: Seq[(String, Array[Double])], chunkElems: Int): Array[Byte] = {
    require(chunkElems > 0 && series.nonEmpty && series.forall(_._2.nonEmpty),
      "chunkElems > 0 and non-empty series")
    // creation geometry (library defaults)
    val idxElmts = 4; val minElmts = 16; val minPtrs = 4; val pageBits = 10; val maxBits = 32
    val chunkBytes = chunkElems * 8
    val nsblksHdr = 2 + maxBits - log2of2(minElmts)
    final case class SB(u: Int, ndblks: Int, dblkNelmts: Int, startIdx: Long, startDblk: Long)
    val sblk = {
      var si = 0L; var sd = 0L
      (0 until nsblksHdr).map { u =>
        val nd = 1 << (u / 2); val ne = (1 << ((u + 1) / 2)) * minElmts
        val r = SB(u, nd, ne, si, sd); si += nd.toLong * ne; sd += nd; r
      }
    }
    val iblkNsblks = 2 * log2of2(minPtrs)
    val ndblkAddrs = 2 * (minPtrs - 1)
    val nsblkAddrs = nsblksHdr - iblkNsblks
    val pageNelmts = 1 << pageBits
    val offBytes = (maxBits + 7) / 8

    // container of element (chunk) index i: (superblock u, data block
    // index within it); only valid for i >= idxElmts
    def container(i: Long): (Int, Int) = {
      val idx = i - idxElmts
      val u = sblk.lastIndexWhere(_.startIdx <= idx)
      (u, ((idx - sblk(u).startIdx) / sblk(u).dblkNelmts).toInt)
    }

    // per-series plan: name bytes, chunk count, needed blocks
    final case class Plan(nameB: Array[Byte], values: Array[Double], nChunks: Int,
                          dblocks: Seq[(Int, Int)], sblksNeeded: Seq[Int]) {
      var dsOh = 0L; var eahd = 0L; var eaib = 0L
      var easbAt: Map[Int, Long] = Map.empty
      var eadbAt: Map[(Int, Int), Long] = Map.empty
      var chunkAt: IndexedSeq[Long] = IndexedSeq.empty
    }
    val plans = series.map { case (name, values) =>
      val nChunks = (values.length + chunkElems - 1) / chunkElems
      if (nChunks > idxElmts) {
        val (uLast, _) = container(nChunks - 1L)
        require(sblk(uLast).dblkNelmts <= pageNelmts,
          s"$name: $nChunks chunks needs paged extensible-array data blocks — " +
            "out of write scope (raise chunkElems; the READER handles paged blocks)")
      }
      val dblocks: Seq[(Int, Int)] =
        if (nChunks <= idxElmts) Nil
        else {
          val (uLast, dLast) = container(nChunks - 1L)
          for (u <- 0 to uLast; d <- 0 until sblk(u).ndblks
               if u < uLast || d <= dLast) yield (u, d)
        }
      Plan(name.getBytes("UTF-8"), values, nChunks,
        dblocks, dblocks.map(_._1).distinct.filter(_ >= iblkNsblks))
    }

    // ---- layout: fixed header sizes
    val rootMsg = plans.map(p => 4 + (3 + p.nameB.length + 8)).sum // link messages
    require(rootMsg < 256, s"${series.length} series names exceed the root header budget")
    val rootLen = 7 + rootMsg + 4
    val dsMsgs = (4 + 20) + (4 + 20) + (4 + 23)   // dspace v2+max, f64 dtype, layout v4
    val dsLen = 7 + dsMsgs + 4
    val eahdLen = 72
    val eaibLen = 14 + (idxElmts + ndblkAddrs + nsblkAddrs) * 8 + 4
    def easbLen(u: Int) = 14 + offBytes + sblk(u).ndblks * 8 + 4
    def eadbLen(u: Int) = 14 + offBytes + sblk(u).dblkNelmts * 8 + 4

    var pos = 48L
    val rootOh = pos; pos += rootLen
    plans.foreach { p =>
      p.dsOh = pos; pos += dsLen
      p.eahd = pos; pos += eahdLen
      p.eaib = pos; pos += eaibLen
      p.easbAt = p.sblksNeeded.map { u => val q = pos; pos += easbLen(u); u -> q }.toMap
      p.eadbAt = p.dblocks.map { case (u, d) => val q = pos; pos += eadbLen(u); (u, d) -> q }.toMap
      p.chunkAt = (0 until p.nChunks).map { _ => val q = pos; pos += chunkBytes; q }
    }
    val total = pos

    val buf = ByteBuffer.allocate(total.toInt).order(ByteOrder.LITTLE_ENDIAN)
    def checksumAt(start: Long): Unit = // checksum over [start, position)
      buf.putInt(lookup3(buf.array(), start.toInt, (buf.position() - start).toInt))

    // superblock v3
    buf.put(Signature)
    buf.put(3.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    buf.putLong(0L).putLong(Undef).putLong(total).putLong(rootOh)
    checksumAt(0L)

    // root OHDR: one hard link per series
    buf.position(rootOh.toInt)
    buf.put('O'.toByte).put('H'.toByte).put('D'.toByte).put('R'.toByte)
    buf.put(2.toByte).put(0.toByte).put(rootMsg.toByte)
    plans.foreach { p =>
      buf.put(0x06.toByte).putShort((3 + p.nameB.length + 8).toShort).put(0.toByte)
      buf.put(1.toByte).put(0.toByte).put(p.nameB.length.toByte).put(p.nameB).putLong(p.dsOh)
    }
    checksumAt(rootOh)

    plans.foreach { p =>
      // dataset OHDR: dataspace (max dim unlimited) + datatype + layout v4
      buf.position(p.dsOh.toInt)
      buf.put('O'.toByte).put('H'.toByte).put('D'.toByte).put('R'.toByte)
      buf.put(2.toByte).put(0.toByte).put(dsMsgs.toByte)
      buf.put(0x01.toByte).putShort(20.toShort).put(0.toByte)
      buf.put(2.toByte).put(1.toByte).put(1.toByte).put(1.toByte) // v2, rank 1, max dims, simple
      buf.putLong(p.values.length.toLong).putLong(Undef)          // dims; max = H5S_UNLIMITED
      buf.put(0x03.toByte).putShort(20.toShort).put(0.toByte)
      buf.put(0x11.toByte).put(0x20.toByte).put(0x3f.toByte).put(0.toByte)
      buf.putInt(8).putShort(0.toShort).putShort(64.toShort)
      buf.put(52.toByte).put(11.toByte).put(0.toByte).put(52.toByte).putInt(1023)
      buf.put(0x08.toByte).putShort(23.toShort).put(0.toByte)
      buf.put(4.toByte).put(2.toByte).put(0.toByte)               // layout v4 chunked, no flags
      buf.put(1.toByte).put(4.toByte).putInt(chunkElems)          // ndims 1, 4-byte dims
      buf.put(4.toByte)                                           // index: extensible array
      buf.put(maxBits.toByte).put(idxElmts.toByte).put(minPtrs.toByte)
      buf.put(minElmts.toByte).put(pageBits.toByte)
      buf.putLong(p.eahd)
      checksumAt(p.dsOh)

      // EAHD
      buf.position(p.eahd.toInt)
      buf.put('E'.toByte).put('A'.toByte).put('H'.toByte).put('D'.toByte)
      buf.put(0.toByte).put(0.toByte)                             // version, client 0
      buf.put(8.toByte).put(maxBits.toByte).put(idxElmts.toByte)
      buf.put(minElmts.toByte).put(minPtrs.toByte).put(pageBits.toByte)
      buf.putLong(p.sblksNeeded.length.toLong)
      buf.putLong(p.sblksNeeded.map(easbLen(_).toLong).sum)       // secondary blks: count, bytes
      buf.putLong(p.dblocks.length.toLong)
      buf.putLong(p.dblocks.map { case (u, _) => eadbLen(u).toLong }.sum) // data blks: count, bytes
      buf.putLong(p.nChunks.toLong).putLong(p.nChunks.toLong)     // max index set, num elements
      buf.putLong(p.eaib)
      checksumAt(p.eahd)

      // EAIB: inline elements, direct data-block addrs, super-block addrs
      buf.position(p.eaib.toInt)
      buf.put('E'.toByte).put('A'.toByte).put('I'.toByte).put('B'.toByte)
      buf.put(0.toByte).put(0.toByte).putLong(p.eahd)
      (0 until idxElmts).foreach(i => buf.putLong(if (i < p.nChunks) p.chunkAt(i) else Undef))
      (0 until ndblkAddrs).foreach { g => // global data-block number g
        val ud = p.dblocks.find { case (u, d) => sblk(u).startDblk + d == g }
        buf.putLong(ud.map(p.eadbAt).getOrElse(Undef))
      }
      sblk.drop(iblkNsblks).foreach(s => buf.putLong(p.easbAt.getOrElse(s.u, Undef)))
      checksumAt(p.eaib)

      // EASBs: block offset + data-block addresses (never paged here)
      p.sblksNeeded.foreach { u =>
        val s = sblk(u)
        buf.position(p.easbAt(u).toInt)
        buf.put('E'.toByte).put('A'.toByte).put('S'.toByte).put('B'.toByte)
        buf.put(0.toByte).put(0.toByte).putLong(p.eahd)
        (0 until offBytes).foreach(k => buf.put(((idxElmts + s.startIdx) >> (8 * k)).toByte))
        (0 until s.ndblks).foreach(d => buf.putLong(p.eadbAt.getOrElse((u, d), Undef)))
        checksumAt(p.easbAt(u))
      }

      // EADBs: element slots = chunk addresses (Undef past the last chunk)
      p.dblocks.foreach { case (u, d) =>
        val s = sblk(u)
        val first = idxElmts + s.startIdx + d.toLong * s.dblkNelmts
        buf.position(p.eadbAt((u, d)).toInt)
        buf.put('E'.toByte).put('A'.toByte).put('D'.toByte).put('B'.toByte)
        buf.put(0.toByte).put(0.toByte).putLong(p.eahd)
        (0 until offBytes).foreach(k => buf.put((first >> (8 * k)).toByte))
        (0 until s.dblkNelmts).foreach { j =>
          val i = first + j
          buf.putLong(if (i < p.nChunks) p.chunkAt(i.toInt) else Undef)
        }
        checksumAt(p.eadbAt((u, d)))
      }

      // chunk payloads (edge chunk zero-padded, as the library allocates)
      (0 until p.nChunks).foreach { i =>
        buf.position(p.chunkAt(i).toInt)
        (0 until chunkElems).foreach { j =>
          val k = i * chunkElems + j
          buf.putDouble(if (k < p.values.length) p.values(k) else 0.0)
        }
      }
    }
    buf.array()
  }

  /** v1 chunk-B-tree level structure: per level (0 = leaves over chunk
    * entries), the child count of each node; level k nodes hold up to 64
    * children of level k-1, recursively, until one root remains — the
    * general tree the READER's walk() already recurses.
    */
  private def btreeLevels(nChunks: Int): Seq[IndexedSeq[Int]] = {
    var counts = IndexedSeq.tabulate((nChunks + 63) / 64)(i => math.min(64, nChunks - i * 64))
    val out = Seq.newBuilder[IndexedSeq[Int]]
    out += counts
    while (counts.length > 1) {
      val n = counts.length
      counts = IndexedSeq.tabulate((n + 63) / 64)(i => math.min(64, n - i * 64))
      out += counts
    }
    out.result() // level 0 first
  }

  /** Chunks spanned by one level-k subtree: 64^(k+1). */
  private def btreeSpan(k: Int): Long = {
    var s = 1L
    (0 to k).foreach(_ => s *= 64)
    s
  }

  private def writeImage(rootVars: Seq[H5Var], keyed0: Seq[(String, Seq[H5Var])],
                         chunkRows: Int, deflate: Int,
                         groupAttrs: Map[String, Seq[H5Attr]] = Map.empty,
                         compounds: Seq[(String, H5CompoundVar)] = Nil): Array[Byte] = {
    require(deflate >= 0 && deflate <= 9, "deflate level 0..9")
    require(deflate == 0 || chunkRows > 0, "deflate requires chunked layout (chunkRows > 0)")
    type DS = Either[H5Var, H5CompoundVar]
    def nameOf(d: DS): String = d.fold(_.name, _.name)
    def attrsOf(d: DS): Seq[H5Attr] = d.fold(_.attrs, _.attrs)
    val keyedKeys = (keyed0.map(_._1) ++ compounds.map(_._1)).distinct.sorted
    val byKey: Map[String, Seq[DS]] = keyedKeys.map { k =>
      k -> ((keyed0.filter(_._1 == k).flatMap(_._2).map(Left(_): DS)) ++
        compounds.filter(_._1 == k).map(c => Right(c._2): DS))
    }.toMap
    val keyed = keyedKeys.map(k => k -> byKey(k)) // root SNOD entries name-sorted
    keyed.foreach { case (k, vs) =>
      require(k.nonEmpty && !k.contains("/"), s"key '$k' must be one non-empty level")
      require(vs.nonEmpty, s"key '$k': no datasets")
    }
    require(rootVars.nonEmpty || keyed.nonEmpty, "no datasets")
    val flat = keyed.isEmpty
    // dataset groups to lay out: the root itself, or one section per key
    val groups: Seq[(String, Seq[DS])] =
      if (flat) Seq("" -> rootVars.sortBy(_.name).map(Left(_): DS))
      else keyed.map { case (k, vs) => k -> vs.sortBy(nameOf) }
    groups.foreach { case (k, vs) =>
      require(vs.map(nameOf).distinct.length == vs.length,
        s"duplicate dataset names${if (k.isEmpty) "" else s" under '$k'"}")
    }

    // ---- address plan (all sections 8-byte aligned) ----
    val superblockSize = 96
    val rootOhAddr = superblockSize.toLong
    // v1 prefix + SymbolTable message + any group attribute messages
    def grpOhSizeOf(key: String): Int =
      16 + (8 + 16) + attrsMsgSize(groupAttrs.getOrElse(key, Nil))
    val grpOhSize = grpOhSizeOf("")

    // one symbol-table section = local heap + v1 group B-tree + one SNOD
    final case class SymSec(heapHdr: Long, heapDataSize: Int, btree: Long,
                            snod: Long, snodSize: Int, leafK: Int,
                            nameOffsets: Map[String, Long]) {
      def end: Long = snod + snodSize
    }
    def planSym(names: Seq[String], base: Long): SymSec = {
      // heap data: byte 0 = empty string, then each name NUL-terminated, 8-aligned
      val offs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      var heapUsed = 8 // reserve an aligned empty-string slot at offset 0
      names.foreach { n =>
        offs(n) = heapUsed.toLong
        heapUsed += pad8(n.getBytes("UTF-8").length + 1)
      }
      val heapDataSize = pad8(heapUsed)
      val btree = base + 32 + heapDataSize
      val leafK = math.max(4, (names.length + 1) / 2)
      require(names.length <= 2 * leafK, "too many entries for one SNOD")
      SymSec(base, heapDataSize, btree, btree + 24 + 3 * 8, 8 + 2 * leafK * 40,
        leafK, offs.toMap)
    }

    // root section: datasets directly (flat) or the key directory
    val rootSec = planSym(
      if (flat) groups.head._2.map(nameOf) else groups.map(_._1), rootOhAddr + grpOhSize)
    // per key: group object header followed by its own dataset section
    var secCursor = rootSec.end
    val keySecs: Seq[(Long, SymSec)] = groups.map { case (k, vs) =>
      if (flat) (0L, rootSec)
      else {
        val ohAddr = secCursor
        val sec = planSym(vs.map(nameOf), ohAddr + grpOhSizeOf(k))
        secCursor = sec.end
        (ohAddr, sec)
      }
    }

    // per-var chunk payloads (compressed up front: sizes drive the layout)
    final case class ChunkBlob(offset0: Int, bytes: Array[Byte])
    final case class DsPlan(d: DS, ohAddr: Long, dataAddr: Long, dataSize: Long,
                            placed: Seq[(ChunkBlob, Long)], chunkDim0: Int) {
      def name: String = nameOf(d)
    }
    def rawChunk(v: H5Var, off0: Int, c0: Int): Array[Byte] = {
      // full-size chunk, edge chunks zero-padded (HDF5 stores whole chunks)
      val rest = v.shape.drop(1).product
      val bb = ByteBuffer.allocate(c0 * rest * 8).order(ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < c0 * rest) {
        val src = off0 * rest + i
        val inRange = (off0 + i / rest) < v.shape.head
        if (v.doubles != null) bb.putDouble(if (inRange) v.doubles(src) else 0.0)
        else bb.putLong(if (inRange) v.longs(src) else 0L)
        i += 1
      }
      bb.array()
    }
    def compress(raw: Array[Byte]): Array[Byte] =
      if (deflate == 0) raw else ChunkCodecs.deflate(raw, deflate)

    def rawCompChunk(c: H5CompoundVar, off0: Int, c0: Int): Array[Byte] = {
      // full-size chunk of records, edge chunks zero-padded
      val out = new Array[Byte](c0 * c.recordSize)
      val avail = math.min(c0, c.nRecords - off0)
      System.arraycopy(c.data, off0 * c.recordSize, out, 0, avail * c.recordSize)
      out
    }

    def dtypeSizeOf(v: H5Var): Int =
      if (v.doubles != null) pad8(20) else if (v.longs != null) pad8(12) else pad8(8)

    var cursor = secCursor
    val plansByGroup: Seq[Seq[DsPlan]] = groups.map(_._2.map { d =>
      val attrsSize = attrsMsgSize(attrsOf(d))
      val name = nameOf(d)
      // uniform shape view: compound = rank-1 records of recordSize bytes
      val (rank, dim0, dtypeSize, elemSize, contiguousOnly) = d match {
        case Left(v) =>
          require(v.shape.length >= 1 && v.shape.length <= 2,
            s"${v.name}: only 1-d/2-d datasets supported")
          (v.shape.length, v.shape.head, dtypeSizeOf(v), v.elemSize, v.strings != null)
        case Right(c) => (1, c.nRecords, compoundDtSize(c), c.recordSize, false)
      }
      val dspaceSize = pad8(8 + rank * 8)
      if (chunkRows == 0 || contiguousOnly) {
        // OH: prefix 16 + dataspace + datatype + fillvalue(8 + 8) + layout(8 + 24)
        val ohSize = 16 + (8 + dspaceSize) + (8 + dtypeSize) + (8 + 8) + (8 + 24) + attrsSize
        val ohAddr = cursor
        val dataAddr = ohAddr + ohSize
        val dataSize = d.fold(v => v.shape.product.toLong * v.elemSize, c => c.data.length.toLong)
        cursor = dataAddr + pad8(dataSize.toInt)
        DsPlan(d, ohAddr, dataAddr, dataSize, Nil, 0)
        // (contiguous: dataAddr/dataSize are the raw extent)
      } else {
        val c0 = math.max(1, math.min(chunkRows, dim0))
        val nChunks = (dim0 + c0 - 1) / c0
        val blobs = (0 until nChunks).map(ci => ChunkBlob(ci * c0,
          compress(d.fold(v => rawChunk(v, ci * c0, c0), c => rawCompChunk(c, ci * c0, c0)))))
        val layoutRaw = 2 + 8 + 1 + (rank + 1) * 4
        // msg hdr(8) + body(8 fixed + 8 filter record + 4 client value +
        // 4 pad for the odd client count) — v1 message sizes are multiples
        // of 8 and INCLUDE the pad bytes
        val filterSize = if (deflate > 0) 8 + 24 else 0
        val ohSize = 16 + (8 + dspaceSize) + (8 + dtypeSize) + (8 + 8) +
          (8 + pad8(layoutRaw)) + filterSize + attrsSize
        val ohAddr = cursor
        val btreeAddr = ohAddr + ohSize // dataAddr doubles as the ROOT btree address
        val keySize = 8 + (rank + 1) * 8
        def nodeSize(entries: Int) = pad8(24 + (entries + 1) * keySize + entries * 8)
        // recursive B-tree: leaves of <= 64 entries grouped 64-ways per
        // level until one root — any chunk count fits
        var chunkCursor = btreeAddr + btreeLevels(nChunks).flatMap(_.map(nodeSize)).sum
        val placed = blobs.map { b =>
          val at = chunkCursor
          chunkCursor += pad8(b.bytes.length)
          (b, at)
        }
        cursor = chunkCursor
        // chunked: dataAddr = B-tree address, dataSize unused
        DsPlan(d, ohAddr, btreeAddr, 0L, placed, c0)
      }
    })
    val plans = plansByGroup.flatten
    val eof = cursor

    val buf = ByteBuffer.allocate(eof.toInt).order(ByteOrder.LITTLE_ENDIAN)

    // ---- superblock v0 ----
    buf.put(Signature)
    buf.put(0.toByte) // superblock version
    buf.put(0.toByte) // free space version
    buf.put(0.toByte) // root symbol table version
    buf.put(0.toByte) // reserved
    buf.put(0.toByte) // shared header message version
    buf.put(8.toByte) // size of offsets
    buf.put(8.toByte) // size of lengths
    buf.put(0.toByte) // reserved
    buf.putShort(rootSec.leafK.toShort) // group leaf node K
    buf.putShort(16.toShort)     // group internal node K
    buf.putInt(0)                // file consistency flags
    buf.putLong(0L)              // base address
    buf.putLong(Undef)           // free space address
    buf.putLong(eof)             // end of file address
    buf.putLong(Undef)           // driver info address
    // root group symbol table entry
    buf.putLong(0L)              // link name offset (empty string)
    buf.putLong(rootOhAddr)
    buf.putInt(1)                // cache type 1: group
    buf.putInt(0)
    buf.putLong(rootSec.btree)   // scratch: B-tree address
    buf.putLong(rootSec.heapHdr) // scratch: heap address
    require(buf.position() == superblockSize)

    // one symbol-table group object header (root and key groups share the
    // SymbolTable-message shape, plus any group attribute messages)
    def emitGroupOh(at: Long, bt: Long, hp: Long, attrs: Seq[H5Attr]): Unit = {
      buf.position(at.toInt)
      buf.put(1.toByte); buf.put(0.toByte)
      buf.putShort((1 + attrs.length).toShort) // message count
      buf.putInt(1)                // reference count
      buf.putInt(8 + 16 + attrsMsgSize(attrs)) // header data size
      buf.putInt(0)                // pad to 8
      buf.putShort(0x0011.toShort); buf.putShort(16.toShort); buf.putInt(0)
      buf.putLong(bt); buf.putLong(hp)
      attrs.foreach(a => emitAttr(buf, a))
    }
    emitGroupOh(rootOhAddr, rootSec.btree, rootSec.heapHdr, groupAttrs.getOrElse("", Nil))

    // local heap + group B-tree + SNOD for one section; entries are
    // (name, objectHeaderAddr, cacheType, scratch0, scratch1), name-sorted
    def emitSymSec(sec: SymSec, entries: Seq[(String, Long, Int, Long, Long)]): Unit = {
      buf.position(sec.heapHdr.toInt)
      buf.put('H'.toByte); buf.put('E'.toByte); buf.put('A'.toByte); buf.put('P'.toByte)
      buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte)
      buf.putLong(sec.heapDataSize.toLong)
      buf.putLong(Undef)           // free list: none
      buf.putLong(sec.heapHdr + 32)
      // heap data: offset 0 = empty string slot, then names
      val heapStart = sec.heapHdr.toInt + 32
      sec.nameOffsets.foreach { case (name, off) =>
        buf.position(heapStart + off.toInt)
        buf.put(name.getBytes("UTF-8")); buf.put(0.toByte)
      }
      // group B-tree v1: level 0, one SNOD child
      buf.position(sec.btree.toInt)
      buf.put('T'.toByte); buf.put('R'.toByte); buf.put('E'.toByte); buf.put('E'.toByte)
      buf.put(0.toByte)            // node type: group
      buf.put(0.toByte)            // level
      buf.putShort(1.toShort)      // entries used
      buf.putLong(Undef); buf.putLong(Undef) // siblings
      buf.putLong(0L)              // key 0: empty string (<= all names)
      buf.putLong(sec.snod)        // child 0
      buf.putLong(sec.nameOffsets(entries.last._1)) // key 1: largest name
      // SNOD
      buf.position(sec.snod.toInt)
      buf.put('S'.toByte); buf.put('N'.toByte); buf.put('O'.toByte); buf.put('D'.toByte)
      buf.put(1.toByte); buf.put(0.toByte)
      buf.putShort(entries.length.toShort)
      entries.foreach { case (name, ohAddr, cacheType, s0, s1) =>
        buf.putLong(sec.nameOffsets(name))
        buf.putLong(ohAddr)
        buf.putInt(cacheType); buf.putInt(0)
        buf.putLong(s0); buf.putLong(s1)
      }
    }

    if (flat)
      emitSymSec(rootSec, plans.map(p => (p.name, p.ohAddr, 0, 0L, 0L)))
    else {
      // root directory of keys (cache type 1 scratch = the cached
      // (B-tree, heap) real libhdf5 writes for group entries)
      emitSymSec(rootSec, groups.zip(keySecs).map { case ((k, _), (ohAddr, sec)) =>
        (k, ohAddr, 1, sec.btree, sec.heapHdr)
      })
      groups.indices.foreach { gi =>
        val (ohAddr, sec) = keySecs(gi)
        emitGroupOh(ohAddr, sec.btree, sec.heapHdr, groupAttrs.getOrElse(groups(gi)._1, Nil))
        emitSymSec(sec, plansByGroup(gi).map(p => (p.name, p.ohAddr, 0, 0L, 0L)))
      }
    }

    // ---- datasets ----
    plans.foreach { p =>
      buf.position(p.ohAddr.toInt)
      val attrs = attrsOf(p.d)
      // uniform view: a compound dataset is rank-1 records of recordSize bytes
      val (rank, shape, dtypeSize, layoutElemSize) = p.d match {
        case Left(v) => (v.shape.length, v.shape, dtypeSizeOf(v), 8)
        case Right(c) => (1, Seq(c.nRecords), compoundDtSize(c), c.recordSize)
      }
      val chunked = p.chunkDim0 > 0
      val dspaceSize = pad8(8 + rank * 8)
      val layoutSize = if (chunked) pad8(2 + 8 + 1 + (rank + 1) * 4) else 24
      val filterSize = if (chunked && deflate > 0) 8 + 24 else 0
      val msgBlock = (8 + dspaceSize) + (8 + dtypeSize) + (8 + 8) + (8 + layoutSize) +
        filterSize + attrsMsgSize(attrs)
      buf.put(1.toByte); buf.put(0.toByte)
      buf.putShort(((if (filterSize > 0) 5 else 4) + attrs.length).toShort)
      buf.putInt(1)
      buf.putInt(msgBlock)
      buf.putInt(0)
      // dataspace v1
      buf.putShort(0x0001.toShort); buf.putShort(dspaceSize.toShort); buf.putInt(0)
      val dsStart = buf.position()
      buf.put(1.toByte); buf.put(rank.toByte); buf.put(0.toByte); buf.put(0.toByte)
      buf.putInt(0)
      shape.foreach(d => buf.putLong(d.toLong))
      buf.position(dsStart + dspaceSize)
      // datatype v1 (class 1 float / 0 fixed / 3 string / 6 compound), LE
      buf.putShort(0x0003.toShort); buf.putShort(dtypeSize.toShort); buf.putInt(0)
      val dtStart = buf.position()
      p.d match {
        case Left(v) =>
          if (v.doubles != null) emitDtBody(buf, 1, 8)
          else if (v.longs != null) emitDtBody(buf, 0, 8)
          else emitDtBody(buf, 3, v.elemSize)
        case Right(c) => emitCompoundDt(buf, c)
      }
      buf.position(dtStart + dtypeSize)
      // fill value v2: alloc early, fill undefined
      buf.putShort(0x0005.toShort); buf.putShort(8.toShort); buf.putInt(0)
      buf.put(2.toByte); buf.put(1.toByte); buf.put(0.toByte); buf.put(0.toByte)
      buf.putInt(0)
      if (!chunked) {
        // layout v3, class 1 contiguous
        buf.putShort(0x0008.toShort); buf.putShort(24.toShort); buf.putInt(0)
        buf.put(3.toByte); buf.put(1.toByte)
        buf.putLong(p.dataAddr); buf.putLong(p.dataSize)
        buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte);
        buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte)
        attrs.foreach(a => emitAttr(buf, a))
        // raw data
        buf.position(p.dataAddr.toInt)
        p.d match {
          case Left(v) =>
            if (v.doubles != null) v.doubles.foreach(buf.putDouble)
            else if (v.longs != null) v.longs.foreach(buf.putLong)
            else {
              val es = v.elemSize
              v.strings.foreach { s0 =>
                val b = s0.getBytes("UTF-8")
                buf.put(b)
                var k = b.length
                while (k < es) { buf.put(0.toByte); k += 1 }
              }
            }
          case Right(c) => buf.put(c.data)
        }
      } else {
        val layoutSz = pad8(2 + 8 + 1 + (rank + 1) * 4)
        // layout v3, class 2 chunked: btree address + chunk dims + elem size
        buf.putShort(0x0008.toShort); buf.putShort(layoutSz.toShort); buf.putInt(0)
        val lStart = buf.position()
        buf.put(3.toByte); buf.put(2.toByte)
        buf.put((rank + 1).toByte)
        buf.putLong(p.dataAddr) // B-tree address
        buf.putInt(p.chunkDim0)
        shape.drop(1).foreach(dd => buf.putInt(dd))
        buf.putInt(layoutElemSize) // element size (record size for compound)
        buf.position(lStart + layoutSz)
        if (deflate > 0) {
          // filter pipeline v1: one filter, gzip (id 1), 1 client value
          // (declared size 24 = body incl. the 4 odd-count pad bytes)
          buf.putShort(0x000b.toShort); buf.putShort(24.toShort); buf.putInt(0)
          buf.put(1.toByte); buf.put(1.toByte)
          buf.put(0.toByte); buf.put(0.toByte); buf.putInt(0) // 6 reserved
          buf.putShort(1.toShort)  // filter id: deflate
          buf.putShort(0.toShort)  // name length (none for id < 256)
          buf.putShort(1.toShort)  // flags (optional filter)
          buf.putShort(1.toShort)  // client values
          buf.putInt(deflate)      // level
          buf.putInt(0)            // odd client count -> 4 pad bytes
        }
        attrs.foreach(a => emitAttr(buf, a))
        // chunk B-tree v1, recursive: leaves of <= 64 chunk entries,
        // grouped 64-ways per level until a single root (the node at
        // p.dataAddr); siblings chained per level; every node's final key
        // is the first chunk of the NEXT subtree at its level, or the
        // global successor. The reader's walk() recurses any depth.
        val keySize = 8 + (rank + 1) * 8
        def nodeSize(entries: Int) = pad8(24 + (entries + 1) * keySize + entries * 8)
        val nChunks = p.placed.length
        val levels = btreeLevels(nChunks)
        // root first, then each level top-down, nodes in index order
        val nodeAddr: Map[(Int, Int), Long] = {
          var a = p.dataAddr
          val m = Map.newBuilder[(Int, Int), Long]
          for (k <- levels.indices.reverse; i <- levels(k).indices) {
            m += ((k, i) -> a); a += nodeSize(levels(k)(i))
          }
          m.result()
        }
        val rest = shape.drop(1)
        def putKey(storedSize: Int, offset0: Long): Unit = {
          buf.putInt(storedSize)              // key: chunk size (stored bytes)
          buf.putInt(0)                       // filter mask: all applied
          buf.putLong(offset0)
          rest.foreach(_ => buf.putLong(0L))
          buf.putLong(0L)                     // element-dim offset
        }
        def putChunkKey(ci: Int): Unit = {
          val blob = p.placed(ci)._1
          putKey(blob.bytes.length, blob.offset0.toLong)
        }
        val successor = (p.placed.last._1.offset0 + p.chunkDim0).toLong
        for (k <- levels.indices; i <- levels(k).indices) {
          val entries = levels(k)(i)
          buf.position(nodeAddr((k, i)).toInt)
          buf.put('T'.toByte); buf.put('R'.toByte); buf.put('E'.toByte); buf.put('E'.toByte)
          buf.put(1.toByte)                   // node type: raw data chunk
          buf.put(k.toByte)                   // level
          buf.putShort(entries.toShort)
          buf.putLong(if (i > 0) nodeAddr((k, i - 1)) else Undef)
          buf.putLong(if (i < levels(k).length - 1) nodeAddr((k, i + 1)) else Undef)
          if (k == 0) {
            p.placed.slice(i * 64, i * 64 + entries).foreach { case (blob, at) =>
              putKey(blob.bytes.length, blob.offset0.toLong)
              buf.putLong(at)                 // child: chunk address
            }
          } else {
            (0 until entries).foreach { c =>
              val child = i * 64 + c
              putChunkKey((child * btreeSpan(k - 1)).toInt) // subtree's first chunk
              buf.putLong(nodeAddr((k - 1, child)))
            }
          }
          val nextFirst = (i + 1) * btreeSpan(k)
          if (nextFirst < nChunks) putChunkKey(nextFirst.toInt) else putKey(0, successor)
        }
        // chunk payloads
        p.placed.foreach { case (blob, at) =>
          buf.position(at.toInt)
          buf.put(blob.bytes)
        }
      }
    }
    buf.array()
  }

  // ----------------------------------------------------------------- read

  final case class H5Read(name: String, shape: Seq[Int], doubles: Array[Double],
                          longs: Array[Long], strings: Array[String] = null,
                          attrs: Seq[H5Attr] = Nil, members: Seq[H5Member] = null,
                          raw: Array[Byte] = null,
                          // record-index start of each storage chunk (1-d
                          // chunked datasets) — lets table readers evaluate
                          // predicates chunk-wise (PyTables-where analog)
                          chunkStarts: Seq[Int] = Nil) {
    def asDoubles: Array[Double] = if (doubles != null) doubles else longs.map(_.toDouble)
    def isCompound: Boolean = members != null
    def attr(n: String): Option[H5Attr] = attrs.find(_.name == n)
  }

  /** Parse an HDF5 byte image: every dataset under the root group or any
    * nested symbol-table sub-group; nested dataset names come back
    * path-qualified (`group/dataset`).
    */
  def read(bytes: Array[Byte]): Seq[H5Read] = readAll(bytes)._1

  /** [[read]] decoding ONLY the datasets `keep` accepts (path-qualified
    * names) — the column-pruning hook: skipped datasets cost a header
    * walk, never a chunk decode, so a projected granule scan reads the
    * bytes of the projected columns only.
    */
  def read(bytes: Array[Byte], keep: String => Boolean): Seq[H5Read] =
    readAll(bytes, keep)._1

  /** Like [[read]], also returning the GROUP attributes keyed by group path
    * ("" = the root group) — where pandas/PyTables keep their storer
    * metadata (`pandas_type`, `table_type`, ...).
    */
  def readAll(bytes: Array[Byte]): (Seq[H5Read], Map[String, Seq[H5Attr]]) =
    readAll(bytes, _ => true)

  def readAll(bytes: Array[Byte],
              keep: String => Boolean): (Seq[H5Read], Map[String, Seq[H5Attr]]) = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val sig = new Array[Byte](8); buf.get(sig)
    require(sig.sameElements(Signature), "not an HDF5 file (signature mismatch)")
    val sbVersion = buf.get(0x08).toInt
    val groupAttrs = scala.collection.mutable.LinkedHashMap.empty[String, Seq[H5Attr]]
    if (sbVersion == 2 || sbVersion == 3) {
      // libver='latest' profile: superblock v2/v3 addresses the root group
      // OBJECT HEADER directly; groups are OHDR headers with compact Link
      // messages (dense fractal-heap link storage raises a named error)
      require(buf.get(9).toInt == 8 && buf.get(10).toInt == 8,
        "only 8-byte offsets/lengths supported")
      val rootOh = buf.getLong(36)
      val reads = readGroupV2(bytes, buf, rootOh, prefix = "", depth = 0, groupAttrs, keep)
      return (reads, groupAttrs.toMap)
    }
    require(sbVersion == 0 || sbVersion == 1,
      s"superblock v$sbVersion not supported (v0-v3 only)")
    require(buf.get(0x0d).toInt == 8 && buf.get(0x0e).toInt == 8,
      "only 8-byte offsets/lengths supported")
    // root symbol table entry: v0 superblock has base/free/eof/driver (32
    // bytes) from offset 24, STE at 56; v1 inserts 4 bytes (indexed-storage
    // K + reserved) before them
    val steOff = if (sbVersion == 0) 24 + 32 else 28 + 32
    val rootOh = buf.getLong(steOff + 8)
    val rootBtree = buf.getLong(steOff + 24)
    val rootHeap = buf.getLong(steOff + 32)
    require(rootBtree != Undef && rootHeap != Undef, "root group is not symbol-table based")
    groupAttrs("") = attrsOfHeader(bytes, buf, "", rootOh)
    val reads = readGroup(bytes, buf, rootBtree, rootHeap, prefix = "", depth = 0, groupAttrs, keep)
    (reads, groupAttrs.toMap)
  }

  /** Walk one new-style (OHDR) group: children are compact Link messages
    * (0x0006, hard links); a Link Info message pointing at a fractal heap
    * means dense storage — unsupported, loud error. Old-style groups
    * reached from a v2 superblock (SymbolTable message) delegate to the
    * v1 walk.
    */
  private def readGroupV2(bytes: Array[Byte], buf: ByteBuffer, ohAddr: Long,
                          prefix: String, depth: Int,
                          groupAttrsAcc: scala.collection.mutable.Map[String, Seq[H5Attr]],
                          keep: String => Boolean): Seq[H5Read] = {
    require(depth <= 8, s"group nesting deeper than 8 at '$prefix'")
    val msgs = messages(bytes, buf, prefix, ohAddr)
    groupAttrsAcc(prefix) = msgs.collect {
      case (0x000C, body) => parseAttr(bytes, buf, prefix, body)
    } ++ msgs.collect {
      case (0x0015, body) => denseAttrs(bytes, buf, prefix, body)
    }.flatten
    msgs.find(_._1 == 0x0011).foreach { case (_, body) =>
      return readGroup(bytes, buf, buf.getLong(body), buf.getLong(body + 8),
        prefix, depth, groupAttrsAcc, keep)
    }
    // children: compact Link messages + DENSE (fractal-heap) links from
    // the Link Info message, if the group switched storage
    val dense = msgs.collect { case (0x0002, body) => denseLinks(bytes, buf, prefix, body) }
      .flatten
    (msgs.collect { case (0x0006, body) => parseLink(bytes, buf, prefix, body) } ++ dense)
      .sortBy(_._1)
      .flatMap { case (name, childOh) =>
        val full = if (prefix.isEmpty) name else s"$prefix/$name"
        val childMsgs = messages(bytes, buf, full, childOh)
        val isGroup = childMsgs.exists(m =>
          m._1 == 0x0002 || m._1 == 0x0006 || m._1 == 0x0011 || m._1 == 0x000A) &&
          !childMsgs.exists(_._1 == 0x0008)
        if (isGroup) readGroupV2(bytes, buf, childOh, full, depth + 1, groupAttrsAcc, keep)
        else if (keep(full)) Seq(readDataset(bytes, buf, full, childOh))
        else Nil
      }
  }

  /** Parse one v1 Link message: returns (link name, child object header
    * address). Hard links only.
    */
  private def parseLink(bytes: Array[Byte], buf: ByteBuffer, owner: String,
                        body: Int): (String, Long) = {
    require(bytes(body) == 1, s"$owner: link message v${bytes(body)} not supported")
    val flags = bytes(body + 1).toInt & 0xff
    var q = body + 2
    val ltype = if ((flags & 0x08) != 0) { val t = bytes(q).toInt; q += 1; t } else 0
    require(ltype == 0, s"$owner: link type $ltype not supported (hard links only)")
    if ((flags & 0x04) != 0) q += 8 // creation order
    if ((flags & 0x10) != 0) q += 1 // charset
    val lenSize = 1 << (flags & 0x3)
    var nameLen = 0L
    (0 until lenSize).foreach(i => nameLen |= (bytes(q + i).toLong & 0xff) << (8 * i))
    q += lenSize
    val name = new String(bytes, q, nameLen.toInt, "UTF-8")
    q += nameLen.toInt
    (name, buf.getLong(q))
  }

  /** Attribute messages of the object header at `ohAddr`. */
  private def attrsOfHeader(bytes: Array[Byte], buf: ByteBuffer, name: String,
                            ohAddr: Long): Seq[H5Attr] = {
    val msgs = messages(bytes, buf, name, ohAddr)
    msgs.collect { case (0x000C, body) => parseAttr(bytes, buf, name, body) } ++
      msgs.collect { case (0x0015, body) => denseAttrs(bytes, buf, name, body) }.flatten
  }

  /** Parse one Attribute message body (v1 pads name/datatype/dataspace to
    * 8; v2/v3 — libver='latest' writers — pack them; v3 adds a charset
    * byte).
    */
  private def parseAttr(bytes: Array[Byte], buf: ByteBuffer, owner: String,
                        body: Int): H5Attr = {
    val ver = bytes(body).toInt
    require(ver >= 1 && ver <= 3, s"$owner: attribute message v$ver not supported")
    if (ver >= 2) require((bytes(body + 1) & 0x3) == 0,
      s"$owner: shared attribute datatype/dataspace not supported")
    val nameSize = buf.getShort(body + 2).toInt & 0xffff
    val dtSz = buf.getShort(body + 4).toInt & 0xffff
    val dsSz = buf.getShort(body + 6).toInt & 0xffff
    var pos = body + 8 + (if (ver == 3) 1 else 0) // v3: name charset byte
    def advance(declared: Int): Int = if (ver == 1) pad8(declared) else declared
    var end = pos
    while (bytes(end) != 0) end += 1
    val aname = new String(bytes, pos, end - pos, "UTF-8")
    pos += advance(nameSize)
    val acls = bytes(pos).toInt & 0x0f
    val asize = buf.getInt(pos + 4)
    pos += advance(dtSz)
    val rank = bytes(pos + 1).toInt
    require(rank <= 1, s"$owner/$aname: attribute rank $rank not supported")
    val dsVer = bytes(pos).toInt
    val n = if (rank == 0) 1
      else buf.getLong(pos + (if (dsVer == 1) 8 else 4)).toInt
    pos += advance(dsSz)
    acls match {
      case 3 =>
        val out = new Array[Byte](asize * n)
        System.arraycopy(bytes, pos, out, 0, out.length)
        H5Attr(aname, bytesVal = out, scalar = rank == 0)
      case 0 =>
        require(asize == 4 || asize == 8, s"$owner/$aname: int$asize attr not supported")
        H5Attr(aname, longsVal = Array.tabulate(n)(i =>
          if (asize == 8) buf.getLong(pos + i * 8) else buf.getInt(pos + i * 4).toLong),
          scalar = rank == 0)
      case 1 =>
        require(asize == 4 || asize == 8, s"$owner/$aname: float$asize attr not supported")
        H5Attr(aname, doublesVal = Array.tabulate(n)(i =>
          if (asize == 8) buf.getDouble(pos + i * 8) else buf.getFloat(pos + i * 4).toDouble),
          scalar = rank == 0)
      case c => throw new IllegalArgumentException(
        s"$owner/$aname: attribute datatype class $c not supported")
    }
  }

  /** Walk one symbol-table group: its B-tree's SNOD entries are datasets or
    * sub-groups (recursed into, path-prefixing the names).
    */
  private def readGroup(bytes: Array[Byte], buf: ByteBuffer, btree: Long, heapHdr: Long,
                        prefix: String, depth: Int,
                        groupAttrsAcc: scala.collection.mutable.Map[String, Seq[H5Attr]],
                        keep: String => Boolean = _ => true): Seq[H5Read] = {
    require(depth <= 8, s"group nesting deeper than 8 at '$prefix'")
    require(buf.get(heapHdr.toInt) == 'H' && buf.get(heapHdr.toInt + 1) == 'E',
      s"bad local heap signature at '$prefix'")
    val heapData = buf.getLong(heapHdr.toInt + 24)
    def heapString(off: Long): String = {
      var p = (heapData + off).toInt
      val sb = new StringBuilder
      while (bytes(p) != 0) { sb.append(bytes(p).toChar); p += 1 }
      sb.toString
    }

    // walk the group B-tree (any level) collecting SNOD addresses
    def snodsOf(nodeAddr: Long): Seq[Long] = {
      val p = nodeAddr.toInt
      require(bytes(p) == 'T' && bytes(p + 1) == 'R' && bytes(p + 2) == 'E' && bytes(p + 3) == 'E',
        s"bad group B-tree signature at '$prefix'")
      require(bytes(p + 4) == 0, s"not a group B-tree at '$prefix'")
      val level = bytes(p + 5).toInt
      val used = buf.getShort(p + 6).toInt
      val children = (0 until used).map(i => buf.getLong(p + 24 + 8 + i * 16))
      if (level == 0) children else children.flatMap(snodsOf)
    }

    snodsOf(btree).flatMap { snod =>
      val p = snod.toInt
      require(bytes(p) == 'S' && bytes(p + 1) == 'N' && bytes(p + 2) == 'O' && bytes(p + 3) == 'D',
        s"bad symbol node signature at '$prefix'")
      val nsym = buf.getShort(p + 6).toInt
      (0 until nsym).flatMap { i =>
        val e = p + 8 + i * 40
        val name = heapString(buf.getLong(e))
        val full = if (prefix.isEmpty) name else s"$prefix/$name"
        val ohAddr = buf.getLong(e + 8)
        val cacheType = buf.getInt(e + 16)
        require(cacheType != 2, s"$full: symbolic links not supported")
        if (cacheType == 1) { // cached group: scratch holds (B-tree, heap)
          groupAttrsAcc(full) = attrsOfHeader(bytes, buf, full, ohAddr)
          readGroup(bytes, buf, buf.getLong(e + 24), buf.getLong(e + 32), full, depth + 1,
            groupAttrsAcc, keep)
        } else symbolTableAddrs(bytes, buf, full, ohAddr) match {
          case Some((bt, hp)) =>
            groupAttrsAcc(full) = attrsOfHeader(bytes, buf, full, ohAddr)
            readGroup(bytes, buf, bt, hp, full, depth + 1, groupAttrsAcc, keep)
          case None =>
            val childMsgs = messages(bytes, buf, full, ohAddr)
            if (childMsgs.exists(m => m._1 == 0x0002 || m._1 == 0x0006))
              readGroupV2(bytes, buf, ohAddr, full, depth + 1, groupAttrsAcc, keep) // new-style child group
            else if (keep(full)) Seq(readDataset(bytes, buf, full, ohAddr))
            else Nil
        }
      }
    }
  }

  /** All object-header messages at `ohAddr` as (type, bodyOffset) —
    * dispatches v1 (prefix starts with version byte 1) vs v2 ('OHDR'
    * signature, what libver='latest' writers emit).
    */
  private def messages(bytes: Array[Byte], buf: ByteBuffer, name: String,
                       ohAddr: Long): Seq[(Int, Int)] = {
    val p = ohAddr.toInt
    if (bytes(p) == 'O' && bytes(p + 1) == 'H' && bytes(p + 2) == 'D' && bytes(p + 3) == 'R')
      messagesV2(bytes, buf, name, p)
    else messagesV1(bytes, buf, name, ohAddr)
  }

  /** v2 'OHDR' object header messages, following 'OCHK' continuation
    * blocks. Message header: type(1), size(2), flags(1), optional
    * creation-order(2); chunk 0 length excludes the trailing checksum.
    */
  private def messagesV2(bytes: Array[Byte], buf: ByteBuffer, name: String,
                         p: Int): Seq[(Int, Int)] = {
    require(bytes(p + 4) == 2, s"$name: OHDR version ${bytes(p + 4)} not supported")
    val flags = bytes(p + 5).toInt & 0xff
    var q = p + 6
    if ((flags & 0x20) != 0) q += 16 // access/mod/change/birth times
    if ((flags & 0x10) != 0) q += 4  // max compact / min dense attr counts
    val sizeBytes = 1 << (flags & 0x3)
    var chunk0 = 0L
    (0 until sizeBytes).foreach(i => chunk0 |= (bytes(q + i).toLong & 0xff) << (8 * i))
    q += sizeBytes
    val withOrder = (flags & 0x04) != 0
    val hdrLen = 4 + (if (withOrder) 2 else 0)
    val out = Seq.newBuilder[(Int, Int)]
    var pending = List.empty[(Long, Long)]
    var cursor = q
    var end = q + chunk0.toInt // checksum follows; not part of chunk length
    var guard = 0
    var more = true
    while (more) {
      if (cursor + hdrLen > end) {
        if (pending.isEmpty) more = false
        else {
          val (off, len) = pending.head
          pending = pending.tail
          // continuation block: 'OCHK' signature + messages + checksum(4)
          val cp = off.toInt
          require(bytes(cp) == 'O' && bytes(cp + 1) == 'C' && bytes(cp + 2) == 'H' && bytes(cp + 3) == 'K',
            s"$name: bad OCHK signature")
          cursor = cp + 4
          end = (off + len - 4).toInt
        }
      } else {
        val mtype = bytes(cursor).toInt & 0xff
        val msize = buf.getShort(cursor + 1).toInt & 0xffff
        val body = cursor + hdrLen
        if (mtype == 0x0010) pending = pending :+ ((buf.getLong(body), buf.getLong(body + 8)))
        else if (mtype != 0) out += ((mtype, body))
        cursor = body + msize
        guard += 1
        require(guard < 100000, s"$name: runaway OHDR message scan")
      }
    }
    out.result()
  }

  private def messagesV1(bytes: Array[Byte], buf: ByteBuffer, name: String,
                         ohAddr: Long): Seq[(Int, Int)] = {
    val p = ohAddr.toInt
    require(bytes(p) == 1, s"$name: object header v${bytes(p)} not supported")
    val nmsgs = buf.getShort(p + 2).toInt
    val out = Seq.newBuilder[(Int, Int)]
    var pending = List.empty[(Long, Long)]
    var cursor = p + 16
    var end = p + 16 + buf.getInt(p + 8)
    var seen = 0
    while (seen < nmsgs) {
      if (cursor + 8 > end) {
        require(pending.nonEmpty, s"$name: object header truncated after $seen/$nmsgs messages")
        val (off, len) = pending.head
        pending = pending.tail
        cursor = off.toInt
        end = (off + len).toInt
      }
      val mtype = buf.getShort(cursor).toInt & 0xffff
      val msize = buf.getShort(cursor + 2).toInt & 0xffff
      val body = cursor + 8
      if (mtype == 0x0010) pending = pending :+ ((buf.getLong(body), buf.getLong(body + 8)))
      else out += ((mtype, body))
      cursor = body + ((msize + 7) & ~7)
      seen += 1
    }
    out.result()
  }

  /** If the v1 object header at `ohAddr` is a symbol-table GROUP, its
    * (B-tree, heap) addresses; None means it's a dataset.
    */
  private def symbolTableAddrs(bytes: Array[Byte], buf: ByteBuffer, name: String,
                               ohAddr: Long): Option[(Long, Long)] = {
    var found: Option[(Long, Long)] = None
    messages(bytes, buf, name, ohAddr).foreach { case (mtype, body) =>
      if (mtype == 0x0011 && found.isEmpty)
        found = Some((buf.getLong(body), buf.getLong(body + 8)))
      // link-info (0x0002) groups route to readGroupV2 at the caller
    }
    found
  }

  private def checkSig(bytes: Array[Byte], p: Int, sig: String, name: String, what: String): Unit =
    require((0 until 4).forall(i => bytes(p + i) == sig.charAt(i).toByte),
      s"$name: bad $what signature at $p (expected '$sig')")

  private def log2of2(v: Int): Int = {
    require(v > 0 && (v & (v - 1)) == 0, s"extensible array: $v not a power of two")
    Integer.numberOfTrailingZeros(v)
  }

  /** Extensible-array chunk index (layout v4 type 4) — what h5py's
    * `libver='latest'` emits for ANY dataset with one unlimited dimension
    * (`maxshape=(None, ...)`), i.e. every appendable store. Implemented
    * from the public HDF5 File Format Specification III.A.3 ("Disk Format:
    * Level 1A3 - Extensible Array") + the H5EA design notes: the header
    * ("EAHD") carries the creation geometry; the index block ("EAIB")
    * stores the first `idxBlkElmts` elements inline, then direct
    * data-block addresses covering the first `2*log2(minPtrs)` super
    * blocks, then super-block addresses; super block u ("EASB") holds
    * `2^(u/2)` data blocks of `2^((u+1)/2) * minElmts` elements each; data
    * blocks ("EADB") page once they exceed `2^pageBits` elements. Element
    * i is chunk i's address (client 0) or address + stored size + filter
    * mask (client 1). Returns an element-index -> (address, storedSize)
    * accessor; unallocated elements come back as (Undef, 0).
    */
  private def eaElementReader(bytes: Array[Byte], buf: ByteBuffer, name: String,
                              hdrAddr: Long, chunkByteSize: Int): Long => (Long, Int) = {
    val h = hdrAddr.toInt
    checkSig(bytes, h, "EAHD", name, "extensible-array header")
    val clientId = bytes(h + 5) & 0xff
    val elemSize = bytes(h + 6) & 0xff
    val maxBits = bytes(h + 7) & 0xff
    val idxElmts = bytes(h + 8) & 0xff
    val minElmts = bytes(h + 9) & 0xff
    val minPtrs = bytes(h + 10) & 0xff
    val pageBits = bytes(h + 11) & 0xff
    // 6 length fields (num sblks, sblk size, num dblks, dblk size, max
    // index set, num elements) sit at h+12..h+59; geometry below derives
    // everything from the creation parameters, as the library does
    val iblkAddr = buf.getLong(h + 60)
    require(clientId == 0 || clientId == 1,
      s"$name: extensible-array client $clientId not supported (chunk indexes only)")

    final case class SB(ndblks: Int, dblkNelmts: Int, startIdx: Long, startDblk: Long)
    val nsblksHdr = 2 + maxBits - log2of2(minElmts)
    val sblk = {
      var si = 0L; var sd = 0L
      (0 until nsblksHdr).map { u =>
        val nd = 1 << (u / 2)
        val ne = (1 << ((u + 1) / 2)) * minElmts
        val r = SB(nd, ne, si, sd)
        si += nd.toLong * ne; sd += nd
        r
      }
    }
    val iblkNsblks = 2 * log2of2(minPtrs)   // super blocks whose data blocks
    val ndblkAddrs = 2 * (minPtrs - 1)      //   live directly in the index block
    val offBytes = (maxBits + 7) / 8        // EADB/EASB block-offset field width
    val pageNelmts = 1 << pageBits

    def readElemAt(p: Int): (Long, Int) =
      if (clientId == 0) (buf.getLong(p), chunkByteSize)
      else {
        val szLen = elemSize - 12 // addr(8) + size + filter mask(4)
        var v = 0L
        (0 until szLen).foreach(k => v |= (bytes(p + 8 + k).toLong & 0xff) << (8 * k))
        (buf.getLong(p), v.toInt)
      }

    // element j of the data block at dbAddr holding nelmts elements;
    // paged blocks carry header + checksum, then (page, checksum) runs
    def dblkElem(dbAddr: Long, nelmts: Int, j: Int): (Long, Int) = {
      val db = dbAddr.toInt
      checkSig(bytes, db, "EADB", name, "extensible-array data block")
      val hdrEnd = db + 6 + 8 + offBytes // sig+ver+client, header addr, block offset
      val p =
        if (nelmts <= pageNelmts) hdrEnd + j * elemSize
        else {
          val pagesBase = hdrEnd + 4 // data-block checksum
          val pageBytes = pageNelmts * elemSize + 4
          pagesBase + (j / pageNelmts) * pageBytes + (j % pageNelmts) * elemSize
        }
      readElemAt(p)
    }

    val ib = iblkAddr.toInt
    checkSig(bytes, ib, "EAIB", name, "extensible-array index block")
    val ibElemsAt = ib + 6 + 8
    val ibDblkAt = ibElemsAt + idxElmts * elemSize
    val ibSblkAt = ibDblkAt + ndblkAddrs * 8

    (i: Long) =>
      if (i < idxElmts) readElemAt(ibElemsAt + i.toInt * elemSize)
      else {
        val idx = i - idxElmts
        val u = sblk.lastIndexWhere(_.startIdx <= idx)
        val s = sblk(u)
        val within = idx - s.startIdx
        val dblkIdx = (within / s.dblkNelmts).toInt
        val j = (within % s.dblkNelmts).toInt
        val dbAddr =
          if (u < iblkNsblks) buf.getLong(ibDblkAt + (s.startDblk + dblkIdx).toInt * 8)
          else {
            val sbAddr = buf.getLong(ibSblkAt + (u - iblkNsblks) * 8)
            if (sbAddr == Undef || sbAddr == 0L) Undef
            else {
              val sp = sbAddr.toInt
              checkSig(bytes, sp, "EASB", name, "extensible-array super block")
              var p = sp + 6 + 8 + offBytes
              if (s.dblkNelmts > pageNelmts) // page-init bitmap precedes addresses
                p += (s.ndblks * (s.dblkNelmts / pageNelmts) + 7) / 8
              buf.getLong(p + dblkIdx * 8)
            }
          }
        if (dbAddr == Undef || dbAddr == 0L) (Undef, 0)
        else dblkElem(dbAddr, s.dblkNelmts, j)
      }
  }

  /** Version-2 B-tree chunk index (layout v4 type 5) — what h5py's
    * `libver='latest'` emits for datasets with MORE than one unlimited
    * dimension. Implemented from the public HDF5 File Format Specification
    * III.A.2 ("Disk Format: Level 1A2 - Version 2 B-trees") with record
    * types 10 (non-filtered chunks: address + scaled offsets) and 11
    * (filtered: address + stored size + filter mask + scaled offsets).
    * Internal-node child-pointer field widths follow the library's
    * geometry: a leaf holds `(nodeSize-10)/recSize` records; the
    * byte width of every "number of records" field is
    * `(floor(log2(maxLeafRecs)) + 7) / 8`, and each depth-u node's
    * cumulative-count field width derives from
    * `cum(u) = (max(u)+1)*cum(u-1) + max(u)`. Walks every node and
    * returns (scaled chunk offsets, address, storedSize) per record.
    */
  /** Generic v2 B-tree walk: (record type, record size, file offset of
    * every record) — shared by the chunk indexes (types 10/11) and the
    * dense link/attribute name indexes (types 5/8).
    */
  private def btree2Records(bytes: Array[Byte], buf: ByteBuffer, name: String,
                            hdrAddr: Long): (Int, Int, Seq[Int]) = {
    val h = hdrAddr.toInt
    checkSig(bytes, h, "BTHD", name, "v2 B-tree header")
    val btype = bytes(h + 5) & 0xff
    val nodeSize = buf.getInt(h + 6)
    val recSize = buf.getShort(h + 10) & 0xffff
    val depth = buf.getShort(h + 12) & 0xffff
    val rootAddr = buf.getLong(h + 16)
    val rootNrec = buf.getShort(h + 24) & 0xffff

    def log2gen(v: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, v))
    val maxNrecLeaf = (nodeSize - 10) / recSize
    val maxNrecSize = (log2gen(maxNrecLeaf) + 7) / 8
    // per-depth cumulative-record-count field widths (0 at the leaves)
    val cumSize = new Array[Int](depth + 1)
    var cumMax = maxNrecLeaf.toLong
    (1 to depth).foreach { u =>
      val ptr = 8 + maxNrecSize + cumSize(u - 1)
      val maxN = (nodeSize - (10 + ptr)) / (recSize + ptr)
      cumMax = (maxN + 1).toLong * cumMax + maxN
      cumSize(u) = (log2gen(cumMax) + 7) / 8
    }

    val acc = Seq.newBuilder[Int]
    def walk(addr: Long, nrec: Int, level: Int): Unit = {
      val q = addr.toInt
      if (level == 0) {
        checkSig(bytes, q, "BTLF", name, "v2 B-tree leaf")
        (0 until nrec).foreach(i => acc += q + 6 + i * recSize)
      } else {
        checkSig(bytes, q, "BTIN", name, "v2 B-tree internal node")
        (0 until nrec).foreach(i => acc += q + 6 + i * recSize)
        val ptrBytes = 8 + maxNrecSize + cumSize(level - 1)
        var p = q + 6 + nrec * recSize
        (0 to nrec).foreach { _ =>
          val cAddr = buf.getLong(p)
          var cNrec = 0L
          (0 until maxNrecSize).foreach(k => cNrec |= (bytes(p + 8 + k).toLong & 0xff) << (8 * k))
          walk(cAddr, cNrec.toInt, level - 1)
          p += ptrBytes
        }
      }
    }
    if (rootAddr != Undef && rootNrec >= 0) walk(rootAddr, rootNrec, depth)
    (btype, recSize, acc.result())
  }

  private def btree2ChunkEntries(bytes: Array[Byte], buf: ByteBuffer, name: String,
                                 hdrAddr: Long, rank: Int,
                                 chunkByteSize: Int): Seq[(Seq[Long], Long, Int)] = {
    val (btype, recSize, recordOffsets) = btree2Records(bytes, buf, name, hdrAddr)
    require(btype == 10 || btype == 11,
      s"$name: v2 B-tree record type $btype is not a chunk index (10/11 only)")

    // record geometry: offsets may be encoded for rank or rank+1 dims
    // (with the element-size dim); derive from the stored record size
    val (szLen, ndimsEnc) =
      if (btype == 10) (0, (recSize - 8) / 8)
      else {
        val nd = Seq(rank, rank + 1).find { d =>
          val s = recSize - 12 - 8 * d; s >= 1 && s <= 8
        }.getOrElse(throw new IllegalArgumentException(
          s"$name: cannot solve v2 B-tree record size $recSize for rank $rank"))
        (recSize - 12 - 8 * nd, nd)
      }
    require(ndimsEnc >= rank, s"$name: v2 B-tree records carry $ndimsEnc dims, dataset has $rank")

    def record(p: Int): (Seq[Long], Long, Int) = {
      val addr = buf.getLong(p)
      var q = p + 8
      val stored =
        if (btype == 10) chunkByteSize
        else {
          var v = 0L
          (0 until szLen).foreach(k => v |= (bytes(q + k).toLong & 0xff) << (8 * k))
          q += szLen + 4 // stored size + filter mask
          v.toInt
        }
      val scaled = (0 until ndimsEnc).map(i => buf.getLong(q + i * 8))
      (scaled, addr, stored)
    }
    recordOffsets.map(record)
  }

  /** Fractal heap (HDF5 spec III.F) — the managed-object store behind
    * DENSE link and attribute storage, which h5py's `libver='latest'`
    * switches to beyond 8 links/attributes per object. Parses the "FRHP"
    * header and resolves managed heap IDs through the doubling table:
    * root direct block ("FHDB") or an indirect root ("FHIB") with direct
    * children — the shapes any realistic link/attribute table produces
    * (direct rows cover width x maxDirectSize x 2 bytes; indirect
    * CHILDREN and huge/tiny/filtered objects raise loudly).
    */
  private final class FractalHeap(bytes: Array[Byte], buf: ByteBuffer, name: String,
                                  hdrAddr: Long) {
    private val h = hdrAddr.toInt
    checkSig(bytes, h, "FRHP", name, "fractal heap header")
    val heapIdLen: Int = buf.getShort(h + 5).toInt & 0xffff
    private val filterLen = buf.getShort(h + 7).toInt & 0xffff
    private val maxManaged = buf.getInt(h + 10)
    private val tableWidth = buf.getShort(h + 110).toInt & 0xffff
    private val startBlockSize = buf.getLong(h + 112)
    private val maxDirectSize = buf.getLong(h + 120)
    private val maxHeapBits = buf.getShort(h + 128).toInt & 0xffff
    private val rootAddr = buf.getLong(h + 132)
    private val curRows = buf.getShort(h + 140).toInt & 0xffff
    require(filterLen == 0, s"$name: filtered fractal heap not supported")
    require(rootAddr != Undef, s"$name: fractal heap has no root block")
    private val offBytes = (maxHeapBits + 7) / 8
    private val lenBytes = {
      var b = 1; var v = maxManaged.toLong & 0xffffffffL
      while (v > 255) { v >>= 8; b += 1 }
      b
    }
    private def rowSize(r: Int): Long =
      if (r < 2) startBlockSize else startBlockSize << (r - 1)
    private val maxDirectRows = {
      var r = 0
      while (rowSize(r) <= maxDirectSize) r += 1
      r
    }

    /** file position of heap offset `off` (ID offsets address the heap's
      * linear space INCLUDING each direct block's prefix, so the mapping
      * within a block is the identity).
      */
    private def resolve(off: Long): Int =
      if (curRows == 0) { // root is one direct block covering offset 0..
        checkSig(bytes, rootAddr.toInt, "FHDB", name, "fractal heap direct block")
        rootAddr.toInt + off.toInt
      } else {
        checkSig(bytes, rootAddr.toInt, "FHIB", name, "fractal heap indirect block")
        var row = 0
        var rowStart = 0L
        while (off >= rowStart + tableWidth * rowSize(row)) {
          rowStart += tableWidth * rowSize(row); row += 1
        }
        require(row < maxDirectRows,
          s"$name: fractal heap offset $off lands in an indirect child — not supported")
        val colIdx = ((off - rowStart) / rowSize(row)).toInt
        val within = off - rowStart - colIdx.toLong * rowSize(row)
        val entryAt = rootAddr.toInt + 4 + 1 + 8 + offBytes + (row * tableWidth + colIdx) * 8
        val dAddr = buf.getLong(entryAt)
        require(dAddr != Undef, s"$name: fractal heap direct block absent for offset $off")
        checkSig(bytes, dAddr.toInt, "FHDB", name, "fractal heap direct block")
        dAddr.toInt + within.toInt
      }

    /** (file position, length) of the managed object behind `id`. */
    def fetch(id: Array[Byte]): (Int, Int) = {
      require(id.length >= 1 + offBytes + lenBytes,
        s"$name: heap ID of ${id.length} bytes too short for this heap's geometry")
      val typ = ((id(0) & 0xff) >> 4) & 0x3
      require(typ == 0,
        s"$name: fractal heap object type $typ (huge/tiny) not supported (managed only)")
      var off = 0L
      (0 until offBytes).foreach(i => off |= (id(1 + i).toLong & 0xff) << (8 * i))
      var len = 0L
      (0 until lenBytes).foreach(i => len |= (id(1 + offBytes + i).toLong & 0xff) << (8 * i))
      (resolve(off), len.toInt)
    }
  }

  /** Dense links of one group (Link Info message body): every record of
    * the name-index v2 B-tree (type 5: hash + heap ID) resolved through
    * the fractal heap to a serialized Link message.
    */
  private def denseLinks(bytes: Array[Byte], buf: ByteBuffer, owner: String,
                         body: Int): Seq[(String, Long)] = {
    val flags = bytes(body + 1).toInt
    val q = body + 2 + (if ((flags & 1) != 0) 8 else 0)
    val fheapAddr = buf.getLong(q)
    val nameBt = buf.getLong(q + 8)
    if (fheapAddr == Undef) return Nil
    require(nameBt != Undef, s"'$owner': dense links with no name index")
    val heap = new FractalHeap(bytes, buf, owner, fheapAddr)
    val (btype, recSize, recs) = btree2Records(bytes, buf, owner, nameBt)
    require(btype == 5, s"'$owner': link name index carries record type $btype (expected 5)")
    recs.map { ro => // record: hash(4) + heap ID
      val id = java.util.Arrays.copyOfRange(bytes, ro + 4, ro + recSize)
      val (pos, _) = heap.fetch(id)
      parseLink(bytes, buf, owner, pos)
    }
  }

  /** Dense attributes (Attribute Info message body): name-index v2 B-tree
    * type-8 records (heap ID + flags + creation order + hash) resolved to
    * serialized Attribute messages.
    */
  private def denseAttrs(bytes: Array[Byte], buf: ByteBuffer, owner: String,
                         body: Int): Seq[H5Attr] = {
    val flags = bytes(body + 1).toInt
    val q = body + 2 + (if ((flags & 1) != 0) 2 else 0) // max creation index: u16
    val fheapAddr = buf.getLong(q)
    val nameBt = buf.getLong(q + 8)
    if (fheapAddr == Undef) return Nil
    require(nameBt != Undef, s"'$owner': dense attributes with no name index")
    val heap = new FractalHeap(bytes, buf, owner, fheapAddr)
    val (btype, recSize, recs) = btree2Records(bytes, buf, owner, nameBt)
    require(btype == 8, s"'$owner': attribute name index carries record type $btype (expected 8)")
    recs.map { ro => // record: heap ID(8) + message flags(1) + corder(4) + hash(4)
      val id = java.util.Arrays.copyOfRange(bytes, ro, ro + 8)
      val (pos, _) = heap.fetch(id)
      parseAttr(bytes, buf, owner, pos)
    }
  }

  /** Parse one v1 object header and its data. */
  private def readDataset(bytes: Array[Byte], buf: ByteBuffer, name: String,
                          ohAddr: Long): H5Read = {
    var shape: Seq[Int] = null
    var unlimDim = -1              // dataspace dim with unlimited max extent
    var dtClass = -1
    var dtSize = -1
    var dataAddr = -1L
    var dataSize = -1L
    var chunkDims: Seq[Int] = null // set for chunked layout (class 2)
    var chunkIndexType = 0         // 0 = v1 B-tree (layout v3); 1-5 = v4 indexes
    var v4SingleSize = -1L         // filtered single-chunk stored size
    var filters: Seq[Int] = Nil
    var attrs = Vector.empty[H5Attr]
    var members: Seq[H5Member] = null
    messages(bytes, buf, name, ohAddr).foreach { case (mtype, body) =>
      mtype match {
        case 0x0001 => // dataspace
          val ver = bytes(body).toInt
          val rank = bytes(body + 1).toInt
          val flags = bytes(body + 2).toInt
          val dimsOff = if (ver == 1) body + 8 else body + 4 // v2: ver,rank,flags,type
          shape = (0 until rank).map(i => buf.getLong(dimsOff + i * 8).toInt)
          if ((flags & 0x1) != 0) { // max dims present; H5S_UNLIMITED = all-ones
            val maxOff = dimsOff + rank * 8
            unlimDim = (0 until rank).indexWhere(i => buf.getLong(maxOff + i * 8) == -1L)
          }
        case 0x0003 => // datatype
          dtClass = bytes(body).toInt & 0x0f
          dtSize = buf.getInt(body + 4)
          if (dtClass == 6) { // compound: parse the member table
            val dtVer = (bytes(body).toInt >> 4) & 0x0f
            require(dtVer == 1, s"$name: compound datatype v$dtVer not supported (v1 only)")
            val n = (bytes(body + 1).toInt & 0xff) | ((bytes(body + 2).toInt & 0xff) << 8)
            var mo = body + 8
            members = (0 until n).map { _ =>
              var e = mo
              while (bytes(e) != 0) e += 1
              val nm = new String(bytes, mo, e - mo, "UTF-8")
              mo += pad8(e - mo + 1)
              val off = buf.getInt(mo); mo += 4
              val dimensionality = bytes(mo).toInt
              require(dimensionality <= 1,
                s"$name/$nm: rank-$dimensionality compound members not supported " +
                  "(scalar and 1-d values_block arrays only)")
              mo += 1 + 3 + 4 + 4
              val arity = if (dimensionality == 1) buf.getInt(mo) else 1
              mo += 16
              val mcls = bytes(mo).toInt & 0x0f
              val msize = buf.getInt(mo + 4)
              require(mcls == 0 || mcls == 1 || mcls == 3,
                s"$name/$nm: compound member class $mcls not supported")
              mo += dtBodySize(mcls)
              H5Member(nm, off, mcls, msize, math.max(1, arity))
            }
          }
        case 0x000C => // attribute
          attrs :+= parseAttr(bytes, buf, name, body)
        case 0x0015 => // attribute info: dense (fractal-heap) attributes
          attrs ++= denseAttrs(bytes, buf, name, body)
        case 0x0008 => // layout
          val ver = bytes(body).toInt
          val cls = bytes(body + 1).toInt
          if (ver == 3) {
            if (cls == 1) {
              dataAddr = buf.getLong(body + 2)
              dataSize = buf.getLong(body + 10)
            } else if (cls == 2) {
              val ndims = bytes(body + 2).toInt // rank + 1 (element dim)
              dataAddr = buf.getLong(body + 3)  // chunk B-tree address
              chunkDims = (0 until ndims - 1).map(i => buf.getInt(body + 11 + i * 4))
            } else throw new IllegalArgumentException(s"$name: compact layout not supported")
          } else if (ver == 4) { // libver='latest' writers
            if (cls == 1) {
              dataAddr = buf.getLong(body + 2)
              dataSize = buf.getLong(body + 10)
            } else if (cls == 2) {
              val cflags = bytes(body + 2).toInt & 0xff
              val ndims = bytes(body + 3).toInt & 0xff
              val dimLen = bytes(body + 4).toInt & 0xff
              var q = body + 5
              chunkDims = (0 until ndims).map { _ =>
                var v = 0L
                (0 until dimLen).foreach(i => v |= (bytes(q + i).toLong & 0xff) << (8 * i))
                q += dimLen
                v.toInt
              }
              val idx = bytes(q).toInt & 0xff
              q += 1
              chunkIndexType = idx
              idx match {
                case 1 => // single chunk: filtered variant carries size + mask
                  if ((cflags & 0x02) != 0) { v4SingleSize = buf.getLong(q); q += 8 + 4 }
                case 2 => () // implicit: consecutive unfiltered chunks
                case 3 => q += 1 // fixed array: page bits byte
                case 4 => q += 5 // extensible array: creation params (also in EAHD)
                case 5 => q += 6 // v2 B-tree: node size(4) + split/merge %
                case t => throw new IllegalArgumentException(
                  s"$name: v4 chunk index type $t not supported (1-5 = single-chunk/" +
                    "implicit/fixed-array/extensible-array/v2-btree)")
              }
              dataAddr = buf.getLong(q)
            } else throw new IllegalArgumentException(
              s"$name: layout v4 class $cls not supported (contiguous/chunked only)")
          } else throw new IllegalArgumentException(s"$name: layout message v$ver not supported")
        case 0x000b => // filter pipeline
          val ver = bytes(body).toInt
          val nf = bytes(body + 1).toInt
          var fo = if (ver == 1) body + 8 else body + 2
          filters = (0 until nf).map { _ =>
            val id = buf.getShort(fo).toInt & 0xffff
            var pos = fo + 2
            val nameLen =
              if (ver == 1 || id >= 256) { val v = buf.getShort(pos).toInt & 0xffff; pos += 2; v }
              else 0
            pos += 2 // flags
            val nClient = buf.getShort(pos).toInt & 0xffff
            pos += 2
            pos += (if (ver == 1) (nameLen + 7) & ~7 else nameLen)
            pos += nClient * 4
            if (ver == 1 && nClient % 2 == 1) pos += 4
            fo = pos
            id
          }
        case _ => // fill value, mod time, attributes: skipped
      }
    }
    require(shape != null && dtClass >= 0 && dataAddr >= 0, s"$name: incomplete object header")
    val n = shape.product
    filters.foreach(id => require(id == 1 || id == 2 || id == 32000,
      s"$name: filter id $id not supported (gzip=1, shuffle=2, lzf=32000; " +
        "szip/lzf/blosc granules must be rewritten)"))

    // chunked path: collect (chunk offsets, address, stored size) entries
    // from whichever index the layout declares — v1 chunk B-tree (layout
    // v3) or a v4 single-chunk / implicit / fixed-array index
    // (libver='latest') — undo filters, assemble the row-major element
    // buffer, then fall through to the typed copy below
    var chunkStarts: Seq[Int] = Nil
    val chunkedRaw: Array[Byte] =
      if (chunkDims == null) null
      else {
        // v4 writers may or may not append the element-size dim; normalize
        if (chunkDims.length == shape.length + 1) chunkDims = chunkDims.dropRight(1)
        require(chunkDims.length == shape.length,
          s"$name: chunk rank ${chunkDims.length} != dataspace rank ${shape.length}")
        val out = new Array[Byte](n * dtSize)
        val chunkByteSize = chunkDims.product * dtSize
        val nPerDim = shape.indices.map(i => (shape(i) + chunkDims(i) - 1) / chunkDims(i))
        val nChunksTotal = nPerDim.product
        def gridOffs(linear: Int): Seq[Int] = {
          var rem = linear
          val o = new Array[Int](shape.length)
          var i = shape.length - 1
          while (i >= 0) { o(i) = (rem % nPerDim(i)) * chunkDims(i); rem /= nPerDim(i); i -= 1 }
          o.toSeq
        }

        // (offs, address, stored size) per existing chunk
        val entries: Seq[(Seq[Int], Long, Int)] = chunkIndexType match {
          case 0 => // v1 chunk B-tree
            val keyDims = shape.length + 1
            val keySize = 8 + keyDims * 8
            val acc = Seq.newBuilder[(Seq[Int], Long, Int)]
            def walk(node: Long): Unit = {
              val q = node.toInt
              require(bytes(q) == 'T' && bytes(q + 1) == 'R' && bytes(q + 2) == 'E' && bytes(q + 3) == 'E',
                s"$name: bad chunk B-tree signature")
              require(bytes(q + 4) == 1, s"$name: not a chunk B-tree node")
              val level = bytes(q + 5).toInt
              val used = buf.getShort(q + 6).toInt
              var e = 0
              while (e < used) {
                val keyOff = q + 24 + e * (keySize + 8)
                val child = buf.getLong(keyOff + keySize)
                if (level > 0) walk(child)
                else acc += (((0 until shape.length).map(i => buf.getLong(keyOff + 8 + i * 8).toInt),
                  child, buf.getInt(keyOff)))
                e += 1
              }
            }
            walk(dataAddr)
            acc.result()
          case 1 => // v4 single chunk
            Seq((Seq.fill(shape.length)(0), dataAddr,
              if (v4SingleSize >= 0) v4SingleSize.toInt else chunkByteSize))
          case 2 => // v4 implicit: consecutive unfiltered chunks
            require(filters.isEmpty, s"$name: implicit chunk index cannot carry filters")
            (0 until nChunksTotal).map(i =>
              (gridOffs(i), dataAddr + i.toLong * chunkByteSize, chunkByteSize))
          case 3 => // v4 fixed array: FAHD header -> FADB data block (paged or not)
            val p0 = dataAddr.toInt
            require(bytes(p0) == 'F' && bytes(p0 + 1) == 'A' && bytes(p0 + 2) == 'H' && bytes(p0 + 3) == 'D',
              s"$name: bad fixed-array header signature")
            val clientId = bytes(p0 + 5).toInt
            val entrySize = bytes(p0 + 6).toInt & 0xff
            val pageBits = bytes(p0 + 7).toInt & 0xff
            val maxEntries = buf.getLong(p0 + 8)
            val dbAddr = buf.getLong(p0 + 16)
            val db = dbAddr.toInt
            require(bytes(db) == 'F' && bytes(db + 1) == 'A' && bytes(db + 2) == 'D' && bytes(db + 3) == 'B',
              s"$name: bad fixed-array data-block signature")
            val hdrEnd = db + 4 + 1 + 1 + 8 // sig, version, client id, header addr
            val pageSize = 1L << pageBits
            // entry i -> absolute file offset, paged or flat
            val entryAt: Int => Int =
              if (maxEntries <= pageSize) { i => hdrEnd + i * entrySize }
              else {
                // paged: page bitmap + data-block checksum, then pages of
                // (pageSize entries + 4-byte checksum) back to back
                val nPages = ((maxEntries + pageSize - 1) / pageSize).toInt
                val bitmapBytes = (nPages + 7) / 8
                val pagesBase = hdrEnd + bitmapBytes + 4
                val pageBytes = pageSize.toInt * entrySize + 4
                i => pagesBase + (i / pageSize.toInt) * pageBytes + (i % pageSize.toInt) * entrySize
              }
            (0 until nChunksTotal).map { i =>
              val e = entryAt(i)
              val addr = buf.getLong(e)
              val stored =
                if (clientId == 0) chunkByteSize
                else {
                  val szLen = entrySize - 12 // addr(8) + size + filter mask(4)
                  var v = 0L
                  (0 until szLen).foreach(k => v |= (bytes(e + 8 + k).toLong & 0xff) << (8 * k))
                  v.toInt
                }
              (gridOffs(i), addr, stored)
            }.filter(e => e._2 != Undef && e._2 != 0L)
          case 4 => // v4 extensible array (resizable datasets, one unlimited dim)
            val element = eaElementReader(bytes, buf, name, dataAddr, chunkByteSize)
            // chunks linearize in SWIZZLED order: the unlimited dimension
            // varies slowest (H5Dearray swizzles it to the front); with
            // the default maxshape=(None, fixed...) this is plain
            // row-major over the current chunk grid
            val swiz =
              if (unlimDim <= 0) shape.indices
              else unlimDim +: shape.indices.filterNot(_ == unlimDim)
            (0 until nChunksTotal).map { i =>
              val offs = gridOffs(i)
              var idx = 0L
              swiz.foreach(d => idx = idx * nPerDim(d) + offs(d) / chunkDims(d))
              val (addr, stored) = element(idx)
              (offs, addr, stored)
            }.filter(e => e._2 != Undef && e._2 != 0L)
          case 5 => // v4 version-2 B-tree (multiple unlimited dims)
            btree2ChunkEntries(bytes, buf, name, dataAddr, shape.length, chunkByteSize)
              .map { case (scaled, addr, stored) =>
                (shape.indices.map(d => (scaled(d) * chunkDims(d)).toInt), addr, stored)
              }
              .filter(e => e._2 != Undef && e._2 != 0L)
          case t => throw new IllegalArgumentException(s"$name: chunk index type $t")
        }

        if (shape.length == 1) chunkStarts = entries.map(_._1.head).sorted
        entries.foreach { case (offs, addr, storedSize) =>
          var chunk = new Array[Byte](storedSize)
          System.arraycopy(bytes, addr.toInt, chunk, 0, storedSize)
          // undo filters in reverse pipeline order
          if (filters.contains(32000)) // h5py's lzf filter (id 32000)
            chunk = LzfLite.decompress(chunk, 0, chunk.length, chunkByteSize, name)
          if (filters.contains(1))
            chunk = ChunkCodecs.inflate(chunk, s"$name: truncated deflate chunk")
          // shuffle filter: bytes grouped by significance — transpose back
          if (filters.contains(2)) chunk = ChunkCodecs.unshuffle(chunk, dtSize)
          // scatter valid region into the row-major output
          val d0 = shape.head
          val rest = shape.drop(1).product
          val c0 = chunkDims.head
          val cRest = chunkDims.drop(1).product
          var i0 = 0
          while (i0 < c0 && offs.head + i0 < d0) {
            if (shape.length == 1) {
              System.arraycopy(chunk, i0 * cRest * dtSize,
                out, (offs.head + i0) * dtSize, dtSize)
            } else {
              val o1 = offs(1)
              val len = math.min(cRest, shape(1) - o1)
              System.arraycopy(chunk, i0 * cRest * dtSize,
                out, ((offs.head + i0) * rest + o1) * dtSize, len * dtSize)
            }
            i0 += 1
          }
        }
        out
      }
    val dataBuf = if (chunkedRaw != null)
      ByteBuffer.wrap(chunkedRaw).order(ByteOrder.LITTLE_ENDIAN) else buf
    val dataBase = if (chunkedRaw != null) 0L else dataAddr
    dtClass match {
      case 1 => // float
        require(dtSize == 8 || dtSize == 4, s"$name: float$dtSize not supported")
        val out = new Array[Double](n)
        var i = 0
        while (i < n) {
          out(i) = if (dtSize == 8) dataBuf.getDouble((dataBase + i * 8L).toInt)
          else dataBuf.getFloat((dataBase + i * 4L).toInt).toDouble
          i += 1
        }
        H5Read(name, shape, out, null, attrs = attrs)
      case 0 => // fixed point
        require(dtSize == 8 || dtSize == 4, s"$name: int$dtSize not supported")
        val out = new Array[Long](n)
        var i = 0
        while (i < n) {
          out(i) = if (dtSize == 8) dataBuf.getLong((dataBase + i * 8L).toInt)
          else dataBuf.getInt((dataBase + i * 4L).toInt).toLong
          i += 1
        }
        H5Read(name, shape, null, out, attrs = attrs)
      case 3 => // fixed-length string (pandas axis labels)
        val out = new Array[String](n)
        var i = 0
        while (i < n) {
          val base = (dataBase + i.toLong * dtSize).toInt
          var len = 0
          while (len < dtSize && dataBuf.get(base + len) != 0) len += 1
          val sb = new Array[Byte](len)
          var k = 0
          while (k < len) { sb(k) = dataBuf.get(base + k); k += 1 }
          out(i) = new String(sb, "UTF-8")
          i += 1
        }
        H5Read(name, shape, null, null, out, attrs = attrs)
      case 6 => // compound (PyTables format='table' record layout)
        require(members != null, s"$name: compound datatype without member table")
        val raw =
          if (chunkedRaw != null) chunkedRaw
          else {
            val out = new Array[Byte](n * dtSize)
            System.arraycopy(bytes, dataAddr.toInt, out, 0, out.length)
            out
          }
        H5Read(name, shape, null, null, attrs = attrs, members = members, raw = raw,
          chunkStarts = chunkStarts)
      case c => throw new IllegalArgumentException(
        s"$name: datatype class $c not supported (numeric and fixed-string datasets only)")
    }
  }
}
