package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - `bruteForceTopK`: exact baseline — broadcast the (small) query set,
  *    score every (query, item) pair with a codegen'd cosine expression,
  *    rank per query. One pass over the items, no shuffle of the item side.
  *  - `ivfTopK`: the scale path — IVF-style coarse quantisation: nlist
  *    deterministic centroids, items assigned to their nearest centroid
  *    (the "inverted lists", a partitioning of the items), queries probe
  *    the nprobe nearest lists only. Recall < 1 by design; exactness knob
  *    is nprobe. At 100 TB the item side stays partitioned by list id, so
  *    a probe touches nprobe/nlist of the data.
  */
object SimilaritySearch {

  /** exact top-k by cosine; queries are broadcast. Output:
    * (query_id, item id, cosine, rank <= k).
    *
    * Scale shape: scoring stays in the scan stage (crossJoin with the
    * BROADCAST query set, codegen'd cosine); each partition then keeps
    * only a bounded per-query heap (<= nQueries x k rows emitted per
    * partition — the textbook mapPartitions case), so the final exact
    * rank window sees <= partitions x k candidates per query instead of
    * funnelling EVERY item's score through one reducer per query.
    */
  def bruteForceTopK(items: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                     queryIdCol: String, k: Int): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"),
      transform(col(vecCol), x => x.cast("double")).as("qvec"))
    val it = items.select(col(idCol).as("item_id"),
      transform(col(vecCol), x => x.cast("double")).as("ivec"))
    val scored = it.crossJoin(broadcast(q))
      .select(col("query_id"), col("item_id"),
        Dedup.cosine(col("qvec"), col("ivec")).as("cosine"))
    rankedTopK(scored, k)
  }

  /** Exact per-query top-k over a (query_id, item_id, cosine) frame:
    * per-partition bounded heaps (<= nQueries x k rows out of each
    * partition), then one rank window over the reduced stream. The global
    * top-k always survives some partition's local top-k, so this is exact;
    * ties follow the final (cosine desc, item_id asc) order throughout so
    * the reduced stream is order-equivalent to the full one.
    */
  private[operators] def rankedTopK(scored: DataFrame, k: Int): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(scored.schema)
    val kk = k
    val partial = scored.mapPartitions { rows =>
      def ltId(a: Any, b: Any): Boolean = (a, b) match {
        case (x: Long, y: Long) => x < y
        case (x: Int, y: Int) => x < y
        case (x: Double, y: Double) => x < y
        case (x: String, y: String) => x < y
        case (x, y) => String.valueOf(x) < String.valueOf(y)
      }
      // max-heap whose head must be the WORST kept candidate under the
      // final (cosine desc, item_id asc) order: lower cosine ranks
      // "greater"; on equal cosine the LARGER id ranks "greater" (it is
      // the one a better tie should evict)
      val heapOrd = new Ordering[(Double, Any)] {
        def compare(a: (Double, Any), b: (Double, Any)): Int =
          if (a._1 != b._1) java.lang.Double.compare(b._1, a._1) // lower cosine first
          else if (ltId(a._2, b._2)) -1 else if (ltId(b._2, a._2)) 1 else 0
      }
      val best = scala.collection.mutable.Map.empty[Any, scala.collection.mutable.PriorityQueue[(Double, Any)]]
      rows.foreach { r =>
        require(!r.isNullAt(2),
          s"null similarity score for item ${r.get(1)} — null or " +
            "length-mismatched embedding vector in the input")
        val qid = r.get(0)
        val cand = (r.getDouble(2), r.get(1))
        val heap = best.getOrElseUpdate(qid, scala.collection.mutable.PriorityQueue.empty(heapOrd))
        if (heap.size < kk) heap.enqueue(cand)
        else {
          val worst = heap.head
          // better(cand, worst): strictly higher cosine, or tie + smaller id
          val better = cand._1 > worst._1 || (cand._1 == worst._1 && ltId(cand._2, worst._2))
          if (better) { heap.dequeue(); heap.enqueue(cand) }
        }
      }
      best.iterator.flatMap { case (qid, heap) =>
        heap.iterator.map { case (cos, item) =>
          org.apache.spark.sql.Row(qid, item, cos)
        }
      }
    }(enc)

    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("item_id").asc)
    partial.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic IVF: centroids = the `nlist` items with the smallest
    * ids (a deterministic, data-independent coarse codebook — stands in
    * for k-means at fixture scale; swap centroid selection for trained
    * centroids without touching the plan).
    *
    * Scale design: the centroid codebook is aggregated into a single
    * array-of-structs row and broadcast, so item→list assignment is a
    * per-row argmax expression inside the scan stage — ZERO shuffle of the
    * item table (the previous crossJoin + per-item row_number window
    * shuffled and sorted the full item table just to take an argmin).
    * Centroid selection itself is a TakeOrderedAndProject (per-partition
    * top-nlist, driver merge of nlist rows), not a global sort.
    */
  /** single-row (list_id-ascending) centroid array from a (list_id, cvec)
    * frame — the broadcastable codebook. */
  private def centroidArray(centroids: DataFrame): DataFrame =
    centroids.agg(array_sort(collect_list(struct(col("list_id"), col("cvec")))).as("cents"))

  /** per-row argmax of cosine(vec, centroid) over the broadcast `cents`
    * array as a (list_id, cvec) struct; ties take the smaller list_id
    * (array is list_id-ascending and only a strictly greater similarity
    * replaces the running best). */
  private def nearestListStruct(vec: Column): Column =
    aggregate(col("cents"),
      struct(lit(Double.NegativeInfinity).as("csim"), lit(Long.MaxValue).as("list_id"),
        typedlit(Seq.empty[Double]).as("cvec")),
      (acc, c) => {
        val s = Dedup.cosine(vec, c.getField("cvec"))
        when(s > acc.getField("csim"),
          struct(s.as("csim"), c.getField("list_id").as("list_id"),
            c.getField("cvec").as("cvec"))).otherwise(acc)
      })

  private def nearestList(vec: Column): Column =
    nearestListStruct(vec).getField("list_id")

  /** Cluster assignment (item -> nearest centroid by cosine, argmax):
    * the domain-clustering step of a corpus-balancing pipeline. Returns
    * (item_id, cluster_id). `centroids` = trained ([[trainCentroids]]) or
    * the data-independent smallest-id default. Zero shuffle of the item
    * table — the codebook broadcasts as one array row and assignment is a
    * per-row expression inside the scan stage; feed the result to
    * `TextAnalysis.mixtureWeights` / `sampleToMixture` to re-balance a
    * corpus by embedding domain.
    */
  def assignClusters(items: DataFrame, idCol: String, vecCol: String,
                     nlist: Int = 16, centroids: Option[DataFrame] = None): DataFrame = {
    val it = items.select(col(idCol).as("item_id"),
      transform(col(vecCol), x => x.cast("double")).as("ivec"))
    val centroidArr = centroidArray(centroids.getOrElse(
      it.orderBy("item_id").limit(nlist)
        .select(col("item_id").as("list_id"), col("ivec").as("cvec"))))
    val (centIds, centVecs) = collectCents(centroidArr)
    val outSchema = StructType(Seq(
      it.schema.head, StructField("cluster_id", listIdType(centroidArr))))
    val dim = centVecs.headOption.fold(0)(_.length)
    it.mapPartitions { rows =>
      rows.map { r =>
        val bi = nearestIdxKernel(centVecs, vectorAt(r, vecCol, dim))
        Row(r.get(0), if (bi < 0) Long.MaxValue else centIds(bi))
      }
    }(Encoders.row(outSchema))
  }

  def ivfTopK(items: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              queryIdCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
              centroids: Option[DataFrame] = None): DataFrame = {
    val it = items.select(col(idCol).as("item_id"),
      transform(col(vecCol), x => x.cast("double")).as("ivec"))
    // codebook: trained centroids if given (trainCentroids), else the
    // nlist smallest item ids (data-independent default)
    val centroidArr = centroidArray(centroids.getOrElse(
      it.orderBy("item_id").limit(nlist)
        .select(col("item_id").as("list_id"), col("ivec").as("cvec"))))

    val (centIds, centVecs) = collectCents(centroidArr)
    val assignedSchema = StructType(
      it.schema.fields.toSeq :+ StructField("list_id", listIdType(centroidArr)))
    val dim = centVecs.headOption.fold(0)(_.length)
    val assigned = it.mapPartitions { rows =>
      rows.map { r =>
        val bi = nearestIdxKernel(centVecs, vectorAt(r, vecCol, dim))
        Row(r.get(0), r.get(1), if (bi < 0) Long.MaxValue else centIds(bi))
      }
    }(Encoders.row(assignedSchema))

    // each query probes its nprobe nearest lists: score the array, sort by
    // (csim desc, list_id asc), take the first nprobe
    val q = queries.select(col(queryIdCol).as("query_id"),
      transform(col(vecCol), x => x.cast("double")).as("qvec"))
    val scoredLists = transform(col("cents"), c =>
      struct((-Dedup.cosine(col("qvec"), c.getField("cvec"))).as("neg_csim"),
        c.getField("list_id").as("list_id")))
    val probes = q.crossJoin(broadcast(centroidArr))
      .select(col("query_id"), col("qvec"),
        explode(slice(array_sort(scoredLists), 1, nprobe)).as("p"))
      .select(col("query_id"), col("qvec"), col("p.list_id").as("list_id"))

    // probe join scores stay in the scan stage; the same per-partition
    // bounded-heap reduction as bruteForceTopK runs BEFORE the rank window,
    // so the window sees <= partitions x k rows per query instead of every
    // item in the probed lists (~nprobe/nlist of the table) funnelling
    // through one reducer per query
    val scored = assigned.join(broadcast(probes), Seq("list_id"))
      .select(col("query_id"), col("item_id"),
        Dedup.cosine(col("qvec"), col("ivec")).as("cosine"))
    rankedTopK(scored, k)
  }

  /** Lloyd's k-means over (a deterministic sample of) the item embeddings —
    * trained centroids for [[ivfTopK]]. Each iteration is (a) the same
    * zero-shuffle per-row argmax assignment against the broadcast codebook
    * and (b) one element-wise mean per cluster (posexplode + two partial
    * aggregations over the SAMPLE only — `sampleMod` bounds training cost
    * at any item-table scale; codebooks train on samples, not archives).
    * Init = stride over the sample ids. Empty clusters drop. Note: cluster
    * means are floating sums over shuffled partitions, so centroid values
    * are deterministic only up to summation order — consumers should
    * assert recall, not exact centroid bytes.
    */
  // ---------------------------------------------- product quantization

  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
  private def normsq(a: Column): Column = aggregate(a, lit(0.0), (acc, x) => acc + x * x)

  // ------------------------------------------------------------------
  // Typed encode kernels (optimization round). The per-ITEM encode /
  // assignment math — coarse-list argmax, PQ codes, SQ codes, recon
  // norms — used to run as nested Catalyst array-expression folds
  // (aggregate/zip_with/slice), which allocate a GenericArrayData per
  // lambda step: measured ~1 ms/item on 64-dim vectors, the dominant
  // cost of every ANN catalog query and a per-row constant that would be
  // catastrophic at archive scale. The same arithmetic as plain JVM
  // loops inside one mapPartitions runs ~2 orders of magnitude faster,
  // keeps the exact plan shape (same single scan, zero shuffle, same
  // output schema), and replicates the folds' evaluation order and
  // Spark's NaN-as-largest double comparison semantics bit for bit. The
  // probe/scoring sides (few rows per query, oracle-visible arithmetic)
  // keep their expression form.
  // ------------------------------------------------------------------

  /** Spark SQL `>` on doubles: NaN is the largest value, NaN == NaN. */
  private def sparkGt(a: Double, b: Double): Boolean =
    if (a != a) b == b else if (b != b) false else a > b
  private def sparkLt(a: Double, b: Double): Boolean = sparkGt(b, a)

  /** [[graft.operators.Dedup.cosine]] evaluation order:
    * dot / (sqrt(sum a^2) * sqrt(sum b^2)), each sum left-to-right.
    */
  private def cosineKernel(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); i += 1 }
    var na = 0.0; i = 0
    while (i < a.length) { na += a(i) * a(i); i += 1 }
    var nb = 0.0; i = 0
    while (i < b.length) { nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The embedding in column 1 of an encode-kernel input row. It must be
    * a non-null vector with no null elements: the double cast keeps
    * nulls, and unboxing would silently read a null element as 0.0.
    * Messages name the caller's column and the dimension `dim` expected.
    */
  private def vectorAt(r: Row, vecCol: String, dim: Int): Array[Double] = {
    val s = r.getSeq[Any](1)
    require(s != null,
      s"$vecCol: null embedding vector for item ${r.get(0)} (expected $dim doubles)")
    val out = new Array[Double](s.length)
    val it = s.iterator
    var i = 0
    while (it.hasNext) {
      val x = it.next()
      require(x != null, s"$vecCol: null element $i in the embedding vector of item " +
        s"${r.get(0)} (expected $dim doubles)")
      out(i) = x.asInstanceOf[Double]
      i += 1
    }
    out
  }

  /** Vector length a PQ codebook encodes: m subspaces x dsub. */
  private def pqDim(cb: Array[Array[Array[Double]]]): Int = {
    var d = 0
    var j = 0
    while (j < cb.length) { d += cb(j)(0).length; j += 1 }
    d
  }

  /** [[nearestListStruct]]'s fold: index of the first centroid with
    * strictly greatest cosine (-1 only if `cents` is empty or no length
    * matches — the fold's untouched init).
    */
  private def nearestIdxKernel(cents: Array[Array[Double]], vec: Array[Double]): Int = {
    var best = -1
    var bestSim = Double.NegativeInfinity
    var i = 0
    while (i < cents.length) {
      if (cents(i).length == vec.length) {
        val s = cosineKernel(vec, cents(i))
        if (sparkGt(s, bestSim)) { bestSim = s; best = i }
      }
      i += 1
    }
    best
  }

  /** [[pqCodesExpr]]'s folds: per subspace, argmin squared L2 (strict,
    * ties keep the lower code), sums left-to-right.
    */
  private def pqCodesKernel(cb: Array[Array[Array[Double]]], vec: Array[Double],
                            vecCol: String): Array[Int] = {
    require(vec.length == pqDim(cb),
      s"$vecCol: embedding vector of length ${vec.length}, expected ${pqDim(cb)} " +
        s"(${cb.length} PQ subspaces)")
    val m = cb.length
    val codes = new Array[Int](m)
    var j = 0
    var off = 0
    while (j < m) {
      val row = cb(j)
      val dsub = row(0).length
      var bestD = Double.MaxValue
      var bestC = 0
      var ci = 0
      while (ci < row.length) {
        val cent = row(ci)
        var dd = 0.0
        var t = 0
        while (t < dsub) { val dv = vec(off + t) - cent(t); dd += dv * dv; t += 1 }
        if (sparkLt(dd, bestD)) { bestD = dd; bestC = ci }
        ci += 1
      }
      codes(j) = bestC
      off += dsub
      j += 1
    }
    codes
  }

  /** [[pqReconNorm2Expr]]: sum over subspaces of |chosen centroid|^2. */
  private def pqReconNorm2Kernel(cb: Array[Array[Array[Double]]], codes: Array[Int]): Double = {
    var recon = 0.0
    var j = 0
    while (j < codes.length) {
      val cent = cb(j)(codes(j))
      var s = 0.0
      var t = 0
      while (t < cent.length) { s += cent(t) * cent(t); t += 1 }
      recon += s
      j += 1
    }
    recon
  }

  /** residual recon: |cvec + concat(chosen residual centroids)|^2 in
    * index order (the normsq-of-zip_with fold).
    */
  private def pqResidualReconKernel(cb: Array[Array[Array[Double]]], codes: Array[Int],
                                    cvec: Array[Double]): Double = {
    var recon = 0.0
    var idx = 0
    var j = 0
    while (j < codes.length) {
      val cent = cb(j)(codes(j))
      var t = 0
      while (t < cent.length) { val v = cvec(idx) + cent(t); recon += v * v; idx += 1; t += 1 }
      j += 1
    }
    recon
  }

  /** [[sqCodesExpr]]: Spark `round(x, 0)` is BigDecimal HALF_UP (NOT
    * Math.round), then a truncating double->int cast. The vector must have
    * one element per trained bound.
    */
  private def sqCodesKernel(vec: Array[Double], mins: Array[Double],
                            maxs: Array[Double], vecCol: String): Array[Int] = {
    require(vec.length == mins.length,
      s"$vecCol: embedding vector of length ${vec.length}, expected ${mins.length} " +
        "(SQ8 bounds)")
    val n = vec.length
    val codes = new Array[Int](n)
    var i = 0
    while (i < n) {
      codes(i) =
        if (maxs(i) == mins(i)) 0
        else java.math.BigDecimal.valueOf((vec(i) - mins(i)) / (maxs(i) - mins(i)) * 255)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toInt
      i += 1
    }
    codes
  }

  /** [[sqReconNorm2]]'s fold: r = mn + c/255*(mx - mn); sum r^2. */
  private def sqReconNorm2Kernel(codes: Array[Int], mins: Array[Double],
                                 maxs: Array[Double]): Double = {
    var recon = 0.0
    var i = 0
    while (i < codes.length) {
      val r = mins(i) + codes(i).toDouble / 255.0 * (maxs(i) - mins(i))
      recon += r * r
      i += 1
    }
    recon
  }

  /** Driver-side (list_id, cvec) pairs from a [[centroidArray]] frame —
    * codebook-sized, the same bytes the broadcast build would collect.
    */
  private def collectCents(centroidArr: DataFrame): (Array[Any], Array[Array[Double]]) = {
    val cents = centroidArr.head().getSeq[Row](0)
    (cents.map(_.get(0)).toArray, cents.map(_.getSeq[Double](1).toArray).toArray)
  }

  private def listIdType(centroidArr: DataFrame): org.apache.spark.sql.types.DataType =
    centroidArr.schema(0).dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]("list_id").dataType

  /** Deterministic RESIDUAL PQ codebook: sub-vectors of the residuals
    * (item - its nearest coarse centroid) of the `ksub` smallest-id
    * items, with the coarse codebook = the `nlist` smallest-id items —
    * the residual-encoding companion to [[pqCodebookDeterministic]],
    * still exactly reproducible in SQL. Driver-side on ksub+nlist rows.
    */
  def pqCodebookDeterministicResidual(items: DataFrame, idCol: String, vecCol: String,
                                      m: Int, ksub: Int, nlist: Int): Seq[Seq[Seq[Double]]] = {
    val rows = items
      .select(col(idCol).as("id"), transform(col(vecCol), x => x.cast("double")).as("v"))
      .orderBy(col("id")).limit(math.max(ksub, nlist)).collect()
      .map(r => r.getSeq[Double](1).toArray)
    val cents = rows.take(nlist)
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val residuals = rows.take(ksub).map { v =>
      val c = cents.maxBy(cosine(v, _)) // ties resolve to the FIRST (smallest id)
      v.indices.map(i => v(i) - c(i)).toArray
    }
    val d = rows.head.length
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val dsub = d / m
    (0 until m).map(j => residuals.map(v => v.slice(j * dsub, (j + 1) * dsub).toSeq).toSeq)
  }

  /** Deterministic PQ codebook: per subspace j, the sub-vectors of the
    * `ksub` smallest-id items (codes ordered by id) — data-independent
    * beyond that prefix and exactly reproducible in SQL, the same
    * stand-in-for-k-means convention as [[ivfTopK]]'s coarse codebook.
    * Shape: codebook(j)(code) = centroid sub-vector (dsub doubles).
    */
  def pqCodebookDeterministic(items: DataFrame, idCol: String, vecCol: String,
                              m: Int, ksub: Int): Seq[Seq[Seq[Double]]] = {
    val rows = items
      .select(col(idCol).as("id"), transform(col(vecCol), x => x.cast("double")).as("v"))
      .orderBy(col("id")).limit(ksub).collect() // TakeOrderedAndProject, ksub tiny
    val vecs = rows.map(_.getSeq[Double](1))
    val d = vecs.head.length
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val dsub = d / m
    (0 until m).map(j => vecs.map(v => v.slice(j * dsub, (j + 1) * dsub).toSeq).toSeq)
  }

  /** Trained PQ codebook: independent k-means (via [[trainCentroids]])
    * per sub-vector space over a hash sample. Codes are the per-subspace
    * cluster ranks; empty clusters drop (ksub is an upper bound).
    */
  def pqTrainCodebook(items: DataFrame, idCol: String, vecCol: String,
                      m: Int, ksub: Int, iters: Int = 5,
                      sampleMod: Int = 1): Seq[Seq[Seq[Double]]] = {
    val probe = items.select(transform(col(vecCol), x => x.cast("double")).as("v")).head()
    val d = probe.getSeq[Double](0).length
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val dsub = d / m
    (0 until m).map { j =>
      val sub = items.select(col(idCol),
        slice(transform(col(vecCol), x => x.cast("double")), j * dsub + 1, dsub).as("subv"))
      trainCentroids(sub, idCol, "subv", nlist = ksub, iters = iters, sampleMod = sampleMod)
        .orderBy("list_id").collect().map(_.getSeq[Double](1).toSeq).toSeq
    }
  }

  /** Encode items as PQ codes: per subspace, the index of the nearest
    * codebook centroid (squared-L2, ties to the lower code). Pure
    * per-row expressions against the broadcast codebook literal — ZERO
    * shuffle, one scan; the stored payload per item shrinks from
    * 4·d float bytes to m single-byte codes (~32x at d=64, m=8) plus the
    * reconstructed norm used by the ADC cosine.
    * Output: (item_id, codes: array&lt;int&gt;, recon_norm2).
    */
  // PQ expression builders (shared by pqEncode / pqTopK / ivfPqTopK):
  // per-row codes (argmin L2 per subspace), reconstructed norm, per-query
  // distance tables, and the ADC cosine — all pure Catalyst expressions
  // against a broadcast codebook literal.
  private def pqCodesExpr(cb: Seq[Seq[Seq[Double]]], vec: Column): Column = {
    val cbLit = typedlit(cb)
    val dsub = cb.head.head.length
    transform(sequence(lit(0), lit(cb.length - 1)), j => {
      val sub = slice(vec, j * lit(dsub) + lit(1), lit(dsub))
      val row = element_at(cbLit, j + lit(1))
      aggregate(sequence(lit(0), lit(cb.head.length - 1)),
        struct(lit(Double.MaxValue).as("d"), lit(0).as("c")),
        (acc, ci) => {
          val dd = l2sq(sub, element_at(row, ci + lit(1)))
          when(dd < acc.getField("d"), struct(dd.as("d"), ci.as("c"))).otherwise(acc)
        },
        acc => acc.getField("c"))
    })
  }
  private def pqReconNorm2Expr(cb: Seq[Seq[Seq[Double]]], codes: Column): Column =
    aggregate(zip_with(codes, typedlit(cb),
      (c, row) => normsq(element_at(row, c + lit(1)))), lit(0.0), _ + _)
  private def pqDtExpr(cb: Seq[Seq[Seq[Double]]], qvec: Column): Column = {
    val cbLit = typedlit(cb)
    val dsub = cb.head.head.length
    transform(sequence(lit(0), lit(cb.length - 1)), j => {
      val sub = slice(qvec, j * lit(dsub) + lit(1), lit(dsub))
      transform(element_at(cbLit, j + lit(1)), cent => dot(sub, cent))
    })
  }
  private def pqAdcCosine(dt: Column, codes: Column, qnorm: Column, reconNorm2: Column,
                          ipOffset: Column = lit(0.0)): Column = {
    val adc = aggregate(zip_with(codes, dt,
      (c, row) => element_at(row, c + lit(1))), lit(0.0), _ + _)
    val denom = qnorm * sqrt(reconNorm2)
    when(denom > 0, (ipOffset + adc) / denom).otherwise(lit(0.0))
  }

  def pqEncode(items: DataFrame, idCol: String, vecCol: String,
               codebook: Seq[Seq[Seq[Double]]]): DataFrame = {
    val it = items.select(col(idCol).as("item_id"),
      transform(col(vecCol), x => x.cast("double")).as("ivec"))
    val cb = codebook.map(_.map(_.toArray).toArray).toArray
    val dim = pqDim(cb)
    val outSchema = StructType(Seq(
      it.schema.head,
      StructField("codes", ArrayType(IntegerType)),
      StructField("recon_norm2", DoubleType)))
    it.mapPartitions { rows =>
      rows.map { r =>
        val codes = pqCodesKernel(cb, vectorAt(r, vecCol, dim), vecCol)
        Row(r.get(0), codes.toSeq, pqReconNorm2Kernel(cb, codes))
      }
    }(Encoders.row(outSchema))
  }

  /** IVF-PQ-style top-k with ASYMMETRIC DISTANCE scoring: queries keep
    * their exact vectors; items are scored from their PQ codes alone via
    * per-query distance tables (dt(j)(c) = &lt;q_j, centroid_{j,c}&gt;,
    * computed once per query and broadcast), so scoring an item is m
    * table lookups instead of a d-element dot product and the scan reads
    * the m-byte codes, not the raw vectors — the 100 TB shape. Scores
    * approximate cosine(q, reconstruct(item)); exactness knobs are m and
    * ksub. Recall &lt; 1 by design; [[rankedTopK]] keeps the final rank
    * exact over the approximate scores.
    */
  def pqTopK(items: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             queryIdCol: String, k: Int, m: Int = 8, ksub: Int = 16,
             codebook: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    val cb = codebook.getOrElse(pqCodebookDeterministic(items, idCol, vecCol, m, ksub))
    val encoded = pqEncode(items, idCol, vecCol, cb)
    val q = queries
      .select(col(queryIdCol).as("query_id"),
        transform(col(vecCol), x => x.cast("double")).as("qvec"))
      .withColumn("dt", pqDtExpr(cb, col("qvec")))
      .withColumn("qnorm", sqrt(normsq(col("qvec"))))
      .select("query_id", "dt", "qnorm")
    val scored = encoded.crossJoin(broadcast(q))
      .select(col("query_id"), col("item_id"),
        pqAdcCosine(col("dt"), col("codes"), col("qnorm"), col("recon_norm2")).as("cosine"))
    rankedTopK(scored, k)
  }

  /** IVF-PQ end to end — the genuine 100 TB ANN shape (the non-residual
    * FAISS-IVFPQ variant): coarse quantization prunes the scan to
    * ~nprobe/nlist of the table AND the probe join ships only each item's
    * m one-byte codes + reconstructed norm (never the raw vectors), with
    * ADC scoring per [[pqTopK]]. One scan assigns lists and encodes
    * simultaneously; both codebooks broadcast; exactness knobs are
    * nprobe, m, ksub.
    */
  def ivfPqTopK(items: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                queryIdCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, ksub: Int = 16,
                centroids: Option[DataFrame] = None,
                codebook: Option[Seq[Seq[Seq[Double]]]] = None,
                residual: Boolean = false): DataFrame = {
    val it = items.select(col(idCol).as("item_id"),
      transform(col(vecCol), x => x.cast("double")).as("ivec"))
    val centroidArr = centroidArray(centroids.getOrElse(
      it.orderBy("item_id").limit(nlist)
        .select(col("item_id").as("list_id"), col("ivec").as("cvec"))))
    val cb = codebook.getOrElse(
      if (residual) pqCodebookDeterministicResidual(items, idCol, vecCol, m, ksub, nlist)
      else pqCodebookDeterministic(items, idCol, vecCol, m, ksub))
    // ONE pass over the items: coarse list + PQ codes + recon norm; the
    // raw vector never leaves the scan stage. Residual mode quantizes
    // r = v - c_list (the true FAISS-IVFPQ shape — residuals are much
    // smaller than raw vectors, so the same ksub bins them finer) and
    // stores |c_list + r_hat|^2 so the ADC cosine stays exact against
    // the reconstruction. The per-item math runs in the typed kernels
    // (same arithmetic, ~100x the throughput of the expression folds).
    val (centIds, centVecs) = collectCents(centroidArr)
    val cbArr = cb.map(_.map(_.toArray).toArray).toArray
    val dim = pqDim(cbArr)
    val residualB = residual
    val encSchema = StructType(Seq(
      it.schema.head,
      StructField("list_id", listIdType(centroidArr)),
      StructField("codes", ArrayType(IntegerType)),
      StructField("recon_norm2", DoubleType)))
    val enc = it.mapPartitions { rows =>
      rows.map { r =>
        val v = vectorAt(r, vecCol, dim)
        val bi = nearestIdxKernel(centVecs, v)
        val lid: Any = if (bi < 0) Long.MaxValue else centIds(bi)
        if (!residualB) {
          val codes = pqCodesKernel(cbArr, v, vecCol)
          Row(r.get(0), lid, codes.toSeq, pqReconNorm2Kernel(cbArr, codes))
        } else {
          val cvec = if (bi < 0) new Array[Double](v.length) else centVecs(bi)
          val rvec = new Array[Double](v.length)
          var i = 0
          while (i < v.length) { rvec(i) = v(i) - cvec(i); i += 1 }
          val codes = pqCodesKernel(cbArr, rvec, vecCol)
          Row(r.get(0), lid, codes.toSeq, pqResidualReconKernel(cbArr, codes, cvec))
        }
      }
    }(Encoders.row(encSchema))
    // queries: nprobe nearest lists + their ADC distance tables; residual
    // mode also carries <q, c_list> per probed list (ip(q, v_hat) =
    // ip(q, c_list) + ip(q, r_hat))
    val q = queries.select(col(queryIdCol).as("query_id"),
      transform(col(vecCol), x => x.cast("double")).as("qvec"))
    val scoredLists = transform(col("cents"), c =>
      struct((-Dedup.cosine(col("qvec"), c.getField("cvec"))).as("neg_csim"),
        c.getField("list_id").as("list_id"), c.getField("cvec").as("cvec")))
    val probes = q.crossJoin(broadcast(centroidArr))
      .select(col("query_id"), col("qvec"),
        pqDtExpr(cb, col("qvec")).as("dt"),
        sqrt(normsq(col("qvec"))).as("qnorm"),
        explode(slice(array_sort(scoredLists), 1, nprobe)).as("p"))
      .select(col("query_id"), col("dt"), col("qnorm"),
        col("p.list_id").as("list_id"),
        (if (residual) dot(col("qvec"), col("p.cvec")) else lit(0.0)).as("clist_ip"))
    val scored = enc.join(broadcast(probes), Seq("list_id"))
      .select(col("query_id"), col("item_id"),
        pqAdcCosine(col("dt"), col("codes"), col("qnorm"), col("recon_norm2"),
          ipOffset = col("clist_ip")).as("cosine"))
    rankedTopK(scored, k)
  }

  def trainCentroids(items: DataFrame, idCol: String, vecCol: String,
                     nlist: Int, iters: Int = 5, sampleMod: Int = 1): DataFrame = {
    // hash-based sampling: `pmod(xxhash64(id), mod)` keeps the sampled
    // fraction ~ 1/mod for ANY id distribution (sparse, skewed, negative),
    // where a raw `id % mod` filter biases toward dense aligned ranges
    val sample = items.filter(pmod(xxhash64(col(idCol)), lit(sampleMod)) === 0)
      .select(col(idCol).as("item_id"), transform(col(vecCol), x => x.cast("double")).as("ivec"))
      .cache()
    sample.count() // materialize the cache before the Lloyd's iterations
    // init: the nlist sample items with smallest id hash — a deterministic
    // pseudo-random pick that fills all nlist seats for any id distribution
    // (a dense-id stride leaves seats empty on sparse id spaces).
    // TakeOrderedAndProject: no full sort materializes.
    var cents = sample.orderBy(xxhash64(col("item_id")), col("item_id")).limit(nlist)
      .select(col("item_id").as("list_id"), col("ivec").as("cvec"))
    (0 until iters).foreach { _ =>
      val assigned = sample.crossJoin(broadcast(centroidArray(cents)))
        .select(col("ivec"), nearestList(col("ivec")).as("list_id"))
      cents = assigned
        .select(col("list_id"), posexplode(col("ivec")).as(Seq("pos", "v")))
        .groupBy("list_id", "pos").agg(avg("v").as("v"))
        .groupBy("list_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          s => s.getField("v")).as("cvec"))
    }
    val out = cents.cache()
    out.count()
    sample.unpersist()
    out
  }

  // ------------------------------------------------------------------
  // Scalar quantization (the FAISS ScalarQuantizer QT_8bit analog):
  // per-dimension [min, max] trained over the corpus, each component
  // stored as one byte — 4x smaller than float32, 8x smaller than the
  // engine's double vectors, with NO codebook join at score time.
  // ------------------------------------------------------------------

  /** Exact per-dimension (min, max) bounds: per-partition running
    * bounds, one tiny row per partition to the driver (never the
    * vectors).
    */
  def sqTrainBounds(items: DataFrame, vecCol: String): (Seq[Double], Seq[Double]) = {
    import items.sparkSession.implicits._
    val partials = items
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .as[Seq[Double]]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val first = it.next().toArray
          val mn = first.clone(); val mx = first.clone()
          it.foreach { v =>
            var j = 0
            while (j < mn.length) {
              val x = v(j)
              if (x < mn(j)) mn(j) = x
              if (x > mx(j)) mx(j) = x
              j += 1
            }
          }
          Iterator((mn.toSeq, mx.toSeq))
        }
      }.collect()
    require(partials.nonEmpty, "sqTrainBounds: no vectors")
    partials.reduce { (a, b) =>
      (a._1.lazyZip(b._1).map(math.min).toSeq, a._2.lazyZip(b._2).map(math.max).toSeq)
    }
  }

  /** Encode vectors to one-byte-per-dimension codes:
    * c_j = round((x_j - min_j) / (max_j - min_j) * 255) (0 for constant
    * dims), plus the reconstruction norm for cosine scoring — a
    * zero-shuffle projection with the bounds as broadcast literals.
    */
  def sqEncode(items: DataFrame, idCol: String, vecCol: String,
               mins: Seq[Double], maxs: Seq[Double]): DataFrame = {
    val it = items.select(col(idCol).as("item_id"),
      transform(col(vecCol), x => x.cast("double")).as("ivec"))
    val mn = mins.toArray
    val mx = maxs.toArray
    val outSchema = StructType(Seq(
      it.schema.head,
      StructField("codes", ArrayType(IntegerType)),
      StructField("recon_norm2", DoubleType)))
    it.mapPartitions { rows =>
      rows.map { r =>
        val codes = sqCodesKernel(vectorAt(r, vecCol, mn.length), mn, mx, vecCol)
        Row(r.get(0), codes.toSeq, sqReconNorm2Kernel(codes, mn, mx))
      }
    }(Encoders.row(outSchema))
  }

  private def sqCodesExpr(vec: Column, mins: Seq[Double], maxs: Seq[Double]): Column =
    transform(
      arrays_zip(vec.as("x"), typedLit(mins).as("mn"), typedLit(maxs).as("mx")),
      s => when(s("mx") === s("mn"), lit(0)).otherwise(
        round((s("x") - s("mn")) / (s("mx") - s("mn")) * 255).cast("int")))

  /** asymmetric cosine of q against the byte-code reconstruction. */
  private def sqAdcCosine(codes: Column, qvec: Column, qnorm: Column,
                          reconNorm2: Column,
                          mins: Seq[Double], maxs: Seq[Double]): Column = {
    val ip = aggregate(
      arrays_zip(codes.as("c"), qvec.as("q"),
        typedLit(mins).as("mn"), typedLit(maxs).as("mx")),
      lit(0.0),
      (acc, s) => acc + s("q") * (s("mn") + s("c").cast("double") / 255.0 * (s("mx") - s("mn"))))
    val denom = qnorm * sqrt(reconNorm2)
    when(denom > 0, ip / denom).otherwise(lit(0.0))
  }

  private def sqReconNorm2(codes: Column, mins: Seq[Double], maxs: Seq[Double]): Column =
    aggregate(
      arrays_zip(codes.as("c"), typedLit(mins).as("mn"), typedLit(maxs).as("mx")),
      lit(0.0),
      (acc, s) => {
        val r = s("mn") + s("c").cast("double") / 255.0 * (s("mx") - s("mn"))
        acc + r * r
      })

  /** SQ8 top-k: queries keep exact vectors (asymmetric scoring against
    * the per-item reconstructions — mn_j + c_j/255*(mx_j - mn_j)), items
    * are scored from their byte codes alone. Same plan shape as
    * [[bruteForceTopK]] (broadcast queries, per-partition bounded heaps,
    * ONE exchange) with the scan reading d bytes, not d doubles.
    */
  def sqTopK(items: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             queryIdCol: String, k: Int,
             bounds: Option[(Seq[Double], Seq[Double])] = None): DataFrame = {
    val (mins, maxs) = bounds.getOrElse(sqTrainBounds(items, vecCol))
    val encoded = sqEncode(items, idCol, vecCol, mins, maxs)
    val q = queries.select(col(queryIdCol).as("query_id"),
      transform(col(vecCol), x => x.cast("double")).as("qvec"))
      .withColumn("_qnorm", sqrt(aggregate(col("qvec"), lit(0.0), (a, x) => a + x * x)))
    val scored = encoded.crossJoin(broadcast(q))
      .select(col("query_id"), col("item_id"),
        sqAdcCosine(col("codes"), col("qvec"), col("_qnorm"),
          col("recon_norm2"), mins, maxs).as("cosine"))
    rankedTopK(scored, k)
  }

  /** IVF + SQ8 composed (the FAISS "IVF<n>,SQ8" index-factory shape):
    * ONE scan assigns each item's coarse list (broadcast-argmax, zero
    * shuffle) AND encodes its byte codes; queries probe their nprobe
    * nearest lists and candidates score from codes alone — the scan
    * reads ~nprobe/nlist of the table at d BYTES per row.
    */
  def ivfSqTopK(items: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                queryIdCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
                bounds: Option[(Seq[Double], Seq[Double])] = None,
                centroids: Option[DataFrame] = None): DataFrame = {
    val it = items.select(col(idCol).as("item_id"),
      transform(col(vecCol), x => x.cast("double")).as("ivec"))
    val centroidArr = centroidArray(centroids.getOrElse(
      it.orderBy("item_id").limit(nlist)
        .select(col("item_id").as("list_id"), col("ivec").as("cvec"))))
    val (mins, maxs) = bounds.getOrElse(sqTrainBounds(items, vecCol))
    val (centIds, centVecs) = collectCents(centroidArr)
    val mn = mins.toArray
    val mx = maxs.toArray
    val encSchema = StructType(Seq(
      it.schema.head,
      StructField("list_id", listIdType(centroidArr)),
      StructField("codes", ArrayType(IntegerType)),
      StructField("recon_norm2", DoubleType)))
    val enc = it.mapPartitions { rows =>
      rows.map { r =>
        val v = vectorAt(r, vecCol, mn.length)
        val bi = nearestIdxKernel(centVecs, v)
        val codes = sqCodesKernel(v, mn, mx, vecCol)
        Row(r.get(0), if (bi < 0) Long.MaxValue else centIds(bi),
          codes.toSeq, sqReconNorm2Kernel(codes, mn, mx))
      }
    }(Encoders.row(encSchema))
    val q = queries.select(col(queryIdCol).as("query_id"),
      transform(col(vecCol), x => x.cast("double")).as("qvec"))
    val scoredLists = transform(col("cents"), c =>
      struct((-Dedup.cosine(col("qvec"), c.getField("cvec"))).as("neg_csim"),
        c.getField("list_id").as("list_id")))
    val probes = q.crossJoin(broadcast(centroidArr))
      .select(col("query_id"), col("qvec"),
        sqrt(aggregate(col("qvec"), lit(0.0), (a, x) => a + x * x)).as("qnorm"),
        explode(slice(array_sort(scoredLists), 1, nprobe)).as("p"))
      .select(col("query_id"), col("qvec"), col("qnorm"),
        col("p.list_id").as("list_id"))
    val scored = enc.join(broadcast(probes), Seq("list_id"))
      .select(col("query_id"), col("item_id"),
        sqAdcCosine(col("codes"), col("qvec"), col("qnorm"),
          col("recon_norm2"), mins, maxs).as("cosine"))
    rankedTopK(scored, k)
  }
}
