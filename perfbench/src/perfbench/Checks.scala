package perfbench

import graft.io.ResultStore
import graft.plans.OIConfig
import graft.plans.perfbench.Window
import graft.sources.ObsDocs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

final case class Check(name: String, ok: Boolean, detail: String = "")

/** Correctness checks run on every benchmark run. Join and tile parity are
  * checked against a brute-force distance and time-window scan of the same
  * generated inputs.
  */
object Checks {
  type Key = (Double, Double, Double)
  private val NoRows = Array.empty[Array[Double]]

  private def rows4(df: DataFrame, c: Seq[String]): Array[Array[Double]] =
    df.select(c.map(col): _*).collect().map(r => Array.tabulate(c.length)(r.getDouble))

  private def key(a: Array[Double]): Key = (a(0), a(1), a(2))

  /** Lexicographic order on the bit patterns, so multisets compare exactly. */
  private def sortedRows(xs: Iterable[Array[Double]]): Seq[Seq[Long]] =
    xs.map(_.toSeq.map(java.lang.Double.doubleToLongBits)).toSeq
      .sorted(Ordering.Implicits.seqOrdering[Seq, Long])

  /** Training windows (x, y, t, z) and prediction windows (x, y) per expert,
    * by scanning every (expert, row) pair with the join's own comparisons.
    */
  final case class Brute(train: Map[Key, Array[Array[Double]]], pred: Map[Key, Array[Array[Double]]])

  def brute(obs: Array[Array[Double]], experts: Array[Key], pg: Array[Array[Double]],
            oi: OIConfig): Brute = {
    val r2t = oi.trainingRadius * oi.trainingRadius
    val r2p = oi.inferenceRadius * oi.inferenceRadius
    val train = experts.map { case k @ (ex, ey, et) =>
      k -> obs.filter { o =>
        val d2 = (o(0) - ex) * (o(0) - ex) + (o(1) - ey) * (o(1) - ey)
        d2 <= r2t && o(2) >= et + oi.tWindowBelow && o(2) <= et + oi.tWindowAbove
      }
    }.toMap
    val pred = experts.map { case k @ (ex, ey, _) =>
      k -> pg.filter(p => (p(0) - ex) * (p(0) - ex) + (p(1) - ey) * (p(1) - ey) < r2p)
    }.toMap
    Brute(train, pred)
  }

  /** Collects the join inputs, scans them, and compares per-expert window
    * membership (exact multisets) with SpatialJoin.radiusJoin's output.
    */
  def joinParity(obs: DataFrame, experts: DataFrame, pg: DataFrame,
                 oi: OIConfig): (Seq[Check], Brute) = {
    val o = rows4(obs, Seq("x", "y", "t", oi.obsCol))
    val e = rows4(experts, Seq("x", "y", "t")).map(key)
    val p = rows4(pg, Seq("x", "y"))
    val b = brute(o, e, p, oi)
    def compare(name: String, joined: DataFrame, cols: Seq[String],
                want: Map[Key, Array[Array[Double]]]): Check = {
      val got = rows4(joined, Seq("expert_x", "expert_y", "expert_t") ++ cols)
        .groupBy(r => key(r)).map { case (k, rs) => k -> rs.map(_.drop(3)) }
      val wantRows = want.values.map(_.length.toLong).sum
      val gotRows = got.values.map(_.length.toLong).sum
      val bad = want.keys.filter(k => sortedRows(got.getOrElse(k, NoRows).toSeq) != sortedRows(want(k).toSeq))
      val stray = got.keySet -- want.keySet
      Check(name, gotRows == wantRows && bad.isEmpty && stray.isEmpty,
        s"rows $gotRows vs brute force $wantRows; ${bad.size} experts differ; ${stray.size} unknown experts")
    }
    (Seq(
      compare("join.train_windows", Steps.trainJoin(obs, experts, oi), Seq("x", "y", "t", "z"), b.train),
      compare("join.pred_windows", Steps.predJoin(pg, experts, oi), Seq("x", "y"), b.pred)), b)
  }

  /** Tile assignment: every expert's num_obs is its brute-force window size
    * after the cap, and its prediction rows are exactly its inference window.
    */
  def tileParity(runDetails: DataFrame, preds: DataFrame, b: Brute, oi: OIConfig): Seq[Check] = {
    val nObs = runDetails.select("x", "y", "t", "num_obs").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)) -> r.getInt(3)).toMap
    val badN = b.train.filter { case (k, w) =>
      val n = if (oi.maxObsPerTile > 0) math.min(w.length, oi.maxObsPerTile) else w.length
      !nObs.get(k).contains(n)
    }
    val got = rows4(preds, Seq("x", "y", "t", "pred_loc_x", "pred_loc_y"))
      .groupBy(r => key(r)).map { case (k, rs) => k -> rs.map(_.drop(3)) }
    val badP = b.pred.filter { case (k, w) =>
      val want = if (b.train(k).length < oi.minObs) NoRows else w
      sortedRows(got.getOrElse(k, NoRows).toSeq) != sortedRows(want.toSeq)
    }
    Seq(
      Check("tiles.num_obs", badN.isEmpty && nObs.size == b.train.size,
        s"${badN.size} of ${b.train.size} experts differ from min(window, cap)"),
      Check("tiles.pred_windows", badP.isEmpty && (got.keySet -- b.pred.keySet).isEmpty,
        s"${badP.size} experts' prediction rows differ from their inference window"))
  }

  /** Every row's span sequence (kind, text, media_ref, order) survives
    * projection: same row count, and the same order-independent sum of
    * per-row hashes of (doc_id, spans) on both sides.
    */
  def spanSequence(docs: DataFrame, projected: DataFrame): Check = {
    def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)), sum(xxhash64(col("doc_id"), col("spans")).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    val (nd, hd) = digest(docs)
    val (np, hp) = digest(projected)
    Check("sources.span_sequence", nd == np && hd == hp, s"docs $nd, projected $np, hash sums equal: ${hd == hp}")
  }

  /** Output of one pass: fingerprint of the final field and run details,
    * the field itself (x, y, t, f*, f*_var rows), run-details rows per
    * expert, and tiles attempted / failed.
    */
  final case class PassOutput(fingerprint: Int, field: Array[Array[Double]],
                              rowsPerExpert: Map[Key, Int], tiles: Long, failed: Long)

  def passOutput(store: ResultStore, t: Tables, oi: OIConfig): PassOutput = {
    val field = rows4(store.table(t.field), Seq("pred_loc_x", "pred_loc_y", "pred_loc_t", "f*", "f*_var"))
    val details = store.table(t.runDetails)
      .select("x", "y", "t", "num_obs", "optimise_success", "parameters_optimised")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getInt(3), r.getBoolean(4), r.getBoolean(5)))
    val nonFinite = store.table(t.preds)
      .filter(isnan(col("f*")) || isnan(col("f*_var")) || col("f*").isin(Double.PositiveInfinity, Double.NegativeInfinity))
      .select("x", "y", "t").distinct().collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSet
    val failed = details.count { case (x, y, t, n, ok, optimised) =>
      (optimised && !ok && n >= oi.minObs) || nonFinite.contains((x, y, t))
    }
    def round(v: Double): Long = math.round(v * 1e9)
    val fp = scala.util.hashing.MurmurHash3.seqHash(
      field.map(_.toSeq.map(round)).toSeq.sorted(Ordering.Implicits.seqOrdering[Seq, Long]) ++
        details.sortBy(d => (d._1, d._2, d._3)).map(d => Seq(round(d._1), round(d._2), round(d._3), d._4.toLong)).toSeq)
    val perExpert = details.groupBy(d => (d._1, d._2, d._3)).map { case (k, v) => k -> v.length }
    PassOutput(fp, field, perExpert, details.length.toLong, failed.toLong)
  }

  def oneRowPerExpert(out: PassOutput, b: Brute): Check = {
    val bad = b.train.keys.count(k => !out.rowsPerExpert.get(k).contains(1))
    val stray = (out.rowsPerExpert.keySet -- b.train.keySet).size
    Check("run_details.one_row_per_expert", bad == 0 && stray == 0,
      s"$bad of ${b.train.size} experts without exactly one row, $stray rows for unknown experts")
  }

  /** RMSE of a predicted field against the field the observations sample. */
  def rmse(field: Array[Array[Double]]): Double =
    math.sqrt(field.map { g =>
      val d = g(3) - ObsDocs.truthField(g(0), g(1), g(2)); d * d
    }.sum / math.max(1, field.length))

  /** A fixed sample of captured windows: the experts at the 0, 25, 50, 75
    * and 100 % quantiles of window size.
    */
  def soloSample(b: Brute): Seq[Window] = {
    val byN = b.train.toSeq.sortBy { case (k, w) => (w.length, k._1, k._2) }
    val picks = Seq(0.0, 0.25, 0.5, 0.75, 1.0).map(q => byN(math.round(q * (byN.length - 1)).toInt))
    picks.map { case (k, w) => Window(k, w, b.pred(k)) }
  }
}
