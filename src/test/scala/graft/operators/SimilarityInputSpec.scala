package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Malformed embedding vectors fail loudly in the ANN encode kernels,
  * with a message naming the column and the expected dimension, instead
  * of an NPE, a silent 0.0 or an index error.
  */
class SimilarityInputSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // two 2-dim subspaces of two centroids each: vectors of 4 doubles
  private val codebook = Seq(
    Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)),
    Seq(Seq(0.0, 1.0), Seq(1.0, 0.0)))

  private def vec(xs: Double*): Option[Seq[Option[Double]]] = Some(xs.map(Some(_)))

  private def items(bad: Option[Seq[Option[Double]]]): DataFrame =
    Seq((1L, vec(0.1, 0.2, 0.3, 0.4)), (2L, vec(0.9, 0.8, 0.7, 0.6)), (3L, bad))
      .toDF("id", "emb")

  /** The message of the first IllegalArgumentException in the cause chain. */
  private def failure(run: => Any): String = {
    val e = intercept[Exception](run)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case i: IllegalArgumentException => i.getMessage }
      .getOrElse(fail(s"no IllegalArgumentException in the cause chain of $e"))
  }

  test("a null embedding vector fails naming the column and dimension") {
    val df = items(None)
    for (run <- Seq[() => Any](
      () => SimilaritySearch.pqEncode(df, "id", "emb", codebook).collect(),
      () => SimilaritySearch.sqEncode(df, "id", "emb", Seq.fill(4)(0.0), Seq.fill(4)(1.0))
        .collect(),
      () => SimilaritySearch.assignClusters(df, "id", "emb", nlist = 2).collect())) {
      val msg = failure(run())
      assert(msg.contains("emb: null embedding vector for item 3"), msg)
      assert(msg.contains("expected 4 doubles"), msg)
    }
  }

  test("a null element fails instead of reading as 0.0") {
    val df = items(Some(Seq(Some(0.5), None, Some(0.5), Some(0.5))))
    for (run <- Seq[() => Any](
      () => SimilaritySearch.pqEncode(df, "id", "emb", codebook).collect(),
      () => SimilaritySearch.sqEncode(df, "id", "emb", Seq.fill(4)(0.0), Seq.fill(4)(1.0))
        .collect())) {
      val msg = failure(run())
      assert(msg.contains("emb: null element 1 in the embedding vector of item 3"), msg)
      assert(msg.contains("expected 4 doubles"), msg)
    }
  }

  test("a vector shorter than the PQ codebook fails naming the column and dimension") {
    val df = items(vec(0.5, 0.5, 0.5))
    val msg = failure(SimilaritySearch.pqEncode(df, "id", "emb", codebook).collect())
    assert(msg.contains("emb: embedding vector of length 3, expected 4"), msg)
  }

  /** sqEncode and ivfSqTopK on items whose third vector is `bad`, against
    * 4-dim SQ8 bounds: each must fail naming the column and dimension. */
  private def assertSqLengthFails(bad: Option[Seq[Option[Double]]], len: Int): Unit = {
    val df = items(bad)
    val bounds = (Seq.fill(4)(0.0), Seq.fill(4)(1.0))
    val queries = Seq((7L, Seq(0.5, 0.5, 0.5, 0.5))).toDF("qid", "emb")
    for (run <- Seq[() => Any](
      () => SimilaritySearch.sqEncode(df, "id", "emb", bounds._1, bounds._2).collect(),
      () => SimilaritySearch.ivfSqTopK(df, queries, "id", "emb", "qid", k = 2, nlist = 2,
        nprobe = 1, bounds = Some(bounds)).collect())) {
      val msg = failure(run())
      assert(msg.contains(s"emb: embedding vector of length $len, expected 4"), msg)
    }
  }

  test("a vector shorter than the SQ8 bounds fails naming the column and dimension") {
    assertSqLengthFails(vec(0.5, 0.5, 0.5), 3)
  }

  test("a vector longer than the SQ8 bounds fails naming the column and dimension") {
    assertSqLengthFails(vec(0.5, 0.5, 0.5, 0.5, 0.5), 5)
  }
}
