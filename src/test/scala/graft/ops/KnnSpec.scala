package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The compiled kNN kernels against the Spark SQL expressions they stand
  * for, on the NaN edge: Spark orders NaN above every number. The top-k
  * ranks in that order too.
  */
class KnnSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private val nan = Double.NaN
  // a plain embedding, a NaN component, an all-NaN embedding
  private lazy val embs = {
    import spark.implicits._
    Seq(Seq(1.0, -2.0, 0.5), Seq(nan, 1.0, 2.0), Seq(nan, nan, nan)).toDF("embedding")
  }

  // the left-to-right fold Σ embedding_i · comps_i
  private def dot(comps: Array[Double]): Column =
    aggregate(zip_with(col("embedding"), typedLit(comps), _ * _), lit(0.0), _ + _)

  test("NaN embeddings: the sign-LSH kernel sets a bit where SQL's proj >= 0 holds") {
    val nPlanes = 4
    val sql = (0 until nPlanes).map { p =>
      when(dot(Knn.planes(nPlanes, 3)(p)) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    val rows = embs.select(Knn.signBucket(col("embedding"), nPlanes), sql).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows(1)._2 == (1L << nPlanes) - 1, "SQL: a NaN projection is >= 0")
    rows.foreach { case (kernel, want) => assert(kernel == want) }
  }

  test("NaN embeddings: the IVF kernel picks the SQL argmax cell (NaN highest, lowest cid on ties)") {
    val cents = Seq(2L -> Seq(0.5f, 0.5f, 0.0f), 0L -> Seq(1.0f, 0.0f, 0.0f), 1L -> Seq(0.0f, -1.0f, 1.0f))
    // array_max over (score, −cid) structs: Spark's order, lowest cid on ties
    val sql = array_max(array(cents.map { case (cid, cv) =>
      val inv = 1.0 / math.sqrt(cv.foldLeft(0.0)((a, v) => a + v.toDouble * v.toDouble))
      struct((dot(cv.map(_.toDouble).toArray) * lit(inv)).as("score"), lit(-cid).as("negid"))
    }: _*)).getField("negid") * -1
    val rows = embs.select(Knn.ivfCellExpr(col("embedding"), cents), sql).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows(2)._2 == 0L, "SQL: all-NaN scores tie at the top")
    rows.foreach { case (kernel, want) => assert(kernel == want) }
  }

  test("top-k: a NaN cosine ranks first, ties by vec_id ascending") {
    import spark.implicits._
    // cosines against (1, 0, 0): 7 and 2 hold a NaN component (NaN dot,
    // NaN cosine; a zero vector fails the query instead, below), 5 and 4
    // are orthogonal (0.0), 3 is 1.0 and 6 is -1.0
    val vecs = Seq(7L -> Seq(Float.NaN, 0f, 0f), 5L -> Seq(0f, -1f, 0f), 3L -> Seq(2f, 0f, 0f),
        2L -> Seq(0f, Float.NaN, 1f), 6L -> Seq(-1f, 0f, 0f), 4L -> Seq(0f, 1f, 0f))
      .toDF("vec_id", "embedding")
    val q = Seq(100L -> Seq(1f, 0f, 0f)).toDF("qid", "qv")
    def ids(k: Int): Seq[(Long, Int)] = Knn.bruteForceTopK(vecs, q, k)
      .as[(Long, Long, Int)].collect().sortBy(_._3).map(r => (r._2, r._3)).toSeq
    assert(ids(10) == Seq(2L, 7L, 3L, 4L, 5L, 6L).zipWithIndex)
    assert(ids(3) == Seq(2L, 7L, 3L).zipWithIndex)
  }

  test("zero-norm vectors: the kNN query fails naming the zero-norm side") {
    import spark.implicits._
    val vecs = Seq(1L -> Seq(1f, 2f, 0f), 2L -> Seq(0f, 1f, 1f)).toDF("vec_id", "embedding")
    val zero = Seq(3L -> Seq(0f, 0f, 0f)).toDF("vec_id", "embedding")
    val q = Seq(100L -> Seq(1f, 0f, 0f)).toDF("qid", "qv")
    val zeroQ = Seq(101L -> Seq(0f, 0f, 0f)).toDF("qid", "qv")
    def failure(run: => Any): String = intercept[Exception](run).getMessage
    assert(Knn.bruteForceTopK(vecs, q, 5).count() == 2)
    assert(failure(Knn.bruteForceTopK(vecs.union(zero), q, 5).collect())
      .contains("cosine of a zero-norm vector: a stored (candidate or centroid) vector has norm 0"))
    assert(failure(Knn.bruteForceTopK(vecs, zeroQ, 5).collect())
      .contains("cosine of a zero-norm vector: the query vector has norm 0"))
    assert(failure(Knn.lshTopK(vecs.union(zero), zeroQ, 5, nPlanes = 2).collect())
      .contains("cosine of a zero-norm vector: the query vector has norm 0"))
    // tiny norms still have a cosine
    val tiny = Seq(4L -> Seq(1e-30f, 0f, 0f)).toDF("vec_id", "embedding")
    val tinyQ = Seq(102L -> Seq(1e-30f, 1e-30f, 0f)).toDF("qid", "qv")
    assert(Knn.bruteForceTopK(tiny, tinyQ, 5).count() == 1)
  }

  test("plane matrices: a bounded memo per signature shape, least recently used out") {
    val shapes = (0 until Knn.MaxPlaneShapes + 5).map(i => (1 + i % 8, 2 + i / 8))
    shapes.foreach { case (n, d) => Knn.planes(n, d) }
    assert(Knn.planeShapesHeld == Knn.MaxPlaneShapes)
    // an evicted matrix comes back recomputed, equal to the one it replaced
    val (n0, d0) = shapes.head
    assert(Knn.planes(n0, d0).map(_.toSeq).toSeq ==
      (0 until n0).map(p => (0 until d0).map(Knn.planeComponentJvm(p, _))))
    assert(Knn.planeShapesHeld == Knn.MaxPlaneShapes)
    val (nl, dl) = shapes.last
    assert(Knn.planes(nl, dl) eq Knn.planes(nl, dl))
    // a shape's plane p is the same plane whatever the plane count
    assert(Knn.planes(8, 3)(2).toSeq == Knn.planes(4, 3)(2).toSeq)
  }
}
