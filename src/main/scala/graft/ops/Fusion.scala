package graft.ops

import graft.search.TopK
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rank-list fusion for hybrid retrieval (sparse BM25 + dense ANN).
  *
  * Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR'09): each input
  * list contributes `1/(k0 + 1 + rank)` for every (qid, docno) it holds —
  * rank 0-based, so the classic `1/(60 + rank1)` becomes `1/(61 + rank0)`
  * — and documents missing from a list simply contribute nothing. RRF is
  * the standard training-free fusion because it needs no score
  * calibration between retrievers whose score scales are incomparable.
  *
  * Scale: both inputs are already per-query top-k lists, so the fused
  * stream holds ≤ 2k rows per query BY CONSTRUCTION and the final
  * per-query window is bounded at any corpus size — the unbounded work
  * happened inside the retrievers' bounded top-k collectors.
  */
object Fusion {

  /** Fuse two 0-based-ranked lists `(qid, docno, rank)` into the top-`k`
    * per query by RRF weight (ties broken docno asc). The two reciprocal
    * terms are added sparse-then-dense in fixed IEEE order, so results are
    * bit-reproducible and SQL-replayable.
    */
  def rrf2(sparse: DataFrame, dense: DataFrame, k: Int, k0: Double = 60.0): DataFrame = {
    val s = sparse.select(col("qid"), col("docno"), col("rank").as("r_sparse"))
    val d = dense.select(col("qid"), col("docno"), col("rank").as("r_dense"))
    val base = lit(k0 + 1.0)
    val fused = s.join(d, Seq("qid", "docno"), "full_outer")
      .select(col("qid"), col("docno"),
        (coalesce(lit(1.0) / (base + col("r_sparse")), lit(0.0))
          + coalesce(lit(1.0) / (base + col("r_dense")), lit(0.0))).as("rrf"))
    TopK.ranked(fused, Seq("qid"), Seq(desc("rrf"), asc("docno")), k)
      .select(col("qid"), col("docno"), col("rank"))
  }
}
