package graft.search

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.types.{FloatType, LongType, StringType}

/** The search engine's one bounded top-k collector (≙ Lucene's `HitQueue`,
  * the bounded heap the reference's boolean scorer collects into,
  * `BatchSearch.java:283`): per key, the k best (docid, score) rows by
  * score desc, docid asc — the collector contract of SURVEY.md §2.5.
  *
  * It runs as a per-partition pass (primitive heaps, ≤ k rows out per key
  * per partition, so it pipelines into whatever stage produced the scores)
  * and merges the per-partition rows through the same heap on the driver
  * ([[toDriver]], keys in ascending order). For a scored search the
  * per-partition pass runs in the stage of the range tasks
  * ([[RangeScorer]]) that score the (qid, docid) rows; a pruned qid's
  * range task also keeps a live heap of its own, the θ its block skipping
  * tests against. Every other per-group top-k, whose rows stay on the
  * cluster or whose sort key is not a Float score, goes through
  * [[ranked]].
  */
private[graft] object TopK {

  /** Collector ordering: higher score first, then smaller docid. */
  @inline private def better(s1: Float, d1: Long, s2: Float, d2: Long): Boolean =
    s1 > s2 || (s1 == s2 && d1 < d2)

  /** Bounded heap for one key, worst row at the root; its arrays grow by
    * doubling up to k, so a key with few hits holds few slots.
    */
  final class Heap(k: Int) {
    private var docs = new Array[Long](math.min(k, 16))
    private var scores = new Array[Float](math.min(k, 16))
    private var n = 0

    /** True iff the row is now held. */
    def offer(docid: Long, score: Float): Boolean =
      if (n < k) {
        if (n == docs.length) {
          val cap = math.min(k, 2 * n)
          docs = java.util.Arrays.copyOf(docs, cap)
          scores = java.util.Arrays.copyOf(scores, cap)
        }
        var i = n
        n += 1
        // sift up: a parent better than the new row moves down
        while (i > 0 && better(scores((i - 1) >>> 1), docs((i - 1) >>> 1), score, docid)) {
          val p = (i - 1) >>> 1
          docs(i) = docs(p); scores(i) = scores(p)
          i = p
        }
        docs(i) = docid; scores(i) = score
        true
      } else if (better(score, docid, scores(0), docs(0))) { siftDown(docid, score); true }
      else false

    /** k rows held: [[worstScore]] is the kth best. */
    def full: Boolean = n == k
    def worstScore: Float = scores(0)

    // place (docid, score) at the root's slot and sink it below every
    // child that is worse than it
    private def siftDown(docid: Long, score: Float): Unit = {
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        if (l >= n) done = true
        else {
          val r = l + 1
          val w = if (r < n && better(scores(l), docs(l), scores(r), docs(r))) r else l
          if (better(score, docid, scores(w), docs(w))) {
            docs(i) = docs(w); scores(i) = scores(w)
            i = w
          } else done = true
        }
      }
      docs(i) = docid; scores(i) = score
    }

    /** The held rows best-first; empties the heap. */
    def drain(): Array[(Long, Float)] = {
      val out = new Array[(Long, Float)](n)
      while (n > 0) {
        out(n - 1) = (docs(0), scores(0))
        n -= 1
        if (n > 0) siftDown(docs(n), scores(n))
      }
      out
    }
  }

  /** Per-key heaps over `rows`, in first-seen key order, each best-first. */
  def byKey(k: Int, rows: Iterator[(String, Long, Float)]): Seq[(String, Array[(Long, Float)])] = {
    if (k <= 0) return Seq.empty
    val heaps = scala.collection.mutable.LinkedHashMap.empty[String, Heap]
    rows.foreach(r => heaps.getOrElseUpdate(r._1, new Heap(k)).offer(r._2, r._3))
    heaps.iterator.map { case (key, h) => key -> h.drain() }.toSeq
  }

  /** One partition's pass: ≤ k rows per key, each key's rows best-first. */
  def collect(k: Int, rows: Iterator[(String, Long, Float)]): Iterator[(String, Long, Float)] =
    byKey(k, rows).iterator.flatMap { case (key, hits) =>
      hits.iterator.map(h => (key, h._1, h._2))
    }

  /** Per-partition heaps pipelined into the stage that produced `scored`,
    * then the driver merge, keys in ascending order: one job
    * ([[graft.PlanRunner]]) beyond the stages `scored` already needs. The
    * collected rows are ≤ k × |keys| × partitions by construction, and the
    * merge asserts it.
    */
  def toDriver(scored: Dataset[(String, Long, Float)], k: Int)
      : Seq[(String, Array[(Long, Float)])] = {
    // the heaps read the plan's own rows, so its columns must already be
    // the tuple's types (`as` would upcast an int docid in a deserializer)
    val types = scored.queryExecution.analyzed.output.map(_.dataType)
    require(types == Seq(StringType, LongType, FloatType), s"scored rows must be (string, long, float): $types")
    val parts = graft.PlanRunner.partitions(scored)(it =>
      collect(k, it.map(r => (r.getUTF8String(0).toString, r.getLong(1), r.getFloat(2)))).toArray)
    val rows = parts.flatten
    val keys = rows.iterator.map(_._1).distinct.size
    require(rows.length.toLong <= k.toLong * keys * parts.length,
      s"top-k collector emitted ${rows.length} rows, over its bound of " +
        s"k=$k × $keys keys × ${parts.length} partitions")
    byKey(k, rows.iterator).sortBy(_._1)
  }

  /** Per-group top-k on the cluster: the `k` first rows of each `by` group
    * in `order`, plus their 0-based Long `rank` column. `order` should end
    * in a unique tie-break so ranks are a total order; a `rank` column of
    * `df` is replaced.
    *
    * It filters the raw `row_number()` at `<= k`, the form Spark's
    * optimizer bounds (a rank derived before the filter, like
    * `row_number() - 1 < k`, is not): a Partial `WindowGroupLimit` keeps
    * ≤ k rows per group in each map partition, below the exchange, and a
    * Final one above it, so no group's whole row stream is shuffled or
    * sorted. The bound is planned only for k ≤ Spark's
    * `spark.sql.optimizer.windowGroupLimitThreshold` (default 1000); above
    * it Spark plans the full window, with the same rows but no map-side
    * bound.
    */
  def ranked(df: DataFrame, by: Seq[String], order: Seq[Column], k: Int): DataFrame = {
    val rn = "__topk_rn"
    df.withColumn(rn, row_number().over(Window.partitionBy(by.map(col): _*).orderBy(order: _*)))
      .where(col(rn) <= k)
      .withColumn("rank", (col(rn) - 1).cast(LongType))
      .drop(rn)
  }
}
