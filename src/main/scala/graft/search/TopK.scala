package graft.search

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.types.{FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The search engine's one bounded top-k collector (≙ Lucene's `HitQueue`,
  * the bounded heap the reference's boolean scorer collects into,
  * `BatchSearch.java:283`): per key, the k best (docid, score) rows by
  * score desc, docid asc — the collector contract of SURVEY.md §2.5.
  *
  * It runs as a per-partition pass ([[collect]]: primitive heaps keyed by
  * the row's `UTF8String`, ≤ k rows out per key per partition as a pair of
  * primitive arrays, so it pipelines into whatever stage produced the
  * scores) and merges each key's partition arrays through the same heap on
  * the driver ([[toDriver]], keys in ascending order, one [[Hits]] per
  * key): no tuple, `String` or boxed score per row. For a scored search the
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

    /** The held rows best-first, as (docids, scores); empties the heap. */
    def drain(): (Array[Long], Array[Float]) = {
      val ds = new Array[Long](n)
      val ss = new Array[Float](n)
      while (n > 0) {
        ds(n - 1) = docs(0); ss(n - 1) = scores(0)
        n -= 1
        if (n > 0) siftDown(docs(n), scores(n))
      }
      (ds, ss)
    }
  }

  /** One key's collected rows, best-first: `docids(i)` scored `scores(i)`. */
  final case class Hits(key: UTF8String, docids: Array[Long], scores: Array[Float])

  /** One partition's pass over (key, docid, score) rows: ≤ k rows per key,
    * each key's rows best-first, keys in no order. The heaps are keyed by
    * the row's `UTF8String`, copied once per key, so no tuple or `String`
    * is built per row.
    */
  def collect(k: Int, rows: Iterator[InternalRow]): Array[Hits] = {
    if (k <= 0) return Array.empty
    val heaps = new java.util.HashMap[UTF8String, Heap]()
    rows.foreach { r =>
      val key = r.getUTF8String(0)
      var h = heaps.get(key)
      if (h == null) { h = new Heap(k); heaps.put(key.clone(), h) }
      h.offer(r.getLong(1), r.getFloat(2))
    }
    val out = Array.newBuilder[Hits]
    heaps.forEach { (key, h) =>
      val (ds, ss) = h.drain()
      out += Hits(key, ds, ss)
    }
    out.result()
  }

  /** Per-partition heaps pipelined into the stage that produced `scored`,
    * then the driver merge of each key's partition arrays through the same
    * heap, keys in ascending order: one job ([[graft.PlanRunner]]) beyond
    * the stages `scored` already needs. The collected rows are ≤ k ×
    * |keys| × partitions by construction, and the merge asserts it.
    */
  def toDriver(scored: Dataset[(String, Long, Float)], k: Int): Seq[Hits] = {
    // the heaps read the plan's own rows, so its columns must already be
    // the tuple's types (`as` would upcast an int docid in a deserializer)
    val types = scored.queryExecution.analyzed.output.map(_.dataType)
    require(types == Seq(StringType, LongType, FloatType), s"scored rows must be (string, long, float): $types")
    val parts = graft.PlanRunner.partitions(scored)(collect(k, _))
    val byKey = parts.iterator.flatten.toSeq.groupBy(_.key)
    val rows = parts.iterator.flatten.map(_.docids.length.toLong).sum
    require(rows <= k.toLong * byKey.size * parts.length,
      s"top-k collector emitted $rows rows, over its bound of " +
        s"k=$k × ${byKey.size} keys × ${parts.length} partitions")
    byKey.iterator.map { case (key, hs) =>
      val heap = new Heap(k)
      hs.foreach { h =>
        var i = 0
        while (i < h.docids.length) { heap.offer(h.docids(i), h.scores(i)); i += 1 }
      }
      val (ds, ss) = heap.drain()
      key.toString -> Hits(key, ds, ss)
    }.toSeq.sortBy(_._1).map(_._2)
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
