package graft.search

import org.apache.spark.sql.Dataset

/** The search engine's one bounded top-k collector (≙ Lucene's `HitQueue`,
  * the bounded heap the reference's boolean scorer collects into,
  * `BatchSearch.java:283`): per key, the k best (docid, score) rows by
  * score desc, docid asc — the collector contract of SURVEY.md §2.5.
  *
  * It runs as a per-partition pass (primitive heaps, ≤ k rows out per key
  * per partition, so it pipelines into whatever stage produced the scores)
  * and merges the per-partition rows through the same heap, either on the
  * driver ([[toDriver]]) or under a `groupByKey` ([[distributed]]) when the
  * merged rows should stay on the cluster.
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

    def offer(docid: Long, score: Float): Unit =
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
      } else if (better(score, docid, scores(0), docs(0))) siftDown(docid, score)

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
    * then the driver merge: one job beyond the stages `scored` already
    * needs. The collected rows are ≤ k × |keys| × partitions by
    * construction, and the merge asserts it.
    */
  def toDriver(scored: Dataset[(String, Long, Float)], k: Int)
      : Seq[(String, Array[(Long, Float)])] = {
    val heaps = scored.rdd.mapPartitions(collect(k, _))
    val rows = heaps.collect()
    val keys = rows.iterator.map(_._1).distinct.size
    require(rows.length.toLong <= k.toLong * keys * heaps.getNumPartitions,
      s"top-k collector emitted ${rows.length} rows, over its bound of " +
        s"k=$k × $keys keys × ${heaps.getNumPartitions} partitions")
    byKey(k, rows.iterator)
  }

  /** Per-partition heaps merged through the same heap under a
    * `groupByKey`: ≤ k rows per key, best-first within each key, without
    * leaving the cluster.
    */
  def distributed(scored: Dataset[(String, Long, Float)], k: Int)
      : Dataset[(String, Long, Float)] = {
    import scored.sparkSession.implicits._
    scored.mapPartitions(collect(k, _))
      .groupByKey(_._1)
      .flatMapGroups((_, rows) => collect(k, rows))
  }
}
