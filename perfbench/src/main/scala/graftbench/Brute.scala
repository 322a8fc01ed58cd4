package graftbench

import graft.analysis.{Analyzer, AnalyzerConfig}
import graft.search.{Bm25Scorer, CollStats, RunLine}

/** Brute-force BM25 over an in-memory corpus, under the engine's rules:
  * Float arithmetic, N = maxDoc, one clause per analyzed query token in
  * token order, per-document partials summed in clause order, and ties
  * ordered by score descending then docno ascending (docid order equals
  * docno order in a monolithic build).
  */
final class Brute(docs: Seq[Gen.Doc], analyzerCfg: AnalyzerConfig) {
  private val analyzer = new Analyzer(analyzerCfg)
  private val docnos: Array[String] = docs.map(_.docno).toArray
  private val dls = new Array[Int](docnos.length)
  /** term → (doc index, tf) in doc index order */
  private val postings: Map[String, Array[(Int, Int)]] = {
    val m = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuilder[(Int, Int)]]
    docs.iterator.zipWithIndex.foreach { case (d, i) =>
      val (tfs, dl) = analyzer.termFreqs(d.content)
      dls(i) = dl
      tfs.foreach { case (t, tf) => m.getOrElseUpdate(t, Array.newBuilder[(Int, Int)]) += ((i, tf)) }
    }
    m.view.mapValues(_.result()).toMap
  }
  val maxDoc: Long = docnos.length.toLong
  val sumDl: Long = dls.iterator.map(_.toLong).sum
  /** Σ over terms of df (= Σ over docs of distinct terms). */
  val sumDf: Long = postings.valuesIterator.map(_.length.toLong).sum
  val stats: CollStats = CollStats(maxDoc, sumDl)

  /** The top `k` of one topic as (docno, rank, score), rank from 0. */
  def topK(text: String, k: Int, conjunctive: Boolean): Seq[(String, Int, Float)] = {
    val clauses = analyzer.analyze(text).toSeq
    if (clauses.isEmpty) return Nil
    val weights = clauses.map { t =>
      postings.get(t).map { ps =>
        Bm25Scorer.termWeight(ps.length.toLong, ps.iterator.map(_._2.toLong).sum, stats)
      }
    }
    if (conjunctive && weights.exists(_.isEmpty)) return Nil
    val tfByDoc: Seq[Map[Int, Int]] = clauses.map(t => postings.getOrElse(t, Array.empty).toMap)
    val candidates: Iterable[Int] =
      if (conjunctive) tfByDoc.map(_.keySet).reduce(_ intersect _)
      else tfByDoc.flatMap(_.keys).distinct
    val scored = candidates.iterator.map { d =>
      var s = 0.0f
      clauses.indices.foreach { c =>
        tfByDoc(c).get(d).foreach(tf => s += Bm25Scorer.score(tf.toFloat, dls(d), weights(c).get, stats))
      }
      (docnos(d), s)
    }.toVector
    scored.sortWith((x, y) => x._2 > y._2 || (x._2 == y._2 && x._1 < y._1))
      .take(k).zipWithIndex.map { case ((docno, s), r) => (docno, r, s) }
  }
}

object Brute {
  /** Run lines of one topic as (docno, rank, score bits), in rank order. */
  def key(lines: Seq[RunLine]): Seq[(String, Int, Int)] =
    lines.sortBy(_.rank).map(l => (l.docno, l.rank, java.lang.Float.floatToIntBits(l.score)))

  def keyOf(want: Seq[(String, Int, Float)]): Seq[(String, Int, Int)] =
    want.map { case (d, r, s) => (d, r, java.lang.Float.floatToIntBits(s)) }

  /** A one-line description of the first difference, or None if equal. */
  def diff(what: String, got: Seq[(String, Int, Int)], want: Seq[(String, Int, Int)]): Option[String] =
    if (got == want) None
    else {
      val i = got.zip(want).indexWhere { case (a, b) => a != b }
      val at = if (i >= 0) i else math.min(got.size, want.size)
      Some(s"$what: ${got.size} vs ${want.size} lines, first difference at $at: " +
        s"${got.lift(at)} vs ${want.lift(at)}")
    }
}
