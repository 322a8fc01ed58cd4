package graft

import graft.analysis.{Analyzer, AnalyzerConfig}
import graft.search._

/** The specs' one brute-force scorer: an analyzed in-memory corpus scored
  * with the similarity formulas directly — no Spark, no codec, no cursor.
  * Statistics are N = maxDoc and pre-delete df / cf over the whole corpus;
  * a document's clause partials add from 0 in clause order, in Float;
  * hits rank by (score desc, docno asc) — docids follow docno order.
  * Positional clauses read each document's analyzed positions (stop gaps
  * kept): an exact phrase counts the phrase starts every slot holds; a
  * sloppy phrase and a span-near hand those positions to
  * [[SloppyPhrase.freq]] and [[SpanNear.freq]].
  */
object BruteForce {

  /** One clause of a brute-force query. */
  sealed trait Clause
  final case class Term(term: String) extends Clause
  /** (term, offset) slots; terms sharing an offset are a union slot. */
  final case class Phrase(terms: Seq[(String, Int)], slop: Int) extends Clause
  final case class Near(a: String, b: String, slop: Int, ordered: Boolean) extends Clause
  final case class First(term: String, end: Int) extends Clause
  final case class Synonym(terms: Seq[String]) extends Clause
  final case class Expansion(terms: Seq[String], boost: Float) extends Clause

  /** `docs` (docno, text) analyzed with `cfg`. */
  final class Corpus(docs: Seq[(String, String)], cfg: AnalyzerConfig) {
    val analyzer = new Analyzer(cfg)
    // (docno, doc length, term → ascending positions), docno order
    private val analyzed: Seq[(String, Int, Map[String, Array[Int]])] = docs.sortBy(_._1).map {
      case (d, t) => (d, analyzer.analyze(t).length,
        analyzer.analyzeWithPositions(t).toSeq.groupMap(_._1)(_._2).map { case (w, ps) => w -> ps.sorted.toArray })
    }
    val stats: CollStats = CollStats(docs.size, analyzed.map(_._2.toLong).sum)
    private val dfCf: Map[String, (Long, Long)] = analyzed.flatMap(_._3.toSeq)
      .groupMapReduce(_._1)(p => (1L, p._2.length.toLong))((x, y) => (x._1 + y._1, x._2 + y._2))

    /** The analyzed topic text as one term clause per token. */
    def terms(text: String): Seq[Clause] = analyzer.analyze(text).toSeq.map(Term)

    /** (docno, clause partials in clause order; None where a clause misses). */
    def partials(clauses: Seq[Clause], scorer: Scorer): Seq[(String, Seq[Option[Float]])] =
      analyzed.map { case (docno, dl, pos) =>
        def at(t: String) = pos.getOrElse(t, Array.emptyIntArray)
        def stat(t: String) = dfCf.getOrElse(t, (0L, 0L))
        def termW(t: String) = scorer.termWeight(stat(t)._1, stat(t)._2, stats)
        def scored(freq: Float, w: => Float) =
          Option.when(freq > 0)(scorer.score(freq, dl, w, stats))
        docno -> clauses.map {
          case Term(t) => scored(at(t).length.toFloat, termW(t))
          case Phrase(ts, slop) =>
            val w = scorer.phraseWeight(ts.map(t => stat(t._1)), stats)
            val offs = ts.map(_._2).distinct.sorted
            val slots = offs.map(o => ts.filter(_._2 == o).map(_._1).distinct)
            val freq =
              if (slots.exists(_.forall(at(_).isEmpty))) 0.0f
              else if (slop == 0) (0 to pos.values.map(_.last).max).count(b =>
                offs.zip(slots).forall { case (o, s) => s.exists(at(_).contains(b + o)) }).toFloat
              else SloppyPhrase.freq(slots.map(_.head).toArray, slots.map(s => at(s.head)).toArray,
                offs.toArray, slop)
            scored(freq, w)
          case Near(a, b, slop, ordered) =>
            val freq = if (at(a).isEmpty || at(b).isEmpty) 0.0f
              else SpanNear.freq(at(a), at(b), slop, ordered)
            scored(freq, scorer.phraseWeight(Seq(stat(a), stat(b)), stats))
          case First(t, end) => scored(at(t).count(_ < end).toFloat, termW(t))
          case Synonym(ts) =>
            val present = ts.filter(dfCf.contains).map(dfCf)
            scored(ts.map(at(_).length).sum.toFloat,
              scorer.termWeight(present.map(_._1).max, present.map(_._2).sum, stats))
          case Expansion(ts, boost) => Option.when(ts.exists(at(_).nonEmpty))(boost)
        }
      }
  }

  /** Per qid, its top `k` (docno, score), every qid present: the clauses'
    * partials summed in clause order; `mode = "and"` needs every clause,
    * `msm` that many; docnos in `dead` never match.
    */
  def search(c: Corpus, queries: Seq[(String, Seq[Clause])], k: Int,
             scorer: Scorer = Bm25Scorer, mode: String = "or", msm: Int = 0,
             dead: Set[String] = Set.empty): Map[String, Seq[(String, Float)]] =
    queries.map { case (qid, clauses) =>
      val needed = if (mode == "and") clauses.size else msm
      qid -> c.partials(clauses, scorer).filterNot(d => dead(d._1)).flatMap { case (docno, ps) =>
        val hit = ps.flatten
        Option.when(hit.nonEmpty && hit.size >= needed) {
          var s = 0.0f
          hit.foreach(s += _)
          (docno, s)
        }
      }.sortWith((x, y) => x._2 > y._2 || (x._2 == y._2 && x._1 < y._1)).take(k)
    }.toMap

  /** Term-clause topics: one clause per analyzed token. */
  def topics(c: Corpus, topics: Seq[Topic]): Seq[(String, Seq[Clause])] =
    topics.map(t => t.qid -> c.terms(t.text))

  /** (docno, rank, score bits) per qid with hits. */
  def ranked(run: Map[String, Seq[(String, Float)]]): Map[String, Seq[(String, Int, Int)]] =
    run.collect { case (q, hits) if hits.nonEmpty =>
      q -> hits.zipWithIndex.map { case ((d, s), i) => (d, i, java.lang.Float.floatToIntBits(s)) }
    }

  /** An engine run as (docno, rank, score bits) per qid. */
  def ranked(lines: Seq[RunLine]): Map[String, Seq[(String, Int, Int)]] =
    lines.groupBy(_.qid).map { case (q, ls) =>
      q -> ls.sortBy(_.rank).map(l => (l.docno, l.rank, java.lang.Float.floatToIntBits(l.score)))
    }
}
