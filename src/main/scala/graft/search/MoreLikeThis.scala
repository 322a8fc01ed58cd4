package graft.search

import graft.analysis.Analyzer
import org.apache.spark.sql.{DataFrame, Dataset}

/** Lucene `MoreLikeThis` analog — "find documents similar to this one",
  * the search-UI companion the reference's stack inherits from Lucene's
  * queries module: extract the source document's most interesting terms,
  * search them as a plain OR, exclude the source. The reference exposes
  * no MLT endpoint, but its stored-field fetch + query seams
  * (`ExplicitFeedbackM1PreProcessor.java:364-399`, `BatchSearch.java:252`)
  * are exactly what MLT composes, so this reuses the same point-lookup
  * and [[Searcher.searchClauses]] paths.
  *
  * Scale shape: driver state is ONE document's vocabulary (the corpus
  * point lookup Feedback already bounds); df comes from the index's
  * memoized term-stats lookup; the search is the ordinary distributed clause path.
  */
object MoreLikeThis {

  /** The classic-similarity MLT interestingness ranking of a document's
    * terms: `tf × (1 + ln(N / (df + 1)))` (MoreLikeThis.createQueue's
    * tf×idf with DefaultSimilarity's idf form), top `max` by
    * (score desc, term asc). Terms missing from the index are skipped,
    * like MLT's zero-docFreq guard.
    */
  def interestingTerms(searcher: Searcher, corpus: DataFrame, docno: String,
                       max: Int): Seq[(String, Double)] = {
    val idx = searcher.index
    val an = new Analyzer(idx.cfg.analyzer)
    val text = Feedback.contentByDocno(corpus, Seq(docno)).getOrElse(docno, "")
    val (tfs, _) = an.termFreqs(text)
    val tfMap = tfs.toMap
    if (tfMap.isEmpty) return Nil
    val dfs = idx.termStatsOf(tfMap.keys)
    val n = idx.stats.max_doc.toDouble
    tfMap.toSeq
      .flatMap { case (t, tf) =>
        dfs.get(t).map { case (df, _) => t -> tf * (1.0 + math.log(n / (df + 1).toDouble)) }
      }
      .sortBy { case (t, s) => (-s, t) }
      .take(max)
  }

  /** Top-k similar documents: the interesting terms run as unboosted OR
    * clauses (MLT's default `boost=false` — plain TermQuerys) with the
    * source document excluded before ranking, so ranks close up.
    */
  def search(searcher: Searcher, corpus: DataFrame, qid: String,
             docno: String, maxQueryTerms: Int, k: Int,
             scorerName: String = "bm25"): Dataset[RunLine] = {
    val terms = interestingTerms(searcher, corpus, docno, maxQueryTerms)
    val clauses = terms.zipWithIndex.map { case ((t, _), i) =>
      WeightedClause(qid, i, t, 1.0f)
    }
    searcher.searchClauses(clauses, k, scorerName,
      excludeDocnos = Map(qid -> Set(docno)))
  }
}
