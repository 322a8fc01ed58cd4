package graft.search

import graft.analysis.Analyzer
import org.apache.spark.sql.DataFrame

/** Significant-terms aggregation (≙ Elasticsearch `significant_terms`):
  * for each query, the terms whose document frequency in the query's HIT
  * SET (foreground) most exceeds their corpus frequency (background) —
  * "what is this result set about, beyond what the corpus is about".
  *
  * Scoring is the cross-multiplied percentage difference
  * `fg_df · N − bg_df · n_hits` (the integer form of
  * fg_df/n_hits − bg_df/N, ES's "absolute percentage change" heuristic
  * scaled by n_hits·N) — deliberately integer-exact so the oracle replay
  * is float-free. Rank: score desc, term asc, top `nTerms`.
  *
  * Scale shape: the hit set is the collector's (≤ k docs/query on the
  * driver — the explainStats/MLT point-lookup seam), the foreground term
  * vectors re-analyze just those k documents via the corpus point
  * lookup, and background dfs come from the index's memoized term-stats
  * lookup. Nothing here scans the corpus or the postings.
  */
object SignificantTerms {

  def topTerms(searcher: Searcher, corpus: DataFrame, topics: Seq[Topic],
               kHits: Int, nTerms: Int): DataFrame = {
    val idx = searcher.index
    val spark = idx.spark
    import spark.implicits._
    val an = new Analyzer(idx.cfg.analyzer)

    val hits = searcher.search(topics, kHits).collect()
    val byQid: Map[String, Seq[String]] =
      hits.groupBy(_.qid).map { case (q, hs) => q -> hs.map(_.docno).toSeq }
    if (byQid.isEmpty) {
      return Seq.empty[(String, String, Long, Long, Long, Long)]
        .toDF("qid", "term", "fg_df", "bg_df", "score", "rank")
    }
    val docnos = hits.map(_.docno).distinct.toSeq
    val content = Feedback.contentByDocno(corpus, docnos)
    val termsByDoc: Map[String, Seq[String]] = docnos.map { d =>
      d -> an.termFreqs(content.getOrElse(d, ""))._1.map(_._1).toSeq
    }.toMap

    // foreground df: in how many of the query's hit docs each term occurs
    val fg: Map[(String, String), Long] = byQid.toSeq.flatMap { case (q, ds) =>
      ds.flatMap(d => termsByDoc(d).map(t => (q, t)))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

    val bg: Map[String, Long] =
      idx.termStatsOf(fg.keys.map(_._2)).map { case (t, (df, _)) => t -> df }

    val n = idx.stats.max_doc
    val rows: Seq[(String, String, Long, Long, Long, Long)] =
      byQid.toSeq.flatMap { case (q, ds) =>
        val nHits = ds.size.toLong
        fg.iterator
          .collect { case ((qq, t), f) if qq == q && bg.contains(t) =>
            val b = bg(t)
            (t, f, b, f * n - b * nHits)
          }
          .toSeq
          .sortBy { case (t, _, _, s) => (-s, t) }
          .take(nTerms)
          .zipWithIndex
          .map { case ((t, f, b, s), r) => (q, t, f, b, s, r.toLong) }
      }
    rows.toDF("qid", "term", "fg_df", "bg_df", "score", "rank")
  }
}
