package graft.search

import graft.analysis.Analyzer
import graft.codec.PostingCodec
import org.apache.spark.sql.Dataset

/** BM25F — the published multi-field BM25 (Robertson, Zaragoza & Taylor,
  * "Simple BM25 extension to multiple weighted fields", CIKM 2004; the
  * model behind Lucene's CombinedFieldQuery): unlike [[MultiField]]'s
  * most_fields (which scores each field independently and sums SCORES),
  * BM25F combines at the TERM-FREQUENCY level — each field's tf is
  * length-normalized with its own `b_f` against its own average length,
  * weighted by `w_f`, and summed into one pseudo-frequency
  *
  *   tf̃(t,d) = Σ_f  w_f · tf_f(t,d) / B_f(d),
  *   B_f(d)  = (1 − b_f) + b_f · len_f(d) / avglen_f
  *
  * which passes through ONE saturation  idf(t) · tf̃ / (k1 + tf̃).
  * The single saturation is the model's point: a term matching twice in
  * one field and once in another saturates like three occurrences of one
  * field, where most_fields would pay the k1 knee twice. idf is the
  * engine's log₂ Robertson idf over the DOCUMENT-level df (a doc counts
  * once if the term appears in ANY field — computed exactly from the
  * union of the fields' postings for the query terms, never approximated
  * from per-field df).
  *
  * Scale shape: one job pre-computes the document-level df — the
  * distinct docids per query term across the fields' docid runs, ≤|query
  * terms| rows to the driver. Scoring runs in the searcher's range tasks
  * ([[RangeScorer]]): per query term, one reader per field over the same
  * bucket-pruned postings scans every BM25 query runs, tf̃ and the
  * saturation in Double, each query's (query, doc) sum in ascending-term
  * order; the collector is their bounded heap, so equal-stat documents get
  * bit-identical scores and tie-break on docno — the same determinism
  * contract as the single-field engine.
  *
  * All field indexes must share the corpus and docid packing (the same
  * invariant [[MultiField]] requires) AND the analyzer chain — BM25F is
  * defined over one query-term space — and must be delete-free (the
  * tombstone overlay seam is single-index).
  */
object CombinedField {

  /** BM25F top-k. `fields` = (field searcher, w_f, b_f); `k1` as BM25.
    * Parameters are Double so decimal literals mean what they say — a
    * Float 0.4f widened to double is 0.40000000596…, which would silently
    * diverge from any exact-decimal replay of the formula.
    */
  def bm25f(fields: Seq[(Searcher, Double, Double)], topics: Seq[Topic],
            k: Int = 1000, k1: Double = 1.2): Dataset[RunLine] = {
    require(fields.nonEmpty, "at least one field required")
    val idx0 = fields.head._1.index
    val cfg0 = idx0.cfg
    fields.foreach { case (sr, _, _) =>
      val c = sr.index.cfg
      require(c.rangePartitions == cfg0.rangePartitions &&
          c.groupShift == cfg0.groupShift && c.mergeShift == cfg0.mergeShift,
        "field indexes must share the docid packing")
      require(c.analyzer == cfg0.analyzer,
        "BM25F is defined over one query-term space: field analyzers must match")
      require(sr.index.tombstones.isEmpty,
        "BM25F fields must be delete-free (tombstone overlays are single-index)")
    }
    val analyzer = new Analyzer(cfg0.analyzer)
    require(topics.map(_.qid).distinct.size == topics.size,
      s"topics must have distinct qids, got: ${topics.map(_.qid).mkString(", ")}")
    val qterms: Map[String, Array[(String, Int)]] = topics
      .flatMap(t => analyzer.analyze(t.text).map(term => (term, t.qid)))
      .groupBy(_._1)
      .map { case (term, xs) =>
        term -> xs.groupBy(_._2).map { case (q, g) => (q, g.size) }.toArray.sortBy(_._1)
      }
    if (qterms.isEmpty) return idx0.spark.emptyDataset(Searcher.LineEnc)
    val terms = qterms.keys.toSeq

    // Document-level df: a doc counts once if the term appears in any field.
    val dfByTerm: scala.collection.Map[String, Long] = fields
      .map { case (sr, _, _) => sr.index.forTerms(sr.index.postingsMatch, terms).as(RangeScorer.RunEnc).rdd }
      .reduce(_ union _)
      .flatMap(run => PostingCodec.decodeDocids(run.ndocs, run.doc_blob).map(d => (run.term, d)))
      .distinct().countByKey()
    val n = idx0.stats.max_doc
    // a term's slot is its rank in ascending term order, so the range task
    // sums each (query, doc) in ascending-term order
    val rank = terms.sorted.zipWithIndex.toMap
    val clauses = FieldClauses(k1,
      fields.map { case (sr, w, b) =>
        val st = sr.index.stats
        (w, b, st.sum_total_term_freq.toDouble / st.max_doc)
      }.toArray,
      dfByTerm.map { case (t, df) =>
        t -> (math.log(1.0 + (n - df + 0.5) / (df + 0.5)) / math.log(2.0), rank(t), qterms(t))
      }.toMap)
    // the flat OR sum (bm25's coord is 1); each rank is its own clause
    val slots = topics.map(_.qid -> terms.indices.toArray).toMap
    val work = qterms.iterator.map { case (t, qs) => dfByTerm.getOrElse(t, 0L) * qs.length }.sum
    val scores = RangeScorer.score(idx0, RangeClauses(Map.empty, fields = Some(clauses)),
      slots.map { case (q, s) => q -> s.length },
      () => new Searcher.FlatRuns(slots, Map.empty, requireAll = false, msm = 0, Bm25Scorer),
      Bm25Scorer, CollStats(idx0.stats.max_doc, idx0.stats.sum_total_term_freq),
      None, Map.empty, None, work, 0, fields.tail.map(_._1.index))
    fields.head._1.collectTopK(scores, k, "bm25f")
  }
}
