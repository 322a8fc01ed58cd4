package graft.search

import graft.analysis.Analyzer
import graft.codec.PostingCodec
import graft.index.PostingRun
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

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
  * Scale shape: per-field inputs are the same bucket-pruned,
  * positions/metadata-free postings scans every BM25 query runs; the
  * field combine is ONE (term, docid) full-outer join between streams
  * each bounded by the query terms' posting sizes; the joined stream is
  * locally checkpointed because it feeds BOTH the df aggregation and the
  * scoring pass (typed lineage defeats exchange reuse); df-per-term is a
  * ≤|query terms| driver map; the per-(query, doc) sum runs in the
  * searcher's range tasks ([[RangeScorer]], the field contributions as
  * their row cursor) and the collector is its bounded heap.
  * Float accumulation runs in ascending-term order per (query, doc), so
  * equal-stat documents get bit-identical scores and tie-break on docno —
  * the same determinism contract as the single-field engine.
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
    val spark = idx0.spark
    import spark.implicits._
    val analyzer = new Analyzer(cfg0.analyzer)
    require(topics.map(_.qid).distinct.size == topics.size,
      s"topics must have distinct qids, got: ${topics.map(_.qid).mkString(", ")}")
    val qterms: Map[String, Array[(String, Int)]] = topics
      .flatMap(t => analyzer.analyze(t.text).map(term => (term, t.qid)))
      .groupBy(_._1)
      .map { case (term, xs) =>
        term -> xs.groupBy(_._2).map { case (q, g) => (q, g.size) }.toArray.sortBy(_._1)
      }
    if (qterms.isEmpty) return spark.emptyDataset[RunLine]
    val terms = qterms.keys.toSeq

    // Per-field (term, docid, tf_i, dl_i) streams from the pruned decode
    // view — no positions, no block metadata in the scan.
    val streams: Seq[DataFrame] = fields.zipWithIndex.map { case ((sr, _, _), i) =>
      val idx = sr.index
      idx.forTerms(idx.postingsDecode, terms).as[PostingRun]
        .flatMap { run =>
          PostingCodec.decodeBlobs(run.ndocs, run.doc_blob, run.tf_blob, run.dl_blob)
            .map(p => (run.term, p.docid, p.tf, p.dl))
        }.toDF("term", "docid", s"tf$i", s"dl$i")
    }
    val joined = streams.reduce((l, r) => l.join(r, Seq("term", "docid"), "full_outer"))

    // tf̃ as one fixed expression tree (field order), missing fields → 0.
    val tfb = fields.zipWithIndex.map { case ((sr, w, b), i) =>
      val st = sr.index.stats
      val avgdl = st.sum_total_term_freq.toDouble / st.max_doc
      when(col(s"tf$i").isNotNull,
        lit(w) * col(s"tf$i") /
          (lit(1.0 - b) + lit(b) * col(s"dl$i") / lit(avgdl)))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    // checkpoint: the combined stream (bounded by the query terms' posting
    // sizes) feeds both the df agg and the scoring pass
    val combined = joined.select(col("term"), col("docid"), tfb.as("tfb"))
      .localCheckpoint()

    // Document-level df: the joined stream has exactly one row per
    // (term, doc-with-term-in-any-field). ≤|query terms| rows collected.
    val n = idx0.stats.max_doc
    val dfByTerm: Map[String, Long] = combined.groupBy("term")
      .agg(count(lit(1)).as("df")).as[(String, Long)].collect().toMap
    val idfByTerm: Map[String, Double] = dfByTerm.map { case (t, df) =>
      t -> math.log(1.0 + (n - df + 0.5) / (df + 0.5)) / math.log(2.0)
    }
    val idfB = spark.sparkContext.broadcast(idfByTerm)
    val qtermsB = spark.sparkContext.broadcast(qterms)
    // a term's clause index is its rank in ascending term order, so the
    // range task sums each (query, doc) in ascending-term order
    val rankB = spark.sparkContext.broadcast(terms.sorted.zipWithIndex.toMap)

    val contrib: Dataset[(String, Long, Int, Float)] =
      combined.as[(String, Long, Double)].flatMap { case (term, docid, tfb) =>
        val idf = idfB.value(term)
        val sat = idf * tfb / (k1 + tfb)
        val rank = rankB.value(term)
        qtermsB.value(term).iterator.map { case (qid, w) =>
          (qid, docid, rank, (w * sat).toFloat)
        }
      }
    // the flat OR sum (bm25's coord is 1); each rank is its own clause
    val slots = topics.map(_.qid -> terms.indices.toArray).toMap
    val work = qterms.iterator.map { case (t, qs) => dfByTerm.getOrElse(t, 0L) * qs.length }.sum
    val scores = RangeScorer.score(idx0, Map.empty, Some(contrib), slots.map { case (q, s) => q -> s.length },
      () => new Searcher.FlatRuns(slots, Map.empty, requireAll = false, msm = 0, Bm25Scorer),
      Bm25Scorer, CollStats(idx0.stats.max_doc, idx0.stats.sum_total_term_freq),
      None, Map.empty, None, work, 0)
    fields.head._1.collectTopK(scores, k, "bm25f")
  }
}
