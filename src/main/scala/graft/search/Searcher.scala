package graft.search

import graft.analysis.Analyzer
import graft.codec.PostingCodec
import graft.index.{BuiltIndex, IndexLayout, PostingRun}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** A batched topic query (≙ one `<top>` of the reference's query file,
  * parsed at `BatchSearch.java:193-233`).
  */
final case class Topic(qid: String, text: String)

/** One TREC run line: `qid Q0 docno rank score runtag`
  * (`BatchSearch.java:296-307`).
  */
final case class RunLine(qid: String, docno: String, rank: Int, score: Float, runtag: String)

/** One boosted term clause of a query (≙ a SHOULD TermQuery with boost). */
final case class WeightedClause(qid: String, qidx: Int, term: String, boost: Float)

/** One phrase clause (≙ an analyzed Lucene PhraseQuery): `terms` are
  * the analyzed (term, offset) slots where offset is the token's position
  * within the phrase COUNTING stopped words (positionIncrement gaps), so
  * "quick the fox" with "the" stopped matches quick@p ∧ fox@p+2. Requires a
  * positions-enabled index (`IndexConfig.indexPositions`).
  *
  * `slop = 0` is exact adjacency (ExactPhraseScorer). `slop > 0` is sloppy
  * matching (`"…"~N`) via [[SloppyPhrase.freq]] — the faithful
  * SloppyPhraseScorer event walk: every match window within the slop
  * contributes the reference similarity's `computeSlopFactor`
  * `1/(matchLength+1)` (`BM25.java:110-114`) where matchLength is the
  * window width `end − min` over phase-adjusted positions, and slots
  * repeating a term are pinned to distinct document occurrences. For
  * 2-term phrases this coincides with the per-slot-nearest form the
  * q_phrase_slop_topk oracle replays as a SQL position self-join
  * (cross-checked on a random battery in PhraseSpec); the gate's sloppy
  * topics are 2-term, so the oracle stays exact.
  */
final case class PhraseClause(qid: String, qidx: Int,
                              terms: Seq[(String, Int)], boost: Float,
                              slop: Int = 0)

/** One constant-score expansion clause (≙ PrefixQuery under Lucene's
  * CONSTANT_SCORE rewrite): every document containing ANY of the expanded
  * vocabulary terms scores the clause boost exactly once. Expansion happens
  * against the index's sorted vocabulary projection (a pruned range scan,
  * never a postings or full-vocabulary pass).
  */
final case class ExpansionClause(qid: String, qidx: Int,
                                 terms: Seq[String], boost: Float)

/** One scored-expansion clause (≙ FuzzyQuery under Lucene 5.4's default
  * `TopTermsBlendedFreqScoringRewrite(50)`, the rewrite SimpleQueryParser's
  * `~N` produces for the reference at `BatchSearch.java:252`): each
  * expanded term scores like a boosted TermQuery whose docFreq is BLENDED —
  * the max df (and max cf) across the expansion set — and a document
  * matching several expanded terms sums their partials (BooleanQuery
  * SHOULD), in deterministic (distance asc, term asc) expansion order.
  * `terms` carries (term, fuzzyBoost) where fuzzyBoost is FuzzyTermsEnum's
  * `1 − editDistance / min(|query|, |term|)` (codepoints), 1.0 at
  * distance 0.
  */
final case class BlendedClause(qid: String, qidx: Int,
                               terms: Seq[(String, Float)], boost: Float)

/** One synonym-group clause (≙ Lucene `SynonymQuery`, the query-time
  * synonym-expansion primitive): the group scores as a SINGLE pseudo-term —
  * a document's frequency is the SUM of the member terms' tfs, saturated by
  * the scorer's TF function ONCE against one blended weight built from the
  * group's max docFreq (and summed collectionFreq), exactly
  * `SynonymQuery.SynonymWeight`'s `docFreq = max, totalTermFreq = Σ` /
  * `SynonymScorer.freq = Σ`. This differs from [[BlendedClause]] (fuzzy),
  * which scores each member separately and sums the PARTIALS.
  */
final case class SynonymClause(qid: String, qidx: Int,
                               terms: Seq[String], boost: Float)

/** Batch retrieval — the Spark-native reimplementation of the reference's
  * `BatchSearch` lifecycle (SURVEY.md §3.2). The Lucene boolean OR scorer
  * (union of query-term posting lists, per-doc float score sum, bounded
  * top-M heap, executed inside `searcher.search` at `BatchSearch.java:283`)
  * becomes:
  *
  *   postings lookup (bucket partition pruning + term predicate pushdown)
  *     → streaming blob decode → per-clause Float partial scores
  *     → one docid-partitioned shuffle, sorted by (query, doc, clause):
  *       a streaming per-(query, doc) sum in clause order (Float addition
  *       is not associative; SURVEY.md §7.5)
  *     → in the same stage, a per-partition bounded top-k heap ([[TopK]])
  *     → driver merge of the ≤ k rows per query per partition, ranks
  *     → docno attach (one pruned point-lookup job over the doc table)
  *       → dedup-by-docno keeping the first pre-dedup rank
  *       (`BatchSearch.java:290,296-304` — the FR-collection duplicate
  *       workaround; ranks skip after a duplicate, replicated faithfully).
  *
  * Query analysis reuses the index's persisted analyzer config, ruling out
  * the reference's possible index/query analyzer mismatch by construction.
  */
final class Searcher(val index: BuiltIndex) {
  private val spark: SparkSession = index.spark
  private val analyzer = new Analyzer(index.cfg.analyzer)
  // term → Some((df, cf)) | None for terms absent from the index — shared
  // ACROSS Searcher instances per immutable index identity (r6): entries
  // construct fresh Searchers on the same snapshot (delete overlays,
  // purge handles), and an index's term statistics never change, so the
  // memo belongs to the index, not the handle.
  private val statsCache = Searcher.statsCacheFor(index)

  /** Sorted tombstone docids (equality-delete overlay, [[graft.index
    * .Deletes]]), broadcast once per searcher; None on a delete-free index
    * so the common path pays nothing. Lucene semantics: tombstoned docs
    * are skipped at posting-decode time while df/dl/collection stats keep
    * their pre-delete values until a purge rewrites the index.
    */
  private lazy val tombstonesBc
      : Option[org.apache.spark.broadcast.Broadcast[Array[Long]]] = {
    val t = index.tombstones
    if (t.isEmpty) None
    else Some(spark.sparkContext.broadcast(t))
  }

  /** Top-k retrieval for a batch of topics. Default k mirrors the
    * reference's `returnedResultCount` (`LTRSettings.java:14`).
    */
  // every topic-batch entry point: clause/weight state is keyed (qid,
  // qidx), so two topics sharing a qid would silently blend their clause
  // sets (maxOverlap, requireAll counts, weights) — fail loudly instead
  private def requireDistinctQids(topics: Seq[Topic]): Unit =
    require(topics.map(_.qid).distinct.size == topics.size,
      s"topics must have distinct qids, got: ${topics.map(_.qid).mkString(", ")}")

  def search(topics: Seq[Topic], k: Int = 1000,
             scorerName: String = "bm25",
             pruning: Boolean = false,
             minShouldMatch: Int = 0): Dataset[RunLine] = {
    requireDistinctQids(topics)
    // ≙ SimpleQueryParser over analyzed text: one SHOULD clause per token
    // occurrence, in token order (`BatchSearch.java:189-190,252`).
    val clauses = topics.flatMap { t =>
      analyzer.analyze(t.text).zipWithIndex.map { case (term, i) =>
        WeightedClause(t.qid, i, term, 1.0f)
      }
    }
    searchClauses(clauses, k, scorerName, pruning = pruning,
      minShouldMatch = minShouldMatch)
  }

  /** Phrase-via-shingles rewrite (≙ Elasticsearch `index_phrases` /
    * MatchPhraseQuery routed to a 2-shingle subfield): on an index whose
    * analyzer interleaves word n-shingles ([[graft.analysis.AnalyzerConfig
    * .shingleSize]] > 1), an exact phrase of exactly n surviving words
    * rewrites to a SINGLE term query on the shingle term — no positional
    * decode and no per-document co-group: the read is one bucket-pruned,
    * position-column-free postings scan feeding the ordinary top-k
    * collector, which is the whole point of paying for shingles at index
    * time. Scored as a TermQuery with the shingle term's own statistics
    * (bigram df/cf, shingle-field doc length) — exactly ES's documented
    * trade: the hit set is the exact-phrase hit set under this field's
    * shingle semantics, while scores use the shingle field's stats rather
    * than the positional phrase weight. `phrases` carries raw phrase text
    * (no query syntax); phrases that don't analyze to exactly one shingle
    * must take the positional path, so that misuse fails loudly here.
    */
  def searchPhraseShingle(phrases: Seq[(String, String)], k: Int = 1000,
                          scorerName: String = "bm25"): Dataset[RunLine] = {
    requireDistinctQids(phrases.map(p => Topic(p._1, p._2)))
    val n = index.cfg.analyzer.shingleSize
    require(n > 1,
      "phrase-shingle rewrite needs a shingle-enabled index (AnalyzerConfig.shingleSize > 1)")
    val clauses = phrases.map { case (qid, text) =>
      val shingles = analyzer.analyze(text).filter(_.contains(' '))
      require(shingles.length == 1,
        s"phrase '$text' must analyze to exactly one $n-shingle (got " +
          s"${shingles.length}); longer phrases need the positional path")
      WeightedClause(qid, 0, shingles.head, 1.0f)
    }
    searchClauses(clauses, k, scorerName)
  }

  /** Per-hit scoring breakdown (≙ IndexSearcher.explain, the debugging
    * surface SearchFiles-style tools print): for each topic's top-`k`
    * documents, one row per MATCHING query term with the integer scoring
    * components (tf, dl, df) — everything a user needs to recompute the
    * similarity by hand, kept integer-exact so downstream checks are
    * float-free. The hit set is the collector's (bounded, ≤ k×|topics|
    * rows on the driver — same point-lookup seam as docno exclusions);
    * the component attach decodes ONLY the query terms' postings,
    * bucket-pruned and filtered to the explained docids in-row.
    */
  def explainStats(topics: Seq[Topic], k: Int = 5,
                   scorerName: String = "bm25"): DataFrame = {
    import spark.implicits._
    val hits = search(topics, k, scorerName).collect()
    val byQid: Map[String, Set[String]] =
      hits.groupBy(_.qid).map { case (q, hs) => q -> hs.map(_.docno).toSet }
    val hitDocnos = hits.map(_.docno).distinct.toSeq
    val ids: Map[String, Long] =
      if (hitDocnos.isEmpty) Map.empty
      else index.docs.where(col("docno").isin(hitDocnos: _*))
        .select("docno", "docid").as[(String, Long)].collect().toMap
    val qterms: Seq[(String, String)] = topics.flatMap(t =>
      analyzer.analyze(t.text).distinct.map(term => (t.qid, term)))
    // (docid → (qid, docno)) pairs for the explained hits, broadcast-sized
    val wanted: Map[Long, Array[(String, String)]] = byQid.toSeq
      .flatMap { case (q, ds) => ds.flatMap(d => ids.get(d).map(id => (id, (q, d)))) }
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toArray }
    val wantedB = spark.sparkContext.broadcast(wanted)
    val termsByQid: Map[String, Set[String]] =
      qterms.groupBy(_._1).map { case (q, ts) => q -> ts.map(_._2).toSet }
    val termsByQidB = spark.sparkContext.broadcast(termsByQid)
    val terms = qterms.map(_._2).distinct
    val buckets = terms.map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
    val comp = index.postingsDecode
      .where(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .as[PostingRun]
      .flatMap { run =>
        PostingCodec.decodeBlobs(run.ndocs, run.doc_blob, run.tf_blob, run.dl_blob)
          .flatMap { p =>
            wantedB.value.getOrElse(p.docid, Array.empty[(String, String)])
              .iterator
              .filter { case (q, _) => termsByQidB.value(q).contains(run.term) }
              .map { case (q, d) => (q, d, run.term, p.tf.toLong, p.dl.toLong) }
          }
      }.toDF("qid", "docno", "term", "tf", "dl")
    val dfs = index.termStats
      .where(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select(col("term"), col("df").cast("long").as("df"))
    comp.join(dfs, Seq("term"))
      .select(col("qid"), col("docno"), col("term"),
        col("tf"), col("dl"), col("df"))
  }

  /** Learning-to-rank feature extraction — the training-data surface a
    * ranking pipeline builds over a search engine (the reference's
    * namesake): for each topic's top-`k` documents, one row of
    * integer-exact ranking features aggregated from the matching terms'
    * scoring components ([[explainStats]]): match count, tf sum/max, doc
    * length, rarest-matched-term df, and the query's distinct-term count.
    * Integer-only so the extracted feature table replays exactly in any
    * engine (floats like the BM25 score itself are one saturation away
    * from these components). Same bounded shape as explainStats: ≤
    * k×|topics| driver-held hits, postings decode pruned to query terms.
    */
  def ltrFeatures(topics: Seq[Topic], k: Int = 5,
                  scorerName: String = "bm25"): DataFrame = {
    val nterms = topics.map(t =>
      (t.qid, analyzer.analyze(t.text).distinct.length.toLong))
    val ntDf = {
      import spark.implicits._
      nterms.toDF("qid", "nterms")
    }
    explainStats(topics, k, scorerName)
      .groupBy(col("qid"), col("docno"))
      .agg(count(lit(1)).as("n_matched"),
        sum("tf").as("sum_tf"), max("tf").as("max_tf"),
        max("dl").as("dl"), min("df").as("min_df"))
      .join(broadcast(ntDf), Seq("qid"))
      .select(col("qid"), col("docno"), col("n_matched"), col("sum_tf"),
        col("max_tf"), col("dl"), col("min_df"), col("nterms"))
  }

  /** Scored (qid, docid, score) stream for a topic batch — one SHOULD
    * clause per analyzed token like [[search]], but WITHOUT the top-k
    * collector: the per-field input [[MultiField.mostFields]] combines.
    */
  private[graft] def scoredTopics(topics: Seq[Topic],
                                   scorerName: String = "bm25")
      : Dataset[(String, Long, Float)] = {
    requireDistinctQids(topics)
    val clauses = topics.flatMap { t =>
      analyzer.analyze(t.text).zipWithIndex.map { case (term, i) =>
        WeightedClause(t.qid, i, term, 1.0f)
      }
    }
    scoredClauses(clauses, scorerName = scorerName)
  }

  /** Field-collapsed top-k (≙ Lucene's grouping module /
    * CollapsingTopDocsCollector over a SortedDocValues field — the code-
    * search "one hit per repository" shape): per query, each collapse key
    * keeps only its best document by the collector ordering, and the top-k
    * ranks the collapsed winners. `keys` is a (docid, ckey) doc-values
    * table — build it once per corpus with [[collapseKeyTable]] and reuse
    * across queries. Pruning is structurally off: block-max WAND's seed θ
    * bounds the global kth score, but a key's winner may rank anywhere.
    */
  def searchCollapsed(topics: Seq[Topic], keys: DataFrame, k: Int = 1000,
                      scorerName: String = "bm25"): Dataset[RunLine] = {
    requireDistinctQids(topics)
    val clauses = topics.flatMap { t =>
      analyzer.analyze(t.text).zipWithIndex.map { case (term, i) =>
        WeightedClause(t.qid, i, term, 1.0f)
      }
    }
    searchClauses(clauses, k, scorerName, collapseKeys = Some(keys))
  }

  /** Attribute-filtered search (≙ a BooleanQuery FILTER clause over a
    * doc-values field — "lang:java"): candidates outside `filterDocids`
    * (a (docid) table, e.g. a predicate over [[collapseKeyTable]]) are
    * removed before the collector, so ranks close up; scoring is
    * untouched. Composes with collapse via [[searchClauses]].
    */
  def searchFiltered(topics: Seq[Topic], filter: DataFrame, k: Int = 1000,
                     scorerName: String = "bm25"): Dataset[RunLine] = {
    requireDistinctQids(topics)
    val clauses = topics.flatMap { t =>
      analyzer.analyze(t.text).zipWithIndex.map { case (term, i) =>
        WeightedClause(t.qid, i, term, 1.0f)
      }
    }
    searchClauses(clauses, k, scorerName, filterDocids = Some(filter))
  }

  /** The (docid, ckey) doc-values table for [[searchCollapsed]]: index docs
    * joined once with the corpus attribute column — the Spark analog of
    * indexing a SortedDocValues field. One docno-keyed join per corpus,
    * amortized across every collapsed query (persist or checkpoint the
    * result for repeated use; at 10^12 docs write it grp-partitioned next
    * to the index so the per-query candidate join is co-located).
    */
  def collapseKeyTable(corpus: DataFrame, keyCol: String): DataFrame =
    index.docs.select(col("docid"), col("docno"))
      .join(corpus.select(col("docno"), col(keyCol).as("ckey")), Seq("docno"))
      .select(col("docid"), col("ckey"))

  /** Per-query facet counts over a doc-values attribute (≙ Lucene's facets
    * module over SortedSetDocValues — the search-UI "matches per language
    * / per repository" sidebar): for each topic, the number of DISTINCT
    * matching documents (disjunctive bag-of-words match, like [[search]])
    * per attribute value in `keys` (a (docid, ckey) table from
    * [[collapseKeyTable]]). Match-only by design: the scan reads just the
    * docid runs of the topics' terms ([[BuiltIndex.postingsMatch]] —
    * tf/dl/positions/block metadata never leave parquet), and the job is
    * two integer, map-side-combinable shuffles: distinct (qid, docid),
    * then the (qid, ckey) count. Documents without a key row are omitted,
    * like Lucene facets over docs missing the doc value.
    */
  def facetCounts(topics: Seq[Topic], keys: DataFrame): DataFrame = {
    requireDistinctQids(topics)
    import spark.implicits._
    val termQids: Map[String, Seq[String]] = topics
      .flatMap(t => analyzer.analyze(t.text).distinct.map(_ -> t.qid))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    if (termQids.isEmpty)
      return Seq.empty[(String, String, Long)].toDF("qid", "ckey", "n_docs")
    val buckets =
      termQids.keySet.map(IndexLayout.bucketOf(_, index.cfg.buckets)).toSeq
    val bc = spark.sparkContext.broadcast(termQids)
    val tombL = tombstonesBc
    val matched = index.postingsMatch
      .where(col("bucket").isin(buckets: _*) &&
        col("term").isin(termQids.keys.toSeq: _*))
      .as[PostingRun]
      .flatMap { run =>
        val qids = bc.value(run.term)
        PostingCodec.decodeDocids(run.ndocs, run.doc_blob)
          .filter(d => Searcher.liveDoc(tombL, d))
          .flatMap(d => qids.map(q => (q, d)))
      }
      .toDF("qid", "docid").distinct()
    matched.join(keys, Seq("docid"))
      .groupBy("qid", "ckey").agg(count(lit(1)).as("n_docs"))
  }

  /** Docnos of the documents matching one analyzed term — the candidate
    * surface index-sorted prefix scans ([[graft.index.SortedDocs]]) and
    * other docno-keyed structures filter on: one bucket-pruned docid-run
    * decode plus the DPP docno attach (only the docid ranges containing
    * matches are read from the doc table).
    */
  def termDocnos(text: String): DataFrame = {
    import spark.implicits._
    val terms = analyzer.analyze(text).distinct.toSeq
    require(terms.size == 1, s"termDocnos expects one analyzed term, got $terms")
    val term = terms.head
    val tombL = tombstonesBc
    val matched = index.postingsMatch
      .where(col("bucket") === IndexLayout.bucketOf(term, index.cfg.buckets) &&
        col("term") === term)
      .as[PostingRun]
      .flatMap { run =>
        PostingCodec.decodeDocids(run.ndocs, run.doc_blob)
          .filter(d => Searcher.liveDoc(tombL, d))
      }
      .toDF("docid")
    val docShift = index.cfg.groupShift + index.cfg.mergeShift
    index.docs.select($"docid", $"docno", $"grp")
      .join(matched.withColumn("grp", shiftright($"docid", docShift)),
        Seq("docid", "grp"))
      .select($"docno")
  }

  /** Sorted retrieval (≙ Lucene's TopFieldCollector with
    * Sort(SortField.STRING asc) and trackScores=false): the top-k MATCHING
    * documents per topic ordered by a doc-values attribute, docid-asc
    * tie-break — scoring is skipped entirely, so the scan reads only the
    * topics' docid runs ([[BuiltIndex.postingsMatch]]). Matching is the
    * disjunctive bag-of-words match of [[search]]; `keys` is a
    * (docid, ckey) table from [[collapseKeyTable]]. Docs without a key row
    * are omitted (Lucene would sort missing-value docs last). The per-qid
    * heap is bounded ([[SortTopKAgg]], map-side partials), so the shuffle
    * moves ≤ 4k rows per partition regardless of match count. Returns
    * (qid, docno, rank, ckey).
    */
  def searchSorted(topics: Seq[Topic], keys: DataFrame, k: Int = 1000): DataFrame = {
    requireDistinctQids(topics)
    import spark.implicits._
    val termQids: Map[String, Seq[String]] = topics
      .flatMap(t => analyzer.analyze(t.text).distinct.map(_ -> t.qid))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    if (termQids.isEmpty)
      return Seq.empty[(String, String, Long, String)]
        .toDF("qid", "docno", "rank", "ckey")
    val buckets =
      termQids.keySet.map(IndexLayout.bucketOf(_, index.cfg.buckets)).toSeq
    val bc = spark.sparkContext.broadcast(termQids)
    val tombL = tombstonesBc
    val matched = index.postingsMatch
      .where(col("bucket").isin(buckets: _*) &&
        col("term").isin(termQids.keys.toSeq: _*))
      .as[PostingRun]
      .flatMap { run =>
        val qids = bc.value(run.term)
        PostingCodec.decodeDocids(run.ndocs, run.doc_blob)
          .filter(d => Searcher.liveDoc(tombL, d))
          .flatMap(d => qids.map(q => (q, d)))
      }
      .toDF("qid", "docid").distinct()
    val agg = new SortTopKAgg(k,
      implicitly[Encoder[Seq[(String, Long)]]],
      implicitly[Encoder[Seq[(String, Long)]]])
    val top = matched.join(keys.select($"docid", $"ckey"), Seq("docid"))
      .select($"qid", $"docid", $"ckey")
      .as[(String, Long, String)]
      .groupByKey(_._1).agg(agg.toColumn)
    // r6: driver-side docno attach (see collectTopK) — the agg output is
    // ≤ k rows per topic by construction, the same rows the old broadcast
    // carried; one pruned point-lookup job replaces broadcast + join.
    val ranked: Seq[(String, Long, Long, String)] = top.collect().toSeq
      .flatMap { case (qid, hits) =>
        hits.iterator.zipWithIndex.map { case ((ckey, docid), i) =>
          (qid, docid, i.toLong, ckey)
        }
      }
    val byId = docnoLookup(ranked.map(_._2))
    ranked.flatMap { case (qid, docid, rank, ckey) =>
      byId.get(docid).map(docno => (qid, docno, rank, ckey))
    }.toDF("qid", "docno", "rank", "ckey")
  }

  /** Deep-pagination cursor (≙ Elasticsearch `search_after` / Lucene
    * `IndexSearcher.searchAfter(ScoreDoc)`): resume the collector ordering
    * (score desc, docid asc) strictly AFTER a per-topic cursor — the
    * stateless deep-paging surface. Page-N-by-prefetch ([[searchPaged]])
    * re-collects O(N·k) rows; a cursor page stays O(k) however deep, which
    * is the only viable deep-scroll at 10^12 docs. `cursors` maps qid →
    * (score, docno) of the last hit already consumed (the RunLine fields a
    * caller holds); the docno resolves to its docid through the same tiny
    * point lookup as docno exclusions, and the strict-after predicate is an
    * in-row filter on the scored stream — no extra shuffle, no driver
    * state beyond the cursor map. Score equality is exact: the engine's
    * Float scores are deterministic per (qid, docid), so a cursor captured
    * from a previous page reproduces its position bit-for-bit. Topics
    * without a cursor start from rank 0. Returned ranks are 0-based within
    * the continuation (like Elasticsearch, which returns no global rank).
    */
  def searchAfter(topics: Seq[Topic], cursors: Map[String, (Float, String)],
                  k: Int = 1000, scorerName: String = "bm25"): Dataset[RunLine] = {
    requireDistinctQids(topics)
    import spark.implicits._
    val docnos = cursors.values.map(_._2).toSeq.distinct
    val ids: Map[String, Long] =
      if (docnos.isEmpty) Map.empty
      else index.docs.where(col("docno").isin(docnos: _*))
        .select("docno", "docid").as[(String, Long)].collect().toMap
    val cur: Map[String, (Float, Long)] = cursors.map { case (q, (sc, dn)) =>
      q -> (sc, ids.getOrElse(dn,
        throw new IllegalArgumentException(s"cursor docno not in index: $dn")))
    }
    val curB = spark.sparkContext.broadcast(cur)
    val scored = scoredTopics(topics, scorerName)
      .filter { t =>
        curB.value.get(t._1).forall { case (cs, cd) =>
          t._3 < cs || (t._3 == cs && t._2 > cd)
        }
      }
    collectTopK(scored, k, Scorer.byName(scorerName).name)
  }

  /** Per-group top hits (≙ Elasticsearch `terms` aggregation with a
    * `top_hits` sub-aggregation / Lucene grouping's TopGroups): for each
    * (topic, attribute value) the best `n` matching documents by the
    * collector ordering (score desc, docid asc). Where [[searchCollapsed]]
    * keeps one winner per key inside a single global top-k,
    * topHits returns a bounded hit list under EVERY key — the "best
    * examples per repository / per language" drill-down a search UI pairs
    * with [[facetCounts]]. `keys` is a (docid, ckey) table from
    * [[collapseKeyTable]]. The per-(qid, ckey) heaps are the search
    * collector's ([[TopK.distributed]]: per-partition heaps merged under a
    * group key), so the shuffle moves ≤ n rows per group per partition
    * and only the merged n×|groups| hit list reaches the driver for the
    * docno attach. That list grows with the key column's cardinality, so
    * the collect stops at [[Searcher.MaxDriverHits]] + 1 rows and fails
    * loudly past the bound; an unbounded key column needs a distributed
    * tail (keep the scored join and rank distributively) instead.
    * Docs without a key row are omitted, like Lucene facets. Returns
    * (qid, ckey, docno, hit_rank) with hit_rank 0-based within the group.
    */
  def topHits(topics: Seq[Topic], keys: DataFrame, n: Int = 3,
              scorerName: String = "bm25"): DataFrame = {
    requireDistinctQids(topics)
    import spark.implicits._
    val keyed = scoredTopics(topics, scorerName).toDF("qid", "docid", "score")
      .join(keys.select($"docid", $"ckey"), Seq("docid"))
      .select(concat($"qid", lit("\u0000"), $"ckey").as("gk"),
        $"docid", $"score")
      .as[(String, Long, Float)]
    val rows = TopK.distributed(keyed, n).take(Searcher.MaxDriverHits + 1)
    require(rows.length <= Searcher.MaxDriverHits,
      s"topHits would collect more than ${Searcher.MaxDriverHits} hit rows " +
        s"(n=$n per (qid, key) group) to the driver; lower n or use a " +
        "lower-cardinality key column")
    // each group's rows arrive contiguous and best-first from one partition
    val ranked = rows.groupBy(_._1).toSeq.flatMap { case (gk, hits) =>
      val i = gk.indexOf('\u0000')
      val (qid, ckey) = (gk.substring(0, i), gk.substring(i + 1))
      hits.iterator.zipWithIndex.map { case ((_, docid, _), r) =>
        (qid, ckey, docid, r.toLong)
      }
    }
    val byId = docnoLookup(ranked.map(_._3))
    ranked.flatMap { case (qid, ckey, docid, r) =>
      byId.get(docid).map(docno => (qid, ckey, docno, r))
    }.toDF("qid", "ckey", "docno", "hit_rank")
  }

  /** docid → docno point lookup for a driver-bounded docid set, one job:
    * grp partition pruning over the docid-sorted doc files, plus either a
    * pushed-down docid literal list (≤ 4,096 ids) or, for a large topic
    * batch that must never build a million-literal expression tree, an
    * in-scan filter against a broadcast sorted docid array.
    */
  private def docnoLookup(ids: Seq[Long]): Map[Long, String] = {
    import spark.implicits._
    if (ids.isEmpty) return Map.empty
    val docShift = index.cfg.groupShift + index.cfg.mergeShift
    val sorted = ids.distinct.sorted.toArray
    val grps = sorted.map(_ >> docShift).distinct.toSeq
    val base = index.docs.where(col("grp").isin(grps: _*))
      .select("docid", "docno").as[(Long, String)]
    if (sorted.length <= 4096)
      base.where(col("docid").isin(sorted.toSeq: _*)).collect().toMap
    else {
      val idsB = spark.sparkContext.broadcast(sorted)
      try base.filter(t => java.util.Arrays.binarySearch(idsB.value, t._1) >= 0)
        .collect().toMap
      finally idsB.destroy()
    }
  }

  /** Per-document numeric boost table for [[searchFunctionScore]]: index
    * docids joined once with a factor expression over the corpus — the
    * Spark analog of indexing a NumericDocValues field. Like
    * [[collapseKeyTable]]: build once per corpus, persist grp-partitioned
    * next to the index at scale so the per-query join is co-located.
    */
  def factorTable(corpus: DataFrame, factor: Column): DataFrame =
    index.docs.select(col("docid"), col("docno"))
      .join(corpus.select(col("docno"), factor.cast("float").as("factor")),
        Seq("docno"))
      .select(col("docid"), col("factor"))

  /** Function-score retrieval (≙ Elasticsearch `function_score` with a
    * `field_value_factor` in multiply mode / Lucene's
    * FunctionScoreQuery(query, DoubleValuesSource)): each candidate's
    * query score is multiplied by a per-document factor from `factors`
    * (a (docid, factor: Float) table, see [[factorTable]]) — the
    * popularity/recency/quality boost surface. Docs without a factor row
    * keep `missing` (multiplicative identity 1 by default, like
    * field_value_factor's `missing`). The multiply happens AFTER clause
    * summation in Float, mirroring FunctionScoreQuery's boosting of the
    * completed inner score; the join adds one bounded exchange over the
    * candidate stream (candidates are bounded by the query terms'
    * postings, never the corpus).
    */
  def searchFunctionScore(topics: Seq[Topic], factors: DataFrame,
                          k: Int = 1000, scorerName: String = "bm25",
                          missing: Float = 1.0f): Dataset[RunLine] = {
    requireDistinctQids(topics)
    import spark.implicits._
    val boosted = scoredTopics(topics, scorerName).toDF("qid", "docid", "score")
      .join(factors.select($"docid", $"factor".cast("float").as("factor")),
        Seq("docid"), "left")
      .select($"qid", $"docid",
        ($"score" * coalesce($"factor", lit(missing))).cast("float").as("score"))
      .as[(String, Long, Float)]
    collectTopK(boosted, k, Scorer.byName(scorerName).name)
  }

  /** Conjunctive variant: only docs containing every analyzed query term. */
  def searchAnd(topics: Seq[Topic], k: Int = 1000,
                scorerName: String = "bm25"): Dataset[RunLine] = {
    requireDistinctQids(topics)
    val clauses = topics.flatMap { t =>
      analyzer.analyze(t.text).zipWithIndex.map { case (term, i) =>
        WeightedClause(t.qid, i, term, 1.0f)
      }
    }
    searchClauses(clauses, k, scorerName, mode = "and")
  }

  /** Pruning accumulators of the most recent pruned search (blocks decoded
    * vs skipped), populated once the returned Dataset is acted on — for
    * tests and diagnostics.
    */
  @volatile private var pruningAccs
      : Option[(org.apache.spark.util.LongAccumulator, org.apache.spark.util.LongAccumulator)] = None
  def lastPruning: (Long, Long) =
    pruningAccs.map { case (d, p) => (d.value.longValue, p.value.longValue) }
      .getOrElse((0L, 0L))

  /** The analyzed-leaf factory behind [[searchQuery]]: tokens run the full
    * index analyzer (a token analyzing to several terms becomes a
    * default-operator boolean group, ≙ `QueryBuilder.createBooleanQuery`; a
    * pure-stopword token dies at parse time like Lucene's null branch);
    * phrase text keeps positionIncrement gaps; prefix/fuzzy text is
    * lowercased but NOT stemmed/stopped, like Lucene's multi-term query
    * normalization. On a positions-less index a multi-word phrase degrades
    * to a MUST-group of its terms (documented fallback — the conjunction is
    * scoped to the phrase clause, unlike r2's whole-query AND).
    */
  private lazy val leafFactory: BoolQuery.LeafFactory = new BoolQuery.LeafFactory {
    import BoolQuery._
    private val hasPositions = index.cfg.indexPositions
    def token(text: String): Option[Node] = {
      val terms = analyzer.analyze(text)
      terms.length match {
        case 0 => None
        case 1 => Some(TermLeaf(terms.head))
        case _ => Some(BoolNode(
          terms.map(t => (Should: Occur, TermLeaf(t): Node)).toVector))
      }
    }
    def phrase(text: String, slop: Int): Option[Node] =
      if (hasPositions) {
        val slots = analyzer.analyzeWithPositions(text)
        if (slots.isEmpty) None
        else if (slots.length == 1) Some(TermLeaf(slots.head._1)) // Lucene rewrite
        else Some(PhraseLeaf(slots.toSeq, slop))
      } else {
        val terms = analyzer.analyze(text)
        if (terms.isEmpty) None
        else if (terms.length == 1) Some(TermLeaf(terms.head))
        else Some(BoolNode(
          terms.map(t => (Must: Occur, TermLeaf(t): Node)).toVector))
      }
    def prefix(text: String): Option[Node] =
      Some(PrefixLeaf(analyzer.lowercase(text)))
    def fuzzy(text: String, maxEdits: Int): Option[Node] =
      Some(FuzzyLeaf(analyzer.lowercase(text), maxEdits))
  }

  /** Full SimpleQueryParser retrieval (≙ `BatchSearch.java:252`'s
    * `parser.parse(queryText)` with every feature flag on): each topic's
    * text parses to a [[BoolQuery]] boolean tree — `+`/`|` left-associative
    * operator chains, `( )` groups, `-` negation via the match-all wrap,
    * `"…"`/`"…"~N` phrases, `*` prefix, `~N` fuzzy, `\` escapes — and the
    * tree is evaluated per document over the distributed partial-score
    * stream (see `trees` in [[searchClauses]]).
    *
    * Faithful-negation note: under the parser's default SHOULD operator a
    * negated clause does NOT exclude documents that match other SHOULD
    * clauses — it contributes a match-all branch scoring a constant 1 to
    * every document outside the negated set (the well-documented
    * `SimpleQueryParser` wrap). Callers wanting a true sibling MUST_NOT
    * (hard exclusion) build it programmatically via
    * [[searchClauses]]'s `negTerms`.
    */
  def searchQuery(topics: Seq[Topic], k: Int = 1000,
                  scorerName: String = "bm25",
                  pruning: Boolean = false): Dataset[RunLine] = {
    import BoolQuery._
    // treeB is keyed by qid (last-wins): colliding qids would leave both
    // topics' clauses covered by one surviving TreeSpec (the uncovered-qid
    // check below cannot catch this case)
    requireDistinctQids(topics)
    val wc = Seq.newBuilder[WeightedClause]
    val pc = Seq.newBuilder[PhraseClause]
    val ec = Seq.newBuilder[ExpansionClause]
    val bc = Seq.newBuilder[BlendedClause]
    val treeB = Map.newBuilder[String, TreeSpec]
    topics.foreach { t =>
      BoolQuery.parse(t.text, leafFactory).foreach { root =>
        var i = 0
        val prohibited = Set.newBuilder[Int]
        var nMatchAll = 0
        def go(n: Node, underNot: Boolean): EvalNode = n match {
          case MatchAllNode =>
            if (!underNot) nMatchAll += 1
            EConst(1.0f) // queryNorm folded in by searchClauses
          case TermLeaf(term) =>
            val q = i; i += 1; if (underNot) prohibited += q
            wc += WeightedClause(t.qid, q, term, 1.0f)
            ELeaf(q)
          case PhraseLeaf(slots, slop) =>
            val q = i; i += 1; if (underNot) prohibited += q
            pc += PhraseClause(t.qid, q, slots, 1.0f, slop)
            ELeaf(q)
          case PrefixLeaf(p) =>
            val q = i; i += 1; if (underNot) prohibited += q
            ec += ExpansionClause(t.qid, q, expandPrefix(p), 1.0f)
            ELeaf(q)
          case FuzzyLeaf(base, d) =>
            val q = i; i += 1; if (underNot) prohibited += q
            val baseCp = base.codePointCount(0, base.length)
            val boosted = expandFuzzy(base, d).map { case (term, dist) =>
              val termCp = term.codePointCount(0, term.length)
              val boost = if (dist == 0) 1.0f
                else 1.0f - dist.toFloat / math.min(baseCp, termCp).toFloat
              (term, boost)
            }
            bc += BlendedClause(t.qid, q, boosted, 1.0f)
            ELeaf(q)
          case BoolNode(children) =>
            EBool(children.map { case (occ, child) =>
              val code = occ match {
                case Must => 0
                case Should => 1
                case MustNot => 2
              }
              (code, go(child, underNot || occ == MustNot))
            }.toArray)
        }
        val root2 = go(root, underNot = false)
        treeB += t.qid -> TreeSpec(root2, prohibited.result(), nMatchAll)
      }
    }
    val trees = treeB.result()
    if (trees.isEmpty) {
      import spark.implicits._
      return spark.emptyDataset[RunLine]
    }
    searchClauses(wc.result(), k, scorerName, pruning = pruning,
      phraseClauses = pc.result(), expansionClauses = ec.result(),
      blendedClauses = bc.result(), trees = trees)
  }

  /** Analyzed, expanded highlight vocabulary of a query text: terms of
    * every scoring (non-MUST_NOT) leaf — loose terms, phrase slots,
    * prefix/fuzzy expansions (≙ Lucene's `QueryScorer` term extraction,
    * which skips prohibited clauses; `BatchSearch.java:318`).
    */
  def highlightTerms(text: String): Set[String] =
    BoolQuery.parse(text, leafFactory).map { root =>
      val out = Set.newBuilder[String]
      def go(n: BoolQuery.Node): Unit = n match {
        case BoolQuery.TermLeaf(t) => out += t
        case BoolQuery.PhraseLeaf(slots, _) => slots.foreach(out += _._1)
        case BoolQuery.PrefixLeaf(p) => expandPrefix(p).foreach(out += _)
        case BoolQuery.FuzzyLeaf(b, d) => expandFuzzy(b, d).foreach(out += _._1)
        case BoolQuery.BoolNode(cs) =>
          cs.foreach { case (occ, c) => if (occ != BoolQuery.MustNot) go(c) }
        case BoolQuery.MatchAllNode =>
      }
      go(root)
      out.result()
    }.getOrElse(Set.empty)

  /** Vocabulary terms starting with `prefix`: a pruned range scan over the
    * sorted vocabulary projection — the `len >= |prefix|` partition filter
    * plus a pushed-down `StringStartsWith` over term-sorted row groups, so
    * a web-scale vocabulary is never fully scanned. Capped: a degenerate
    * one-letter prefix must fail loudly, not OOM the driver.
    */
  // Expansions memoized per searcher (the index is immutable): repeated
  // topics, and the CLI's snippet-highlight pass over the same topics,
  // reuse the scan instead of re-running it.
  private val prefixCache =
    new scala.collection.concurrent.TrieMap[(String, Int), Seq[String]]()
  private val fuzzyCache =
    new scala.collection.concurrent.TrieMap[(String, Int, Int), Seq[(String, Int)]]()

  def expandPrefix(prefix: String, cap: Int = 4096): Seq[String] =
    prefixCache.getOrElseUpdate((prefix, cap), {
      import spark.implicits._
      val out = prefixScan(prefix).select("term").distinct()
        .as[String].take(cap + 1).toSeq
      require(out.size <= cap, s"prefix '$prefix*' expands past $cap terms")
      out
    })

  /** The pruned vocabulary scan behind [[expandPrefix]] (exposed so specs
    * can assert the plan pushes the prefix predicate and prunes the length
    * partitions instead of scanning the vocabulary).
    */
  def prefixScan(prefix: String): org.apache.spark.sql.DataFrame =
    index.vocab
      .where(col("len") >= prefix.length && col("term").startsWith(prefix))

  /** Vocabulary terms within Levenshtein distance `maxEdits` of `base`,
    * with their distances — the top `maxExpansions` by (distance asc,
    * term asc), matching Lucene's TopTermsRewrite queue order (highest
    * boost first, ties to the lexicographically smaller term). The scan
    * partition-prunes to the ±maxEdits length band of the vocabulary
    * projection; truncation to maxExpansions mirrors FuzzyQuery's
    * maxExpansions=50 default instead of failing.
    */
  def expandFuzzy(base: String, maxEdits: Int,
                  maxExpansions: Int = 50): Seq[(String, Int)] =
    fuzzyCache.getOrElseUpdate((base, maxEdits, maxExpansions), {
      import spark.implicits._
      index.vocab
        .where(col("len") >= base.length - maxEdits &&
          col("len") <= base.length + maxEdits)
        .select(col("term"), levenshtein(col("term"), lit(base)).as("d"))
        .where(col("d") <= maxEdits)
        .distinct()
        .orderBy(col("d"), col("term"))
        .as[(String, Int)].take(maxExpansions).toSeq
    })

  /** Did-you-mean suggestions (≙ Lucene's DirectSpellChecker over the
    * index terms): for each input term the top `topN` vocabulary terms
    * within `maxEdits` (plain Levenshtein), ranked by (distance asc,
    * df desc, term asc) — DirectSpellChecker's score order with its
    * docFreq tie-break. Inputs the corpus already knows (df >
    * `maxQueryFrequency` docs; default 0 = only correct absent terms) get
    * no suggestions, like its maxQueryFrequency gate. Scale shape: one
    * length-band partition-pruned vocab scan serves the whole input batch
    * (inputs broadcast into a nested-loop join — the automaton-intersect
    * analog), and df attaches by broadcasting the tiny surviving candidate
    * set against the column-pruned term_stats scan. Returns (q,
    * suggestion, dist, df, rank).
    */
  def suggest(inputs: Seq[String], maxEdits: Int = 2, topN: Int = 5,
              maxQueryFrequency: Long = 0): DataFrame = {
    require(inputs.nonEmpty, "suggest needs at least one input term")
    require(maxEdits >= 1 && maxEdits <= 4, s"maxEdits out of range: $maxEdits")
    import spark.implicits._
    // df of the inputs themselves: tiny bucket-pruned point lookup
    val inBuckets = inputs.map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
    val knownDf: Map[String, Long] = index.termStats
      .where(col("bucket").isin(inBuckets: _*) && col("term").isin(inputs: _*))
      .select("term", "df").as[(String, Long)].collect().toMap
    val active = inputs.distinct
      .filter(t => knownDf.getOrElse(t, 0L) <= maxQueryFrequency)
    val empty = Seq.empty[(String, String, Long, Long, Long)]
      .toDF("q", "suggestion", "dist", "df", "rank")
    if (active.isEmpty) return empty
    val lens = active.map(_.length)
    val cands = index.vocab
      .where(col("len") >= lens.min - maxEdits &&
        col("len") <= lens.max + maxEdits)
      .join(broadcast(active.toDF("q")),
        abs(col("len") - length(col("q"))) <= maxEdits &&
          levenshtein(col("term"), col("q")) <= maxEdits)
      .select(col("q"), col("term"),
        levenshtein(col("term"), col("q")).cast("long").as("dist"))
      .distinct() // a delta-union vocab may list a term once per delta
    val scored = index.termStats.select(col("term"), col("df"))
      .join(broadcast(cands), Seq("term"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q")).orderBy(col("dist").asc, col("df").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long") - 1)
      .where(col("rank") < topN)
      .select(col("q"), col("term").as("suggestion"), col("dist"),
        col("df").cast("long").as("df"), col("rank"))
  }

  /** Adjacency-matrix aggregation (≙ ES `adjacency_matrix`): given named
    * single-term filters, document counts for every filter and every
    * pairwise intersection (key `a&b`, names in ascending order) — the
    * co-occurrence matrix behind graph-style dashboards. One
    * bucket-pruned docid-run decode feeds a self-join of the tiny
    * (name, docid) match stream on docid (upper triangle kept, self-pairs
    * are the singles) and one count aggregation; per-doc fan-out is
    * bounded by |filters|², which ES bounds identically (filter count is
    * a request-size constant, not data).
    */
  def adjacencyMatrix(filters: Seq[(String, String)]): DataFrame = {
    require(filters.nonEmpty, "adjacencyMatrix needs at least one filter")
    require(filters.map(_._1).distinct.size == filters.size,
      "duplicate filter names")
    require(filters.forall(!_._1.contains("&")), "'&' is the key separator")
    import spark.implicits._
    val termsByName: Seq[(String, String)] = filters.map { case (n, text) =>
      val ts = analyzer.analyze(text).distinct
      require(ts.length == 1, s"filter '$n' must analyze to one term, got ${ts.toSeq}")
      (n, ts.head)
    }
    val byTerm: Map[String, Array[String]] = termsByName.groupBy(_._2)
      .map { case (t, xs) => t -> xs.map(_._1).toArray }
    val buckets =
      byTerm.keySet.map(IndexLayout.bucketOf(_, index.cfg.buckets)).toSeq
    val bc = spark.sparkContext.broadcast(byTerm)
    val tombL = tombstonesBc
    val matched = index.postingsMatch
      .where(col("bucket").isin(buckets: _*) &&
        col("term").isin(byTerm.keys.toSeq: _*))
      .as[PostingRun]
      .flatMap { run =>
        val names = bc.value(run.term)
        PostingCodec.decodeDocids(run.ndocs, run.doc_blob)
          .filter(d => Searcher.liveDoc(tombL, d))
          .flatMap(d => names.iterator.map(n => (n, d)))
      }
      .toDF("name", "docid").distinct()
    matched.as("a")
      .join(matched.as("b"),
        col("a.docid") === col("b.docid") && col("a.name") <= col("b.name"))
      .select(when(col("a.name") === col("b.name"), col("a.name"))
        .otherwise(concat(col("a.name"), lit("&"), col("b.name"))).as("key"))
      .groupBy("key").agg(count(lit(1)).as("n_docs"))
  }

  /** Phrase suggester (≙ Elasticsearch's phrase suggester with a
    * direct_generator and stupid_backoff smoothing over a 2-shingle
    * field): per input SLOT, candidate terms within `maxEdits` of the
    * input term from the pruned vocabulary — top `perSlot` by
    * DirectSpellChecker's (dist asc, df desc, term asc) order, the input
    * term itself naturally first at dist 0 when indexed. Candidate
    * SEQUENCES (the per-slot cartesian product, ≤ perSlot^slots — bounded
    * exactly like ES's per-shard candidate generation) are scored with
    * the stupid-backoff bigram LM:
    *   score = log₂ P(w₁) + Σᵢ log₂ P(wᵢ | wᵢ₋₁)
    *   P(w)   = cf(w) / T
    *   P(w|v) = cf("v w") / cf(v) when the shingle index knows the
    *            bigram, else discount · cf(w) / T
    * where bigram cfs come from `shingleIdx`'s term_stats — the 2-shingle
    * field IS ES's prerequisite for this suggester — and unigram cf / T
    * from this index. Returns (qid, suggestion, rank), top `topN` per
    * input by (score desc, suggestion asc). All index traffic is
    * bucket-pruned point lookups; the combinatorics stay on the driver.
    */
  def phraseSuggest(inputs: Seq[(String, String)], shingleIdx: BuiltIndex,
                    maxEdits: Int = 2, perSlot: Int = 3, topN: Int = 3,
                    discount: Double = 0.4): DataFrame = {
    require(inputs.nonEmpty, "phraseSuggest needs at least one input")
    requireDistinctQids(inputs.map(p => Topic(p._1, p._2)))
    require(shingleIdx.cfg.analyzer.shingleSize == 2,
      "phraseSuggest needs a 2-shingle index for the bigram LM")
    import spark.implicits._
    val slots: Seq[(String, Array[String])] =
      inputs.map { case (qid, text) => qid -> analyzer.analyze(text) }
    slots.foreach { case (qid, ts) =>
      require(ts.length >= 2 && ts.length <= 4,
        s"phraseSuggest input '$qid' must analyze to 2-4 terms, got ${ts.length}")
    }
    val inTerms = slots.flatMap(_._2).distinct
    // one length-banded vocab scan serves every slot's candidate set
    val lens = inTerms.map(_.length)
    val cands = index.vocab
      .where(col("len") >= lens.min - maxEdits &&
        col("len") <= lens.max + maxEdits)
      .join(broadcast(inTerms.toDF("q")),
        abs(col("len") - length(col("q"))) <= maxEdits &&
          levenshtein(col("term"), col("q")) <= maxEdits)
      .select(col("q"), col("term"),
        levenshtein(col("term"), col("q")).as("dist"))
      .distinct()
    val ranked: Map[String, Seq[(String, Long)]] = index.termStats
      .select(col("term"), col("df"), col("cf"))
      .join(broadcast(cands), Seq("term"))
      .select("q", "term", "dist", "df", "cf")
      .as[(String, String, Int, Long, Long)]
      .collect()
      .groupBy(_._1)
      .map { case (q, rows) =>
        q -> rows.sortBy(r => (r._3, -r._4, r._2)).take(perSlot)
          .map(r => (r._2, r._5)).toSeq
      }
    val totalT = index.stats.sum_total_term_freq.toDouble
    // all candidate sequences, driver-side (≤ perSlot^slots per input)
    val seqs: Seq[(String, Seq[String])] = slots.flatMap { case (qid, ts) =>
      val perSlotCands: Seq[Seq[String]] =
        ts.toSeq.map(t => ranked.getOrElse(t, Seq.empty).map(_._1))
      if (perSlotCands.exists(_.isEmpty)) Seq.empty
      else perSlotCands.foldLeft(Seq(Seq.empty[String])) { (acc, cs) =>
        acc.flatMap(prefix => cs.map(prefix :+ _))
      }.map(qid -> _)
    }
    if (seqs.isEmpty)
      return Seq.empty[(String, String, Long)].toDF("qid", "suggestion", "rank")
    val uniCf: Map[String, Long] =
      ranked.values.flatten.toMap
    // bigram collection frequencies: one bucket-pruned point lookup on the
    // shingle index for every adjacent pair any sequence uses
    val pairs = seqs.flatMap { case (_, ws) =>
      ws.sliding(2).map(p => p.head + " " + p(1))
    }.distinct
    val pairBuckets =
      pairs.map(IndexLayout.bucketOf(_, shingleIdx.cfg.buckets)).distinct
    val bigCf: Map[String, Long] = shingleIdx.termStats
      .where(col("bucket").isin(pairBuckets: _*) && col("term").isin(pairs: _*))
      .select("term", "cf").as[(String, Long)].collect().toMap
    def log2(x: Double): Double = math.log(x) / math.log(2.0)
    val scoredRows = seqs.map { case (qid, ws) =>
      var score = log2(uniCf(ws.head) / totalT)
      ws.sliding(2).foreach { p =>
        val big = bigCf.get(p.head + " " + p(1))
        score += (big match {
          case Some(c12) => log2(c12.toDouble / uniCf(p.head))
          case None => log2(discount * uniCf(p(1)) / totalT)
        })
      }
      (qid, ws.mkString(" "), score)
    }
    scoredRows.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      rows.sortBy(r => (-r._3, r._2)).take(topN).zipWithIndex
        .map { case ((_, sug, _), i) => (qid, sug, i.toLong) }
    }.toDF("qid", "suggestion", "rank")
  }

  /** SpanNearQuery over two single-term spans, both directions.
    *
    * `ordered = true` is the faithful NearSpansOrdered enumeration:
    * repeatedly stretch to order (first B strictly after the current A),
    * shrink to the shortest match (the LARGEST A before that B), emit
    * slop factor 1/(1+gap) when the gap is within `slop`, then advance
    * the first span past the shrunk A. Note the shrink step makes this
    * genuinely different from the sloppy phrase's event walk: each B
    * pairs with at most its closest A, and skipped A's are consumed.
    *
    * `ordered = false` is the faithful NearSpansUnordered enumeration:
    * visit every cursor state reachable by advancing the min-start span,
    * match when maxEnd − minStart − totalSpanLength ≤ slop, slop factor
    * from width() = the start-position difference (Lucene's unordered
    * width, distinct from the ordered walk's gap).
    *
    * Scored like phrases: the walk's freq through the similarity's TF
    * saturation against the accumulated two-term weight. One
    * bucket-pruned positional scan serves the batch.
    */
  def searchSpanNear(spans: Seq[(String, String, String, Int)], k: Int = 1000,
                     scorerName: String = "bm25",
                     ordered: Boolean = true): Dataset[RunLine] = {
    require(spans.nonEmpty, "searchSpanNear needs at least one span")
    require(spans.map(_._1).distinct.size == spans.size,
      "duplicate qids in one span batch")
    require(spans.forall(_._4 >= 0), "slop must be non-negative")
    require(spans.forall(s => s._2 != s._3),
      "span near of a repeated term needs repeat-occurrence pinning; unsupported")
    require(index.cfg.indexPositions,
      "span queries need a positions-enabled index (IndexConfig.indexPositions)")
    import spark.implicits._
    val scorer = Scorer.byName(scorerName)
    val stats = CollStats(index.stats.max_doc, index.stats.sum_total_term_freq)
    val terms = spans.flatMap(s => Seq(s._2, s._3)).distinct
    val buckets = terms.map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
    val dfs: Map[String, (Long, Long)] = index.termStats
      .where(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select("term", "df", "cf").as[(String, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    // span index -> accumulated weight (both terms must be indexed)
    val spanArr = spans.toArray
    val weights: Map[Int, Float] = spanArr.zipWithIndex.collect {
      case ((_, ta, tb, _), si) if dfs.contains(ta) && dfs.contains(tb) =>
        si -> scorer.phraseWeight(
          Seq(dfs(ta), dfs(tb)), stats)
    }.toMap
    if (weights.isEmpty) return spark.emptyDataset[RunLine]
    // term -> [(span index, slot 0=A/1=B)]
    val slots: Map[String, Array[(Int, Int)]] = spanArr.zipWithIndex.toSeq
      .filter { case (_, si) => weights.contains(si) }
      .flatMap { case ((_, ta, tb, _), si) => Seq((ta, si, 0), (tb, si, 1)) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(x => (x._2, x._3)).toArray }
    val sBuckets = slots.keys.toSeq
      .map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
    val posts = index.postings
      .where(col("bucket").isin(sBuckets: _*) &&
        col("term").isin(slots.keys.toSeq: _*))
      .as[graft.index.PostingRun]
    val occ: Dataset[(Int, Long, Int, Array[Int], Int)] = posts.flatMap { run =>
      val ss = slots(run.term)
      graft.codec.PostingCodec.decodeBlobs(run.ndocs, run.doc_blob,
          run.tf_blob, run.dl_blob, run.pos_blob)
        .flatMap { p =>
          ss.iterator.map { case (si, slot) => (si, p.docid, slot, p.pos, p.dl) }
        }
    }
    val scorerB = scorer
    val statsB = stats
    val tombL = tombstonesBc
    val spanArrB = spanArr
    val weightsB = weights
    val orderedB = ordered
    val scored: Dataset[(String, Long, Float)] = occ
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups[(String, Long, Float)] {
        (key: (Int, Long), it: Iterator[(Int, Long, Int, Array[Int], Int)]) =>
        var la: Array[Int] = null
        var lb: Array[Int] = null
        var dl = 0
        it.foreach { r =>
          if (r._3 == 0) la = r._4 else lb = r._4
          dl = r._5
        }
        if (la == null || lb == null || !Searcher.liveDoc(tombL, key._2))
          Iterator.empty
        else {
          val (qid, _, _, slop) = spanArrB(key._1)
          var freq = 0.0f
          if (orderedB) {
            var i = 0
            while (i < la.length) {
              val a = la(i)
              // first B strictly after a (stretchToOrder)
              var bi = java.util.Arrays.binarySearch(lb, a + 1)
              if (bi < 0) bi = -bi - 1
              if (bi >= lb.length) { i = la.length } // exhausted: stop
              else {
                val b = lb(bi)
                // shrink: the largest A before b; ai = count of A's < b
                var ai = java.util.Arrays.binarySearch(la, b)
                if (ai < 0) ai = -ai - 1
                val aShrunk = la(ai - 1) // ai ≥ i+1 > 0 since la(i) < b
                val gap = b - aShrunk - 1
                if (gap <= slop) freq += 1.0f / (1 + gap)
                i = ai // advance the first span past the shrunk A
              }
            }
          } else {
            // NearSpansUnordered: visit every state reachable by advancing
            // the min-start span; a state matches when maxEnd − minStart −
            // totalSpanLength ≤ slop (⇔ width − 1 ≤ slop for single-term
            // spans), contributing the slop factor of width() = the START
            // position difference — NOT the ordered walk's gap (Lucene's
            // ordered width is lastStart − firstEnd; the asymmetry is the
            // reference behavior, spec-locked)
            var i = 0
            var j = 0
            while (i < la.length && j < lb.length) {
              val pa = la(i)
              val pb = lb(j)
              val width = math.abs(pa - pb)
              if (width - 1 <= slop) freq += 1.0f / (1 + width)
              if (pa <= pb) i += 1 else j += 1
            }
          }
          if (freq == 0.0f) Iterator.empty
          else Iterator.single((qid, key._2,
            scorerB.score(freq, dl, weightsB(key._1), statsB)))
        }
      }
    collectTopK(scored, k, scorer.name)
  }

  /** Query rescorer (≙ Elasticsearch `rescore`, score_mode total): the
    * cheap base query ranks everything; only its top-`window` docs per
    * query are re-scored as `base + weight · rescoreScore` and re-sorted
    * — a doc outside the window can never jump in, which is the point
    * (the expensive clause runs against a bounded candidate set). Here
    * the rescorer is a phrase clause batch (the classic "proximity
    * rescore" pattern). The window is the search collector's own heap
    * ([[TopK.distributed]]: per-partition heaps merged under a qid
    * group), so it stays on the cluster — never on the driver.
    */
  def searchRescore(topics: Seq[Topic], rescoreClauses: Seq[PhraseClause],
                    window: Int, weight: Float, k: Int = 1000,
                    scorerName: String = "bm25"): Dataset[RunLine] = {
    requireDistinctQids(topics)
    require(k <= window, s"k=$k exceeds the rescore window=$window")
    import spark.implicits._
    val clauses = topics.flatMap { t =>
      analyzer.analyze(t.text).zipWithIndex.map { case (term, i) =>
        WeightedClause(t.qid, i, term, 1.0f)
      }
    }
    val windowRows = TopK.distributed(scoredClauses(clauses, window, scorerName), window)
    val ph = scoredClauses(Nil, window, scorerName,
      phraseClauses = rescoreClauses)
    val w = weight
    val rescored = windowRows.toDF("qid", "docid", "score")
      .join(ph.toDF("qid", "docid", "phscore"), Seq("qid", "docid"), "left_outer")
      .select($"qid", $"docid",
        when($"phscore".isNull, $"score")
          .otherwise($"score" + lit(w) * $"phscore").as("score"))
      .as[(String, Long, Float)]
    collectTopK(rescored, k, Scorer.byName(scorerName).name)
  }

  /** DisjunctionMaxQuery: per document the BEST clause score wins, the
    * others contribute `tieBreaker` times their score —
    * `max + tie·(sum − max)` (tie 0 = pure max, tie 1 = the OR sum).
    * Lucene's remedy for the "same word in many fields" inflation; here
    * over the analyzed topic terms as the sub-queries. The partial stream
    * is the ordinary bucket-pruned decode; the combiner folds in clause
    * order so the float result is deterministic.
    */
  def searchDisMax(topics: Seq[Topic], k: Int = 1000,
                   tieBreaker: Float = 0.0f,
                   scorerName: String = "bm25"): Dataset[RunLine] = {
    requireDistinctQids(topics)
    require(tieBreaker >= 0.0f && tieBreaker <= 1.0f,
      s"tieBreaker out of [0,1]: $tieBreaker")
    import spark.implicits._
    val scorer = Scorer.byName(scorerName)
    val stats = CollStats(index.stats.max_doc, index.stats.sum_total_term_freq)
    // one sub-query per DISTINCT analyzed term (first-occurrence order):
    // DisMaxQuery sub-queries are a set here, and the oracle's
    // `SELECT DISTINCT qid, term` replays exactly that — a repeated topic
    // term must not add its score twice to the tie-broken sum (ADVICE r5;
    // DisMaxBoostSpec pins the repeated-term case)
    val clauses = topics.flatMap { t =>
      analyzer.analyze(t.text).distinct.zipWithIndex.map { case (term, i) =>
        WeightedClause(t.qid, i, term, 1.0f)
      }
    }
    val terms = clauses.map(_.term).distinct
    val buckets = terms.map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
    val dfs: Map[String, (Long, Long)] = index.termStats
      .where(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select("term", "df", "cf").as[(String, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val plan: Map[String, (Float, Array[(String, Int)])] =
      clauses.groupBy(_.term).flatMap { case (term, cs) =>
        dfs.get(term).map { case (df, cf) =>
          term -> (scorer.termWeight(df, cf, stats),
            cs.map(c => (c.qid, c.qidx)).toArray)
        }
      }
    if (plan.isEmpty) return spark.emptyDataset[RunLine]
    val pBuckets = plan.keys.toSeq
      .map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
    val posts = index.postingsDecode
      .where(col("bucket").isin(pBuckets: _*) &&
        col("term").isin(plan.keys.toSeq: _*))
      .as[graft.index.PostingRun]
    val scorerB = scorer
    val statsB = stats
    val tombL = tombstonesBc
    val tie = tieBreaker
    val partials: Dataset[(String, Long, Int, Float)] = posts.flatMap { run =>
      val (idf, cs) = plan(run.term)
      graft.codec.PostingCodec.decodeBlobs(run.ndocs, run.doc_blob,
          run.tf_blob, run.dl_blob)
        .flatMap { p =>
          if (!Searcher.liveDoc(tombL, p.docid)) Iterator.empty
          else {
            val s = scorerB.score(p.tf, p.dl, idf, statsB)
            cs.iterator.map { case (qid, qidx) => (qid, p.docid, qidx, s) }
          }
        }
    }
    val scored: Dataset[(String, Long, Float)] = partials
      .groupByKey(t => (t._1, t._2))
      .mapGroups[(String, Long, Float)] {
        (key: (String, Long), it: Iterator[(String, Long, Int, Float)]) =>
        val arr = it.toArray.sortBy(_._3)
        var max = Float.NegativeInfinity
        var sum = 0.0f
        arr.foreach { r => sum += r._4; if (r._4 > max) max = r._4 }
        (key._1, key._2, max + tie * (sum - max))
      }
    collectTopK(scored, k, scorer.name)
  }

  /** Boosting query (≙ Elasticsearch `boosting`): the positive query
    * ranks as usual, but documents also matching the negative term keep
    * their position in the candidate set with their score DEMOTED by
    * `negativeBoost` (unlike MUST_NOT, which removes them). The negative
    * postings decode to (qid, docid) pairs and demote via a distributed
    * left join — no driver-side doc sets.
    */
  def searchBoosting(topics: Seq[Topic], negTerms: Seq[(String, String)],
                     negativeBoost: Float, k: Int = 1000,
                     scorerName: String = "bm25"): Dataset[RunLine] = {
    requireDistinctQids(topics)
    require(negativeBoost > 0.0f && negativeBoost < 1.0f,
      s"negativeBoost must demote, got $negativeBoost")
    import spark.implicits._
    val clauses = topics.flatMap { t =>
      analyzer.analyze(t.text).zipWithIndex.map { case (term, i) =>
        WeightedClause(t.qid, i, term, 1.0f)
      }
    }
    val scores = scoredClauses(clauses, k, scorerName)
    val negByTerm: Map[String, Array[String]] =
      negTerms.groupBy(_._2).map { case (t, qs) => t -> qs.map(_._1).distinct.toArray }
    val negBuckets = negByTerm.keys.toSeq
      .map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
    val negPosts = index.postingsDecode
      .where(col("bucket").isin(negBuckets: _*) &&
        col("term").isin(negByTerm.keys.toSeq: _*))
      .as[graft.index.PostingRun]
    val negPairs = negPosts.flatMap { run =>
      val qids = negByTerm(run.term)
      graft.codec.PostingCodec.decodeBlobs(run.ndocs, run.doc_blob,
          run.tf_blob, run.dl_blob)
        .flatMap(p => qids.iterator.map(q => (q, p.docid)))
    }.toDF("qid", "docid").distinct() // two neg terms ⇒ one demotion, not two rows
      .withColumn("neg", lit(true))
    val nb = negativeBoost
    val demoted = scores.toDF("qid", "docid", "score")
      .join(negPairs, Seq("qid", "docid"), "left_outer")
      .select($"qid", $"docid",
        when($"neg", $"score" * nb).otherwise($"score").as("score"))
      .as[(String, Long, Float)]
    collectTopK(demoted, k, Scorer.byName(scorerName).name)
  }

  /** Completion suggester (≙ suggest-as-you-type / a weighted
    * CompletionQuery over the vocabulary): for each (qid, prefix), the
    * top-`topN` indexed terms with that prefix by popularity — collection
    * frequency desc, term asc. The candidate set is the same pruned
    * prefix scan as [[expandPrefix]] (pushed StringStartsWith + len
    * bound), weights attach via the bucket-pruned term_stats lookup;
    * driver state is the expansion cap, like every other vocab query.
    * Returns (qid, term, cf, rank).
    */
  def complete(prefixes: Seq[(String, String)], topN: Int = 5): DataFrame = {
    require(prefixes.nonEmpty, "complete needs at least one prefix")
    require(prefixes.map(_._1).distinct.size == prefixes.size,
      "duplicate qids in one completion batch")
    import spark.implicits._
    val rows: Seq[(String, String, Long, Long)] = prefixes.flatMap {
      case (qid, prefix) =>
        val exp = expandPrefix(prefix)
        if (exp.isEmpty) Nil
        else {
          val buckets = exp.map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
          val cfs: Map[String, Long] = index.termStats
            .where(col("bucket").isin(buckets: _*) && col("term").isin(exp: _*))
            .select("term", "cf").as[(String, Long)].collect().toMap
          exp.flatMap(t => cfs.get(t).map(t -> _))
            .sortBy { case (t, cf) => (-cf, t) }
            .take(topN)
            .zipWithIndex
            .map { case ((t, cf), r) => (qid, t, cf, r.toLong) }
        }
    }
    rows.toDF("qid", "term", "cf", "rank")
  }

  /** SpanFirstQuery: the term restricted to the first `end` positions of
    * the document (match iff an occurrence has position < end). Each
    * in-bound occurrence is a zero-length span, so the span scorer's
    * sloppyFreq degenerates to the in-bound occurrence COUNT, scored
    * through the ordinary similarity against the term's stats. Positions
    * are index positions — stop gaps preserved, like phrases. One
    * bucket-pruned positional postings scan serves the batch.
    */
  def searchSpanFirst(spans: Seq[(String, String, Int)], k: Int = 1000,
                      scorerName: String = "bm25"): Dataset[RunLine] = {
    require(spans.nonEmpty, "searchSpanFirst needs at least one span")
    require(spans.map(_._1).distinct.size == spans.size,
      "duplicate qids in one span batch")
    require(spans.forall(_._3 > 0), "span end must be positive")
    require(index.cfg.indexPositions,
      "span queries need a positions-enabled index (IndexConfig.indexPositions)")
    import spark.implicits._
    val scorer = Scorer.byName(scorerName)
    val stats = CollStats(index.stats.max_doc, index.stats.sum_total_term_freq)
    val terms = spans.map(_._2).distinct
    val buckets = terms.map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
    val dfs: Map[String, (Long, Long)] = index.termStats
      .where(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select("term", "df", "cf").as[(String, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    // term -> [(qid, end, idf)], only for indexed terms
    val byTerm: Map[String, Array[(String, Int, Float)]] = spans
      .flatMap { case (qid, t, end) =>
        dfs.get(t).map { case (df, cf) =>
          (t, (qid, end, scorer.termWeight(df, cf, stats)))
        }
      }
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toArray }
    if (byTerm.isEmpty) return spark.emptyDataset[RunLine]
    val sBuckets = byTerm.keys.toSeq
      .map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
    val posts = index.postings
      .where(col("bucket").isin(sBuckets: _*) &&
        col("term").isin(byTerm.keys.toSeq: _*))
      .as[graft.index.PostingRun]
    val scorerB = scorer
    val statsB = stats
    val tombL = tombstonesBc
    val scored: Dataset[(String, Long, Float)] = posts.flatMap { run =>
      val qs = byTerm(run.term)
      graft.codec.PostingCodec.decodeBlobs(run.ndocs, run.doc_blob,
          run.tf_blob, run.dl_blob, run.pos_blob)
        .flatMap { p =>
          qs.iterator.flatMap { case (qid, end, idf) =>
            var freq = 0
            var i = 0
            while (i < p.pos.length && p.pos(i) < end) { freq += 1; i += 1 }
            if (freq == 0 || !Searcher.liveDoc(tombL, p.docid)) Iterator.empty
            else Iterator.single(
              (qid, p.docid, scorerB.score(freq.toFloat, p.dl, idf, statsB)))
          }
        }
    }
    collectTopK(scored, k, scorer.name)
  }

  private val regexCache =
    new scala.collection.concurrent.TrieMap[(String, Int), Seq[String]]()

  /** Vocabulary terms fully matching `pattern` — the Lucene `RegexpQuery`
    * analog for identifier-shaped code search (the regex is anchored to
    * the whole term, like Lucene's automaton compilation). Feed the result
    * to an [[ExpansionClause]] for the CONSTANT_SCORE rewrite the other
    * multi-term queries use. The scan prefix-prunes by the pattern's
    * leading literal run when one exists (same pushed `StringStartsWith` +
    * `len` partition bound as [[prefixScan]]); a pattern with no literal
    * prefix legally scans the vocabulary projection — the Lucene
    * leading-wildcard caveat — with the cap as the loud guard. Patterns
    * must stay in the Java∩RE2 dialect (no backreferences or lookaround)
    * so SQL oracles can replay the match.
    */
  def expandRegex(pattern: String, cap: Int = 4096): Seq[String] =
    regexCache.getOrElseUpdate((pattern, cap), {
      import spark.implicits._
      val out = regexScan(pattern).select("term").distinct()
        .as[String].take(cap + 1).toSeq
      require(out.size <= cap, s"regex '$pattern' expands past $cap terms")
      out
    })

  /** Wildcard expansion (≙ WildcardQuery): `*` = any run, `?` = any one
    * char, everything else literal. Compiles to the shared regex scan —
    * the leading literal run prefix-prunes exactly like Lucene's wildcard
    * automaton's common prefix; `a*` SHOULD be written as a prefix query
    * but works here too. Alphanumeric literals only, so the translation
    * needs no escaping in either the Java or RE2 dialect.
    */
  def expandWildcard(pattern: String, cap: Int = 4096): Seq[String] = {
    require(pattern.forall(c => c == '*' || c == '?' || c.isLetterOrDigit),
      s"wildcard pattern must be [alnum*?]: '$pattern'")
    expandRegex(pattern.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c => c.toString
    }, cap)
  }

  /** Term-range expansion (≙ TermRangeQuery, both ends inclusive): every
    * vocabulary term in `[lo, hi]` by binary order. The vocabulary
    * projection is length-partitioned, so a range legally touches every
    * length partition; within files the term sort order still prunes row
    * groups via min/max stats. Feed to an [[ExpansionClause]].
    */
  def expandRange(lo: String, hi: String, cap: Int = 4096): Seq[String] = {
    require(lo <= hi, s"empty term range: ['$lo', '$hi']")
    import spark.implicits._
    val out = rangeScan(lo, hi).select("term").distinct()
      .as[String].take(cap + 1).toSeq
    require(out.size <= cap, s"range ['$lo','$hi'] expands past $cap terms")
    out
  }

  /** The vocabulary scan behind [[expandRange]] (exposed for plan
    * assertions, like [[prefixScan]]).
    */
  def rangeScan(lo: String, hi: String): org.apache.spark.sql.DataFrame =
    index.vocab.where(col("term") >= lo && col("term") <= hi)

  /** The pruned vocabulary scan behind [[expandRegex]] (exposed for plan
    * assertions, like [[prefixScan]]).
    */
  def regexScan(pattern: String): org.apache.spark.sql.DataFrame = {
    val pref = Searcher.regexLiteralPrefix(pattern)
    val base =
      if (pref.isEmpty) index.vocab
      else index.vocab
        .where(col("len") >= pref.length && col("term").startsWith(pref))
    base.where(col("term").rlike(s"^(?:$pattern)$$"))
  }

  /** Retrieval over explicit weighted clauses (≙ boosted TermQuerys — used
    * by the relevance-feedback path, which emits `term^weight` pairs,
    * `ExplicitFeedbackM1PreProcessor.java:321-352`). `excludeDocnos` removes
    * documents per query BEFORE ranking (≙ `FeedbackDocumentFilter`
    * rewriting TopDocs before ranks are assigned,
    * `BatchSearch.java:238-249,286-287`).
    *
    * `mode = "or"` (default): disjunctive bag-of-words, the reference topic
    * behavior. `mode = "and"`: conjunctive — only docs matching EVERY
    * clause survive (posting-list intersection; available in the
    * reference's SimpleQueryParser `+` syntax but unused by its batch
    * driver, SURVEY.md §2.6). Pruning is OR-only (the seed threshold is
    * not a valid lower bound under intersection). `negTerms` are MUST_NOT
    * (qid, analyzed-term) pairs: matching docs are removed BEFORE ranking
    * via a distributed anti-join of the score stream against the negated
    * terms' postings — never a driver-side doc set, so a stop-word-scale
    * negation can't OOM the driver at 10^12 docs.
    *
    * `trees` switches per-(query, doc) scoring from the flat OR/AND sum to
    * BooleanQuery-tree evaluation ([[BoolQuery.eval]]): the gathered leaf
    * partials (keyed by clause index) feed the query's broadcast
    * [[BoolQuery.TreeSpec]], which decides match + score recursively —
    * nested groups, per-node coord, MUST_NOT subtrees, and match-all
    * constants included. Queries whose tree matches a leafless document
    * (pure negation, explicit `*`) get the complement docs appended at the
    * empty-document constant score via [[complementTail]] — a k-bounded
    * early-terminating scan of the grp-partitioned doc table in ascending
    * docid order (constant score + docid-asc tie-break mean only the k
    * smallest surviving docids can ever rank). Tree mode requires
    * `mode = "or"` and no `negTerms` (the tree carries its own
    * negations). WAND pruning stays on per-query for SHOULD-only term
    * trees ([[BoolQuery.prunableShape]]) and auto-disables for the rest.
    */
  def searchClauses(clauses: Seq[WeightedClause], k: Int = 1000,
                    scorerName: String = "bm25",
                    excludeDocnos: Map[String, Set[String]] = Map.empty,
                    pruning: Boolean = false,
                    mode: String = "or",
                    negTerms: Seq[(String, String)] = Nil,
                    phraseClauses: Seq[PhraseClause] = Nil,
                    expansionClauses: Seq[ExpansionClause] = Nil,
                    blendedClauses: Seq[BlendedClause] = Nil,
                    synonymClauses: Seq[SynonymClause] = Nil,
                    trees: Map[String, BoolQuery.TreeSpec] = Map.empty,
                    collapseKeys: Option[DataFrame] = None,
                    filterDocids: Option[DataFrame] = None,
                    minShouldMatch: Int = 0)
      : Dataset[RunLine] =
    collectTopK(
      scoredClauses(clauses, k, scorerName, excludeDocnos, pruning, mode,
        negTerms, phraseClauses, expansionClauses, blendedClauses,
        synonymClauses, trees, collapseKeys, filterDocids, minShouldMatch),
      k, Scorer.byName(scorerName).name)

  /** The full scored candidate stream (qid, docid, score) BEFORE the top-k
    * collector — the seam multi-field retrieval combines per-field scores
    * on ([[MultiField]]); parameters as [[searchClauses]].
    */
  private[graft] def scoredClauses(clauses: Seq[WeightedClause],
                    k: Int = 1000,
                    scorerName: String = "bm25",
                    excludeDocnos: Map[String, Set[String]] = Map.empty,
                    pruning: Boolean = false,
                    mode: String = "or",
                    negTerms: Seq[(String, String)] = Nil,
                    phraseClauses: Seq[PhraseClause] = Nil,
                    expansionClauses: Seq[ExpansionClause] = Nil,
                    blendedClauses: Seq[BlendedClause] = Nil,
                    synonymClauses: Seq[SynonymClause] = Nil,
                    trees: Map[String, BoolQuery.TreeSpec] = Map.empty,
                    collapseKeys: Option[DataFrame] = None,
                    filterDocids: Option[DataFrame] = None,
                    minShouldMatch: Int = 0)
      : Dataset[(String, Long, Float)] = {
    import spark.implicits._
    val scorer = Scorer.byName(scorerName)
    // minimumNumberShouldMatch (≙ BooleanQuery.setMinimumNumberShouldMatch):
    // flat-OR only — a tree carries its own occurs, AND already requires
    // all, and WAND's seed θ is computed over the UNfiltered stream, so a
    // doc the msm gate later removes could have seeded a θ that overshoots
    // the true (post-gate) kth score — pruning would be unsound.
    require(minShouldMatch == 0 ||
        (mode == "or" && trees.isEmpty && !pruning),
      "minShouldMatch requires flat OR mode without trees or pruning")
    if (clauses.isEmpty && phraseClauses.isEmpty && expansionClauses.isEmpty &&
        blendedClauses.isEmpty && synonymClauses.isEmpty && trees.isEmpty)
      return spark.emptyDataset[(String, Long, Float)]
    require(phraseClauses.isEmpty || index.cfg.indexPositions,
      "phrase clauses need a positions-enabled index (IndexConfig.indexPositions)")
    // MultiPhraseQuery union slots (several terms sharing one offset —
    // match_phrase_prefix's expanded last slot): exact matching unions the
    // slot's position lists; the sloppy event walk pins repeats by TERM
    // identity per slot, which a union slot has no single answer for.
    require(phraseClauses.forall(pc =>
        pc.slop == 0 || pc.terms.map(_._2).distinct.size == pc.terms.size),
      "slot alternatives (MultiPhraseQuery union slots) require slop == 0")
    require(trees.isEmpty || (mode == "or" && negTerms.isEmpty),
      "tree evaluation carries its own boolean structure: use mode=or and no negTerms")
    require(collapseKeys.isEmpty || !pruning,
      "field collapse cannot prune: WAND's seed θ bounds the global kth " +
        "score, but a collapse key's winner may rank anywhere")
    require(filterDocids.isEmpty || !pruning,
      "attribute filters cannot prune: the seed pass computes θ over the " +
        "UNfiltered stream, so the filtered kth score may sit in a " +
        "block the overshooting θ skipped")
    if (trees.nonEmpty) {
      // fail at the driver, not as an executor-side lookup miss at job time
      val uncovered = (clauses.map(_.qid) ++ phraseClauses.map(_.qid) ++
        expansionClauses.map(_.qid) ++ blendedClauses.map(_.qid) ++
        synonymClauses.map(_.qid))
        .distinct.filterNot(trees.contains)
      require(uncovered.isEmpty,
        s"clauses reference qids without a TreeSpec: ${uncovered.mkString(", ")}")
    }
    val conjunctive = mode == "and"
    // Pruning is sound per-QUERY only for pure disjunctive term scoring:
    // exclusions (MUST_NOT terms or excluded docnos) remove docs AFTER the
    // seed pass computed θ over the un-excluded stream, and phrase/
    // expansion/blended partials are not covered by the term block bounds,
    // so the true kth score of such a query could beat θ inside a skipped
    // block. Those qids simply get no θ (every block stays alive for
    // them); clean disjunctive qids in the same batch still prune. A TREE
    // query prunes iff its tree is the flat OR in disguise — SHOULD-only
    // over plain term leaves, no match-all constant
    // (BoolQuery.prunableShape): with a coord-free scorer (implied by
    // scorer.supportsPruning) its evaluation is exactly the NaN-skipping
    // sum of leaf partials, so the seed lower bound stays valid. MUST /
    // MUST_NOT / match-all / coord can reject or re-weight subsets, and
    // those trees remain unprunable.
    val unprunableQids: Set[String] =
      (phraseClauses.map(_.qid) ++ expansionClauses.map(_.qid) ++
        blendedClauses.map(_.qid) ++ synonymClauses.map(_.qid) ++
        negTerms.map(_._1) ++
        excludeDocnos.keys ++
        trees.collect { case (qid, ts) if !BoolQuery.prunableShape(ts.root) => qid }).toSet
    val pruneQids: Set[String] =
      if (!pruning || !scorer.supportsPruning || conjunctive) Set.empty
      else clauses.map(_.qid).filterNot(unprunableQids).toSet
    val prune = pruneQids.nonEmpty

    // Resolve excluded docnos → docids (tiny point lookup on the doc table,
    // ≙ the reference's docno TermQuery lookups §2.3).
    val excludedByQid: Map[String, Set[Long]] =
      if (excludeDocnos.isEmpty) Map.empty
      else {
        val allDocnos = excludeDocnos.values.flatten.toSeq.distinct
        val ids = index.docs.where(col("docno").isin(allDocnos: _*))
          .select("docno", "docid").as[(String, Long)].collect().toMap
        excludeDocnos.map { case (qid, ds) => qid -> ds.flatMap(ids.get) }
      }

    val phraseTerms = phraseClauses.flatMap(_.terms.map(_._1)).distinct
    val blendTerms = blendedClauses.flatMap(_.terms.map(_._1)).distinct
    val synTerms = synonymClauses.flatMap(_.terms).distinct
    val terms =
      (clauses.map(_.term) ++ phraseTerms ++ blendTerms ++ synTerms).distinct
    val buckets = terms.map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
    val stats = CollStats(index.stats.max_doc, index.stats.sum_total_term_freq)

    // Per-term (docFreq, collectionFreq) from the tiny pruned term_stats
    // lookup (≙ TermStatistics consumed at `BM25.java:61`), memoized per
    // searcher — an index is immutable, so repeated topics skip the job.
    val missing = terms.filterNot(statsCache.contains)
    if (missing.nonEmpty) {
      val missingBuckets = missing.map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
      index.termStats
        .where(col("bucket").isin(missingBuckets: _*) && col("term").isin(missing: _*))
        .select("term", "df", "cf").as[(String, Long, Long)].collect()
        .foreach(t => statsCache.put(t._1, Some((t._2, t._3))))
      missing.foreach(t => statsCache.putIfAbsent(t, None)) // negative cache
    }
    val dfs: Map[String, (Long, Long)] =
      terms.flatMap(t => statsCache.get(t).flatten.map(t -> _)).toMap

    // Per-query normalization (1.0 for all reference models, which override
    // queryNorm — only classic TF-IDF uses it): sumOfSquaredWeights over
    // ALL clauses, including unmatched terms, like Lucene's weight phase.
    // phrase clause weight = the reference's accumulate-from-1.0 multi-stats
    // branch (`BM25.java:57,64-68`), duplicated phrase terms included
    val phraseWeights: Map[(String, Int), Float] = phraseClauses.map { pc =>
      (pc.qid, pc.qidx) ->
        scorer.phraseWeight(pc.terms.map(t => dfs.getOrElse(t._1, (0L, 0L))), stats)
    }.toMap

    // Blended per-clause term weight (≙ BlendedTermQuery.adjustFrequencies):
    // one idf from the MAX df (and max cf) across the clause's expanded
    // terms that exist in the index.
    val blendWeights: Map[(String, Int), Float] = blendedClauses.map { bc =>
      val present = bc.terms.flatMap(t => dfs.get(t._1))
      (bc.qid, bc.qidx) -> (if (present.isEmpty) 0.0f
        else scorer.termWeight(present.map(_._1).max, present.map(_._2).max, stats))
    }.toMap

    // Synonym pseudo-term weight (≙ SynonymQuery.SynonymWeight's merged
    // TermStatistics): max docFreq, summed collectionFreq over the group's
    // indexed members.
    val synWeights: Map[(String, Int), Float] = synonymClauses.map { sc =>
      val present = sc.terms.flatMap(t => dfs.get(t))
      (sc.qid, sc.qidx) -> (if (present.isEmpty) 0.0f
        else scorer.termWeight(present.map(_._1).max, present.map(_._2).sum, stats))
    }.toMap

    // Tree mode mirrors Lucene's BooleanWeight recursion: prohibited
    // (MUST_NOT-subtree) clauses never contribute to the norm sum, and each
    // scoring match-all node contributes weight 1.
    val normEntries: Seq[(String, Int, Float)] =
      (clauses.map(c => (c.qid, c.qidx, {
        val (df, cf) = dfs.getOrElse(c.term, (0L, 0L))
        scorer.termWeight(df, cf, stats) * c.boost
      })) ++ phraseClauses.map(pc =>
        (pc.qid, pc.qidx, phraseWeights((pc.qid, pc.qidx)) * pc.boost)) ++
        expansionClauses.map(e => (e.qid, e.qidx, e.boost)) ++ // constant weight
        blendedClauses.map(bc =>
          (bc.qid, bc.qidx, blendWeights((bc.qid, bc.qidx)) * bc.boost)) ++
        synonymClauses.map(sc =>
          (sc.qid, sc.qidx, synWeights((sc.qid, sc.qidx)) * sc.boost)))
    val qnByQid: Map[String, Float] =
      (if (trees.isEmpty) normEntries
       else normEntries.filterNot { case (qid, qidx, _) =>
         trees.get(qid).exists(_.prohibitedNorm(qidx))
       } ++ trees.toSeq.flatMap { case (qid, ts) =>
         Seq.fill(ts.nMatchAllNorm)((qid, Int.MaxValue, 1.0f))
       })
      .groupBy(_._1).map { case (qid, ws) =>
        qid -> scorer.queryNorm(ws.sortBy(_._2).map(_._3))
      }
    val maxOverlap: Map[String, Int] =
      (clauses.map(c => (c.qid, c.qidx)) ++
        phraseClauses.map(pc => (pc.qid, pc.qidx)) ++
        expansionClauses.map(e => (e.qid, e.qidx)) ++
        blendedClauses.map(bc => (bc.qid, bc.qidx)) ++
        synonymClauses.map(sc => (sc.qid, sc.qidx)))
        .groupBy(_._1).map { case (q, cs) => q -> cs.size }

    // AND mode: a query with any unindexed clause term (or phrase term, or
    // empty expansion) can match nothing.
    val deadQids: Set[String] =
      if (!conjunctive) Set.empty
      else (clauses.groupBy(_.qid)
        .collect { case (q, cs) if cs.exists(c => !dfs.contains(c.term)) => q } ++
        phraseClauses.groupBy(_.qid)
          .collect { case (q, ps) if ps.exists(_.terms.exists(t => !dfs.contains(t._1))) => q } ++
        expansionClauses.groupBy(_.qid)
          .collect { case (q, es) if es.exists(_.terms.isEmpty) => q } ++
        blendedClauses.groupBy(_.qid)
          .collect { case (q, bs) if bs.exists(_.terms.forall(t => !dfs.contains(t._1))) => q } ++
        synonymClauses.groupBy(_.qid)
          .collect { case (q, ss) if ss.exists(_.terms.forall(t => !dfs.contains(t))) => q })
        .toSet
    val liveClauses = clauses.filterNot(c => deadQids(c.qid))
    val livePhrases = phraseClauses.filterNot(pc => deadQids(pc.qid))
    val liveExpansions = expansionClauses
      .filterNot(e => deadQids(e.qid)).filter(_.terms.nonEmpty)
    val liveBlended = blendedClauses.filterNot(bc => deadQids(bc.qid))
      .map(bc => bc.copy(terms = bc.terms.filter(t => dfs.contains(t._1))))
      .filter(_.terms.nonEmpty)
    val liveSynonyms = synonymClauses.filterNot(sc => deadQids(sc.qid))
      .map(sc => sc.copy(terms = sc.terms.filter(dfs.contains)))
      .filter(_.terms.nonEmpty)

    // Driver-side query plan: term → (idf, clauses using it), queryNorm
    // folded into the clause boost.
    val plan: Map[String, (Float, Array[(String, Int, Float)])] =
      liveClauses.groupBy(_.term).flatMap { case (term, cs) =>
        dfs.get(term).map { case (df, cf) =>
          term -> (scorer.termWeight(df, cf, stats),
                   cs.map(c => (c.qid, c.qidx, c.boost * qnByQid(c.qid))).toArray)
        }
      }
    if (plan.isEmpty && livePhrases.isEmpty && liveExpansions.isEmpty &&
        liveBlended.isEmpty && liveSynonyms.isEmpty &&
        trees.isEmpty) // a tree may still match-all
      return spark.emptyDataset[(String, Long, Float)]

    // Postings lookup: bucket prunes parquet partitions, term pushes
    // down. Only the WAND main pass reads block metadata — the exhaustive
    // decode drops those columns from the scan too (postingsDecode).
    val posts = (if (prune) index.postingsScoring else index.postingsDecode)
      .where(col("bucket").isin(buckets: _*) && col("term").isin(plan.keys.toSeq: _*))
      .as[PostingRun]

    // Block-max WAND (north-star extension, SURVEY.md §2.7): a seed pass
    // scores each query's cheapest (lowest-df) clause exactly, giving a
    // lower bound θ on the final kth score; the main pass then skips any
    // (query, term, block) whose upper bound — block-max tf at block-min dl
    // plus the other clauses' global maxima — cannot strictly beat θ.
    // Sound because scores are monotone ↑tf ↓dl and pruning is strict (<).
    val theta: Map[String, Float] =
      if (!prune) Map.empty
      else seedThresholds(clauses.filter(c => pruneQids(c.qid)), dfs, k,
        scorer, stats, qnByQid)
    val (boostSum, othersSum) =
      if (!prune || theta.isEmpty) (Map.empty[(String, String), Float], Map.empty[(String, String), Float])
      else wandBounds(posts, plan, clauses.filter(c => pruneQids(c.qid)),
        qnByQid, scorer, stats)

    val decodedAcc = spark.sparkContext.longAccumulator("wand_blocks_decoded")
    val prunedAcc = spark.sparkContext.longAccumulator("wand_blocks_pruned")
    if (prune) pruningAccs = Some((decodedAcc, prunedAcc))

    // Decode → per-clause partial scores (qid, docid, clauseIdx, partial);
    // clause boost multiplies like a Lucene query-term boost.
    val partials: Dataset[(String, Long, Int, Float)] =
      if (plan.isEmpty) spark.emptyDataset[(String, Long, Int, Float)]
      else if (!prune || theta.isEmpty) posts.flatMap { run =>
        val (idf, cs) = plan(run.term)
        PostingCodec.decodeBlobs(run.ndocs, run.doc_blob, run.tf_blob, run.dl_blob)
          .flatMap { p =>
            val s = scorer.score(p.tf, p.dl, idf, stats)
            cs.iterator.map { case (qid, qidx, boost) =>
              (qid, p.docid, qidx, if (boost == 1.0f) s else s * boost)
            }
          }
      } else posts.flatMap { run =>
        val (idf, cs) = plan(run.term)
        val nBlocks = run.block_last_docid.length
        (0 until nBlocks).iterator.flatMap { bi =>
          val ub = scorer.score(run.block_max_tf(bi), run.block_min_dl(bi), idf, stats)
          val alive = cs.filter { case (qid, _, _) =>
            theta.get(qid) match {
              case Some(th) =>
                ub * boostSum.getOrElse((qid, run.term), 0.0f) +
                  othersSum.getOrElse((qid, run.term), 0.0f) >= th
              case None => true
            }
          }
          if (alive.isEmpty) { prunedAcc.add(1); Iterator.empty }
          else {
            decodedAcc.add(1)
            PostingCodec.decodeBlock(bi, run.ndocs,
                run.doc_blob, run.tf_blob, run.dl_blob,
                run.block_last_docid, run.block_doc_off, run.block_tf_off,
                run.block_dl_off)
              .flatMap { p =>
                val s = scorer.score(p.tf, p.dl, idf, stats)
                alive.iterator.map { case (qid, qidx, boost) =>
                  (qid, p.docid, qidx, if (boost == 1.0f) s else s * boost)
                }
              }
          }
        }
      }

    // Phrase clause partials: decode the phrase terms' postings WITH
    // positions, co-group per (phrase, doc), count exact phrase occurrences
    // (anchor scan from the sparsest slot, binary-search the rest — the
    // distributed analog of Lucene's ExactPhraseScorer), score phraseFreq
    // against the accumulated multi-term weight. One extra shuffle, paid
    // only by queries that contain phrases.
    val phrasePartials: Dataset[(String, Long, Int, Float)] =
      if (livePhrases.isEmpty) spark.emptyDataset[(String, Long, Int, Float)]
      else {
        val phArr = livePhrases.toArray
        // slot = DISTINCT offset (ascending): several terms sharing an
        // offset form one union slot (≙ MultiPhraseQuery.add(Term[], pos));
        // with unique offsets this degenerates to the plain phrase layout
        val termSlots: Map[String, Array[(Int, Int)]] =
          phArr.zipWithIndex.toSeq.flatMap { case (pc, pi) =>
            val offsU = pc.terms.map(_._2).distinct.sorted
            pc.terms.map { case (term, off) => (term, pi, offsU.indexOf(off)) }
          }.distinct
            .groupBy(_._1).map { case (t, xs) => t -> xs.map(x => (x._2, x._3)).toArray }
        val pTerms = termSlots.keys.toSeq
        val pBuckets = pTerms.map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
        val pPosts = index.postings
          .where(col("bucket").isin(pBuckets: _*) && col("term").isin(pTerms: _*))
          .as[PostingRun]
        val occ: Dataset[(Int, Long, Int, Array[Int], Int)] = pPosts.flatMap { run =>
          val slots = termSlots(run.term)
          PostingCodec.decodeBlobs(run.ndocs, run.doc_blob, run.tf_blob,
              run.dl_blob, run.pos_blob)
            .flatMap { p =>
              slots.iterator.map { case (pi, si) => (pi, p.docid, si, p.pos, p.dl) }
            }
        }
        val weights = phraseWeights
        val qnB = qnByQid
        val scorerB = scorer
        val statsB = stats
        occ.groupByKey(t => (t._1, t._2))
          .flatMapGroups[(String, Long, Int, Float)] {
            (key: (Int, Long), it: Iterator[(Int, Long, Int, Array[Int], Int)]) =>
            val pc = phArr(key._1)
            val offsU = pc.terms.map(_._2).distinct.sorted
            val nSlots = offsU.length
            val posBySlot = new Array[Array[Int]](nSlots)
            var dl = 0
            var matched = 0
            it.foreach { r =>
              if (posBySlot(r._3) == null) { matched += 1; posBySlot(r._3) = r._4 }
              else posBySlot(r._3) = Searcher.mergeSorted(posBySlot(r._3), r._4)
              dl = r._5
            }
            if (matched < nSlots) Iterator.empty
            else {
              val offs = offsU.toArray
              val slop = pc.slop
              // slop 0 (ExactPhraseScorer analog): freq = integer count of
              // full-phrase starts, anchored on the sparsest slot (the
              // count is anchor-invariant). slop > 0: the faithful
              // SloppyPhraseScorer event walk (SloppyPhrase.freq) — each
              // match window contributes the reference similarity's slop
              // factor 1/(matchLength+1) (`BM25.java:110-114`), with
              // repeated terms pinned to distinct occurrences.
              var freq = 0.0f
              if (slop > 0) {
                // slop > 0 ⇒ unique offsets (required above), so each slot
                // has exactly one term; align the term array to slot order
                freq = SloppyPhrase.freq(
                  offsU.map(o => pc.terms.find(_._2 == o).get._1).toArray,
                  posBySlot, offs, slop)
              } else {
                var minSlot = 0
                var s = 1
                while (s < nSlots) {
                  if (posBySlot(s).length < posBySlot(minSlot).length) minSlot = s
                  s += 1
                }
                val anchorOff = offs(minSlot)
                posBySlot(minSlot).foreach { p0 =>
                  val base = p0 - anchorOff // phrase start position in doc
                  var ok = base >= 0
                  var j = 0
                  while (ok && j < nSlots) {
                    if (j != minSlot) {
                      val arr = posBySlot(j)
                      ok = java.util.Arrays.binarySearch(arr, base + offs(j)) >= 0
                    }
                    j += 1
                  }
                  if (ok) freq += 1.0f
                }
              }
              if (freq == 0.0f) Iterator.empty
              else {
                val boost = pc.boost * qnB(pc.qid)
                val sc = scorerB.score(freq, dl, weights((pc.qid, pc.qidx)), statsB)
                Iterator.single((pc.qid, key._2, pc.qidx,
                  if (boost == 1.0f) sc else sc * boost))
              }
            }
          }
      }
    // Expansion clause partials (CONSTANT_SCORE): decode the expanded
    // terms' postings; a doc matching several expanded terms of one clause
    // still scores the boost ONCE (distinct on the identical partial rows).
    val expPartials: Dataset[(String, Long, Int, Float)] =
      if (liveExpansions.isEmpty) spark.emptyDataset[(String, Long, Int, Float)]
      else {
        val byTerm: Map[String, Array[(String, Int, Float)]] = liveExpansions
          .flatMap(e => e.terms.map(t => (t, (e.qid, e.qidx, e.boost * qnByQid(e.qid)))))
          .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toArray }
        val eTerms = byTerm.keys.toSeq
        val eBuckets = eTerms.map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
        val ePosts = index.postingsDecode
          .where(col("bucket").isin(eBuckets: _*) && col("term").isin(eTerms: _*))
          .as[PostingRun]
        ePosts.flatMap { run =>
          val cs = byTerm(run.term)
          PostingCodec.decodeBlobs(run.ndocs, run.doc_blob, run.tf_blob, run.dl_blob)
            .flatMap(p => cs.iterator.map { case (qid, qidx, b) => (qid, p.docid, qidx, b) })
        }.distinct()
      }

    // Blended clause partials (fuzzy): each expanded term scores as a real
    // TermQuery against the clause's BLENDED idf, boosted by its fuzzy
    // similarity; a doc matching several expanded terms of one clause sums
    // them in deterministic expansion order (one extra tiny shuffle, paid
    // only by fuzzy queries, so the per-(qid, doc, clause) float sum is
    // reproducible regardless of posting-run arrival order).
    val blendedPartials: Dataset[(String, Long, Int, Float)] =
      if (liveBlended.isEmpty) spark.emptyDataset[(String, Long, Int, Float)]
      else {
        // term -> [(qid, qidx, expansionRank, blendedIdf, fullBoost)]
        val byTerm: Map[String, Array[(String, Int, Int, Float, Float)]] =
          liveBlended.flatMap { bc =>
            val w = blendWeights((bc.qid, bc.qidx))
            bc.terms.zipWithIndex.map { case ((term, fb), r) =>
              (term, (bc.qid, bc.qidx, r, w, fb * bc.boost * qnByQid(bc.qid)))
            }
          }.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toArray }
        val bTerms = byTerm.keys.toSeq
        val bBuckets = bTerms.map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
        val bPosts = index.postingsDecode
          .where(col("bucket").isin(bBuckets: _*) && col("term").isin(bTerms: _*))
          .as[PostingRun]
        val scorerB = scorer
        val statsB = stats
        bPosts.flatMap { run =>
          val cs = byTerm(run.term)
          PostingCodec.decodeBlobs(run.ndocs, run.doc_blob, run.tf_blob, run.dl_blob)
            .flatMap { p =>
              cs.iterator.map { case (qid, qidx, r, w, boost) =>
                (qid, p.docid, qidx, r, scorerB.score(p.tf, p.dl, w, statsB) * boost)
              }
            }
        }
        .groupByKey(t => (t._1, t._2, t._3))
        .mapGroups[(String, Long, Int, Float)] {
          (key: (String, Long, Int), it: Iterator[(String, Long, Int, Int, Float)]) =>
            val arr = it.toArray.sortBy(_._4)
            var s = 0.0f
            arr.foreach(s += _._5)
            (key._1, key._2, key._3, s)
        }
      }

    // Synonym clause partials: decode the group members' postings, SUM the
    // raw tfs per (query, doc, clause) — an integer sum, order-free — then
    // apply the scorer's TF saturation ONCE against the blended weight
    // (≙ SynonymScorer: one freq, one similarity call). One extra tiny
    // shuffle, paid only by queries that carry synonym groups.
    val synPartials: Dataset[(String, Long, Int, Float)] =
      if (liveSynonyms.isEmpty) spark.emptyDataset[(String, Long, Int, Float)]
      else {
        val byTerm: Map[String, Array[(String, Int)]] = liveSynonyms
          .flatMap(sc => sc.terms.map(t => (t, (sc.qid, sc.qidx))))
          .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toArray }
        val synBoost: Map[(String, Int), Float] = liveSynonyms
          .map(sc => (sc.qid, sc.qidx) -> sc.boost * qnByQid(sc.qid)).toMap
        val sTerms = byTerm.keys.toSeq
        val sBuckets = sTerms.map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
        val sPosts = index.postingsDecode
          .where(col("bucket").isin(sBuckets: _*) && col("term").isin(sTerms: _*))
          .as[PostingRun]
        val weights = synWeights
        val scorerB = scorer
        val statsB = stats
        sPosts.flatMap { run =>
          val cs = byTerm(run.term)
          PostingCodec.decodeBlobs(run.ndocs, run.doc_blob, run.tf_blob, run.dl_blob)
            .flatMap { p =>
              cs.iterator.map { case (qid, qidx) => (qid, p.docid, qidx, p.tf, p.dl) }
            }
        }
        .groupByKey(t => (t._1, t._2, t._3))
        .mapGroups[(String, Long, Int, Float)] {
          (key: (String, Long, Int), it: Iterator[(String, Long, Int, Int, Int)]) =>
            var tf = 0
            var dl = 0
            it.foreach { r => tf += r._4; dl = r._5 }
            val boost = synBoost((key._1, key._3))
            val sc = scorerB.score(tf.toFloat, dl, weights((key._1, key._3)), statsB)
            (key._1, key._2, key._3, if (boost == 1.0f) sc else sc * boost)
        }
      }

    val allPartials = Seq(
      Some(partials),
      if (livePhrases.isEmpty) None else Some(phrasePartials),
      if (liveExpansions.isEmpty) None else Some(expPartials),
      if (liveBlended.isEmpty) None else Some(blendedPartials),
      if (liveSynonyms.isEmpty) None else Some(synPartials)
    ).flatten.reduce(_ union _)

    // Per-(query, doc) scoring. Flat mode: one docid-partitioned shuffle
    // (by count, so AQE keeps it on every core) sorted by (qid, docid,
    // qidx), then a streaming pass that sums each (qid, docid) run in
    // clause order (≙ boolean scorer sum) with optional require-all / msm
    // and top-level coord; nothing is buffered per doc and the sort can
    // spill. Tree mode: BooleanQuery-faithful recursive evaluation of the
    // query's broadcast tree over the gathered (clause → score) map —
    // queryNorm folded into the match-all constants here, per-node coord
    // inside eval.
    val excluded = excludedByQid
    val maxOv = maxOverlap
    val requireAll = conjunctive
    val msm = minShouldMatch
    val scorerB = scorer
    val treeEval: Map[String, BoolQuery.EvalNode] =
      trees.map { case (qid, ts) =>
        qid -> BoolQuery.foldQueryNorm(ts.root, qnByQid.getOrElse(qid, 1.0f))
      }
    val tombL = tombstonesBc
    val filtered = allPartials
      .filter(t => Searcher.liveDoc(tombL, t._2) &&
        excluded.get(t._1).forall(!_.contains(t._2)))
    // Tree mode keeps the NaN (no-match) rows in `evaluated`: the match-all
    // complement below needs the full candidate set. When a complement WILL
    // be taken (computed up front from the trees' empty-document scores),
    // the evaluated stream is lazily local-checkpointed so its two
    // consumers (score filter + candidate anti-join) share ONE computation
    // — typed-operator plans defeat Catalyst's exchange reuse, so without
    // this the whole postings decode would run twice.
    val complementQids: Seq[(String, Float)] =
      treeEval.toSeq.flatMap { case (qid, folded) =>
        val s = BoolQuery.eval(folded, _ => Float.NaN, scorer.coord)
        if (s.isNaN) None else Some(qid -> s)
      }
    val evaluated: Dataset[(String, Long, Float)] =
      if (trees.isEmpty) spark.emptyDataset[(String, Long, Float)]
      else {
        val ev = filtered
          .groupByKey(t => (t._1, t._2))
          .mapGroups[(String, Long, Float)] {
            (key: (String, Long), it: Iterator[(String, Long, Int, Float)]) =>
            val m = new scala.collection.mutable.HashMap[Int, Float]()
            it.foreach(r => m.update(r._3, m.getOrElse(r._3, 0.0f) + r._4))
            val s = BoolQuery.eval(treeEval(key._1),
              q => m.getOrElse(q, Float.NaN), scorerB.coord)
            (key._1, key._2, s)
          }
        if (complementQids.isEmpty) ev else ev.localCheckpoint(eager = false)
      }
    val scores: Dataset[(String, Long, Float)] =
      if (trees.nonEmpty) evaluated.filter(t => !t._3.isNaN)
      else filtered
        .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("_2"))
        .sortWithinPartitions("_1", "_2", "_3")
        .mapPartitions { rows =>
          val in = rows.buffered
          new Iterator[Option[(String, Long, Float)]] {
            def hasNext: Boolean = in.hasNext
            def next(): Option[(String, Long, Float)] = {
              val (qid, docid) = (in.head._1, in.head._2)
              var s = 0.0f
              var n = 0 // partial rows: coord's overlap
              var nMatched = 0 // distinct clauses: AND needs all, msm ≥ msm of them
              var lastQidx = -1
              while (in.hasNext && in.head._2 == docid && in.head._1 == qid) {
                val r = in.next()
                s += r._4
                n += 1
                if (r._3 != lastQidx) { nMatched += 1; lastQidx = r._3 }
              }
              val needed = if (requireAll) maxOv.getOrElse(qid, 0) else msm
              // the score stays the plain sum over matches: bm25's coord is
              // 1, like Lucene's BooleanWeight without coord
              if (nMatched < needed) None
              else {
                val c = scorerB.coord(n, maxOv.getOrElse(qid, n))
                Some((qid, docid, if (c == 1.0f) s else s * c))
              }
            }
          }.flatten
        }

    // Match-all complement (tree mode): a query whose tree matches a
    // document containing NO query leaf (pure negation, explicit `*`)
    // semantically matches the whole corpus outside its candidate stream —
    // append those docs at the empty-document constant. complementTail
    // bounds the semantically-full-corpus tail to the k smallest surviving
    // docids per qid (all complement rows tie, tie-break is docid asc), so
    // a batch of pure-negation topics at 10^12 docs costs O(k) rows per
    // topic, not N corpus scans.
    val scoresWithComplement: Dataset[(String, Long, Float)] =
      if (complementQids.isEmpty) scores
      else scores union complementTail(complementQids, evaluated, excluded, k)

    // MUST_NOT terms (a true sibling MUST_NOT clause in one BooleanQuery —
    // the programmatic hard exclusion, unlike SimpleQueryParser's `-`
    // match-all wrap): decode the negated terms' postings into (qid, docid)
    // pairs and anti-join the score stream — excluded docs never reach the
    // collector (ranks close up, unlike the post-hoc feedback filter).
    val scoresKept: Dataset[(String, Long, Float)] =
      if (negTerms.isEmpty) scoresWithComplement
      else {
        val negByTerm: Map[String, Array[String]] =
          negTerms.groupBy(_._2).map { case (t, qs) => t -> qs.map(_._1).distinct.toArray }
        val negTermSeq = negByTerm.keys.toSeq
        val negBuckets = negTermSeq.map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
        val negPosts = index.postingsDecode
          .where(col("bucket").isin(negBuckets: _*) && col("term").isin(negTermSeq: _*))
          .as[PostingRun]
        val negPairs = negPosts.flatMap { run =>
          val qids = negByTerm(run.term)
          PostingCodec.decodeBlobs(run.ndocs, run.doc_blob, run.tf_blob, run.dl_blob)
            .flatMap(p => qids.iterator.map(q => (q, p.docid)))
        }.toDF("qid", "docid")
        scoresWithComplement.toDF("qid", "docid", "score")
          .join(negPairs, Seq("qid", "docid"), "left_anti")
          .as[(String, Long, Float)]
      }

    // Attribute filter (≙ a BooleanQuery FILTER clause over a doc-values
    // field — code search's "lang:java" facet): a semi-join removes
    // non-matching candidates BEFORE collapse and the collector, so ranks
    // close up. Scoring is untouched (FILTER clauses don't score).
    val scoresFiltered: Dataset[(String, Long, Float)] = filterDocids match {
      case None => scoresKept
      case Some(f) =>
        scoresKept.toDF("qid", "docid", "score")
          .join(f.select($"docid"), Seq("docid"), "left_semi")
          .select($"qid", $"docid", $"score") // join moved the key first
          .as[(String, Long, Float)]
    }

    // Field collapse (≙ Lucene's grouping/CollapsingTopDocsCollector over a
    // SortedDocValues field): per (qid, key) keep the best document by the
    // collector ordering (score desc, docid asc) BEFORE top-k, so a key
    // whose winner ranks outside the global top-k still surfaces. The
    // reduce is a codegen'd max over struct(score, -docid, docid) —
    // lexicographic struct max = highest score then smallest docid — with
    // map-side partial aggregation, so the (qid, key) shuffle moves one
    // row per key per partition, not the candidate stream.
    val scoresCollapsed: Dataset[(String, Long, Float)] = collapseKeys match {
      case None => scoresFiltered
      case Some(keys) =>
        scoresFiltered.toDF("qid", "docid", "score")
          .join(keys.select($"docid", $"ckey"), Seq("docid"))
          .groupBy($"qid", $"ckey")
          .agg(max(struct($"score", (-$"docid").as("negid"), $"docid")).as("w"))
          .select($"qid", $"w.docid".as("docid"), $"w.score".as("score"))
          .as[(String, Long, Float)]
    }

    scoresCollapsed
  }

  /** Bounded top-k collector + docno attach + first-occurrence docno dedup
    * over a scored (qid, docid, score) stream — the shared tail of every
    * search entry point (score desc, docid asc tie-break — the Lucene
    * collector contract, SURVEY.md §2.5). The per-partition heaps run in
    * the stage that produced the scores (for a flat search, the combine
    * stage); the driver merges their ≤ k rows per topic per partition,
    * assigns pre-dedup ranks, attaches docnos with one pruned point-lookup
    * job and drops a docno's later duplicates.
    */
  private[search] def collectTopK(scored: Dataset[(String, Long, Float)],
                                  k: Int, runtag: String): Dataset[RunLine] = {
    import spark.implicits._
    val top = TopK.toDriver(scored, k)
    if (top.isEmpty) return spark.emptyDataset[RunLine]
    val docnoById = docnoLookup(top.flatMap(_._2.iterator.map(_._1)))
    val lines: Seq[RunLine] = top.flatMap { case (qid, hits) =>
      val seen = scala.collection.mutable.HashSet.empty[String]
      hits.iterator.zipWithIndex.flatMap { case ((docid, score), rank) =>
        // inner-join semantics: a docid absent from the doc table drops
        docnoById.get(docid) match {
          case Some(docno) if seen.add(docno) =>
            Some(RunLine(qid, docno, rank, score, runtag))
          case _ => None
        }
      }
    }
    spark.createDataset(lines)
  }

  /** Seed pass for WAND: exact-score each query's lowest-df clause only;
    * the kth best partial score is a valid lower bound on the final kth
    * total score (partials never exceed totals for non-negative boosts).
    * Queries with fewer than k seed hits get no threshold (no pruning).
    */
  private def seedThresholds(clauses: Seq[WeightedClause],
                             dfs: Map[String, (Long, Long)], k: Int,
                             scorer: Scorer, stats: CollStats,
                             qn: Map[String, Float]): Map[String, Float] = {
    import spark.implicits._
    val seeds: Seq[WeightedClause] = clauses.groupBy(_.qid).flatMap { case (_, cs) =>
      val inIdx = cs.filter(c => dfs.contains(c.term) && c.boost > 0)
      if (inIdx.isEmpty) None else Some(inIdx.minBy(c => dfs(c.term)._1))
    }.toSeq
    if (seeds.isEmpty) return Map.empty
    val byTerm: Map[String, Array[(String, Float)]] = seeds.groupBy(_.term)
      .map { case (t, cs) => t -> cs.map(c => (c.qid, c.boost * qn(c.qid))).toArray }
    val weights: Map[String, Float] = byTerm.keys.map { t =>
      val (df, cf) = dfs(t)
      t -> scorer.termWeight(df, cf, stats)
    }.toMap
    val buckets = byTerm.keys.map(IndexLayout.bucketOf(_, index.cfg.buckets)).toSeq.distinct
    val posts = index.postingsDecode
      .where(col("bucket").isin(buckets: _*) && col("term").isin(byTerm.keys.toSeq: _*))
      .as[PostingRun]
    // tombstoned docs must not seed θ: a deleted doc's score could push the
    // lower bound past the true live kth score and over-prune live blocks
    val tombL = tombstonesBc
    val partials = posts.flatMap { run =>
      val w = weights(run.term)
      val qs = byTerm(run.term)
      PostingCodec.decodeBlobs(run.ndocs, run.doc_blob, run.tf_blob, run.dl_blob)
        .filter(p => Searcher.liveDoc(tombL, p.docid))
        .flatMap { p =>
          val s = scorer.score(p.tf, p.dl, w, stats)
          qs.iterator.map { case (qid, boost) => (qid, p.docid, s * boost) }
        }
    }
    TopK.toDriver(partials, k)
      .collect { case (qid, hits) if hits.length >= k => qid -> hits.last._2 }
      .toMap
  }

  /** Driver-side WAND bounds: per-term global block-max score UB (one tiny
    * metadata-only job over the pruned runs), then per (query, term) the
    * sum of this term's clause boosts and the other clauses' UB total.
    */
  private def wandBounds(posts: Dataset[PostingRun],
                         plan: Map[String, (Float, Array[(String, Int, Float)])],
                         clauses: Seq[WeightedClause], qn: Map[String, Float],
                         scorer: Scorer, stats: CollStats)
      : (Map[(String, String), Float], Map[(String, String), Float]) = {
    import spark.implicits._
    val planB = plan
    val termUB: Map[String, Float] = posts
      .map { run =>
        val idf = planB(run.term)._1
        var m = 0.0f
        var i = 0
        while (i < run.block_max_tf.length) {
          val u = scorer.score(run.block_max_tf(i), run.block_min_dl(i), idf, stats)
          if (u > m) m = u
          i += 1
        }
        (run.term, m)
      }
      .groupByKey(_._1)
      .mapGroups[(String, Float)]((t: String, it: Iterator[(String, Float)]) =>
        (t, it.map(_._2).max))
      .collect().toMap
    val inIdx = clauses.filter(c => termUB.contains(c.term))
    val boostSum: Map[(String, String), Float] = inIdx
      .groupBy(c => (c.qid, c.term))
      .map { case (key, cs) => key -> cs.map(c => c.boost * qn(c.qid)).sum }
    val totalUB: Map[String, Float] = inIdx.groupBy(_.qid).map { case (qid, cs) =>
      qid -> cs.map(c => termUB(c.term) * c.boost * qn(qid)).sum
    }
    val othersSum: Map[(String, String), Float] = boostSum.keys.map { case (qid, t) =>
      (qid, t) -> (totalUB(qid) - termUB(t) * boostSum((qid, t)))
    }.toMap
    (boostSum, othersSum)
  }

  /** Distinct matching DOCNOS per query under OR semantics (≙ the
    * `TopDocs.totalHits` the reference's paging demo prints,
    * `SearchFiles.java:149-150`): a pruned postings decode → docno attach →
    * distinct count, no scoring, no driver-side doc sets. Counting docnos
    * (not docids) keeps the paging invariant `totalHits ≥ collected hits`
    * on indexes holding re-ingested duplicate docnos (streaming deltas /
    * compactions), because [[search]] dedups its output by docno.
    */
  def matchCounts(topics: Seq[Topic]): Map[String, Long] = {
    import spark.implicits._
    requireDistinctQids(topics)
    val pairs = topics.flatMap(t =>
      analyzer.analyze(t.text).distinct.map(term => (t.qid, term)))
    if (pairs.isEmpty) return topics.map(_.qid -> 0L).toMap
    val byTerm: Map[String, Array[String]] =
      pairs.groupBy(_._2).map { case (t, qs) => t -> qs.map(_._1).distinct.toArray }
    val termSeq = byTerm.keys.toSeq
    val buckets = termSeq.map(IndexLayout.bucketOf(_, index.cfg.buckets)).distinct
    val docShift = index.cfg.groupShift + index.cfg.mergeShift
    val tombL = tombstonesBc
    val matched = index.postingsDecode
      .where(col("bucket").isin(buckets: _*) && col("term").isin(termSeq: _*))
      .as[PostingRun]
      .flatMap { run =>
        val qids = byTerm(run.term)
        PostingCodec.decodeBlobs(run.ndocs, run.doc_blob, run.tf_blob, run.dl_blob)
          .filter(p => Searcher.liveDoc(tombL, p.docid))
          .flatMap(p => qids.iterator.map(q => (q, p.docid)))
      }.toDF("qid", "docid").distinct()
    val counts = matched
      .withColumn("grp", shiftright(col("docid"), docShift))
      .join(index.docs.select(col("docid"), col("docno"), col("grp")),
        Seq("docid", "grp"))
      .select(col("qid"), col("docno")).distinct()
      .groupBy("qid").count()
      .as[(String, Long)].collect().toMap
    topics.map(t => t.qid -> counts.getOrElse(t.qid, 0L)).toMap
  }

  /** Grp partitions scanned by the last [[complementTail]] call — an
    * observability/spec probe (BoolQuerySpec asserts the early stop), not
    * part of the search contract.
    */
  @volatile var lastComplementGrpsScanned: Int = 0

  /** K-bounded match-all complement (pure negation, explicit `*`). Every
    * corpus doc outside the query's candidate stream matches at the
    * constant empty-document score, and the collector breaks score ties by
    * docid asc — so of the (semantically full-corpus) complement, only the
    * k smallest surviving docids per qid can ever reach the top-k. The
    * docs table is grp-partitioned with grp = the docid's high bits, so
    * scanning grp partitions in ascending value order visits disjoint
    * ascending docid ranges: batches double until every complement qid
    * holds k survivors, then the scan stops. Work is O(k) result rows per
    * qid plus the prefix of partitions actually read (partition-pruned via
    * the grp predicate) — replaces round 4's maxComplementDocs
    * fail-loudly cap with the bounded scan the cap was guarding against
    * needing. Each batch runs the search collector ([[TopK.toDriver]]):
    * per-partition heaps bring ≤ k rows per qid per partition to the
    * driver, whose merge keeps ≤ k docids per complement qid — the same
    * magnitude the final collector returns.
    *
    * `evaluated` is the pre-NaN-drop candidate stream: eval-rejected docs
    * (e.g. a doc holding only the negated term) must stay excluded from
    * the complement, and its localCheckpoint upstream keeps the repeated
    * anti-joins from recomputing the postings decode per batch.
    */
  private def complementTail(
      complementQids: Seq[(String, Float)],
      evaluated: Dataset[(String, Long, Float)],
      excluded: Map[String, Set[Long]],
      k: Int): Dataset[(String, Long, Float)] = {
    import spark.implicits._
    val grps = index.docGrps
    // fail loud, not empty: a docs table without grp= partitions (foreign
    // or pre-partitioning layout) has no ascending-docid scan order, and
    // silently returning zero complement rows would be a wrong answer
    require(grps.nonEmpty || index.stats.max_doc == 0,
      "match-all complement needs a grp-partitioned docs table " +
        "(ascending-docid scan order); this index has no grp= partitions")
    val cands = evaluated.map(t => (t._1, t._2)).toDF("qid", "docid")
    val acc = scala.collection.mutable.LinkedHashMap(
      complementQids.map { case (q, s) => q -> (s, Vector.empty[Long]) }: _*)
    // constant score per qid → the collector's (score desc, docid asc)
    // order is exactly the docid-asc min-k this tail needs
    val excl = excluded
    val tombL = tombstonesBc // deleted docs don't match-all either
    var idx = 0
    var batch = 1
    while (idx < grps.length && acc.values.exists(_._2.length < k)) {
      val need = acc.iterator.collect {
        case (q, (s, got)) if got.length < k => (q, s)
      }.toSeq
      val gs = grps.slice(idx, idx + batch)
      idx += gs.length
      batch *= 2
      // gs is a contiguous slice of the complete sorted grp listing, so a
      // closed range prunes exactly the same partitions as isin(gs) while
      // keeping the predicate O(1) literals — a late doubling batch can
      // span thousands of grps, and an In() that size bloats the plan
      val got = TopK.toDriver(index.docs
        .where(col("grp") >= gs.head && col("grp") <= gs.last)
        .select(col("docid"))
        .crossJoin(need.toDF("qid", "cscore"))
        .join(cands, Seq("qid", "docid"), "left_anti")
        .select(col("qid"), col("docid"), col("cscore"))
        .as[(String, Long, Float)]
        .filter(t => Searcher.liveDoc(tombL, t._2) &&
          excl.get(t._1).forall(!_.contains(t._2))), k)
      got.foreach { case (q, hits) =>
        val (s, have) = acc(q)
        // batches ascend in docid and each batch's hits arrive docid-asc,
        // so appending keeps the global docid order; cap at k
        acc(q) = (s, (have ++ hits.iterator.map(_._1)).take(k))
      }
    }
    lastComplementGrpsScanned = idx
    val rows = acc.iterator.flatMap { case (q, (s, ds)) =>
      ds.iterator.map(d => (q, d, s))
    }.toSeq
    spark.createDataset(rows)
  }

  /** Paged interactive search (≙ the SearchFiles demo's 5-page prefetch +
    * re-search when paging past it, `SearchFiles.java:140-233`): prefetch
    * 5 pages, or exactly as many as the requested page needs.
    */
  def searchPaged(topic: Topic, page: Int, hitsPerPage: Int = 10,
                  scorerName: String = "bm25"): Seq[RunLine] = {
    require(page >= 0 && hitsPerPage > 0)
    val prefetch = math.max(5 * hitsPerPage, (page + 1) * hitsPerPage)
    search(Seq(topic), prefetch, scorerName).collect().toSeq
      .slice(page * hitsPerPage, (page + 1) * hitsPerPage)
  }

  /** Render run lines in trec_eval format (`BatchSearch.java:305-307`). */
  def formatRun(lines: Seq[RunLine]): Seq[String] =
    lines.map(l => s"${l.qid} Q0 ${l.docno} ${l.rank} ${l.score} ${l.runtag}")
}

/** Bounded top-k by (key asc, docid asc) — the TopFieldCollector analog of
  * the score collector [[TopK]]: buffers stay ≤ 4k entries, partials
  * merge associatively.
  */
final class SortTopKAgg(k: Int,
                        bufEnc: Encoder[Seq[(String, Long)]],
                        outEnc: Encoder[Seq[(String, Long)]])
    extends Aggregator[(String, Long, String), Seq[(String, Long)], Seq[(String, Long)]] {
  private def better(a: (String, Long), b: (String, Long)): Boolean = {
    val c = a._1.compareTo(b._1)
    c < 0 || (c == 0 && a._2 < b._2)
  }
  private def compact(s: Seq[(String, Long)]): Seq[(String, Long)] =
    s.sortWith(better).take(k)
  def zero: Seq[(String, Long)] = Vector.empty
  def reduce(buf: Seq[(String, Long)], in: (String, Long, String)): Seq[(String, Long)] = {
    val b2 = buf :+ ((in._3, in._2))
    if (b2.size >= 4 * k) compact(b2) else b2
  }
  def merge(a: Seq[(String, Long)], b: Seq[(String, Long)]): Seq[(String, Long)] =
    compact(a ++ b)
  def finish(buf: Seq[(String, Long)]): Seq[(String, Long)] = compact(buf)
  def bufferEncoder: Encoder[Seq[(String, Long)]] = bufEnc
  def outputEncoder: Encoder[Seq[(String, Long)]] = outEnc
}

object Searcher {
  /** Most hit rows a driver-side hit list of unbounded group count
    * ([[Searcher.topHits]]: n × |(qid, key) groups|) may collect before
    * the call fails loudly — 2^20 rows, about 100 MB of driver heap. A
    * constant, not a setting: it guards the driver, it is not a tuning knob.
    */
  val MaxDriverHits: Int = 1 << 20

  /** Per-index-identity term-stat memos (see the instance field): an
    * index snapshot's term statistics are immutable, so every Searcher on
    * the same [[BuiltIndex.statsKey]] shares one memo for the life of the
    * JVM.
    */
  private val statsCaches = scala.collection.concurrent.TrieMap
    .empty[String, scala.collection.concurrent.TrieMap[String, Option[(Long, Long)]]]

  private[search] def statsCacheFor(index: BuiltIndex)
      : scala.collection.concurrent.TrieMap[String, Option[(Long, Long)]] =
    statsCaches.getOrElseUpdate(index.statsKey,
      new scala.collection.concurrent.TrieMap[String, Option[(Long, Long)]]())

  /** True iff `docid` survives the broadcast tombstone overlay (None =
    * delete-free index). Static so executor closures capture only the
    * Option[Broadcast], never the Searcher.
    */
  @inline def liveDoc(
      tomb: Option[org.apache.spark.broadcast.Broadcast[Array[Long]]],
      docid: Long): Boolean =
    tomb.forall(b => java.util.Arrays.binarySearch(b.value, docid) < 0)

  /** Deduplicating merge of two sorted int arrays — a MultiPhraseQuery
    * union slot's position list (≙ UnionPostingsEnum). Static so the
    * phrase co-group closure captures no Searcher state.
    */
  def mergeSorted(a: Array[Int], b: Array[Int]): Array[Int] = {
    val out = new Array[Int](a.length + b.length)
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) { out(n) = a(i); i += 1 }
      else if (a(i) > b(j)) { out(n) = b(j); j += 1 }
      else { out(n) = a(i); i += 1; j += 1 }
      n += 1
    }
    while (i < a.length) { out(n) = a(i); i += 1; n += 1 }
    while (j < b.length) { out(n) = b(j); j += 1; n += 1 }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** Longest leading run of literal regex characters, used to prefix-prune
    * the [[Searcher.regexScan]] vocabulary scan. Stops at the first
    * metacharacter, and surrenders the final literal if a quantifier
    * follows it (in `ab*c` the `b` is optional, so only `a` is a sound
    * prefix bound). An escape (`\`) ends the literal run — conservatively,
    * since `\Q`/`\d`/`\.` all need real parsing to bound.
    */
  private[search] def regexLiteralPrefix(pattern: String): String = {
    val meta = ".[]{}()*+?\\|^$"
    var i = 0
    while (i < pattern.length && meta.indexOf(pattern.charAt(i)) < 0) i += 1
    if (i > 0 && i < pattern.length && "*+?{".indexOf(pattern.charAt(i)) >= 0)
      i -= 1
    pattern.substring(0, i)
  }
}
