package graft.search

import graft.{DriverRows, PlanRunner}
import graft.analysis.Analyzer
import graft.codec.PostingCodec
import graft.index.{BuiltIndex, Deletes}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator

import scala.reflect.runtime.universe.TypeTag

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
  *     → runs shipped undecoded to docid-range tasks ([[RangeScorer]]: no
  *       exchange for a small search, one range-keyed exchange of block
  *       slices for a large one)
  *     → per range, a document-at-a-time merge of the clause cursors, one
  *       block decoded at a time: per (query, doc) a sum in slot order
  *       ([[ClausePlan]]; Float addition is not associative, SURVEY.md
  *       §7.5), block-max WAND against the task's live top-k heap
  *     → in the same stage, a per-partition bounded top-k heap ([[TopK]])
  *     → driver merge of the ≤ k rows per query per partition into
  *       primitive (docids, scores) arrays, ranks
  *     → docno attach from the per-snapshot memo of docid pages (a job
  *       only for pages it lacks; docnos aligned with the sorted distinct
  *       docids)
  *       → dedup-by-docno keeping the first pre-dedup rank
  *       (`BatchSearch.java:290,296-304` — the FR-collection duplicate
  *       workaround; ranks skip after a duplicate, replicated faithfully)
  *     → run-line rows written on the driver under a [[graft.DriverRows]]
  *       leaf, the returned Dataset's plan (no `LocalRelation`).
  *
  * Query analysis reuses the index's persisted analyzer config, ruling out
  * the reference's possible index/query analyzer mismatch by construction.
  */
final class Searcher private[graft] (val index: BuiltIndex, forcedRanges: Int) {
  def this(index: BuiltIndex) = this(index, 0)
  private val spark: SparkSession = index.spark
  private val analyzer = new Analyzer(index.cfg.analyzer)

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

  // every topic-batch entry point: clause/weight state is keyed (qid,
  // qidx), so two topics sharing a qid would silently blend their clause
  // sets (maxOverlap, requireAll counts, weights) — fail loudly instead
  private def requireDistinctQids(topics: Seq[Topic]): Unit =
    require(topics.map(_.qid).distinct.size == topics.size,
      s"topics must have distinct qids, got: ${topics.map(_.qid).mkString(", ")}")

  /** ≙ SimpleQueryParser over analyzed text: one unboosted SHOULD clause
    * per token occurrence — or per `distinct` term — in token order
    * (`BatchSearch.java:189-190,252`).
    */
  private def topicClauses(topics: Seq[Topic], distinct: Boolean = false): Seq[WeightedClause] =
    topics.flatMap { t =>
      val terms = analyzer.analyze(t.text)
      (if (distinct) terms.distinct else terms).zipWithIndex.map { case (term, i) =>
        WeightedClause(t.qid, i, term, 1.0f)
      }
    }

  /** (qid, term) for each distinct analyzed term of each topic. */
  private def topicTerms(topics: Seq[Topic]): Seq[(String, String)] =
    topics.flatMap(t => analyzer.analyze(t.text).distinct.map(term => (t.qid, term)))

  /** term → the distinct keys of its (key, term) pairs. */
  private def keysByTerm(pairs: Seq[(String, String)]): Map[String, Seq[String]] =
    pairs.groupBy(_._2).map { case (term, xs) => term -> xs.map(_._1).distinct }

  /** Distinct live (key, docid) pairs of the documents matching each term
    * of `byTerm` (term → the keys it matches for): the match-only read of
    * facets, sorted retrieval, adjacency, negation and match counting. The
    * scan reads docid runs alone ([[BuiltIndex.postingsMatch]]); tombstoned
    * docs are dropped at decode time. Columns (key, docid).
    */
  private def matchPairs(byTerm: Map[String, Seq[String]]): DataFrame = {
    val bc = spark.sparkContext.broadcast(byTerm)
    val tombL = tombstonesBc
    index.forTerms(index.postingsMatch, byTerm.keys)
      .as(RangeScorer.RunEnc)
      .flatMap { run =>
        val keys = bc.value(run.term)
        val tombs = Searcher.tombsOf(tombL)
        PostingCodec.decodeDocids(run.ndocs, run.doc_blob)
          .filter(Deletes.live(tombs, _))
          .flatMap(d => keys.iterator.map(k => (k, d)))
      }(Searcher.KeyDocEnc)
      .toDF("key", "docid").distinct()
  }

  /** Top-k retrieval for a batch of topics. Default k mirrors the
    * reference's `returnedResultCount` (`LTRSettings.java:14`).
    */
  def search(topics: Seq[Topic], k: Int = 1000,
             scorerName: String = "bm25",
             pruning: Boolean = false,
             minShouldMatch: Int = 0): Dataset[RunLine] = {
    requireDistinctQids(topics)
    searchClauses(topicClauses(topics), k, scorerName, pruning = pruning,
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
    * bucket-pruned and filtered to the explained docids in-row, and df
    * comes from the term-stats memo ([[BuiltIndex.termStatsOf]]).
    */
  def explainStats(topics: Seq[Topic], k: Int = 5,
                   scorerName: String = "bm25"): DataFrame = {
    val hits = search(topics, k, scorerName).collect().toSeq
    val ids = docidLookup(hits.map(_.docno))
    val qterms = topicTerms(topics)
    // (docid → (qid, docno)) pairs for the explained hits (one per qid and
    // docno: the collector dedups docnos), broadcast-sized
    val wanted: Map[Long, Array[(String, String)]] = hits
      .flatMap(h => ids.get(h.docno).map(id => (id, (h.qid, h.docno))))
      .groupMap(_._1)(_._2).map { case (id, xs) => id -> xs.toArray }
    val wantedB = spark.sparkContext.broadcast(wanted)
    val termsByQidB = spark.sparkContext.broadcast(
      qterms.groupMap(_._1)(_._2).map { case (q, ts) => q -> ts.toSet })
    val dfs: Map[String, Long] =
      index.termStatsOf(qterms.map(_._2)).map { case (t, (df, _)) => t -> df }
    index.forTerms(index.postingsDecode, dfs.keys)
      .as(RangeScorer.RunEnc)
      .flatMap { run =>
        val df = dfs(run.term)
        PostingCodec.decodeBlobs(run.ndocs, run.doc_blob, run.tf_blob, run.dl_blob)
          .flatMap { p =>
            wantedB.value.getOrElse(p.docid, Array.empty[(String, String)])
              .iterator
              .filter { case (q, _) => termsByQidB.value(q).contains(run.term) }
              .map { case (q, d) => (q, d, run.term, p.tf.toLong, p.dl.toLong, df) }
          }
      }(Searcher.ExplainEnc).toDF("qid", "docno", "term", "tf", "dl", "df")
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
    import spark.implicits._
    val ntDf = topics.map(t => (t.qid, analyzer.analyze(t.text).distinct.length.toLong))
      .toDF("qid", "nterms")
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
    scoredClauses(topicClauses(topics), scorerName = scorerName)
  }

  /** Field-collapsed top-k (≙ Lucene's grouping module /
    * CollapsingTopDocsCollector over a SortedDocValues field — the code-
    * search "one hit per repository" shape): per query, each collapse key
    * keeps only its best document by the collector ordering, and the top-k
    * ranks the collapsed winners. `keys` is a (docid, ckey) doc-values
    * table — build it once per corpus with [[collapseKeyTable]] and reuse
    * across queries. Pruning is structurally off: block-max WAND's θ is
    * the global kth score, but a key's winner may rank anywhere.
    */
  def searchCollapsed(topics: Seq[Topic], keys: DataFrame, k: Int = 1000,
                      scorerName: String = "bm25"): Dataset[RunLine] = {
    requireDistinctQids(topics)
    searchClauses(topicClauses(topics), k, scorerName, collapseKeys = Some(keys))
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
    searchClauses(topicClauses(topics), k, scorerName, filterDocids = Some(filter))
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
    val termQids = keysByTerm(topicTerms(topics))
    if (termQids.isEmpty)
      return Seq.empty[(String, String, Long)].toDF("qid", "ckey", "n_docs")
    matchPairs(termQids).withColumnRenamed("key", "qid")
      .join(keys, Seq("docid"))
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
    val matched = matchPairs(Map(terms.head -> Seq(terms.head))).select($"docid")
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
    * or with a null key are omitted (Lucene would sort missing-value docs
    * last). Keys compare as strings (UTF-8 byte order, Spark's). The
    * per-qid top-k is [[TopK.ranked]], bounded in each map partition, so
    * the shuffle moves ≤ k rows per topic per partition regardless of
    * match count. Returns (qid, docno, rank, ckey).
    */
  def searchSorted(topics: Seq[Topic], keys: DataFrame, k: Int = 1000): DataFrame = {
    requireDistinctQids(topics)
    import spark.implicits._
    val termQids = keysByTerm(topicTerms(topics))
    if (termQids.isEmpty) return DriverRows.frame(spark, Searcher.SortedSchema, Array.empty)
    val matched = matchPairs(termQids)
      .join(keys.where($"ckey".isNotNull).select($"docid", $"ckey".cast("string").as("ckey")),
        Seq("docid"))
    // driver-side docno attach (see collectTopK) — ≤ k rows per topic by
    // construction; the docno page memo replaces broadcast + join.
    val ranked = TopK.ranked(matched, Seq("key"), Seq($"ckey".asc, $"docid".asc), k)
      .select($"key", $"docid", $"rank", $"ckey").as[(String, Long, Long, String)]
      .collect().toSeq
    val docnos = docnoLookup(ranked.map(_._2).toArray)
    val rows = new DriverRows.Builder(4)
    ranked.foreach { case (qid, docid, rank, ckey) =>
      val docno = docnos(docid)
      if (docno != null) rows += { w =>
        w.write(0, UTF8String.fromString(qid)); w.write(1, docno); w.write(2, rank)
        w.write(3, UTF8String.fromString(ckey))
      }
    }
    DriverRows.frame(spark, Searcher.SortedSchema, rows.result())
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
    val ids = docidLookup(cursors.values.map(_._2).toSeq)
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
    * [[collapseKeyTable]]. The per-(qid, ckey) top-n is [[TopK.ranked]],
    * bounded in each map partition, so the shuffle moves ≤ n rows per
    * group per partition and only the merged n×|groups| hit list reaches
    * the driver for the docno attach. That list grows with the key
    * column's cardinality, so the collect stops at
    * [[Searcher.MaxDriverHits]] + 1 rows and fails loudly past the bound;
    * an unbounded key column needs a distributed tail (keep the scored
    * join and rank distributively) instead.
    * Docs without a key row or with a null key are omitted, like Lucene
    * facets. Returns (qid, ckey, docno, hit_rank) with hit_rank 0-based
    * within the group.
    */
  def topHits(topics: Seq[Topic], keys: DataFrame, n: Int = 3,
              scorerName: String = "bm25"): DataFrame = {
    requireDistinctQids(topics)
    import spark.implicits._
    val keyed = scoredTopics(topics, scorerName).toDF("qid", "docid", "score")
      .join(keys.where($"ckey".isNotNull).select($"docid", $"ckey".cast("string").as("ckey")),
        Seq("docid"))
    val ranked = TopK.ranked(keyed, Seq("qid", "ckey"), Seq($"score".desc, $"docid".asc), n)
      .select($"qid", $"ckey", $"docid", $"rank").as[(String, String, Long, Long)]
      .take(Searcher.MaxDriverHits + 1).toSeq
    require(ranked.length <= Searcher.MaxDriverHits,
      s"topHits would collect more than ${Searcher.MaxDriverHits} hit rows " +
        s"(n=$n per (qid, key) group) to the driver; lower n or use a " +
        "lower-cardinality key column")
    val docnos = docnoLookup(ranked.map(_._3).toArray)
    val rows = new DriverRows.Builder(4)
    ranked.foreach { case (qid, ckey, docid, r) =>
      val docno = docnos(docid)
      if (docno != null) rows += { w =>
        w.write(0, UTF8String.fromString(qid)); w.write(1, UTF8String.fromString(ckey))
        w.write(2, docno); w.write(3, r)
      }
    }
    DriverRows.frame(spark, Searcher.TopHitsSchema, rows.result())
  }

  /** docno → docid for a driver-bounded docno set: one pushed-down point
    * lookup on the doc table, no job for no docnos.
    */
  private def docidLookup(docnos: Seq[String]): Map[String, Long] =
    if (docnos.isEmpty) Map.empty
    else PlanRunner.rows(index.docs.where(col("docno").isin(docnos.distinct: _*))
      .select("docno", "docid"))(r => r.getUTF8String(0).toString -> r.getLong(1)).toMap

  /** docid → docno for a driver-bounded docid set, answered from the
    * JVM-wide memo of docid pages ([[Searcher.PageShift]] docids each,
    * keyed by [[BuiltIndex.snapshotKey]]; ≙ a stored-fields chunk read,
    * not a per-document seek). A memo-warm lookup runs no job. Otherwise
    * one job reads the pages the memo lacks whole and keeps them; when
    * those pages span more than [[Searcher.PageLoadMax]] docids (a large
    * hit set spread over a large index) it reads only the ids on them and
    * keeps nothing. The docnos come back aligned with the ids' sorted,
    * distinct array ([[Searcher.Docnos]]), null where no document holds
    * an id: a loaded page is complete.
    */
  private[graft] def docnoLookup(ids: Array[Long]): Searcher.Docnos = {
    import Searcher.{PageShift, docnoPages}
    val sorted = ids.distinct.sorted
    val key = index.snapshotKey
    val pages = sorted.map(_ >> PageShift).distinct
    val held = docnoPages.get(pages.toSeq.map(key -> _))
    val missing = pages.filterNot(p => held.contains(key -> p))
    val read =
      if (missing.isEmpty) new Searcher.Docnos(Array.emptyLongArray, Array.empty)
      else if (missing.length.toLong << PageShift <= Searcher.PageLoadMax) {
        val all = readDocnos(missing.flatMap(p => (p << PageShift) until ((p + 1) << PageShift)))
        missing.foreach(p => docnoPages.put(key -> p, all.page(p)))
        all
      } else readDocnos(sorted.filterNot(d => held.contains(key -> (d >> PageShift))))
    new Searcher.Docnos(sorted, sorted.map(d => held.get(key -> (d >> PageShift)).fold(read(d))(_(d))))
  }

  /** The docnos of the sorted, distinct `docids`, in one job: grp
    * partition pruning over the docid-sorted doc files, plus either the
    * docids as a pushed-down set predicate (≤ 4,096 of them; parquet skips
    * row groups outside their range) or, for more, an in-task filter
    * against their sorted array, which never builds a large predicate.
    * Both predicates are set-valued ([[BuiltIndex.inSet]]): generated code
    * references them, so a fresh search compiles no class. Aligned with
    * `docids`, null where no document holds one.
    */
  private def readDocnos(docids: Array[Long]): Searcher.Docnos = {
    val docShift = index.cfg.groupShift + index.cfg.mergeShift
    val inGrps = BuiltIndex.inSet(spark, "grp", docids.map(_ >> docShift).distinct.toSeq, -_.toLong)
    val parts =
      if (docids.length <= 4096)
        PlanRunner.partitions(index.docs.where(inGrps && BuiltIndex.inSet(spark, "docid", docids.toSeq, docids.head - _))
          .select("docid", "docno"))(Searcher.docnoRows(None))
      else PlanRunner.partitions(index.docs.where(inGrps).select("docid", "docno"))(Searcher.docnoRows(Some(docids)))
    val docnos = new Array[UTF8String](docids.length)
    parts.foreach { case (ds, ns) =>
      var i = 0
      while (i < ds.length) {
        val at = java.util.Arrays.binarySearch(docids, ds(i))
        if (at >= 0) docnos(at) = ns(i)
        i += 1
      }
    }
    new Searcher.Docnos(docids, docnos)
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
    searchClauses(topicClauses(topics), k, scorerName, mode = "and")
  }

  /** Pruning accumulators of the most recent pruned search: the blocks
    * its range tasks decoded vs skipped, populated once the returned Dataset
    * is acted on — for tests and diagnostics.
    */
  @volatile private var pruningAccs: Option[(LongAccumulator, LongAccumulator)] = None
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
    import spark.implicits._
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
        def go(n: Node, underNot: Boolean): EvalNode = {
          // a leaf takes the next clause index
          def leaf(add: Int => Unit): EvalNode = {
            val q = i; i += 1; if (underNot) prohibited += q
            add(q)
            ELeaf(q)
          }
          n match {
            case MatchAllNode =>
              if (!underNot) nMatchAll += 1
              EConst(1.0f) // queryNorm folded in by searchClauses
            case TermLeaf(term) => leaf(q => wc += WeightedClause(t.qid, q, term, 1.0f))
            case PhraseLeaf(slots, slop) => leaf(q => pc += PhraseClause(t.qid, q, slots, 1.0f, slop))
            case PrefixLeaf(p) => leaf(q => ec += ExpansionClause(t.qid, q, expandPrefix(p), 1.0f))
            case FuzzyLeaf(base, d) =>
              val baseCp = base.codePointCount(0, base.length)
              val boosted = expandFuzzy(base, d).map { case (term, dist) =>
                val termCp = term.codePointCount(0, term.length)
                val boost = if (dist == 0) 1.0f
                  else 1.0f - dist.toFloat / math.min(baseCp, termCp).toFloat
                (term, boost)
              }
              leaf(q => bc += BlendedClause(t.qid, q, boosted, 1.0f))
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
        }
        val root2 = go(root, underNot = false)
        treeB += t.qid -> TreeSpec(root2, prohibited.result(), nMatchAll)
      }
    }
    val trees = treeB.result()
    if (trees.isEmpty) return spark.emptyDataset[RunLine]
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
  // reuse the scan instead of re-running it. Bounded (Searcher.MemoPatterns
  // each): a cached searcher lives as long as the JVM.
  private[graft] val prefixCache = BuiltIndex.lru[(String, Int), Seq[String]](Searcher.MemoPatterns)
  private val fuzzyCache = BuiltIndex.lru[(String, Int, Int), Seq[(String, Int)]](Searcher.MemoPatterns)

  // the memoized value of `key`, computed outside the map's lock
  private def memo[K, V](m: java.util.Map[K, V], key: K)(v: => V): V =
    Option(m.get(key)).getOrElse { val r = v; m.put(key, r); r }

  def expandPrefix(prefix: String, cap: Int = 4096): Seq[String] =
    memo(prefixCache, (prefix, cap))(
      vocabTerms(prefixScan(prefix), cap, s"prefix '$prefix*'"))

  /** The distinct terms of a vocabulary scan, failing loudly past `cap`. */
  private def vocabTerms(scan: DataFrame, cap: Int, what: => String): Seq[String] = {
    import spark.implicits._
    val out = scan.select("term").distinct().as[String].take(cap + 1).toSeq
    require(out.size <= cap, s"$what expands past $cap terms")
    out
  }

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
    memo(fuzzyCache, (base, maxEdits, maxExpansions)) {
      import spark.implicits._
      index.vocab
        .where(col("len") >= base.length - maxEdits &&
          col("len") <= base.length + maxEdits)
        .select(col("term"), levenshtein(col("term"), lit(base)).as("d"))
        .where(col("d") <= maxEdits)
        .distinct()
        .orderBy(col("d"), col("term"))
        .as[(String, Int)].take(maxExpansions).toSeq
    }

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
    // df of the inputs themselves: the memoized point lookup
    val knownDf = index.termStatsOf(inputs)
    val active = inputs.distinct
      .filter(t => knownDf.get(t).fold(0L)(_._1) <= maxQueryFrequency)
    val empty = Seq.empty[(String, String, Long, Long, Long)]
      .toDF("q", "suggestion", "dist", "df", "rank")
    if (active.isEmpty) return empty
    val scored = index.termStats.select(col("term"), col("df"))
      .join(broadcast(editCandidates(active, maxEdits)), Seq("term"))
    TopK.ranked(scored, Seq("q"), Seq(col("dist").asc, col("df").desc, col("term").asc), topN)
      .select(col("q"), col("term").as("suggestion"), col("dist").cast("long").as("dist"),
        col("df").cast("long").as("df"), col("rank"))
  }

  /** (q, term, dist) for every vocabulary term within `maxEdits` of an
    * input: one length-band partition-pruned vocab scan serves the whole
    * batch (inputs broadcast into a nested-loop join).
    */
  private def editCandidates(inputs: Seq[String], maxEdits: Int): DataFrame = {
    import spark.implicits._
    val lens = inputs.map(_.length)
    index.vocab
      .where(col("len") >= lens.min - maxEdits && col("len") <= lens.max + maxEdits)
      .join(broadcast(inputs.toDF("q")),
        abs(col("len") - length(col("q"))) <= maxEdits &&
          levenshtein(col("term"), col("q")) <= maxEdits)
      .select(col("q"), col("term"), levenshtein(col("term"), col("q")).as("dist"))
      .distinct() // a delta-union vocab may list a term once per delta
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
    val matched = matchPairs(keysByTerm(termsByName)).withColumnRenamed("key", "name")
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
    // one length-banded vocab scan serves every slot's candidate set
    val ranked: Map[String, Seq[(String, Long)]] = index.termStats
      .select(col("term"), col("df"), col("cf"))
      .join(broadcast(editCandidates(slots.flatMap(_._2).distinct, maxEdits)), Seq("term"))
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
    // bigram collection frequencies: one memoized point lookup on the
    // shingle index for every adjacent pair any sequence uses
    val bigCf: Map[String, Long] = shingleIdx.termStatsOf(seqs.flatMap { case (_, ws) =>
      ws.sliding(2).map(p => p.head + " " + p(1))
    }).map { case (pair, (_, cf)) => pair -> cf }
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

  private def requireSpans(entry: String, qids: Seq[String]): Unit = {
    require(qids.nonEmpty, s"$entry needs at least one span")
    require(qids.distinct.size == qids.size, "duplicate qids in one span batch")
    require(index.cfg.indexPositions,
      "span queries need a positions-enabled index (IndexConfig.indexPositions)")
  }

  /** SpanNearQuery over two single-term spans, both directions: `ordered`
    * picks the faithful NearSpansOrdered or NearSpansUnordered walk
    * ([[SpanNear.freq]]), whose freq is scored like a phrase — through the
    * similarity's TF saturation against the accumulated two-term weight.
    * Each span is a two-slot positional clause of the range tasks (one
    * bucket-pruned positional scan serves the batch).
    */
  def searchSpanNear(spans: Seq[(String, String, String, Int)], k: Int = 1000,
                     scorerName: String = "bm25",
                     ordered: Boolean = true): Dataset[RunLine] = {
    requireSpans("searchSpanNear", spans.map(_._1))
    require(spans.forall(_._4 >= 0), "slop must be non-negative")
    require(spans.forall(s => s._2 != s._3),
      "span near of a repeated term needs repeat-occurrence pinning; unsupported")
    val scorer = Scorer.byName(scorerName)
    val stats = CollStats(index.stats.max_doc, index.stats.sum_total_term_freq)
    val dfs = index.termStatsOf(spans.flatMap(s => Seq(s._2, s._3)))
    // both terms must be indexed
    collectSpans(spans.collect {
      case (qid, ta, tb, slop) if dfs.contains(ta) && dfs.contains(tb) =>
        PositionalClause(qid, 0, Seq((ta, 0), (tb, 1)), Proximity.Near(slop, ordered),
          scorer.phraseWeight(Seq(dfs(ta), dfs(tb)), stats), 1.0f)
    }, dfs, k, scorer, stats)
  }

  /** Top-k of one-clause span queries, each clause its qid's slot 0. */
  private def collectSpans(clauses: Seq[PositionalClause], dfs: Map[String, (Long, Long)],
                           k: Int, scorer: Scorer, stats: CollStats): Dataset[RunLine] =
    if (clauses.isEmpty) spark.emptyDataset(Searcher.LineEnc)
    else collectTopK(RangeScorer.score(index, RangeClauses(Map.empty, clauses),
      clauses.map(_.qid -> 1).toMap,
      () => new Searcher.FlatRuns(clauses.map(_.qid -> Array(0)).toMap, Map.empty, false, 0, scorer),
      scorer, stats, tombstonesBc, Map.empty, None,
      clauses.flatMap(_.terms).map(t => dfs(t._1)._1).sum, forcedRanges), k, scorer.name)

  /** Query rescorer (≙ Elasticsearch `rescore`, score_mode total): the
    * cheap base query ranks everything; only its top-`window` docs per
    * query are re-scored as `base + weight · rescoreScore` and re-sorted
    * — a doc outside the window can never jump in, which is the point
    * (the expensive clause runs against a bounded candidate set). Here
    * the rescorer is a phrase clause batch (the classic "proximity
    * rescore" pattern). The window is a per-qid [[TopK.ranked]] in the
    * collector ordering (score desc, docid asc), so it stays on the
    * cluster — never on the driver.
    */
  def searchRescore(topics: Seq[Topic], rescoreClauses: Seq[PhraseClause],
                    window: Int, weight: Float, k: Int = 1000,
                    scorerName: String = "bm25"): Dataset[RunLine] = {
    requireDistinctQids(topics)
    require(k <= window, s"k=$k exceeds the rescore window=$window")
    import spark.implicits._
    val windowRows = TopK.ranked(
      scoredClauses(topicClauses(topics), window, scorerName).toDF("qid", "docid", "score"),
      Seq("qid"), Seq($"score".desc, $"docid".asc), window)
    val ph = scoredClauses(Nil, window, scorerName,
      phraseClauses = rescoreClauses)
    val w = weight
    val rescored = windowRows
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
    * over the analyzed topic terms as the sub-queries, unboosted and
    * without queryNorm. The range tasks every OR search runs fold each
    * doc's clauses in clause order, so the float result is deterministic.
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
    val clauses = topicClauses(topics, distinct = true)
    val dfs = index.termStatsOf(clauses.map(_.term))
    val terms = ClausePlan.termPlan(clauses.flatMap(c => dfs.get(c.term).map { case (df, cf) =>
      (c.term, scorer.termWeight(df, cf, stats), (c.qid, c.qidx, 1.0f))
    }))
    if (terms.isEmpty) return spark.emptyDataset[RunLine]
    val tie = tieBreaker
    collectTopK(RangeScorer.score(index, RangeClauses(terms),
      clauses.groupBy(_.qid).map { case (q, cs) => q -> cs.size },
      () => new Searcher.DisMaxRuns(tie), scorer, stats, tombstonesBc, Map.empty, None,
      RangeScorer.work(terms, t => dfs(t)._1), forcedRanges), k, scorer.name)
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
    val scores = scoredClauses(topicClauses(topics), k, scorerName)
    // distinct pairs: two neg terms ⇒ one demotion, not two rows
    val negPairs = matchPairs(keysByTerm(negTerms)).toDF("qid", "docid")
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
    * bound), weights attach via ONE memoized term-stats lookup for the
    * whole batch ([[BuiltIndex.termStatsOf]]); driver state is the
    * expansion cap, like every other vocab query.
    * Returns (qid, term, cf, rank).
    */
  def complete(prefixes: Seq[(String, String)], topN: Int = 5): DataFrame = {
    require(prefixes.nonEmpty, "complete needs at least one prefix")
    require(prefixes.map(_._1).distinct.size == prefixes.size,
      "duplicate qids in one completion batch")
    import spark.implicits._
    val exps = prefixes.map { case (qid, prefix) => qid -> expandPrefix(prefix) }
    val stats = index.termStatsOf(exps.flatMap(_._2))
    exps.flatMap { case (qid, exp) =>
      exp.flatMap(t => stats.get(t).map { case (_, cf) => t -> cf })
        .sortBy { case (t, cf) => (-cf, t) }
        .take(topN)
        .zipWithIndex
        .map { case ((t, cf), r) => (qid, t, cf, r.toLong) }
    }.toDF("qid", "term", "cf", "rank")
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
    requireSpans("searchSpanFirst", spans.map(_._1))
    require(spans.forall(_._3 > 0), "span end must be positive")
    val scorer = Scorer.byName(scorerName)
    val stats = CollStats(index.stats.max_doc, index.stats.sum_total_term_freq)
    val dfs = index.termStatsOf(spans.map(_._2))
    collectSpans(spans.collect { case (qid, t, end) if dfs.contains(t) =>
      PositionalClause(qid, 0, Seq((t, 0)), Proximity.First(end),
        scorer.termWeight(dfs(t)._1, dfs(t)._2, stats), 1.0f)
    }, dfs, k, scorer, stats)
  }

  private val regexCache = BuiltIndex.lru[(String, Int), Seq[String]](Searcher.MemoPatterns)

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
    memo(regexCache, (pattern, cap))(
      vocabTerms(regexScan(pattern), cap, s"regex '$pattern'"))

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
    vocabTerms(rangeScan(lo, hi), cap, s"range ['$lo','$hi']")
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
    * driver, SURVEY.md §2.6). Pruning is OR-only. `negTerms` are MUST_NOT
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
    * collector — the seam multi-field retrieval, rescore, function score
    * and collapse build on ([[MultiField]]); parameters as
    * [[searchClauses]]. It reads as plan ([[ClausePlan]]) → range tasks
    * ([[RangeScorer]]: a cursor per clause) → post-filters. Its stage ends in the
    * range tasks, so [[TopK]]'s per-partition heap runs in that stage. With
    * `pruning`, a pruned query's stream holds only the rows that entered
    * its range task's live top-k heap — a superset of its top k, each
    * scored exactly.
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
    val plan = new ClausePlan(clauses, phraseClauses, expansionClauses, blendedClauses,
      synonymClauses, trees, mode, minShouldMatch, pruning, negTerms, excludeDocnos,
      collapseKeys.nonEmpty, filterDocids.nonEmpty, index.cfg.indexPositions,
      Scorer.byName(scorerName),
      CollStats(index.stats.max_doc, index.stats.sum_total_term_freq), index.termStatsOf)
    if (plan.isEmpty) return spark.emptyDataset(RangeScorer.ScoredEnc)
    val scorer = plan.scorer

    // Resolve excluded docnos → docids (tiny point lookup on the doc table,
    // ≙ the reference's docno TermQuery lookups §2.3).
    val excluded: Map[String, Set[Long]] = {
      val ids = docidLookup(excludeDocnos.values.flatten.toSeq)
      excludeDocnos.map { case (qid, ds) => qid -> ds.flatMap(ids.get) }
    }

    // Block-max WAND (north-star extension, SURVEY.md §2.7) runs inside the
    // range tasks against each pruned query's live top-k heap: a block is
    // skipped only when its upper bound — block-max tf at block-min dl plus
    // the query's other clauses' maxima — is strictly below the current
    // kth score. Sound because scores are monotone ↑tf ↓dl.
    val wand = Option.when(plan.pruneQids.nonEmpty)(RangeScorer.Wand(plan.pruneQids, k,
      spark.sparkContext.longAccumulator("wand_blocks_decoded"),
      spark.sparkContext.longAccumulator("wand_blocks_pruned")))
    wand.foreach(w => pruningAccs = Some((w.decoded, w.skipped)))

    val slots = plan.slots
    def ranged(reducer: () => Searcher.RunReducer): Dataset[(String, Long, Float)] =
      RangeScorer.score(index, plan.cursors, slots.map { case (q, ss) => q -> ss.length },
        reducer, scorer, plan.stats, tombstonesBc, excluded, wand, plan.work, forcedRanges)

    // Per-(query, doc) scoring in the range tasks. Flat mode sums each doc
    // clause by clause (≙ boolean scorer sum) with optional require-all /
    // msm and top-level coord. Tree mode is the BooleanQuery-faithful
    // recursive evaluation of the query's broadcast tree over the doc's
    // clause scores, and keeps the NaN (no-match) rows: the match-all
    // complement below needs the full candidate set. When a complement
    // WILL be taken, the evaluated stream is lazily local-checkpointed so
    // its two consumers (score filter + candidate anti-join) share ONE
    // computation — typed-operator plans defeat Catalyst's exchange reuse,
    // so without this the whole postings decode would run twice.
    lazy val evaluated: Dataset[(String, Long, Float)] = {
      val treeEval = plan.treeEval
      val ev = ranged(() => new Searcher.TreeRuns(treeEval, slots, scorer))
      if (plan.complementQids.isEmpty) ev else ev.localCheckpoint(eager = false)
    }
    val scores: Dataset[(String, Long, Float)] =
      if (trees.nonEmpty) evaluated.filter(t => !t._3.isNaN)
      else {
        val (maxOv, and, msm) = (plan.maxOverlap, plan.conjunctive, minShouldMatch)
        ranged(() => new Searcher.FlatRuns(slots, maxOv, and, msm, scorer))
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
      if (plan.complementQids.isEmpty) scores
      else scores union complementTail(plan.complementQids, evaluated, excluded, k)

    // MUST_NOT terms (a true sibling MUST_NOT clause in one BooleanQuery —
    // the programmatic hard exclusion, unlike SimpleQueryParser's `-`
    // match-all wrap): the negated terms' live (qid, docid) pairs
    // ([[matchPairs]]) anti-join the score stream — excluded docs never
    // reach the collector (ranks close up, unlike the post-hoc feedback
    // filter).
    val scoresKept: Dataset[(String, Long, Float)] =
      if (negTerms.isEmpty) scoresWithComplement
      else scoresWithComplement.toDF("qid", "docid", "score")
        .join(matchPairs(keysByTerm(negTerms)).toDF("qid", "docid"),
          Seq("qid", "docid"), "left_anti")
        .as[(String, Long, Float)]

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
    collapseKeys match {
      case None => scoresFiltered
      case Some(keys) =>
        scoresFiltered.toDF("qid", "docid", "score")
          .join(keys.select($"docid", $"ckey"), Seq("docid"))
          .groupBy($"qid", $"ckey")
          .agg(max(struct($"score", (-$"docid").as("negid"), $"docid")).as("w"))
          .select($"qid", $"w.docid".as("docid"), $"w.score".as("score"))
          .as[(String, Long, Float)]
    }
  }

  /** Bounded top-k collector + docno attach + first-occurrence docno dedup
    * over a scored (qid, docid, score) stream — the shared tail of every
    * search entry point (score desc, docid asc tie-break — the Lucene
    * collector contract, SURVEY.md §2.5). The per-partition heaps run in
    * the stage that produced the scores (for a flat search, the range
    * tasks); the driver merges their ≤ k rows per topic per partition into
    * primitive arrays, assigns pre-dedup ranks, attaches docnos from the
    * docno page memo ([[docnoLookup]]) and drops a docno's later duplicates. The run
    * lines are written straight into rows (qid and runtag encoded once per
    * qid) under a [[graft.DriverRows]] leaf, so neither the lines nor
    * Catalyst's rules box or walk a hit.
    */
  private[search] def collectTopK(scored: Dataset[(String, Long, Float)],
                                  k: Int, runtag: String): Dataset[RunLine] = {
    val top = TopK.toDriver(scored, k)
    val docnos = docnoLookup(Array.concat(top.map(_.docids): _*))
    val tag = UTF8String.fromString(runtag)
    val lines = new DriverRows.Builder(5)
    top.foreach { h =>
      val seen = new java.util.HashSet[UTF8String]()
      h.docids.indices.foreach { rank =>
        val docno = docnos(h.docids(rank))
        // inner-join semantics: a docid absent from the doc table drops
        if (docno != null && seen.add(docno)) lines += { w =>
          w.write(0, h.key); w.write(1, docno); w.write(2, rank); w.write(3, h.scores(rank)); w.write(4, tag)
        }
      }
    }
    DriverRows.dataset(spark, Searcher.LineEnc, lines.result())
  }

  /** Distinct matching DOCNOS per query under OR semantics (≙ the
    * `TopDocs.totalHits` the reference's paging demo prints,
    * `SearchFiles.java:149-150`): a docid-run decode ([[matchPairs]]) →
    * docno attach → distinct count, no scoring, no driver-side doc sets.
    * Counting docnos (not docids) keeps the paging invariant `totalHits ≥
    * collected hits` on indexes holding re-ingested duplicate docnos
    * (streaming deltas / compactions), because [[search]] dedups its
    * output by docno.
    */
  def matchCounts(topics: Seq[Topic]): Map[String, Long] = {
    import spark.implicits._
    requireDistinctQids(topics)
    val pairs = topicTerms(topics)
    if (pairs.isEmpty) return topics.map(_.qid -> 0L).toMap
    val docShift = index.cfg.groupShift + index.cfg.mergeShift
    val counts = matchPairs(keysByTerm(pairs)).toDF("qid", "docid")
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
      val need = new DriverRows.Builder(2)
      acc.foreach { case (q, (s, got)) =>
        if (got.length < k) need += { w => w.write(0, UTF8String.fromString(q)); w.write(1, s) }
      }
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
        .crossJoin(DriverRows.frame(spark, Searcher.NeedSchema, need.result()))
        .join(cands, Seq("qid", "docid"), "left_anti")
        .select(col("qid"), col("docid"), col("cscore"))
        .as[(String, Long, Float)]
        .filter(t => Deletes.live(Searcher.tombsOf(tombL), t._2) &&
          excl.get(t._1).forall(!_.contains(t._2))), k)
      got.foreach { h =>
        val q = h.key.toString
        val (s, have) = acc(q)
        // batches ascend in docid and each batch's hits arrive docid-asc,
        // so appending keeps the global docid order; cap at k
        acc(q) = (s, (have ++ h.docids).take(k))
      }
    }
    lastComplementGrpsScanned = idx
    val rows = new DriverRows.Builder(3)
    acc.foreach { case (q, (s, ds)) =>
      val qid = UTF8String.fromString(q)
      ds.foreach(d => rows += { w => w.write(0, qid); w.write(1, d); w.write(2, s) })
    }
    DriverRows.dataset(spark, RangeScorer.ScoredEnc, rows.result())
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

object Searcher {
  /** Most hit rows a driver-side hit list of unbounded group count
    * ([[Searcher.topHits]]: n × |(qid, key) groups|) may collect before
    * the call fails loudly — 2^20 rows, about 100 MB of driver heap. A
    * constant, not a setting: it guards the driver, it is not a tuning knob.
    */
  val MaxDriverHits: Int = 1 << 20

  /** Most expansions each of a searcher's prefix, fuzzy and regex memos
    * holds, least recently used first out. A constant, not a setting: it
    * bounds the driver heap of a searcher cached for the JVM's life.
    */
  private[graft] val MemoPatterns: Int = 256

  // encoders of every search's tail, derived once (see RangeScorer.RunEnc)
  private[search] val LineEnc: Encoder[RunLine] = ExpressionEncoder[RunLine]()
  private val KeyDocEnc: Encoder[(String, Long)] = ExpressionEncoder[(String, Long)]()
  private val ExplainEnc: Encoder[(String, String, String, Long, Long, Long)] =
    ExpressionEncoder[(String, String, String, Long, Long, Long)]()
  // the columns of searchSorted, topHits and complementTail's (qid,
  // constant score) side: the tuple encoders' schemas, renamed
  private def columns[T: TypeTag](names: String*): StructType =
    StructType(ExpressionEncoder[T]().schema.zip(names).map { case (f, n) => f.copy(name = n) })
  private val SortedSchema = columns[(String, String, Long, String)]("qid", "docno", "rank", "ckey")
  private val TopHitsSchema = columns[(String, String, String, Long)]("qid", "ckey", "docno", "hit_rank")
  private val NeedSchema = columns[(String, Float)]("qid", "cscore")

  /** Docnos aligned with a sorted, distinct docid array: `docnos(i)` is the
    * docno of `ids(i)`, null where no doc holds it. A docno page of the
    * memo is one too, holding every document of its docid range.
    */
  private[graft] final class Docnos(val ids: Array[Long], val docnos: Array[UTF8String]) {
    /** `docid`'s docno by binary search, null if no doc holds it. */
    def apply(docid: Long): UTF8String = {
      val at = java.util.Arrays.binarySearch(ids, docid)
      if (at >= 0) docnos(at) else null
    }

    /** The documents of docid page `p` ([[PageShift]]), nulls dropped. */
    def page(p: Long): Docnos = {
      def from(d: Long) = { val at = java.util.Arrays.binarySearch(ids, d); if (at >= 0) at else -at - 1 }
      val on = (from(p << PageShift) until from((p + 1) << PageShift)).filter(docnos(_) != null)
      new Docnos(on.map(ids(_)).toArray, on.map(docnos(_)).toArray)
    }
  }

  /** log2 of the docids per page of the docno memo ([[Searcher
    * .docnoLookup]]): docids are dense within a docid-range group, so a
    * page of a built index holds up to 256 documents. Small pages keep a
    * cold lookup of a few scattered hits cheap on a large index.
    */
  private[graft] val PageShift = 8

  /** Most docids one lookup reads as whole pages ([[Searcher
    * .docnoLookup]]): past it, the lookup reads only its own ids and keeps
    * no page, so a cold lookup collects at most this many rows (about
    * 1.5 MB of 32-byte docnos) where a point lookup would collect its ids'.
    */
  private[graft] val PageLoadMax: Int = 1 << 14

  /** Most docnos the JVM-wide page memo holds, every snapshot's pages
    * together, least recently used page first out. A constant, not a
    * setting: it bounds the driver heap to about 64 bytes plus the UTF-8
    * bytes of the docno per held docno, so 2^18 docnos of 32 bytes take
    * about 25 MB.
    */
  private[graft] val MemoDocnos: Int = 1 << 18

  /** Docno pages by ([[BuiltIndex.snapshotKey]], docid >> [[PageShift]]). */
  private[graft] val docnoPages =
    new BuiltIndex.PartMemo[(String, Long), Docnos](MemoDocnos, _.ids.length max 1)

  /** A partition's (docid, docno) rows, only those on the sorted `keep`
    * array when one is given, as a pair of arrays, docnos copied out of
    * the reused rows.
    */
  private def docnoRows(keep: Option[Array[Long]]) = (it: Iterator[InternalRow]) => {
    val ds = Array.newBuilder[Long]
    val ns = Array.newBuilder[UTF8String]
    it.foreach { r =>
      if (keep.forall(java.util.Arrays.binarySearch(_, r.getLong(0)) >= 0)) {
        ds += r.getLong(0); ns += r.getUTF8String(1).clone()
      }
    }
    (ds.result(), ns.result())
  }

  /** The broadcast tombstone overlay's sorted docids, empty on a
    * delete-free index: the argument of [[Deletes.live]]. Static so
    * executor closures capture only the Option[Broadcast], never the
    * Searcher.
    */
  private[search] def tombsOf(tomb: Option[org.apache.spark.broadcast.Broadcast[Array[Long]]]): Array[Long] =
    tomb.fold(Array.emptyLongArray)(_.value)

  /** Folds one (qid, docid) of a range task ([[RangeScorer]]): `begin`,
    * then `add` per partial in ascending slot order ([[ClausePlan]]); the
    * doc yields a row scored `score` iff `keep`. One instance serves a
    * task, so state lives in fields: the flat and dismax folds allocate
    * nothing per doc. WAND folds a query's slot bounds through the same
    * instance, so a bound sums in the Float order of a real score.
    */
  private[search] trait RunReducer {
    def begin(qid: String): Unit
    def add(slot: Int, partial: Float): Unit
    def keep: Boolean = true
    def score: Float
  }

  /** Flat OR / AND / msm: each clause's slots (`slots`: qid → slot →
    * qidx) sum from 0, the clause sums add in qidx order, times
    * coord(matched clauses, maxOverlap); a run matching fewer clauses than
    * needed (all of them under AND, `msm` otherwise) is dropped.
    */
  private[search] final class FlatRuns(slots: Map[String, Array[Int]],
                                       maxOv: Map[String, Int], requireAll: Boolean,
                                       msm: Int, scorer: Scorer) extends RunReducer {
    private var qid = ""
    private var clauseOf: Array[Int] = _
    private var s = 0.0f // the closed clauses' sum
    private var c = 0.0f // the open clause's sum
    private var n = 0 // clauses matched: coord's overlap
    private var open = 0 // the open clause's qidx
    def begin(q: String): Unit = { qid = q; clauseOf = slots(q); s = 0.0f; c = 0.0f; n = 0 }
    def add(slot: Int, partial: Float): Unit = {
      val q = clauseOf(slot)
      if (n == 0 || q != open) { s += c; c = 0.0f; n += 1; open = q }
      c += partial
    }
    override def keep: Boolean = n >= (if (requireAll) maxOv.getOrElse(qid, 0) else msm)
    def score: Float = { // bm25's coord is 1: the plain sum
      val t = s + c
      val cf = scorer.coord(n, maxOv.getOrElse(qid, n))
      if (cf == 1.0f) t else t * cf
    }
  }

  /** DisjunctionMaxQuery: `max + tie·(Σ − max)`, Σ from 0, max from −∞. */
  private[search] final class DisMaxRuns(tie: Float) extends RunReducer {
    private var max = Float.NegativeInfinity
    private var sum = 0.0f
    def begin(qid: String): Unit = { max = Float.NegativeInfinity; sum = 0.0f }
    def add(slot: Int, partial: Float): Unit = { sum += partial; if (partial > max) max = partial }
    def score: Float = max + tie * (sum - max)
  }

  /** [[BoolQuery.eval]] of each run against its query's tree, a clause's
    * slots summed from 0 and a clause without one a NaN leaf. NaN
    * (no-match) rows are kept for the match-all complement.
    */
  private[search] final class TreeRuns(trees: Map[String, BoolQuery.EvalNode],
                                       slots: Map[String, Array[Int]],
                                       scorer: Scorer) extends RunReducer {
    private val m = new scala.collection.mutable.HashMap[Int, Float]()
    private var root: BoolQuery.EvalNode = _
    private var clauseOf: Array[Int] = _
    private val leaf: Int => Float = q => m.getOrElse(q, Float.NaN)
    private val coord: (Int, Int) => Float = scorer.coord
    def begin(qid: String): Unit = { m.clear(); root = trees(qid); clauseOf = slots(qid) }
    def add(slot: Int, partial: Float): Unit = {
      val q = clauseOf(slot)
      m.update(q, m.getOrElse(q, 0.0f) + partial)
    }
    def score: Float = BoolQuery.eval(root, leaf, coord)
  }

  /** Deduplicating merge of two sorted int arrays — a MultiPhraseQuery
    * union slot's position list (≙ UnionPostingsEnum).
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
