package graft

import graft.codec.PostingCodec
import graft.index.PostingRun
import graft.search.Topic
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every oracle-matched query runs the REAL engine pipeline (corpus →
  * checkpointed index build → table / search output) on the Spark side,
  * while the DuckDB side recomputes the same semantics independently from
  * the raw parquet — so a hash match certifies analyzer, codec, stats and
  * scoring end-to-end, not just SQL-on-SQL equality.
  */
object SparkEntry {

  /** The fixed topic batch (≙ `example/queries.txt` bag-of-words topics);
    * vocabulary drawn from the synthetic documents table. Topic 4 carries
    * the stopword "the" to exercise the stop filter on the query path.
    */
  val topics: Seq[Topic] = Seq(
    Topic("1", "hash join merge"),
    Topic("2", "fast table scan"),
    Topic("3", "dup customer data"),
    Topic("4", "the slow query window"))

  val TopK = 20

  // memoized raw-table reads per (session, path) — r6: fixture parquet is
  // immutable per JVM; ~16 entries re-opened events/embeddings, paying a
  // file listing + footer schema read each time
  private val tableCache = new scala.collection.concurrent.TrieMap[
    (SparkSession, String), DataFrame]()

  private def readTable(s: SparkSession, path: String): DataFrame =
    tableCache.getOrElseUpdate((s, path), s.read.parquet(path))

  /** Multi-field topics: content vocabulary mixed with PATH tokens (lang
    * codes, doc-id digits, the universal "txt" extension), so per-field
    * scoring, path-only matches and the boost weighting all materially
    * shape the ranking.
    */
  val multiTopics: Seq[Topic] = Seq(
    Topic("m1", "hash join txt"),
    Topic("m2", "de table scan"),
    Topic("m3", "en merge"),
    Topic("m4", "42 window"))

  // Curation-op gate parameters: a ~10% stable sample, and 512-token
  // packed sequences (small enough that sf0.01 docs span chunk boundaries).
  val SampleSalt = "s1"
  val WeightedSalt = "ws1"
  val SampleBuckets = 20
  val SampleKeep = 2
  val PackSeqLen = 512

  // Paging gate parameters: the second 5-hit page of topic 1.
  val PageNo = 1
  val PageSize = 5

  /** Explain gate: score components for each topic's top-5 hits. */
  val ExplainK = 5

  // search_after gate: cursor = the 10th hit, next page of 10.
  val SearchAfterDepth = 10

  // top_hits gate: best 2 docs per (topic, repo) group.
  val TopHitsN = 2

  // cardinality gate: HLL precision (2^8 = 256 registers).
  val HllP = 8

  // count-min gate: 4 rows × 256 columns.
  val CmsD = 4
  val CmsW = 256

  // Composed curation pipeline: quality floor and 90% train split.
  val CurateMinTokens = 5
  val CurateTrainKeep = 18

  // Resume-drill slice: docnos below this = doc_id < 200 (zero-padded ids
  // make the string ceiling ≡ the integer predicate the oracle uses).
  val ResumeDocnoCeiling = "doc-00000200"

  // Cluster-balanced sampling salt (q_cluster_sample).
  val ClusterSampleSalt = "cs1"

  /** Literal substring needles for the trigram-index gate entries: each
    * crosses a token boundary (or starts mid-word, s3), so the TERM index
    * cannot serve it — only the trigram candidate path can. Exact bytes,
    * no analysis.
    */
  val SubstringNeedles: Seq[(String, String)] = Seq(
    ("s1", "merge slow"),
    ("s2", "batch batch"),
    ("s3", "w qu"),
    ("s4", "table scan"))

  /** minimumNumberShouldMatch for the msm gate entry: ≥2 of each topic's
    * (up to 3 indexed) terms must match.
    */
  val MsmMin = 2

  private lazy val SubstringNeedlesSql: String =
    SubstringNeedles.map { case (q, n) => s"('$q','$n')" }.mkString(", ")

  /** Restricted-regex patterns for the trigram grep gate entry (the Cox
    * plan's supported grammar: literals + non-nested alternation). Each
    * expands to 2-4 literal branches crossing token boundaries.
    */
  val GrepPatterns: Seq[(String, String)] = Seq(
    ("g1", "merge (slow|fast)"),
    ("g2", "(dup|slow) (customer|query)"),
    ("g3", "batch (batch|stream)"))

  private lazy val GrepPatternsSql: String =
    GrepPatterns.map { case (q, p) => s"('$q','$p')" }.mkString(", ")

  /** Significant terms returned per topic (q_sig_terms). */
  val SigTermsN = 10

  /** Completion-suggester prefixes (q_complete). */
  val CompletePrefixes: Seq[(String, String)] =
    Seq(("c1", "s"), ("c2", "qu"), ("c3", "c"))

  /** SpanFirst topics (q_span_first_topk): term within the first N index
    * positions of the document.
    */
  val SpanFirsts: Seq[(String, String, Int)] =
    Seq(("f1", "hash", 5), ("f2", "window", 10), ("f3", "merge", 3))

  /** DisMax tie-breaker (q_dismax_topk): best clause + 0.3 × the rest. */
  val DisMaxTie = 0.3f

  /** Ordered span-near topics (q_span_near_topk): (qid, first term,
    * second term, slop).
    */
  val SpanNears: Seq[(String, String, String, Int)] = Seq(
    ("n1", "hash", "join", 2),
    ("n2", "table", "scan", 1),
    ("n3", "slow", "window", 3))

  /** Unordered span-near topics (q_span_unordered_topk): term pairs given
    * AGAINST their dominant text order, so the unordered walk's extra
    * matches are what the entry certifies.
    */
  val SpanNearsU: Seq[(String, String, String, Int)] = Seq(
    ("u1", "join", "hash", 2),
    ("u2", "scan", "table", 1),
    ("u3", "window", "slow", 3))

  /** Point-lookup docnos for the term-vectors gate entry. */
  val TermVectorDocnos: Seq[String] =
    Seq("doc-00000003", "doc-00000007", "doc-00000011")

  /** Rescore window and rescore-query weight (q_rescore_topk): each
    * topic's first two terms as an exact proximity phrase, weight 2,
    * re-sorting only the base top-50.
    */
  val RescoreWindow = 50
  val RescoreWeight = 2.0f

  /** Boosting-query negative terms per topic (q_boosting_topk); the 0.5
    * demotion factor is exactly representable, so the engine's Float
    * demote and the oracle's double demote order identically.
    */
  val BoostingNegTerms: Seq[(String, String)] =
    Seq(("1", "slow"), ("2", "dup"), ("3", "window"), ("4", "hash"))
  val NegativeBoost = 0.5f

  // Query-time synonym groups per topic (vocabulary words, so the math —
  // not the linguistics — is under test). Topic 4's group carries an
  // unindexed member that the clause must silently drop from the blend.
  val SynGroups: Map[String, Seq[String]] = Map(
    "1" -> Seq("scan", "window"),
    "2" -> Seq("dup", "slow"),
    "3" -> Seq("merge", "fast"),
    "4" -> Seq("hash", "customer", "zzz_unindexed"))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Engine.searcher(spark, "/root/testdata/sf0.001")
      .search(topics, TopK).toDF()

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 scan + docno/commit derivation + sha256 invariant surface
    "q_corpus" -> ((s, dir) => {
      corpus.Corpus.fromDocuments(s, dir)
        .select(col("docno"), col("repo"), col("path"), col("commit"), col("lang"),
          sha2(col("content"), 256).as("sha"),
          length(col("content")).cast("long").as("n_chars"))
        .orderBy("docno")
    }),
    // North-rule sha256 invariant as a gate row: the per-row content sha
    // STORED in the index at build time (computed executor-side with
    // java.security MessageDigest, IndexBuilder.scala:157) replayed
    // row-for-row against DuckDB's independent sha256 of the source table
    // — a third implementation checking the other two.
    "q_integrity" -> ((s, dir) => {
      Engine.oracleIndex(s, dir).docs
        .select(col("docno"), col("sha"))
        .orderBy("docno")
    }),
    // North-rule resume clause as a gate row: build a fixed 200-doc slice,
    // simulate a crash that loses every stage downstream of `stats`
    // (postings/term_stats/vocab + the completion marker), then build again.
    // The resumed run must SKIP completed upstream stages — `reused` is
    // pinned by the stage manifest's mtime staying untouched — and rebuild
    // only the lost ones, and each manifest's `rows_out` lineage metric is
    // replayed independently by the oracle (doc counts, the ntile-packed
    // merged-run count, |vocabulary|). A red row means resume recomputed
    // finished work, skipped unfinished work, or published stale lineage.
    "q_resume" -> ((s, dir) => {
      import s.implicits._
      import graft.index.{Checkpoint, IndexBuilder, IndexConfig, IndexLayout => L}
      import org.apache.hadoop.fs.Path
      val conf = s.sparkContext.hadoopConfiguration
      val cfg = IndexConfig(analyzer = Engine.OracleAnalyzer,
        rangePartitions = Engine.OracleRangePartitions)
      val root = s"${Engine.workDir}/resume_${dir.replaceAll("[^A-Za-z0-9.]+", "_")}"
      val fs = new Path(root).getFileSystem(conf)
      fs.delete(new Path(root), true) // the entry IS the crash drill: start clean
      val corp = corpus.Corpus.fromDocuments(s, dir)
        .where(col("docno") < ResumeDocnoCeiling) // fixed slice: bench-cheap at any sf
      IndexBuilder.build(corp, root, cfg)
      val stages = Seq(L.TokenizedDir -> "tokenized", L.DocsDir -> "docs",
        L.StatsDir -> "stats", L.PostingsDir -> "postings",
        L.TermStatsDir -> "term_stats", L.VocabDir -> "vocab")
      def mtime(sub: String): Long =
        fs.getFileStatus(new Path(s"$root/$sub/_graft_manifest.json"))
          .getModificationTime
      val before = stages.map { case (sub, _) => sub -> mtime(sub) }.toMap
      Seq(L.PostingsDir, L.TermStatsDir, L.VocabDir, L.PropsFile)
        .foreach(sub => fs.delete(new Path(s"$root/$sub"), true))
      IndexBuilder.build(corp, root, cfg) // resume
      stages.map { case (sub, name) =>
        val m = Checkpoint.readManifest(s"$root/$sub", conf)
          .getOrElse(sys.error(s"missing manifest for stage $name"))
        (name, m.rowsOut, mtime(sub) == before(sub))
      }.toDF("stage", "rows_out", "reused").orderBy("stage")
    }),
    // §2.4 doc length (dl ≙ computeNorm) through the full build pipeline
    "q_doclens" -> ((s, dir) => {
      Engine.oracleIndex(s, dir).docs
        .select(col("docno"), col("dl").cast("long").as("dl"))
        .orderBy("docno")
    }),
    // Exact discrete percentiles of the doc-length distribution (the
    // token-count report a training-data pipeline publishes): ONE
    // count-by-value shuffle + a driver cumsum over distinct lengths;
    // integer-exact ⌈p·n/100⌉ rank arithmetic so any replay lands on the
    // same row
    "q_percentiles" -> ((s, dir) => {
      graft.ops.TextQuality.exactPercentiles(
          Engine.oracleIndex(s, dir).docs, "dl", Seq(25, 50, 75, 90, 99))
        .orderBy("pct")
    }),
    // §2.4 collection stats (N, sumTotalTermFreq)
    "q_stats" -> ((s, dir) => {
      val st = Engine.oracleIndex(s, dir).stats
      import s.implicits._
      Seq((st.max_doc, st.sum_total_term_freq)).toDF("max_doc", "sum_total_term_freq")
    }),
    // §2.4 document frequency from merged postings
    "q_df" -> ((s, dir) => {
      Engine.oracleIndex(s, dir).termStats
        .select(col("term"), col("df").cast("long").as("df"))
        .orderBy("term")
    }),
    // §2.7 codec round-trip: decoded (term, docno, tf) from the blobs
    "q_tf" -> ((s, dir) => {
      decodedTf(Engine.oracleIndex(s, dir))
        .select(col("term"), col("docno"), col("tf"))
        .orderBy("term", "docno")
    }),
    // §2.3/§2.4/§2.5 the full BM25 top-k search (ranks; float scores are
    // golden-locked in ScalaTest — a double-math oracle can't hash-match
    // Float score bytes)
    "q_bm25_topk" -> ((s, dir) => {
      Engine.searcher(s, dir).search(topics, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // §2.7 block-max WAND: the SAME topics/k as q_bm25_topk but with
    // pruning enabled — a green row certifies the skip logic is
    // rank-identical against the independent SQL replay (WandSpec
    // additionally asserts blocks actually skip)
    "q_wand_topk" -> ((s, dir) => {
      Engine.searcher(s, dir).search(topics, TopK, pruning = true)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // §2.7 WAND over tree queries: nested SHOULD-only groups are the flat
    // OR in disguise (BoolQuery.prunableShape), so pruning stays enabled
    // in tree mode and must stay rank-identical — the oracle is the flat
    // BM25 ranking of the same term multisets (standard topics 1-2);
    // WandSpec additionally asserts real skips on tree inputs
    "q_wand_tree_topk" -> ((s, dir) => {
      Engine.searcher(s, dir).searchQuery(wandTreeTopics, TopK, pruning = true)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // Logical deletes (equality-delete overlay, ≙ Lucene's .del bitsets /
    // Iceberg-v2 delete files): tombstoned docs vanish from results while
    // df/dl/collection stats keep their pre-delete values, so surviving
    // docs score UNCHANGED and ranks close up. WAND pruning stays ON —
    // the range task's heap θ holds live docs only (a deleted doc must
    // not inflate it) while block maxima remain sound as supersets —
    // so a green row certifies tombstone-aware pruning rank-identity.
    "q_delete_topk" -> ((s, dir) => {
      new graft.search.Searcher(Engine.deletedOracleIndex(s, dir))
        .search(topics, TopK, pruning = true)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // Physical purge (≙ the Lucene merge that reclaims deletes): postings
    // and docs rewritten without tombstoned docs — runs with no tombstone
    // in their docid range copy their encoded blobs verbatim — and
    // df/cf/stats/vocab recomputed over survivors. The oracle recomputes
    // the whole BM25 pipeline over the purged corpus.
    "q_purge_topk" -> ((s, dir) => {
      new graft.search.Searcher(Engine.purgedIndex(s, dir))
        .search(topics, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    "q_purge_df" -> ((s, dir) => {
      Engine.purgedIndex(s, dir).termStats
        .select(col("term"), col("df").cast("long").as("df"))
        .orderBy("term")
    }),
    "q_purge_stats" -> ((s, dir) => {
      val st = Engine.purgedIndex(s, dir).stats
      import s.implicits._
      Seq((st.max_doc, st.sum_total_term_freq)).toDF("max_doc", "sum_total_term_freq")
    }),
    // Document UPDATE = delete + re-add (≙ IndexWriter.updateDocument over
    // a live index): the new version lands as an epoch-1 streaming delta,
    // the OLD version is tombstoned by an equality-delete overlay resolved
    // against the BASE snapshot only (the new docid must survive), and the
    // search runs over UnionIndex + overlay. Pre-merge stats contract
    // throughout: N=501, and df/dl still count BOTH versions — the oracle
    // models versions as distinct stat-carrying rows and drops only the
    // old version from the candidate set.
    "q_update_topk" -> ((s, dir) => {
      import s.implicits._
      val base = Engine.oracleIndex(s, dir)
      // content-addressed root: IndexBuilder's resume fingerprint is
      // keys-only, so a changed replacement text must change the dir
      val ufp = java.lang.Integer.toHexString((UpdateDocno + UpdateContent).hashCode)
      val root = s"${Engine.workDir}/update_${dir.replaceAll("[^A-Za-z0-9.]+", "_")}_$ufp"
      val delta = streaming.StreamingIngest.ingestBatch(
        Seq((UpdateDocno, UpdateContent)).toDF("docno", "content"),
        batchId = 0, root, base.cfg)
      val overlay = s"$root/tomb"
      graft.index.Deletes.writeDeletes(base, Seq(UpdateDocno).toDF("docno"), overlay)
      val union = new streaming.UnionIndex(s, Seq(base.dir, delta.dir), base.cfg)
      new graft.search.Searcher(union.withDeletes(overlay)).search(topics, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // Field-collapsed top-k (code-search "one hit per repo"): per query,
    // each repo keeps its best doc by the collector ordering, then the
    // collapsed winners rank; oracle = the shared BM25 scored stream with
    // a per-(qid, repo) row_number window
    "q_collapse_topk" -> ((s, dir) => {
      val sr = Engine.searcher(s, dir)
      val keys = sr.collapseKeyTable(corpus.Corpus.fromDocuments(s, dir), "repo")
      sr.searchCollapsed(topics, keys, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // Sort-by-field retrieval (≙ TopFieldCollector, Sort(repo asc), no
    // scores): top-k matching docs per topic ordered (repo asc, docid asc)
    // — certifies the match set, the attribute join and the bounded
    // field-sort heap; docid-asc ≡ docno-asc under the ntile packing, so
    // the oracle replays the order with a plain window
    "q_sort_topk" -> ((s, dir) => {
      val sr = Engine.searcher(s, dir)
      val keys = sr.collapseKeyTable(corpus.Corpus.fromDocuments(s, dir), "repo")
      sr.searchSorted(topics, keys, TopK)
        .orderBy("qid", "rank")
    }),
    // Attribute-filtered search (FILTER clause over a doc-values field —
    // "lang:de"): candidates outside the filter are removed pre-collector
    // so ranks close up; the oracle restricts the shared scored stream
    "q_filter_topk" -> ((s, dir) => {
      val sr = Engine.searcher(s, dir)
      val attrs = sr.collapseKeyTable(corpus.Corpus.fromDocuments(s, dir), "lang")
      sr.searchFiltered(topics, attrs.where(col("ckey") === "de"), TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // Deep-pagination cursor (≙ Elasticsearch search_after): page 1's last
    // hit (rank SearchAfterDepth-1) becomes each topic's (score, docno)
    // cursor and the engine resumes strictly after it — the O(k)-per-page
    // deep scroll. Ranks restart at 0 within the continuation (ES returns
    // no global rank); the entry re-adds the depth so the oracle can slice
    // the full collector ordering directly.
    "q_search_after" -> ((s, dir) => {
      val sr = Engine.searcher(s, dir)
      val cursors = sr.search(topics, SearchAfterDepth).collect()
        .groupBy(_.qid).map { case (q, hs) =>
          val last = hs.maxBy(_.rank); q -> (last.score, last.docno)
        }
      sr.searchAfter(topics, cursors, SearchAfterDepth)
        .select(col("qid"), col("docno"),
          (col("rank") + SearchAfterDepth).cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // Per-group top hits (≙ ES terms agg + top_hits sub-agg): for each
    // (topic, repo) the best TopHitsN docs by the collector ordering —
    // the facet drill-down pairing of q_facets; docid asc ≡ docno asc
    // under the ntile packing, so the oracle replays with a window
    "q_top_hits" -> ((s, dir) => {
      val sr = Engine.searcher(s, dir)
      val keys = sr.collapseKeyTable(corpus.Corpus.fromDocuments(s, dir), "repo")
      sr.topHits(topics, keys, TopHitsN)
        .select(col("qid"), col("ckey"), col("docno"),
          col("hit_rank").cast("long").as("hit_rank"))
        .orderBy("qid", "ckey", "hit_rank")
    }),
    // Function-score retrieval (≙ ES function_score field_value_factor,
    // modifier log2p, multiply mode): score × log2(1 + length(content)) —
    // the numeric doc-values boost surface (popularity/recency/quality)
    "q_function_score_topk" -> ((s, dir) => {
      val sr = Engine.searcher(s, dir)
      val factors = sr.factorTable(corpus.Corpus.fromDocuments(s, dir),
        log2(lit(1.0) + length(col("content"))))
      sr.searchFunctionScore(topics, factors, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // Approximate distinct count (≙ ES cardinality agg): the deterministic
    // HyperLogLog register table (p=8) over the index's distinct-term
    // universe — integer-exact, so the oracle replays the md5 hash split,
    // bucket extraction and leading-zero rank bit-for-bit; the float
    // estimate itself is certified in SketchSpec against the exact count
    "q_cardinality" -> ((s, dir) => {
      ops.Sketch.hllRegisters(
          Engine.oracleIndex(s, dir).termStats.select("term"), "term", HllP)
        .orderBy("bucket")
    }),
    // Count-min sketch over the collection's term-frequency distribution
    // (term weighted by cf from the index term stats): the d×w counter
    // table replayed integer-exactly — the heavy-hitter / frequency-
    // capping primitive; estimates are one-sided (≥ true cf), certified
    // in SketchSpec
    "q_cms" -> ((s, dir) => {
      // cnt as DOUBLE: the oracle's sum(cf) is a DuckDB HUGEINT, which the
      // driver's pandas compare reads as float64 — the engine must emit the
      // same typed values (bit-equal: cnt ≪ 2^53). Round-5 hash-fail root
      // cause (VERDICT r5 #1); values were already identical.
      ops.Sketch.cmsCounts(
          Engine.oracleIndex(s, dir).termStats.select("term", "cf"),
          "term", "cf", CmsD, CmsW)
        .select(col("row"), col("col"), col("cnt").cast("double").as("cnt"))
        .orderBy("row", "col")
    }),
    // cardinality nested under date_histogram (≙ ES daily-uniques): one
    // independent HLL sketch of user_id per day over the events table —
    // distinct users per day at 100 TB without shuffling the (day, user)
    // universe; integer-exact register replay per bucket
    "q_daily_uniques" -> ((s, dir) => {
      ops.Sketch.hllRegistersBy(
          readTable(s, s"$dir/events.parquet")
            .select(unix_timestamp(date_trunc("day", col("ts"))).as("day_ts"),
              col("user_id")),
          Seq("day_ts"), "user_id", HllP)
        .orderBy("day_ts", "bucket")
    }),
    // Code-search end-to-end flagship: an index built with the identifier
    // tokenizer, searched with lang FILTER + repo COLLAPSE composed — the
    // north rule's (repo, path, commit, lang, content) query shape in one
    // pipeline; the oracle rebuilds tf/dl/df/bm25 over the code-token
    // stream and replays filter + collapse + rank in SQL
    "q_codesearch_topk" -> ((s, dir) => {
      val sr = new graft.search.Searcher(Engine.codeIndex(s, dir))
      val corp = corpus.Corpus.fromDocuments(s, dir)
      val keys = sr.collapseKeyTable(corp, "repo")
      val flt = sr.collapseKeyTable(corp, "lang")
        .where(col("ckey") === "en").select("docid")
      val an = new graft.analysis.Analyzer(Engine.CodeAnalyzer)
      val clauses = topics.flatMap { t =>
        an.analyze(t.text).zipWithIndex.map { case (term, i) =>
          graft.search.WeightedClause(t.qid, i, term, 1.0f)
        }
      }
      sr.searchClauses(clauses, TopK, filterDocids = Some(flt),
          collapseKeys = Some(keys))
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // Multi-field "most_fields" retrieval (≙ Elasticsearch multi_match
    // most_fields / Lucene MultiFieldQueryParser with boosts): content and
    // path as separate field indexes sharing the deterministic docid
    // packing; score = bm25_content + 2×bm25_path, full-outer combined so
    // a doc matching ONLY the path field still ranks
    "q_multifield_topk" -> ((s, dir) => {
      graft.search.MultiField.mostFields(
          Seq(new graft.search.Searcher(Engine.codeIndex(s, dir)) -> 1.0f,
            new graft.search.Searcher(Engine.pathIndex(s, dir)) -> 2.0f),
          multiTopics, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // BM25F (Robertson-Zaragoza-Taylor CIKM'04, the model behind Lucene's
    // CombinedFieldQuery): per-field length-normalized tfs (content b=0.75,
    // path b=0.4, weight 2) combine into ONE saturation per term, idf over
    // the document-level any-field df — contrast q_multifield_topk, which
    // saturates per field and sums scores
    "q_bm25f_topk" -> ((s, dir) => {
      graft.search.CombinedField.bm25f(
          Seq((new graft.search.Searcher(Engine.codeIndex(s, dir)), 1.0, 0.75),
            (new graft.search.Searcher(Engine.pathIndex(s, dir)), 2.0, 0.4)),
          multiTopics, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // Learning-to-rank feature extraction (the reference's namesake
    // surface): per (query, top-5 hit) one integer-exact feature row —
    // match count, tf sum/max, dl, rarest-matched df, query term count —
    // the training table a ranking model consumes
    "q_ltr_features" -> ((s, dir) => {
      Engine.searcher(s, dir).ltrFeatures(topics, ExplainK)
        .orderBy("qid", "docno")
    }),
    // ≙ IndexSearcher.explain: per (query, top-5 hit, matching term) the
    // integer scoring components (tf, dl, df) — everything needed to
    // recompute the similarity by hand; integer-exact, float-free oracle
    "q_explain" -> ((s, dir) => {
      Engine.searcher(s, dir).explainStats(topics, ExplainK)
        .orderBy("qid", "docno", "term")
    }),
    // §2.5 paging (≙ SearchFiles 5-page prefetch): the second 5-hit page
    // of topic 1 — a rank slice of the BM25 ordering
    "q_page_topk" -> ((s, dir) => {
      import s.implicits._
      Engine.searcher(s, dir).searchPaged(topics.head, PageNo, PageSize)
        .map(l => (l.qid, l.docno, l.rank.toLong))
        .toDF("qid", "docno", "rank").orderBy("rank")
    }),
    // §2.8 reflective FQCN seam driven end-to-end: the index analyzer's
    // tokenizer AND stemmer are loaded by fully-qualified class name
    // (Class.forName ≙ TrecAnalyzer.java:63-70,78-103), then df over the
    // resulting classic-tokenized Porter-stemmed index
    "q_fqcn_df" -> ((s, dir) => {
      Engine.fqcnIndex(s, dir).termStats
        .select(col("term"), col("df").cast("long").as("df"))
        .orderBy("term")
    }),
    // §2.8 the third reflective seam: scorer by FQCN — ranks must equal
    // the by-name bm25 ranking exactly
    "q_fqcn_scorer_topk" -> ((s, dir) => {
      Engine.searcher(s, dir)
        .search(topics, TopK, scorerName = "graft.search.Bm25Scorer$")
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // §2.5 top-terms ordering (df desc, term asc)
    "q_top_terms" -> ((s, dir) => {
      Engine.oracleIndex(s, dir).termStats
        .select(col("term"), col("df").cast("long").as("df"))
        .orderBy(desc("df"), asc("term")).limit(10)
    }),
    // training-pipeline op: exact dedup by content sha256
    "q_exact_dup" -> ((s, dir) => {
      corpus.Corpus.fromDocuments(s, dir)
        .groupBy(sha2(col("content"), 256).as("sha"))
        .agg(count(lit(1)).as("n_dups"), min(col("docno")).as("first_docno"))
        .where(col("n_dups") > 1)
        .orderBy("sha")
    }),
    // training-pipeline op: per-doc keyword extraction (top-3 tf·idf
    // terms) straight from the decoded index tables — tf from the posting
    // blobs, df from term_stats, N from the stats manifest
    "q_keywords" -> ((s, dir) => {
      val idx = Engine.oracleIndex(s, dir)
      ops.TextQuality.topKeywords(
          decodedTf(idx).select("docno", "term", "tf"),
          idx.termStats.select(col("term"), col("df")),
          idx.stats.max_doc, 3)
        .orderBy("docno", "kw_rank")
    }),
    // index-analytics op: term co-occurrence (the query-expansion /
    // related-terms table): document frequency of unordered term pairs.
    // Pairs are generated IN-ROW from each doc's distinct-term list (the
    // tokenized stage already stores one entry per distinct term) — no
    // doc-level self-join ever materializes; fan-out is bounded by each
    // doc's type count squared, and at web scale the pairing vocabulary
    // gets a df band exactly like the MinHash shingle filter.
    "q_cooccur" -> ((s, dir) => {
      val idx = Engine.oracleIndex(s, dir)
      ops.TextQuality.coocPairs(
          idx.spark.read.parquet(s"${idx.dir}/${graft.index.IndexLayout.TokenizedDir}")
            .select(col("docno"), col("terms.term").as("ts")))
        .orderBy("term_a", "term_b")
    }),
    // index-analytics op: per-language document frequency (the north-rule
    // corpus carries a lang column; per-language vocabulary stats are the
    // code-corpus curation staple). tf comes off the DECODED posting blobs
    // — certifying codec + attribute join together — with the language
    // attached by a docno join against the doc table.
    "q_lang_df" -> ((s, dir) => {
      val idx = Engine.oracleIndex(s, dir)
      val langs = corpus.Corpus.fromDocuments(s, dir).select(col("docno"), col("lang"))
      decodedTf(idx).select(col("term"), col("docno"))
        .join(langs, "docno")
        .groupBy(col("lang"), col("term"))
        .agg(count(lit(1)).cast("long").as("df"))
        .orderBy("lang", "term")
    }),
    // training-pipeline op: per-doc token statistics (quality signals)
    "q_text_stats" -> ((s, dir) => {
      val idx = Engine.oracleIndex(s, dir)
      idx.spark.read.parquet(s"${idx.dir}/${graft.index.IndexLayout.TokenizedDir}")
        .select(col("docno"), col("dl").cast("long").as("n_tokens"),
          size(col("terms")).cast("long").as("n_types"),
          aggregate(transform(col("terms"), t => length(t.getField("term"))),
            lit(0), (acc, x) => greatest(acc, x)).cast("long").as("max_term_len"))
        .orderBy("docno")
    }),
    // stemmed-index df — oracled by a generated DuckDB replay of the full
    // Porter algorithm (graft.PorterSql; cross-validated word-for-word on a
    // 6.9k suffix battery by tools.StemSqlCheck porter)
    "q_porter_df" -> ((s, dir) => {
      Engine.porterIndex(s, dir).termStats
        .select(col("term"), col("df").cast("long").as("df"))
        .orderBy("term")
    }),
    // document frequency over the SNOWBALL-stemmed (Porter2) index: the
    // oracle replays the full published algorithm in generated SQL
    // (graft.SnowballSql — y-marking via ordered regexp passes, R1/R2 via
    // the vc-transition scan, exceptions frozen), cross-validated on a
    // 13.5k-word battery by scripts/snowball_sql_check
    "q_snowball_df" -> ((s, dir) => {
      Engine.snowballIndex(s, dir).termStats
        .select(col("term"), col("df").cast("long").as("df"))
        .orderBy("term")
    }),
    // ASCII-folded index df (≙ ASCIIFoldingFilter in the chain slot between
    // lowercase and stop): built over the corpus + an accented enrichment
    // suffix; "thé" must fold INTO the stop set and vanish, uppercase
    // accents must lowercase THEN fold, ß/œ/ĳ/þ take the multi-char folds.
    // The oracle replays the same fold via the generated replace+translate
    // expression (one mapping table emits both sides — AsciiFold.sqlExpr).
    "q_fold_df" -> ((s, dir) => {
      Engine.foldIndex(s, dir).termStats
        .select(col("term"), col("df").cast("long").as("df"))
        .orderBy("term")
    }),
    // 2-shingle index df (≙ ShingleFilter outputUnigrams / ES
    // index_phrases): bigram-term document frequencies from an index whose
    // analyzer interleaves word bigrams with the unigrams — exact phrases
    // become single-term postings reads; unigram rows stay covered by
    // q_df, so the gate selects the shingle rows (term contains a space)
    "q_shingle_df" -> ((s, dir) => {
      Engine.shingleIndex(s, dir).termStats
        .where(col("term").contains(" "))
        .select(col("term"), col("df").cast("long").as("df"))
        .orderBy("term")
    }),
    // ES index_phrases rewrite: an exact 2-word phrase runs as ONE term
    // lookup on the shingle index — no positional decode, no per-doc
    // co-group shuffle; scored with the bigram term's own stats (the
    // documented ES trade vs the positional phrase weight). Oracle
    // replays BM25 over the interleaved unigram+bigram token stream.
    "q_phrase_shingle_topk" -> ((s, dir) => {
      new graft.search.Searcher(Engine.shingleIndex(s, dir))
        .searchPhraseShingle(Seq("1" -> "hash join", "2" -> "table scan"), TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // ClassicTokenizer over the corpus + a fixed enrichment suffix that
    // fires every alternation branch; output = (docno, pos, term), exactly
    // replayed by the oracle's RE2 run of the same ordered pattern
    "q_classic_tok" -> ((s, dir) => {
      import s.implicits._
      val an = new graft.analysis.Analyzer(
        graft.analysis.AnalyzerConfig(tokenizer = "classic"))
      corpus.Corpus.fromDocuments(s, dir)
        .select(col("docno").cast("string"),
          concat(col("content"), lit(ClassicEnrich)).as("content"))
        .as[(String, String)]
        .flatMap { case (d, t) =>
          an.analyze(t).zipWithIndex.map { case (tok, i) => (d, i.toLong, tok) }
        }
        .toDF("docno", "pos", "term")
        .orderBy("docno", "pos")
    }),
    // Code-identifier tokenizer over the corpus + an enrichment suffix
    // that fires every word-delimiter boundary rule; output =
    // (docno, pos, term) with lowercase applied downstream like the
    // analyzer chain, replayed by the oracle's regex-chain split
    "q_code_tok" -> ((s, dir) => {
      import s.implicits._
      val an = new graft.analysis.Analyzer(
        graft.analysis.AnalyzerConfig(tokenizer = "code"))
      corpus.Corpus.fromDocuments(s, dir)
        .select(col("docno").cast("string"),
          concat(col("content"), lit(CodeEnrich)).as("content"))
        .as[(String, String)]
        .flatMap { case (d, t) =>
          an.analyze(t).zipWithIndex.map { case (tok, i) => (d, i.toLong, tok) }
        }
        .toDF("docno", "pos", "term")
        .orderBy("docno", "pos")
    }),
    // document frequency over the KSTEM-stemmed index: the oracle replays
    // this repo's documented KStem variant in generated SQL (graft.KStemSql
    // — direct conflations + head-word lexicon as VALUES relations, the
    // three inflectional steps as CTEs), cross-validated on a 13.1k-word
    // battery by scripts/kstem_sql_check
    "q_kstem_df" -> ((s, dir) => {
      Engine.kstemIndex(s, dir).termStats
        .select(col("term"), col("df").cast("long").as("df"))
        .orderBy("term")
    }),
    // document frequency over the S-stemmed index (EnglishMinimalStemFilter
    // semantics): the stemmer's plural-strip guards are a closed-form CASE
    // the oracle replays exactly
    "q_minstem_df" -> ((s, dir) => {
      Engine.minStemIndex(s, dir).termStats
        .select(col("term"), col("df").cast("long").as("df"))
        .orderBy("term")
    }),
    // matchCounts ≙ the paging demo's TotalHits line (SearchFiles.java:
    // 149-150): distinct matching docnos per query under OR semantics —
    // the result is one row per topic, so materializing the driver-side
    // map as a tiny DataFrame is k-bounded by construction
    "q_match_counts" -> ((s, dir) => {
      val counts = Engine.searcher(s, dir).matchCounts(topics)
      import s.implicits._
      counts.toSeq.sortBy(_._1).toDF("qid", "n_hits")
        .select(col("qid"), col("n_hits").cast("long").as("n_hits"))
        .orderBy("qid")
    }),
    // posting-run shape (one run per (term, merged group) with ndocs /
    // block count / tf stats): docids are a deterministic exact-ntile
    // packing of the docno's global rank (IndexBuilder.ntileBoundaries),
    // so the oracle replays grp/ndocs/n_blocks as a pure function of
    // (docno order, rangePartitions=32, groupShift, mergeShift, BlockSize)
    // with a row_number() window
    "q_postings_meta" -> ((s, dir) => {
      Engine.oracleIndex(s, dir).postings
        .select(col("term"), col("grp").cast("long").as("grp"),
          col("ndocs").cast("long").as("ndocs"),
          size(col("block_last_docid")).cast("long").as("n_blocks"),
          col("max_tf").cast("long").as("max_tf"),
          col("sum_tf").cast("long").as("sum_tf"))
        .orderBy("term", "grp")
    }),
    // BM25 over byte315-encoded doc lengths: the lossy norm has a closed
    // integer form — truncate dl to 3 significant bits ((dl>>s)<<s,
    // s = bitlength−3; verified exact vs the codec for dl ∈ [1, 2M)) — so
    // the oracle replays the quantization with DuckDB bit math
    "q_bm25e_topk" -> ((s, dir) => {
      Engine.searcher(s, dir).search(topics, TopK, scorerName = "bm25e")
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // §2.6 conjunctive (AND / posting-list intersection) retrieval
    "q_and_topk" -> ((s, dir) => {
      Engine.searcher(s, dir).searchAnd(topics, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // training-pipeline op: MinHash+LSH near-dup candidate pairs
    "q_minhash_pairs" -> ((s, dir) => {
      val an = new graft.analysis.Analyzer(Engine.OracleAnalyzer)
      ops.Dedup.minHashCandidates(corpus.Corpus.fromDocuments(s, dir), an,
          shingleN = 3, k = 12, rowsPerBand = 2, maxBucketSize = 0)
        .orderBy("docno_a", "docno_b")
    }),
    // training-pipeline op: exact n-gram Jaccard verification (float-free)
    "q_neardup" -> ((s, dir) => {
      neardupPipeline(s, dir)._2
        .select(col("docno_a"), col("docno_b"), col("inter"), col("uni"))
        .orderBy("docno_a", "docno_b")
    }),
    // training-pipeline op: near-dup CLUSTERS — distributed connected
    // components over the verified pair graph (cluster = min reachable
    // docno; keep = the canonical representative the dedup'd corpus keeps)
    "q_dup_clusters" -> ((s, dir) => {
      val (c, pairs) = neardupPipeline(s, dir)
      ops.Dedup.dupClusters(c, pairs)
        .select(col("docno"), col("cluster"), col("keep"))
        .orderBy("docno")
    }),
    // composed end-to-end curation pipeline — the ops above chained the
    // way a pretraining data build runs them: near-dup canonical keep →
    // token-count quality floor → deterministic 90% train split →
    // fixed-size sequence packing
    "q_curate" -> ((s, dir) => {
      val (c, pairs) = neardupPipeline(s, dir)
      val kept = ops.Dedup.dupClusters(c, pairs)
        .where(col("keep")).select("docno")
      val toks = c.join(kept, "docno")
        .select(col("docno"),
          size(filter(split(lower(col("content")), "\\s+"), t => t =!= ""))
            .cast("long").as("n_tokens"))
        .where(col("n_tokens") >= CurateMinTokens)
      val train = toks.join(
        ops.Curation.hashSample(c, SampleSalt, SampleBuckets, CurateTrainKeep)
          .select("docno"), "docno")
      ops.Curation.packSequences(train, PackSeqLen).orderBy("docno")
    }),
    // training-pipeline op: brute-force cosine top-k over embeddings
    "q_knn" -> ((s, dir) => {
      val emb = readTable(s, s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      ops.Knn.bruteForceTopK(emb, q, 10)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // pre-filtered kNN (≙ ES knn + filter): label = 2 restricts candidates
    // BEFORE the search, so each query still gets k passing neighbors; the
    // predicate pushes to the parquet scan
    "q_knn_filtered" -> ((s, dir) => {
      val emb = readTable(s, s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      ops.Knn.filteredTopK(emb, q, 10, col("label") === 2)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // training-pipeline op: per-doc quality signals (integer counts)
    "q_quality" -> ((s, dir) => {
      ops.TextQuality.qualitySignals(
          corpus.Corpus.fromDocuments(s, dir), Set("a", "the"))
        .orderBy("docno")
    }),
    // training-pipeline op: LM quality score — per-doc cross-entropy in
    // bits under a corpus-trained interpolated bigram model (the CCNet/
    // Gopher perplexity-filter signal; self-trained ⇒ deterministic, no
    // OOV mass)
    "q_lm_score" -> ((s, dir) => {
      val an = new graft.analysis.Analyzer(Engine.OracleAnalyzer)
      ops.TextQuality.lmScore(corpus.Corpus.fromDocuments(s, dir), an)
        .orderBy("docno")
    }),
    // PII scrubbing: emails/IPv4/long digit runs redacted with audit
    // counts; the enrichment suffix exercises the 7-digit threshold, the
    // boundary conditions (a1234567b stays) and the replace order
    "q_scrub" -> ((s, dir) => {
      ops.Scrub.redact(
        corpus.Corpus.fromDocuments(s, dir)
          .withColumn("content", concat(col("content"), lit(ScrubEnrich))))
        .orderBy("docno")
    }),
    // repetition/boilerplate signals (the MassiveText filter family):
    // distinct-token, top-bigram and max-identical-run counts
    "q_repetition" -> ((s, dir) => {
      ops.Repetition.repetitionSignals(
        corpus.Corpus.fromDocuments(s, dir)
          .withColumn("content", concat(col("content"), lit(RepEnrich))))
        .orderBy("docno")
    }),
    // simhash fingerprints + hamming near-dup pairs (oracle replays the
    // md5-bit construction via DuckDB get_bit + bit_count)
    "q_simhash_pairs" -> ((s, dir) => {
      val an = new graft.analysis.Analyzer(Engine.OracleAnalyzer)
      val fp = ops.Dedup.simHash(corpus.Corpus.fromDocuments(s, dir), an)
      ops.Dedup.simHashPairs(fp, maxDist = 3)
        .select(col("docno_a"), col("docno_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("docno_a", "docno_b")
    }),
    // training-pipeline op: multimodal payload stats (decode is stubbed;
    // the schema/batch plumbing is what's under test — see ops.Multimodal)
    "q_media_stats" -> ((s, dir) => {
      ops.Multimodal.syntheticMedia(s, dir)
        .select(col("media_id"), col("modality"),
          length(col("payload")).cast("long").as("n_bytes"),
          coalesce(col("duration_ms"), lit(-1L)).as("duration_ms"))
        .orderBy("media_id")
    }),
    // feature vectors projected to exact per-dim integers (the fake decoder
    // emits k/32768-1 floats with k < 2^16 — reconstructing k is lossless
    // float math), so the gate's pandas comparator can hash/sort rows and a
    // DuckDB oracle can replay the md5-fed decoder bit-for-bit
    "q_media_features" -> ((s, dir) => {
      ops.Multimodal.extractFeatures(ops.Multimodal.syntheticMedia(s, dir), dim = 8)
        .toDF().select(col("media_id"), col("modality"), col("n_bytes"),
          posexplode(col("feature")))
        .select(col("media_id"), col("modality"), col("n_bytes"),
          col("pos").cast("long").as("dim"),
          ((col("col") + lit(1.0f)) * lit(32768.0f)).cast("long").as("v"))
        .orderBy("media_id", "dim")
    }),
    // training-pipeline op: marker-based language classification (rows-only)
    "q_langid" -> ((s, dir) => {
      ops.TextQuality.classifyLang(corpus.Corpus.fromDocuments(s, dir))
        .orderBy("docno")
    }),
    "q_lsh_knn" -> ((s, dir) => {
      val emb = readTable(s, s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      ops.Knn.lshTopK(emb, q, 10, nPlanes = 8)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // IVF ANN (the other scale path next to sign-LSH): 8 seed centroids
    // (iters = 0 so the quantizer is SQL-replayable — ivfTrain's FP-mean
    // nondeterminism is spec-locked instead, see ops.Knn.ivfTrain), probe
    // the 2 nearest cells, exact-cosine re-rank inside them
    "q_ivf_knn" -> ((s, dir) => {
      val emb = readTable(s, s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val cents = ops.Knn.ivfSeedCentroids(emb, 8)
      ops.Knn.ivfTopK(emb, q, 10, cents, nProbe = 2)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // IVF TRAINING end-to-end (ops.Knn.ivfTrain): two spherical-k-means
    // rounds over 8 seed centroids, bit-deterministic by construction
    // (in-row IEEE folds + integer fixed-point cross-row sums), replayed
    // EXACTLY by the unrolled oracle — no tolerance, no margin
    // preconditions; output = the trained quantizer's components
    "q_ivf_train" -> ((s, dir) => {
      val emb = readTable(s, s"$dir/embeddings.parquet")
      val cents = ops.Knn.ivfTrain(emb, 8, iters = 2)
      import s.implicits._
      cents.toDF("cid", "cv")
        .select(col("cid"), posexplode(col("cv")))
        .select(col("cid"), col("pos").cast("long").as("pos"),
          col("col").as("comp"))
        .orderBy("cid", "pos")
    }),
    // Structured-Streaming ingest end-to-end: the corpus arrives as two
    // file-source micro-batches (AvailableNow), each becoming an immutable
    // delta index; BM25 over the UnionIndex is float-identical to a
    // monolithic build (StreamingSpec), so the ranks hash-match the exact
    // same DuckDB oracle as q_bm25_topk
    "q_stream_topk" -> ((s, dir) => {
      val union = streamedUnion(s, dir)
      new graft.search.Searcher(union).search(topics, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // streaming/incremental cardinality: one HLL register table PER INGEST
    // EPOCH (each delta index's term universe), merged by elementwise max —
    // must equal the batch register table over everything streamed, which
    // is exactly what the oracle recomputes from the raw corpus. Certifies
    // the sketch's segment-mergeability end-to-end: at 10^12 docs each
    // micro-batch ships a 2^p-row sketch and the union never rescans.
    "q_stream_cardinality" -> ((s, dir) => {
      val union = streamedUnion(s, dir)
      union.dirs.map { d =>
          ops.Sketch.hllRegisters(
            s.read.parquet(s"$d/${graft.index.IndexLayout.TermStatsDir}")
              .select("term"), "term", HllP)
        }
        .reduce(_ union _)
        .groupBy("bucket").agg(max("register").as("register"))
        .orderBy("bucket")
    }),
    // streaming stateful exact dedup: batch 0 streams the corpus, batch 1
    // streams dup-prefixed copies of the even docs (dropped by STATE),
    // plus fresha-/freshb- twins with new content for every 5th doc (the
    // within-batch min-docno winner is fresha-). Kept set ≡ min(docno)
    // per sha over everything streamed — exactly the oracle's GROUP BY
    "q_stream_dedup" -> ((s, dir) => {
      val safeSf = dir.replaceAll("[^A-Za-z0-9.]+", "_")
      val fp = streaming.StreamFixtures.fingerprint(
        corpus.Corpus.fromDocuments(s, dir), Seq(col("docno"), col("content")))
      val root = s"${Engine.workDir}/sdedup_${safeSf}_$fp"
      streaming.StreamFixtures.cachedRoot(s, root) {
        val c = corpus.Corpus.fromDocuments(s, dir).select(col("docno"), col("content"))
        val id = substring(col("docno"), 5, 8).cast("long")
        val dups = c.where(id % 2 === 0)
          .select(concat(lit("dup-"), col("docno")).as("docno"), col("content"))
        def freshHalf(prefix: String) = c.where(id % 5 === 0)
          .select(concat(lit(prefix), col("docno")).as("docno"),
            concat(col("content"), lit(" v2")).as("content"))
        streaming.StreamFixtures.writeOrderedBatches(s, s"$root/src",
          Seq(c, dups.union(freshHalf("fresha-")).union(freshHalf("freshb-"))))
        streaming.StreamFixtures.withShufflePartitions(s, 8) {
          streaming.StreamingDedup.start(s, s"$root/src", s"$root/out", s"$root/ckpt")
            .awaitTermination()
        }
      }
      s.read.parquet(s"$root/out").select(col("docno"), col("sha"))
        .orderBy("docno")
    }),
    // streaming watermarked hourly windows over the events table: two
    // ts-ordered batches then a far-future sentinel that advances the
    // watermark past every real window, so the append-mode output is the
    // COMPLETE finalized rollup — which is exactly the batch GROUP BY the
    // oracle runs. Counts exact; value summed in integer cents.
    "q_stream_window" -> ((s, dir) => {
      val ev = readTable(s, s"$dir/events.parquet")
      // fingerprint covers every streamed column the rollup consumes
      val fp = streaming.StreamFixtures.fingerprint(ev,
        Seq(col("event_id"), col("ts").cast("string"), col("event_type"),
          col("value").cast("string")))
      val safeSf = dir.replaceAll("[^A-Za-z0-9.]+", "_")
      val root = s"${Engine.workDir}/swin_${safeSf}_$fp"
      streaming.StreamFixtures.cachedRoot(s, root) {
        val n = ev.count()
        // ts is monotone in event_id, so an id split is a time split —
        // batch 1's events all sit above batch 0's watermark
        val half0 = ev.where(col("event_id") < n / 2)
        val half1 = ev.where(col("event_id") >= n / 2)
        val sentinel = s.sql(
          """SELECT CAST(-1 AS BIGINT) AS event_id,
            |       CAST('2030-01-01 00:00:00' AS TIMESTAMP) AS ts,
            |       CAST(0 AS BIGINT) AS user_id, 'sentinel' AS event_type,
            |       CAST(0.0 AS DOUBLE) AS value, '{}' AS props""".stripMargin)
        streaming.StreamFixtures.writeOrderedBatches(s, s"$root/src",
          Seq(half0, half1, sentinel))
        streaming.StreamFixtures.withShufflePartitions(s, 8) {
          streaming.StreamingEvents.start(s, s"$root/src", s"$root/out", s"$root/ckpt",
            cutoff = "2029-01-01 00:00:00").awaitTermination()
        }
      }
      s.read.parquet(s"$root/out")
        .select(col("win_start"), col("event_type"), col("n_events"), col("sum_cents"))
        .orderBy("win_start", "event_type")
    }),
    // watermarked stream-stream join over two sources on the same event
    // files: each user's clicks correlated with errors within 10 minutes.
    // Inner-join matches emit as both sides arrive and state eviction only
    // drops provably-unmatchable rows, so the streamed pairs equal the
    // batch self-join the oracle runs — no sentinel needed
    "q_stream_join" -> ((s, dir) => {
      val ev = readTable(s, s"$dir/events.parquet")
      val fp = streaming.StreamFixtures.fingerprint(ev,
        Seq(col("event_id"), col("ts").cast("string"), col("event_type"),
          col("user_id")))
      val safeSf = dir.replaceAll("[^A-Za-z0-9.]+", "_")
      val root = s"${Engine.workDir}/sjoin_${safeSf}_$fp"
      streaming.StreamFixtures.cachedRoot(s, root) {
        val n = ev.count()
        streaming.StreamFixtures.writeOrderedBatches(s, s"$root/src",
          Seq(ev.where(col("event_id") < n / 2), ev.where(col("event_id") >= n / 2)))
        streaming.StreamFixtures.withShufflePartitions(s, 8) {
          streaming.StreamingJoin.start(s, s"$root/src", s"$root/out", s"$root/ckpt")
            .awaitTermination()
        }
      }
      s.read.parquet(s"$root/out")
        .select(col("user_id"), col("click_id"), col("error_id"))
        .orderBy("user_id", "click_id", "error_id")
    }),
    // session windows (gap-merged, 5 min) per user over the events table —
    // the third windowing flavor next to fixed windows and stream joins;
    // Spark's session_window merges an event into the open session while
    // ts <= last_ts + gap (boundary-inclusive — verified empirically),
    // replayed by a gaps-and-islands oracle with the matching strict->
    // break condition
    "q_sessions" -> ((s, dir) => {
      readTable(s, s"$dir/events.parquet")
        .groupBy(col("user_id"), session_window(col("ts"), "5 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("session_window").getField("start")).as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    }),
    // training-pipeline op: winnowing document fingerprints (SIGMOD'03) —
    // k-gram md5-hashes, per-window rightmost minimum
    "q_winnow" -> ((s, dir) => {
      val an = new graft.analysis.Analyzer(Engine.OracleAnalyzer)
      ops.Fingerprint.fingerprints(corpus.Corpus.fromDocuments(s, dir), an, k = 3, w = 4)
        .select(col("docno"), col("pos").cast("long").as("pos"),
          col("fp").cast("long").as("fp"))
        .orderBy("docno", "pos")
    }),
    // training-pipeline op: benchmark DECONTAMINATION — n-gram overlap
    // flags against a deterministic eval set synthesized from the corpus
    // itself (every 50th doc's first-12-token prefix simulates a leaked
    // benchmark item); a doc is contaminated at ≥5 distinct shared
    // analyzed 3-grams with any single item; corpus-side = one shingle
    // pass, benchmark side broadcasts
    "q_decontam" -> ((s, dir) => {
      val corp = corpus.Corpus.fromDocuments(s, dir)
      val an = new graft.analysis.Analyzer(Engine.OracleAnalyzer)
      val bench = corp
        .where(pmod(substring(col("docno"), 5, 8).cast("int"), lit(50)) === 7)
        .select(col("docno").as("bench_id"),
          array_join(slice(filter(split(col("content"), "\\s+"),
            t => t =!= ""), 1, 12), " ").as("text"))
      ops.Decontaminate.contaminationFlags(corp, bench, an, n = 3, minShared = 5)
        .orderBy("docno")
    }),
    // training-pipeline op: SUBSTRING-level duplicate spans (Lee et al.,
    // ACL'22) — maximal runs of token positions covered by a 5-gram that
    // occurs in ≥2 distinct docs; the dedup granularity that catches
    // boilerplate INSIDE otherwise-unique documents
    "q_dup_spans" -> ((s, dir) => {
      val an = new graft.analysis.Analyzer(Engine.OracleAnalyzer)
      ops.Dedup.duplicatedSpans(corpus.Corpus.fromDocuments(s, dir), an,
          n = DupSpanN)
        .orderBy("docno", "span_start")
    }),
    // training-pipeline op: embedding-cosine near-dup pairs via sign-LSH
    // blocking + exact cosine verify
    "q_emb_neardup" -> ((s, dir) => {
      val emb = readTable(s, s"$dir/embeddings.parquet")
      ops.Dedup.embeddingNearDups(emb, minCos = 0.4, nPlanes = 8)
        .select(col("vec_a").cast("long").as("vec_a"),
          col("vec_b").cast("long").as("vec_b"))
        .orderBy("vec_a", "vec_b")
    }),
    // SimpleQueryParser '*' prefix (CONSTANT_SCORE expansion ≙ Lucene's
    // PrefixQuery rewrite): OR with a scored term, and AND with a required
    // term — both through the full term_stats-expansion path
    "q_prefix_topk" -> ((s, dir) => {
      Engine.searcher(s, dir).searchQuery(prefixTopics, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // SimpleQueryParser '-' NOT, faithful to Lucene's match-all wrap
    // (SimpleQueryParser.buildQueryTree rewrites a negated clause to
    // (MUST_NOT x, SHOULD MatchAllDocsQuery)): under the default OR
    // operator, positive matches containing the negated term STAY (they
    // just lose the constant +1 branch) and docs free of both the
    // positives and the negated term enter at exactly 1.0 — the documented
    // simple_query_string gotcha, replayed integrally by the oracle.
    // (r2 scored this entry as a hard anti-join; that semantics now lives
    // in q_must_not_topk, the programmatic sibling-MUST_NOT API.)
    "q_not_topk" -> ((s, dir) => {
      Engine.searcher(s, dir).searchQuery(notTopics, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // a true sibling MUST_NOT clause in one BooleanQuery (programmatic
    // searchClauses negTerms): matching docs are anti-joined out BEFORE
    // ranking — ranks close up, the hard exclusion the '-' syntax does NOT
    // perform under the parser's default OR
    "q_must_not_topk" -> ((s, dir) => {
      val wc = Seq("1" -> Seq("hash", "join", "merge"),
          "2" -> Seq("fast", "table", "scan"))
        .flatMap { case (qid, ts) =>
          ts.zipWithIndex.map { case (t, i) =>
            graft.search.WeightedClause(qid, i, t, 1.0f)
          }
        }
      Engine.searcher(s, dir)
        .searchClauses(wc, TopK, negTerms = Seq("1" -> "window", "2" -> "customer"))
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // SimpleQueryParser '( )' precedence groups + left-associative operator
    // batching: topic 1 = (hash OR merge) AND scan, topic 2 =
    // (table AND fast) OR scan — the operator-change wrap, BooleanQuery
    // tree evaluated per doc
    "q_group_topk" -> ((s, dir) => {
      Engine.searcher(s, dir).searchQuery(groupTopics, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // exact phrase retrieval over the positions blob: phraseFreq counted by
    // position adjacency (stop gaps preserved), scored with the reference's
    // accumulated multi-term idf (BM25.java:57,64-68) — ≙ an analyzed
    // Lucene PhraseQuery under the custom BM25
    "q_phrase_topk" -> ((s, dir) => {
      Engine.searcher(s, dir).searchQuery(phraseTopics, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // MultiPhraseQuery (≙ Elasticsearch match_phrase_prefix): a phrase
    // slot holding SEVERAL terms matches the union of their positions —
    // p1/p3 prefix-expand the last slot from the pruned vocabulary, p2
    // puts the alternatives in the FIRST slot; freq is exact-adjacency
    // over the union lists, weight accumulates every slot term's idf
    "q_phrase_prefix_topk" -> ((s, dir) => {
      val sr = Engine.searcher(s, dir)
      def pp(qid: String, first: String, prefix: String) = {
        val exp = sr.expandPrefix(prefix).sorted
        graft.search.PhraseClause(qid, 0,
          (first, 0) +: exp.map(e => (e, 1)), 1.0f, 0)
      }
      val pcs = Seq(
        pp("p1", "table", "s"),
        graft.search.PhraseClause("p2", 0,
          Seq(("fast", 0), ("slow", 0), ("query", 1)), 1.0f, 0),
        pp("p3", "dup", "cu"))
      sr.searchClauses(Nil, TopK, phraseClauses = pcs)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // production-shaped MinHash dedup: bucket cap ON (cap=2 is deliberately
    // tiny so the drop path actually fires at test scale; the 100 TB default
    // is 1000 — see ops.Dedup.minHashCandidates)
    "q_minhash_pairs_capped" -> ((s, dir) => {
      val an = new graft.analysis.Analyzer(Engine.OracleAnalyzer)
      ops.Dedup.minHashCandidates(corpus.Corpus.fromDocuments(s, dir), an,
          shingleN = 3, k = 12, rowsPerBand = 2, maxBucketSize = 2)
        .orderBy("docno_a", "docno_b")
    }),
    // Lucene 5.4 stock similarities end-to-end (reflective `models` names):
    // ranks through the real pipeline; oracles replay the published
    // formulas in doubles with the lossy 1-byte norm supplied by the
    // generated, independently-validated LuceneNormSql lookup
    // TMPL: score ≡ 1 per clause, so totals = matched clause multiplicity
    // and ranks degenerate to the (count desc, docid asc) tie-break — an
    // EXACT integer determinism probe of the whole collector chain
    "q_tmpl_topk" -> ((s, dir) => stockRanks(s, dir, "tmpl")),
    // TMPLe: same constant-1.0 template THROUGH the byte315 lossy-norm
    // read path — the lossy dl cannot move a constant score, so ranks
    // must replay the exact same tie-break oracle as tmpl
    "q_tmple_topk" -> ((s, dir) => stockRanks(s, dir, "tmple")),
    "q_bm25l_topk" -> ((s, dir) => stockRanks(s, dir, "bm25L")),
    "q_classicl_topk" -> ((s, dir) => stockRanks(s, dir, "defaultL")),
    "q_lmd_topk" -> ((s, dir) => stockRanks(s, dir, "lmdirichletL")),
    "q_dfrl_topk" -> ((s, dir) => stockRanks(s, dir, "dfrL")),
    "q_ibl_topk" -> ((s, dir) => stockRanks(s, dir, "ibL")),
    // snippet sink over the flagship hits: greedy 15-char fragmenter, best
    // 4 fragments by matched-term count (document order, "..." joined) —
    // ≙ the reference's Highlighter/SimpleFragmenter path; oracle replays
    // the greedy fold with a recursive CTE
    "q_snippets" -> ((s, dir) => {
      val searcher = Engine.searcher(s, dir)
      val an = new graft.analysis.Analyzer(searcher.index.cfg.analyzer)
      val termsByQid = topics.map(t => t.qid -> an.analyze(t.text).toSet).toMap
      graft.search.Snippets.attach(searcher.search(topics, TopK),
          corpus.Corpus.fromDocuments(s, dir), an, termsByQid)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"),
          col("snippet"))
        .orderBy("qid", "rank")
    }),
    // TREC parser round trip: render the corpus as multi-doc TREC files
    // (10 docs per file, sorted), run the REAL line-scan parser, emit the
    // parsed text — certifies block detection, DOCNO extraction and
    // tag-strip/whitespace-collapse against a pure-SQL replay
    "q_trec_parse" -> ((s, dir) => {
      import s.implicits._
      renderedTrecGroups(s, dir)
        .select($"text").as[String]
        .flatMap(t => corpus.Parsers.parseTrec(t))
        .toDF("docno", "parsed")
        .orderBy("docno")
    }),
    // WARC parser round trip: responses with a WARC-TREC-ID parse to their
    // HTTP payload (markup kept); request records and id-less responses
    // are dropped — the reference's record predicate
    "q_warc_parse" -> ((s, dir) => {
      import s.implicits._
      val id = substring(col("docno"), 5, 8).cast("int")
      val httpBody = "\n\nHTTP/1.1 200 OK\nContent-Type: text/html\n\n"
      val rec = when(id % 7 === 3,
          concat(lit("WARC/1.0\nWARC-Type: request\nWARC-TREC-ID: "),
            col("docno"), lit(httpBody), col("content")))
        .when(id % 7 === 5,
          concat(lit("WARC/1.0\nWARC-Type: response"), lit(httpBody),
            col("content")))
        .otherwise(
          concat(lit("WARC/1.0\nWARC-Type: response\nWARC-TREC-ID: "),
            col("docno"), lit(httpBody), col("content")))
      corpus.Corpus.fromDocuments(s, dir)
        .select($"docno", (id / 10).cast("int").as("f"), rec.as("r"))
        .groupBy($"f")
        .agg(array_join(transform(
          array_sort(collect_list(struct($"docno", $"r"))),
          x => x.getField("r")), "\n").as("text"))
        .select($"text").as[String]
        .flatMap(t => corpus.Parsers.parseWarc(t))
        .toDF("docno", "parsed")
        .orderBy("docno")
    }),
    // simple-parser round trip: each doc rendered as a one-doc "file"
    // (basename = docno + .txt extension, every space turned into a line
    // break) — the parser must recover docno from the basename and join
    // the lines WITHOUT separators (the reference's no-separator quirk,
    // FileParser.java:154-155), so parsed = content minus spaces
    "q_simple_parse" -> ((s, dir) => {
      import s.implicits._
      corpus.Corpus.fromDocuments(s, dir)
        .select($"docno",
          concat(lit("data/sub.dir/"), $"docno", lit(".txt")).as("fn"),
          regexp_replace($"content", " ", "\n").as("txt"))
        .as[(String, String, String)]
        .map { case (_, fn, txt) =>
          val p = corpus.Parsers.parseSimple(txt, fn)
          (p.docno, p.content)
        }
        .toDF("docno", "parsed")
        .orderBy("docno")
    }),
    // §2.1 compression sniffing, oracle-certified: the TREC render of the
    // corpus is written through Spark's gzip codec for half the file
    // groups and bzip2 for the other half, then read back through the
    // REAL directory scan (extension-sniffed codecs, mixed inside one
    // tree, ≙ FileParser.java:85-98) — output ≡ q_trec_parse, so the
    // oracle replay is the same corpus projection
    "q_codec_scan" -> ((s, dir) => {
      import s.implicits._
      val grouped = renderedTrecGroups(s, dir)
      val root =
        s"${Engine.workDir}/codec_scan_${dir.replaceAll("[^A-Za-z0-9.]+", "_")}"
      grouped.where($"f" % 2 === 0).select($"text").repartition(4)
        .write.mode("overwrite").option("compression", "gzip")
        .text(s"$root/gz")
      grouped.where($"f" % 2 === 1).select($"text").repartition(4)
        .write.mode("overwrite").option("compression", "bzip2")
        .text(s"$root/bz")
      corpus.Parsers.readTrecCorpus(s, root, recursive = true)
        .withColumnRenamed("content", "parsed")
        .orderBy("docno")
    }),
    // §2.1 query-file scan, oracle-certified: a fixture file in the
    // reference's query XML dialect — case-insensitive tags, self-closing
    // AND inline-content feedback docs, topTermsToKeep, processor class
    // attributes — parsed by the REAL parser; the oracle is the expected
    // constant table (the driver still row/schema/hash-compares it)
    "q_queryfile" -> ((s, dir) => {
      import s.implicits._
      val fileText =
        """<top><num> t1 </num><text> alpha beta </text></top>
          |<TOP><NUM>t2</NUM><TEXT>gamma</TEXT>
          |  <preprocessor class="pre.Clazz"/>
          |  <postprocessor class="post.Clazz"/>
          |</TOP>
          |<top>
          |  <num>t3</num><text>delta</text>
          |  <feedback>
          |    <doc relevant="true" docno="doc-00000001"/>
          |    <doc relevant="false">inline content here</doc>
          |    <topTermsToKeep>7</topTermsToKeep>
          |  </feedback>
          |</top>""".stripMargin
      corpus.Parsers.parseTopics(fileText)
        .map(t => (t.qid, t.text, t.feedbackDocs.size.toLong,
          t.topTermsToKeep.toLong,
          t.feedbackDocs.flatMap(_.docno).mkString(","),
          t.feedbackDocs.map(_.relevant).mkString(","),
          t.preprocessor.getOrElse(""), t.postprocessor.getOrElse("")))
        .toDF("qid", "text", "n_feedback", "keep", "fb_docnos", "fb_rel",
          "pre", "post")
        .orderBy("qid")
    }),
    // §2.1 run-file sink, oracle-certified: trec_eval-format lines
    // (`qid Q0 docno rank score runtag`, Searcher.formatRun ≙
    // BatchSearch.java:305-307) for the constant-score match-all query —
    // every score is exactly 1.0f, which renders as the literal '1.0' the
    // oracle replays; rank order = docid order ≡ docno order under the
    // deterministic packing
    "q_runfile" -> ((s, dir) => {
      import s.implicits._
      val searcher = Engine.searcher(s, dir)
      val lines = searcher.formatRun(
        searcher.searchQuery(Seq(graft.search.Topic("t1", "*")), 20)
          .collect().sortBy(_.rank).toSeq)
      lines.toDF("line").orderBy("line")
    }),
    // training-pipeline op: BPE-ish token budgeting counts (letter/digit
    // runs + single marks; the path column exercises digits/punctuation)
    "q_token_count" -> ((s, dir) => {
      ops.TextQuality.tokenCounts(corpus.Corpus.fromDocuments(s, dir))
        .orderBy("docno")
    }),
    // training-pipeline op: deterministic md5-bucket sampling (stable
    // keep/buckets holdout split; shuffle-free pure expressions)
    "q_sample" -> ((s, dir) => {
      ops.Curation.hashSample(corpus.Corpus.fromDocuments(s, dir),
          SampleSalt, SampleBuckets, SampleKeep)
        .orderBy("docno")
    }),
    // weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    // md5-seeded u, key ln(u)/w with w = content length — heavier docs win
    // proportionally; the top-k is a distributed bounded selection
    "q_weighted_sample" -> ((s, dir) => {
      ops.Curation.weightedSample(corpus.Corpus.fromDocuments(s, dir),
        length(col("content")), WeightedSalt, TopK)
        .orderBy("rank")
    }),
    // training-pipeline op: stratified per-group sampling — the n smallest
    // md5(salt:docno) per lang, via the bounded per-group ranking (≤ n
    // rows per stratum per map partition; no stratum is ever sorted whole)
    "q_strat_sample" -> ((s, dir) => {
      ops.Curation.stratifiedSample(corpus.Corpus.fromDocuments(s, dir),
          "lang", SampleSalt, 5)
        .orderBy("strat", "rank")
    }),
    // training-pipeline op: CLUSTER-BALANCED sampling — the curation
    // composition behind "diverse pretraining subsets": assign each doc's
    // embedding to its nearest TRAINED quantizer cell (ivfTrain is
    // bit-deterministic, ivfCellExpr a narrow codegen fold — one pass, no
    // shuffle at any corpus size), then the n smallest md5(salt:docno) per
    // cell via the bounded stratified sampler. The oracle replays
    // training, assignment argmax and the md5 window end-to-end.
    "q_cluster_sample" -> ((s, dir) => {
      val emb = readTable(s, s"$dir/embeddings.parquet")
      val cents = ops.Knn.ivfTrain(emb, 8, iters = 2)
      val assigned = corpus.Corpus.fromDocuments(s, dir)
        .select(col("docno"), expr("cast(substring(docno, 5, 24) as long)").as("vec_id"))
        .join(emb, "vec_id")
        .withColumn("cid", ops.Knn.ivfCellExpr(col("embedding"), cents))
        .select(col("docno"), col("cid"))
      ops.Curation.stratifiedSample(assigned, "cid", ClusterSampleSalt, 5)
        .orderBy("strat", "rank")
    }),
    // training-pipeline op: seeded reproducible corpus permutation via the
    // distributed prefix sum (range partition + per-partition offsets),
    // never a single-partition Window
    "q_shuffle" -> ((s, dir) => {
      ops.Curation.seededShuffle(corpus.Corpus.fromDocuments(s, dir),
          SampleSalt)
        .orderBy("pos")
    }),
    // training-pipeline op: concat-and-chunk sequence packing — docs laid
    // end-to-end in docno order, cut into 512-token training sequences;
    // same two-pass prefix-sum machinery
    // sliding token-window chunking (RAG/long-doc passage step): windows
    // of 32 tokens every 24 (8-token overlap), closed-form window count
    "q_chunk" -> ((s, dir) => {
      ops.Curation.chunkWindows(corpus.Corpus.fromDocuments(s, dir),
          size = ChunkSize, stride = ChunkStride)
        .orderBy("docno", "chunk_id")
    }),
    "q_pack" -> ((s, dir) => {
      val toks = corpus.Corpus.fromDocuments(s, dir).select(col("docno"),
        size(filter(split(lower(col("content")), "\\s+"), t => t =!= ""))
          .cast("long").as("n_tokens"))
      ops.Curation.packSequences(toks, PackSeqLen).orderBy("docno")
    }),
    // explicit relevance feedback, model half: the M1 relevance-model term
    // weights (exact doubles — the whole computation is double arithmetic
    // replayed term-for-term by the oracle, ≙
    // ExplicitFeedbackM1PreProcessor.java:79-152)
    "q_feedback_weights" -> ((s, dir) => {
      import s.implicits._
      graft.search.Feedback.relevanceModel(feedbackDocs,
          corpus.Corpus.fromDocuments(s, dir), Engine.OracleAnalyzer,
          FeedbackTopTerms)
        .toDF("term", "weight").orderBy("term")
    }),
    // explicit relevance feedback, search half: expanded weighted-clause
    // retrieval with the feedback docs anti-filtered BEFORE ranking
    // (≙ FeedbackDocumentFilter.java:69-95 — ranks close up)
    "q_feedback_topk" -> ((s, dir) => {
      graft.search.Feedback.searchWithFeedback(Engine.searcher(s, dir),
          corpus.Corpus.fromDocuments(s, dir), "1", feedbackDocs,
          FeedbackTopTerms, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // TWO chained feedback rounds (expand → filter → re-expand) through the
    // same pre/post-processor seams the reference's chained declarations
    // permit (BatchSearch.java:204-249): round 1 is the explicit-feedback
    // search; its top-3 docs feed back as pseudo-relevant, the M1 model
    // rebuilds over 5 relevants + 2 non-relevants, and round 2 searches
    // with all 7 feedback docs anti-filtered. The oracle replays BOTH
    // rounds, reproducing the model's per-term accumulation as an explicit
    // left-associative chain in document order (feedback fold order is
    // part of the double arithmetic, so an unordered SQL SUM would drift)
    "q_feedback2_topk" -> ((s, dir) => {
      import s.implicits._
      val searcher = Engine.searcher(s, dir)
      val corp = corpus.Corpus.fromDocuments(s, dir)
      val round1 = graft.search.Feedback.searchWithFeedback(searcher, corp,
        "1", feedbackDocs, FeedbackTopTerms, TopK)
      val pseudo = round1.filter(_.rank < Feedback2Pseudo).collect()
        .sortBy(_.rank).map(_.docno).toSeq
      val docs2 = feedbackDocs ++ pseudo.map(d =>
        graft.search.Feedback.FeedbackDoc(relevant = true, Some(d), None))
      graft.search.Feedback.searchWithFeedback(searcher, corp, "1", docs2,
        FeedbackTopTerms, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // sloppy phrase retrieval `"…"~N` (SimpleQueryParser NEAR): anchor-slot
    // occurrences whose other slots all fall within ±slop of their expected
    // positions, each weighted by the reference's 1/(matchLength+1) slop
    // factor (BM25.java:110-114); oracle replays via position self-joins
    // with nearest-distance windows
    "q_phrase_slop_topk" -> ((s, dir) => {
      Engine.searcher(s, dir).searchQuery(phraseSlopTopics, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // fuzzy retrieval `tok~N` under the blended-frequency rewrite
    // (≙ Lucene 5.4 FuzzyQuery → TopTermsBlendedFreqScoringRewrite(50)):
    // expansion terms score as real TermQuerys against ONE blended
    // (max-df) idf, boosted 1 − d/min(|q|,|t|)
    "q_fuzzy_topk" -> ((s, dir) => {
      Engine.searcher(s, dir).searchQuery(fuzzyTopics, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // spell suggestion ("did you mean", ≙ Lucene's DirectSpellChecker):
    // top-3 vocabulary terms within 2 edits per misspelled input, ranked
    // (distance asc, df desc, term asc); "merge" is a known corpus word
    // (df > maxQueryFrequency=0) so it must yield no rows
    "q_suggest" -> ((s, dir) => {
      Engine.searcher(s, dir)
        .suggest(SuggestInputs, maxEdits = 2, topN = 3)
        .orderBy("q", "rank")
    }),
    // phrase suggester (≙ ES phrase suggester: direct_generator candidates
    // × stupid_backoff bigram LM over the 2-shingle field): top whole-
    // phrase corrections — the collocation LM, not per-slot frequency,
    // decides the winner; oracle replays candidates, backoff and ranks
    "q_phrase_suggest" -> ((s, dir) => {
      Engine.searcher(s, dir)
        .phraseSuggest(PhraseSuggestInputs, Engine.shingleIndex(s, dir))
        .orderBy("qid", "rank")
    }),
    // Query-time synonym groups (≙ Lucene SynonymQuery): each topic keeps
    // its bag-of-words term clauses and adds ONE synonym group that scores
    // as a single pseudo-term — member tfs SUM per doc, saturated once by
    // the TF function against a blended weight (max df, Σcf over indexed
    // members; topic 4's group proves unindexed members drop out of the
    // blend). The oracle replays summed-tf/max-df BM25 next to the plain
    // term partials.
    "q_synonym_topk" -> ((s, dir) => {
      val sr = Engine.searcher(s, dir)
      val an = new graft.analysis.Analyzer(Engine.OracleAnalyzer)
      val wcs = topics.flatMap { t =>
        an.analyze(t.text).zipWithIndex.map { case (term, i) =>
          graft.search.WeightedClause(t.qid, i, term, 1.0f)
        }
      }
      val syn = topics.map(t =>
        graft.search.SynonymClause(t.qid, an.analyze(t.text).length,
          SynGroups(t.qid), 1.0f))
      sr.searchClauses(wcs, TopK, synonymClauses = syn)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // Hybrid retrieval (the modern two-tower + BM25 stack): reciprocal-rank
    // fusion of the sparse BM25 top-k and the dense cosine top-k over the
    // doc-aligned embedding slice. Each list contributes 1/(61+rank0); docs
    // in one list keep a single term; fused order (rrf desc, docno asc).
    // The final window runs over ≤ 2k rows per query BY CONSTRUCTION (two
    // top-k lists), so it stays bounded at any corpus scale — the heavy
    // lifting happened inside the two bounded top-k retrievers. The oracle
    // replays both retrievers and the fusion arithmetic (same IEEE op
    // order) in SQL.
    "q_hybrid_topk" -> ((s, dir) => {
      val emb = readTable(s, s"$dir/embeddings.parquet")
      // dense side: embedding i belongs to doc-%08d(i) (a real pipeline
      // stores docno on the embedding row; the join is the alignment)
      val docVecs = corpus.Corpus.fromDocuments(s, dir)
        .select(expr("cast(substring(docno, 5, 24) as long)").as("vec_id"))
        .join(emb, "vec_id")
        .select(col("vec_id"), col("embedding"))
      // query vectors 1001..1004 are disjoint from doc vec_ids, so the
      // retriever's self-match exclusion can never fire
      val qvs = emb.where(col("vec_id").between(1001, 1004))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val dense = ops.Knn.bruteForceTopK(docVecs, qvs, TopK)
        .select((col("qid") - 1000).cast("string").as("qid"),
          concat(lit("doc-"), lpad(col("vec_id").cast("string"), 8, "0")).as("docno"),
          col("rank"))
      val sparse = Engine.searcher(s, dir).search(topics, TopK).toDF()
        .select(col("qid"), col("docno"), col("rank"))
      ops.Fusion.rrf2(sparse, dense, TopK).orderBy("qid", "rank")
    }),
    // more-like-this (Lucene MLT analog): the source doc's top tf×idf
    // terms run as an unboosted OR with the source excluded; the oracle
    // re-derives the term selection and replays the BM25 ranking
    "q_mlt_topk" -> ((s, dir) => {
      graft.search.MoreLikeThis.search(Engine.searcher(s, dir),
          corpus.Corpus.fromDocuments(s, dir), "1", MltDocno, MltTerms, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // per-query facet counts over a doc-values attribute (≙ Lucene facets
    // — the "matches per language" sidebar): distinct matching docs per
    // (qid, lang) for the standard topic batch; pure integer counts over
    // the docid-only postings view
    "q_facets" -> ((s, dir) => {
      val sr = Engine.searcher(s, dir)
      val keys = sr.collapseKeyTable(corpus.Corpus.fromDocuments(s, dir), "lang")
      sr.facetCounts(topics, keys)
        .select(col("qid"), col("ckey"), col("n_docs").cast("long").as("n_docs"))
        .orderBy("qid", "ckey")
    }),
    // regex term query (Lucene RegexpQuery analog, the code-search staple):
    // vocabulary terms fully matching the pattern enter as a CONSTANT_SCORE
    // expansion — topic 1 OR's the regex with a scored term through the
    // prefix-pruned vocab scan; topic 2 is a pure no-literal-prefix regex
    // (the leading-wildcard fallback), ranking entirely by the docid
    // tie-break
    "q_regex_topk" -> ((s, dir) => {
      val sr = Engine.searcher(s, dir)
      val ec = Seq(
        graft.search.ExpansionClause("1", 0, sr.expandRegex(RegexTopic1), 1.0f),
        graft.search.ExpansionClause("2", 0, sr.expandRegex(RegexTopic2), 1.0f))
      val wcs = Seq(graft.search.WeightedClause("1", 1, "merge", 1.0f))
      sr.searchClauses(wcs, TopK, expansionClauses = ec)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // trigram substring index (Zoekt / Google-Code-Search design): gram
    // document frequencies straight off the persisted (bucket, gram,
    // docno) table — the index-certifying surface, replayed by the oracle
    // as a distinct-per-doc sliding-window unnest over raw content
    "q_trigram_df" -> ((s, dir) =>
      graft.index.TrigramIndex.gramDf(Engine.trigramIndex(s, dir))),
    // index-time sorting (Lucene setIndexSort / ES index.sort.field): the
    // sorted sibling projection answers "first k docs by path" from a
    // partition PREFIX — qid 1 match-all (one partition read at gate
    // scale), qid 2 filtered to docs matching 'hash' (the prefix widens
    // only until k survivors); oracle replays both as ORDER BY ... LIMIT
    "q_index_sorted" -> ((s, dir) => {
      import s.implicits._
      val sd = Engine.sortedDocs(s, dir)
      val all = sd.topByKey(TopK)
      val filt = sd.topByKey(TopK,
        filterDocnos = Some(Engine.searcher(s, dir).termDocnos("hash")))
      val rows =
        all.zipWithIndex.map { case ((p, d), i) => ("1", d, p, i.toLong) } ++
        filt.zipWithIndex.map { case ((p, d), i) => ("2", d, p, i.toLong) }
      rows.toDF("qid", "docno", "path", "rank").orderBy("qid", "rank")
    }),
    // literal substring top-k THROUGH the trigram index: candidates =
    // docs posting every distinct trigram of the needle (bucket-pruned,
    // gram-pushed lookup), verified + occurrence-counted on content with
    // non-overlapping replace semantics — the grep-style query a term
    // index cannot serve ("merge slow" crosses a token boundary); the
    // oracle is the semantic truth, a full contains() scan
    "q_substring_topk" -> ((s, dir) =>
      graft.index.TrigramIndex.substringTopK(
          corpus.Corpus.fromDocuments(s, dir), Engine.trigramIndex(s, dir),
          SubstringNeedles, TopK)
        .orderBy("qid", "rank")),
    // regex grep THROUGH the trigram index (the full Cox plan for the
    // supported grammar): each pattern expands to literal branches, a doc
    // is a candidate iff it posts every trigram of ≥1 branch (OR of
    // AND-gram intersections in one grouped pass), and candidates are
    // verified with a leftmost-first non-overlapping scan — exactly the
    // oracle's RE2 regexp_extract_all count over a full scan
    "q_grep_topk" -> ((s, dir) =>
      graft.index.TrigramIndex.regexTopK(
          corpus.Corpus.fromDocuments(s, dir), Engine.trigramIndex(s, dir),
          GrepPatterns, TopK)
        .orderBy("qid", "rank")),
    // minimumNumberShouldMatch (≙ BooleanQuery.setMinimumNumberShouldMatch
    // — Elasticsearch's minimum_should_match): OR retrieval that keeps
    // only docs matching ≥2 distinct query clauses; scores stay the plain
    // BM25 sum over the matched clauses, ranks close up
    "q_msm_topk" -> ((s, dir) => {
      Engine.searcher(s, dir).search(topics, TopK, minShouldMatch = MsmMin)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // code-search grep flagship: trigram substring search composed with
    // a lang filter and per-repo collapse — "grep for this string, only
    // en files, one best file per repo" (the Zoekt result shape); filter
    // and collapse run on the candidate-bounded verified stream
    "q_grepsearch_topk" -> ((s, dir) =>
      graft.index.TrigramIndex.grepSearch(
          corpus.Corpus.fromDocuments(s, dir), Engine.trigramIndex(s, dir),
          SubstringNeedles, TopK, lang = Some("en"))
        .orderBy("qid", "rank")),
    // term vectors (≙ IndexReader.getTermVector): per fixed docno the
    // full analyzed term vector — term, tf, first position (stop gaps
    // preserved) — via the same corpus point lookup the feedback path
    // uses; the oracle recomputes from the raw position stream
    "q_termvectors" -> ((s, dir) => {
      import s.implicits._
      val an = new graft.analysis.Analyzer(Engine.OracleAnalyzer)
      val content = graft.search.Feedback.contentByDocno(
        corpus.Corpus.fromDocuments(s, dir), TermVectorDocnos)
      TermVectorDocnos.flatMap { d =>
        val (tfs, _) = an.termFreqsWithPositions(content.getOrElse(d, ""))
        tfs.map { case (t, tf, pos) => (d, t, tf.toLong, pos.min.toLong) }
      }.toDF("docno", "term", "tf", "first_pos").orderBy("docno", "term")
    }),
    // percolator (≙ Elasticsearch percolate): search inverted — the
    // topic batch is the REGISTERED query set, a 10% docno slice is the
    // incoming document stream, and each doc reports the queries whose
    // matched-clause count reaches minMatch=2; index-free on the doc side
    // (MemoryIndex-style), the query-term table is the broadcast side
    "q_percolate" -> ((s, dir) => {
      val docs = corpus.Corpus.fromDocuments(s, dir)
        .where(col("docno").endsWith("3"))
      graft.search.Percolator.percolate(docs, topics,
          new graft.analysis.Analyzer(Engine.OracleAnalyzer), minMatch = 2)
        .orderBy("docno", "qid")
    }),
    // SpanNearQuery(ordered): the faithful NearSpansOrdered walk —
    // stretch to order, shrink to the closest A before each B, emit
    // 1/(1+gap) within slop, consume the shrunk A; the oracle replays
    // the identical walk as a recursive CTE (fuzz-validated against the
    // engine's algorithm on 500 random position sets)
    "q_span_near_topk" -> ((s, dir) =>
      Engine.searcher(s, dir).searchSpanNear(SpanNears, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")),
    // UNordered span-near (SpanNearQuery inOrder=false): min-start-advance
    // walk, match when maxEnd − minStart − totalLength ≤ slop, slop factor
    // 1/(1 + startDiff) — the oracle replays the walk as a recursive CTE
    "q_span_unordered_topk" -> ((s, dir) =>
      Engine.searcher(s, dir).searchSpanNear(SpanNearsU, TopK, ordered = false)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")),
    // query rescorer (≙ Elasticsearch rescore, score_mode total): the
    // base BM25 top-50 window per topic is re-scored as base + 2×(exact
    // proximity phrase of the topic's first two terms) and re-sorted —
    // docs outside the window can never jump in
    "q_rescore_topk" -> ((s, dir) => {
      val an = new graft.analysis.Analyzer(Engine.OracleAnalyzer)
      val rcs = topics.map { t =>
        val ts = an.analyze(t.text)
        graft.search.PhraseClause(t.qid, 0,
          Seq((ts(0), 0), (ts(1), 1)), 1.0f, 0)
      }
      Engine.searcher(s, dir)
        .searchRescore(topics, rcs, RescoreWindow, RescoreWeight, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // DisjunctionMaxQuery: per doc the best topic-term score + 0.3 × the
    // others — Lucene's multi-field inflation remedy, here over the
    // analyzed topic terms as sub-queries
    "q_dismax_topk" -> ((s, dir) =>
      Engine.searcher(s, dir).searchDisMax(topics, TopK, DisMaxTie)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")),
    // boosting query (≙ Elasticsearch boosting): docs matching the
    // per-topic negative term keep ranking but at half score — demotion,
    // not exclusion; the demote is a distributed left join against the
    // negative term's decoded postings
    "q_boosting_topk" -> ((s, dir) =>
      Engine.searcher(s, dir)
        .searchBoosting(topics, BoostingNegTerms, NegativeBoost, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")),
    // completion suggester (≙ suggest-as-you-type): top-5 vocabulary
    // terms per prefix by collection frequency desc, term asc — the
    // pruned prefix scan + term_stats weight attach
    "q_complete" -> ((s, dir) =>
      Engine.searcher(s, dir).complete(CompletePrefixes, 5)
        .orderBy("qid", "rank")),
    // SpanFirstQuery: the term confined to the first N index positions
    // (stop gaps preserved); in-bound occurrence count scores through the
    // ordinary BM25 saturation against the term's stats
    "q_span_first_topk" -> ((s, dir) =>
      Engine.searcher(s, dir).searchSpanFirst(SpanFirsts, TopK)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")),
    // date-histogram aggregation (≙ Elasticsearch date_histogram with a
    // terms sub-aggregation): hourly buckets × event type over the events
    // table — count plus order-free exact extremes (no float sums)
    // composite aggregation (≙ ES `composite` + after_key): three chained
    // pages of 7 buckets over sources (event_type, day) — each page is an
    // independent job whose after-predicate filters rows BEFORE the agg;
    // driver state per page = the page itself. Oracle replays the pages
    // as the row_number()-sliced full bucket list (pages chain
    // deterministically, so the slices ARE the pages).
    "q_composite" -> ((s, dir) => {
      import s.implicits._
      val ev = readTable(s, s"$dir/events.parquet")
        .select(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
      val aggs = Seq(count(lit(1)).as("n_events"), max(col("value")).as("max_value"))
      var after: Option[Seq[Any]] = None
      val rows = Seq.newBuilder[(Long, String, String, Long, Double)]
      var p = 0
      var exhausted = false
      while (p < CompositePages && !exhausted) {
        val page = ops.CompositeAgg
          .page(ev, Seq("event_type", "day"), aggs, CompositePageSize, after)
          .collect()
        if (page.nonEmpty)
          after = Some(Seq(page.last.getString(0), page.last.getString(1)))
        page.foreach(r => rows += ((p.toLong, r.getString(0), r.getString(1),
          r.getLong(2), r.getDouble(3))))
        // a short page means the bucket list is exhausted — don't issue
        // aggregate jobs that are guaranteed empty
        exhausted = page.length < CompositePageSize
        p += 1
      }
      rows.result().toDF("page", "event_type", "day", "n_events", "max_value")
        .orderBy("page", "event_type", "day")
    }),
    // adjacency-matrix aggregation (≙ ES adjacency_matrix): doc counts
    // for each named term filter and each pairwise intersection; the
    // oracle replays singles and upper-triangle pairs off the token table
    "q_adjacency" -> ((s, dir) => {
      Engine.searcher(s, dir).adjacencyMatrix(AdjFilters)
        .select(col("key"), col("n_docs").cast("long").as("n_docs"))
        .orderBy("key")
    }),
    // rare-terms aggregation (≙ ES rare_terms: the long-tail inverse of
    // the terms agg): vocabulary terms with df ≤ max_doc_count, straight
    // off the term_stats surface — no token rescan
    "q_rare_terms" -> ((s, dir) => {
      Engine.searcher(s, dir).index.termStats
        .where(col("df") <= RareMaxDf)
        .select(col("term"), col("df").cast("long").as("df"))
        .orderBy("term")
    }),
    // numeric histogram aggregation (≙ ES histogram, interval 50): bucket
    // key = floor(value/interval)·interval — identical IEEE ops on both
    // sides, so min/max/count replay exactly
    "q_histogram" -> ((s, dir) => {
      // bkt as DOUBLE: DuckDB's floor() over a DOUBLE column stays DOUBLE
      // while Spark's floor() yields BIGINT — the driver hashes typed
      // values, so the engine emits the oracle's type (bkt values are
      // integral multiples of HistInterval, exact in double). Round-5
      // hash-fail root cause (VERDICT r5 #2); values were already identical.
      readTable(s, s"$dir/events.parquet")
        .groupBy((floor(col("value") / HistInterval) * HistInterval)
          .cast("double").as("bkt"))
        .agg(count(lit(1)).as("n"), min("value").as("min_v"),
          max("value").as("max_v"))
        .orderBy("bkt")
    }),
    // pipeline aggregations (≙ ES derivative / cumulative_sum / moving_fn
    // shift-0) over a daily event histogram: the pipeline pass operates on
    // the bucket LIST (already reduced), like ES — one window pass, the
    // parent agg's exchange is the only data shuffle
    "q_pipeline_agg" -> ((s, dir) => {
      val daily = readTable(s, s"$dir/events.parquet")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"))
      ops.PipelineAgg.over(daily, "day", "n_events", MovingWindow)
        .select(col("day"), col("n_events"), col("deriv"),
          col("cum").cast("long").as("cum"), col("mavg"))
        .orderBy("day")
    }),
    "q_date_histogram" -> ((s, dir) =>
      readTable(s, s"$dir/events.parquet")
        .groupBy(date_trunc("hour", col("ts")).as("bkt"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value"))
        .select(unix_timestamp(col("bkt")).as("bucket_ts"), col("event_type"),
          col("n_events"), col("min_value"), col("max_value"))
        .orderBy("bucket_ts", "event_type")),
    // significant-terms aggregation (≙ Elasticsearch significant_terms):
    // per topic, the terms whose hit-set df most exceeds their corpus df
    // under the integer cross-multiplied score fg·N − bg·n_hits; the hit
    // set is the BM25 top-k, foreground vectors re-analyze only those k
    // docs, background dfs come from the pruned term_stats lookup
    "q_sig_terms" -> ((s, dir) =>
      graft.search.SignificantTerms.topTerms(Engine.searcher(s, dir),
          corpus.Corpus.fromDocuments(s, dir), topics, TopK, SigTermsN)
        .orderBy("qid", "rank")),
    // wildcard term query (≙ WildcardQuery): `s??n`/`qu*` expand through
    // the shared regex scan (leading-literal prefix pruning) into
    // CONSTANT_SCORE expansions — w1 blends with a scored term, w2 is
    // expansion-only so ranks are pure docid tie-breaks
    "q_wildcard_topk" -> ((s, dir) => {
      val sr = Engine.searcher(s, dir)
      val ec = Seq(
        graft.search.ExpansionClause("w1", 0, sr.expandWildcard("s??n"), 1.0f),
        graft.search.ExpansionClause("w2", 0, sr.expandWildcard("qu*"), 1.0f))
      val wcs = Seq(graft.search.WeightedClause("w1", 1, "table", 1.0f))
      sr.searchClauses(wcs, TopK, expansionClauses = ec)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // term range query (≙ TermRangeQuery [scan TO sort], inclusive):
    // vocabulary range scan → CONSTANT_SCORE expansion; r1 blends with a
    // scored term, r2 is range-only
    "q_range_topk" -> ((s, dir) => {
      val sr = Engine.searcher(s, dir)
      val ec = Seq(
        graft.search.ExpansionClause("r1", 0, sr.expandRange("scan", "sort"), 1.0f),
        graft.search.ExpansionClause("r2", 0, sr.expandRange("dup", "fast"), 1.0f))
      val wcs = Seq(graft.search.WeightedClause("r1", 1, "merge", 1.0f))
      sr.searchClauses(wcs, TopK, expansionClauses = ec)
        .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }),
    // retrieval-effectiveness metrics — the trec_eval step downstream of
    // the run-file sink (the reference writes its run lines FOR trec_eval,
    // BatchSearch.java:305-307): per-topic num_ret/num_rel/num_rel_ret,
    // P@5/P@10, recall, RR, AP and NDCG@10 of the BM25 run judged against
    // deterministic md5-derived qrels; every cross-row double is an
    // ascending-rank fold the oracle replays as a literal addition chain
    "q_treceval" -> ((s, dir) => {
      val run = Engine.searcher(s, dir).search(topics, TopK).toDF()
      ops.TrecEval.evaluate(run.select("qid", "docno", "rank"),
          trecQrels(s, dir), TopK)
        .orderBy("qid")
    })
  )

  /** Deterministic synthetic qrels for the evaluation gate entry: judgment
    * presence and grade are a pure md5 function of (qid, docno) — judged
    * iff h%13 < 6, grade 2/1/0 for h%13 ∈ {0}/{1,2,3}/{4,5} (rel-0 rows
    * are judged-nonrelevant, exercising the judgment-pool-vs-relevant
    * distinction). In production qrels are an input table of human
    * judgments; this fixture exists so the DuckDB oracle can re-derive
    * the identical judgments from the raw parquet.
    */
  private def trecQrels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qids = topics.map(_.qid).toDF("qid")
    corpus.Corpus.fromDocuments(s, dir).select("docno")
      .crossJoin(broadcast(qids))
      .withColumn("h",
        conv(substring(md5(concat(col("qid"), lit(":"), col("docno"))), 1, 8),
          16, 10).cast("long"))
      .where(col("h") % 13 < 6)
      .select(col("qid"), col("docno"),
        when(col("h") % 13 === 0, 2)
          .when(col("h") % 13 < 4, 1)
          .otherwise(0).as("rel"))
  }

  /** TREC render of the corpus grouped into per-file texts (docno/10
    * buckets, docno-sorted within a file) — the ONE home of the render
    * format, consumed by both q_trec_parse (parse round trip) and
    * q_codec_scan (compressed-scan round trip) so the two gate fixtures
    * can never desynchronize.
    */
  private def renderedTrecGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    corpus.Corpus.fromDocuments(s, dir)
      .select($"docno",
        (substring($"docno", 5, 8).cast("int") / 10).cast("int").as("f"),
        concat(lit("<DOC>\n<DOCNO> "), $"docno",
          lit(" </DOCNO>\n<TEXT>\n"), $"content",
          lit("\n</TEXT>\n</DOC>")).as("r"))
      .groupBy($"f")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"docno", $"r"))),
        x => x.getField("r")), "\n").as("text"))
  }

  /** The certified tf derivation — posting blobs decoded to (term, docno,
    * tf) with the docno attached — shared by q_tf (the codec round-trip
    * row) and q_keywords so the two can never desynchronize.
    */
  private def decodedTf(idx: graft.index.BuiltIndex): DataFrame = {
    val s = idx.spark
    import s.implicits._
    idx.postingsDecode.as[PostingRun].flatMap { r =>
      PostingCodec.decodeBlobs(r.ndocs, r.doc_blob, r.tf_blob, r.dl_blob)
        .map(p => (r.term, p.docid, p.tf.toLong))
    }.toDF("term", "docid", "tf")
      .join(idx.docs.select("docid", "docno"), Seq("docid"))
  }

  /** Shared near-dup prologue — the SINGLE Scala-side home of the gate's
    * dedup parameters (shingle n=3, 12 hashes, 2 rows/band, uncapped
    * buckets, keep when Jaccard >= 1/2), mirrored on the oracle side by
    * ShingleCte/MinHashCte/DupClusterCtes. Shingles are built once and
    * shared between LSH banding and Jaccard verification. Returns
    * (corpus, verified pairs with inter/uni counts).
    *
    * The verified pair graph is the one expensive prologue three gate
    * entries share (q_neardup, q_dup_clusters, q_curate), so it is
    * persisted under a content-fingerprinted root in the work dir (same
    * atomic-publish + manifest machinery as the index stages): the
    * shingle→LSH→verify pass runs once per corpus fingerprint; every call
    * re-checks the fingerprint (cheap one-row agg), so an edited corpus
    * invalidates the cache even within one JVM.
    */
  /** The shared streamed-ingest fixture (q_stream_topk,
    * q_stream_cardinality): the corpus split into two docno-RANGE batches
    * and ingested as delta indexes, cached under a content-fingerprinted
    * root. Range (not hash) split: batch 0 holds the low docnos and
    * becomes the lower docid epoch, so cross-batch docid order stays ≡
    * docno order and the engine's (score, docid) tie-break keeps matching
    * the oracle's (score, docno) — a hash split would interleave docnos
    * across epochs and flip tied ranks.
    */
  private def streamedUnion(s: SparkSession, dir: String): graft.streaming.UnionIndex = {
    val safeSf = dir.replaceAll("[^A-Za-z0-9.]+", "_")
    // corpus CONTENT fingerprint in the root path (keys + content, unlike
    // IndexBuilder's keys-only scheme) so a regenerated fixture — even one
    // with identical docnos but changed text — can never serve stale
    // streamed batches
    val fp = streaming.StreamFixtures.fingerprint(
      corpus.Corpus.fromDocuments(s, dir), Seq(col("docno"), col("content")))
    val root = s"${Engine.workDir}/stream_${safeSf}_$fp"
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val ingested =
      try { streaming.StreamingIngest.openUnion(s, root).dirs.size >= 2 }
      catch { case _: Exception => false }
    if (!ingested) {
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val src = s"$root/src"
      fs.mkdirs(new org.apache.hadoop.fs.Path(src))
      val c = corpus.Corpus.fromDocuments(s, dir).select(col("docno"), col("content"))
      import s.implicits._
      // Split point = the smallest docno of range-partition 1 of 2 — a
      // distributed range split (no driver-side collect of the key set;
      // any docno-range boundary works, batches only need docno order).
      val mid = c.select($"docno").as[String]
        .repartitionByRange(2, col("docno"))
        .mapPartitions { it =>
          if (org.apache.spark.TaskContext.getPartitionId() == 1)
            it.reduceOption((a, b) => if (a <= b) a else b).iterator
          else Iterator.empty
        }.collect().headOption.getOrElse("")
      streaming.StreamFixtures.writeOrderedBatches(s, src,
        Seq(c.where(col("docno") < mid), c.where(col("docno") >= mid)))
      streaming.StreamFixtures.withShufflePartitions(s, 8) {
        streaming.StreamingIngest.start(s, src, root,
          graft.index.IndexConfig(analyzer = Engine.OracleAnalyzer))
          .awaitTermination()
      }
    }
    streaming.StreamingIngest.openUnion(s, root)
  }

  private def neardupPipeline(s: SparkSession,
                              dir: String): (DataFrame, DataFrame) = {
    // deliberately NO in-JVM memo of DataFrames: a dir-keyed memo would
    // bypass the content fingerprint on later calls (stale pairs after a
    // corpus edit) and pin plans to whichever SparkSession ran first.
    // The fingerprint agg + manifest probe below cost ~0.2 s per call;
    // the expensive shingle→LSH→verify pass is what the disk cache skips.
    import graft.index.Checkpoint
    val c = corpus.Corpus.fromDocuments(s, dir)
    val conf = s.sparkContext.hadoopConfiguration
    // content-sensitive fingerprint (unlike the index stages' docno-only
    // resume key): edited content must invalidate cached pairs — the
    // shared stream-fixture digest (count + xxhash64 XOR + decimal sum)
    val fp = streaming.StreamFixtures.fingerprint(
      c, Seq(col("docno"), col("content")))
    // v2: Carter-Wegman minhash (1 md5/shingle) replaced per-k md5s
    val cfgId = "neardup-v2;sh=3;k=12;rpb=2;cap=0;keep=2i>=u"
    val cacheDir =
      s"${Engine.workDir}/neardup_${dir.replaceAll("[^A-Za-z0-9.]+", "_")}"
    if (!Checkpoint.isComplete(cacheDir, fp, cfgId, conf)) {
      val an = new graft.analysis.Analyzer(Engine.OracleAnalyzer)
      // materialized once: the shingle plan is referenced by the
      // signature groupBy AND both sides of the Jaccard verify join, and
      // lazy evaluation would re-run the corpus-wide shingling per use
      val sh = ops.Dedup.shingles(c, an, 3).localCheckpoint()
      val pairs = ops.Dedup.verifyJaccard(
          ops.Dedup.minHashCandidatesFrom(sh, 12, 2, maxBucketSize = 0), sh)
        .where(col("inter") * 2 >= col("uni"))
      Checkpoint.atomically(cacheDir, conf) { tmp =>
        pairs.write.mode("overwrite").parquet(tmp)
      }
      Checkpoint.writeManifest(cacheDir,
        Checkpoint.Manifest("neardup_pairs", fp, cfgId, 0L, 0L, Nil), conf)
    }
    (c, s.read.parquet(cacheDir))
  }

  /** Standard-topic ranks under a named stock scorer. */
  private def stockRanks(s: SparkSession, dir: String, scorer: String): DataFrame =
    Engine.searcher(s, dir).search(topics, TopK, scorerName = scorer)
      .select(col("qid"), col("docno"), col("rank").cast("long").as("rank"))
      .orderBy("qid", "rank")

  /** Feedback fixture: 2 relevant + 2 non-relevant docs by docno (present
    * at every sf — doc_ids 0-3), mirroring the reference's explicit-feedback
    * topics that name docs by docno (`ExplicitFeedbackM1PreProcessor`).
    */
  val feedbackDocs: Seq[graft.search.Feedback.FeedbackDoc] = Seq(
    graft.search.Feedback.FeedbackDoc(relevant = true, Some("doc-00000000"), None),
    graft.search.Feedback.FeedbackDoc(relevant = true, Some("doc-00000001"), None),
    graft.search.Feedback.FeedbackDoc(relevant = false, Some("doc-00000002"), None),
    graft.search.Feedback.FeedbackDoc(relevant = false, Some("doc-00000003"), None))
  val FeedbackTopTerms = 8

  /** Round-2 pseudo-relevant depth for the chained-feedback gate entry:
    * the top 3 docs of the round-1 expanded search feed back as relevant.
    */
  val Feedback2Pseudo = 3

  /** Topics for the sloppy-phrase gate entry: a pure `~N` phrase and one
    * mixed with a loose OR term (the reversed "join hash" order needs the
    * slop to match the corpus's dominant "hash … join" sequences).
    */
  val phraseSlopTopics: Seq[Topic] = Seq(
    Topic("1", "\"hash merge\"~2"),
    Topic("2", "\"join hash\"~3 customer"))

  /** Topics for the fuzzy gate entry: a multi-term expansion with distinct
    * distances (lin~2 → line d1, big/join d2) mixed with a loose term, and
    * a single-expansion query.
    */
  val fuzzyTopics: Seq[Topic] = Seq(
    Topic("1", "lin~2 window"),
    Topic("2", "valu~1"))

  /** Topics for the `-`-negation gate entry: positive bag-of-words terms
    * with one negated term each (scored under the faithful match-all wrap).
    */
  val notTopics: Seq[Topic] = Seq(
    Topic("1", "hash join merge -window"),
    Topic("2", "fast table scan -customer"))

  /** Topics for the precedence-group gate entry: a group under MUST and an
    * operator-change chain (AND pair folded into an OR).
    */
  val groupTopics: Seq[Topic] = Seq(
    Topic("1", "(hash | merge) + scan"),
    Topic("2", "table + fast | scan"))

  /** All-lowercase enrichment for the classic-tokenizer entry: one exemplar
    * per grammar rule plus the leftmost-longest differentiators — the
    * multi-label digit host kept whole ("a.b2.c.d"), NUM out-matching HOST
    * ("1.2-3"), strict digit parity splitting ("a.b1-0.cd", "1-a-2-4-b"),
    * ACRONYM_DEP's trailing-dot trim ("wow.com."), email, acronym, host,
    * company, apostrophe, '-'/'_' splits.
    */
  val ClassicEnrich: String =
    " 1,000 2-3-4 a.b2.c.d x-1 i.b.m. at&t o'brien a.b.c 3.14" +
      " bob@mail.example.com x_9 12/25/2021 app2.v1,beta plain-split" +
      " wow.com. 1.2-3 1-a-2-4-b a.b1-0.cd"

  /** PII forms for q_scrub: an email with the full local-part charset, a
    * syntactic IPv4, a 7+ digit run (redacted), a 6-digit run (kept, below
    * threshold), digits inside a word (kept, no boundary).
    */
  val ScrubEnrich: String =
    " contact bob.smith+x@mail-host.example.org or 10.0.255.7 and" +
      " 999.1.2.3 phone 12345678901 short 123456 inner a1234567b end"

  /** Repetition forms for q_repetition: an identical-token run of 4 and a
    * repeated bigram.
    */
  val RepEnrich: String = " go go go stop stop la la la la"

  /** Fires every CodeTokenizer boundary rule: lower→Upper, UPPER-run
    * before Upper+lower, letter↔digit both ways, underscore/punctuation
    * separators, and their compositions.
    */
  val CodeEnrich: String =
    " getHTTPResponse2xml_fooBar XMLHttpRequest __init__ snake_case_id" +
      " Baz99qux parseJSON2CSV v2Max a1b2 IOError USB3port some.path/Name" +
      " ALLCAPS loweronly Capitalized x"

  /** Recursive-CTE replay of the maximal-munch Classic scanner
    * (`analysis.ClassicScan`) over a `(docno, content)` source CTE: the
    * cursor skips non-alphanumeric chars, every rule's ANCHORED match
    * length is computed with the shared per-rule patterns
    * (`ClassicLikeTokenizer.rules` — the same builder the fuzz spec
    * validates, so the oracle cannot drift), and the max wins; the
    * deprecated-acronym rule wins only strictly (Lucene's tie-break) and
    * then sheds its trailing dot; raw matches over 255 chars advance the
    * cursor but emit NULL (ClassicTokenizer's over-long discard). ASCII
    * classes because the corpus is verified pure ASCII lowercase. Emits
    * `cw(docno, pos, term)` with `pos` the 1-based char cursor and NULL
    * terms for the seed row and discards — callers filter and re-rank.
    */
  private def classicWalkCte(src: String): String = {
    val r = graft.analysis.ClassicLikeTokenizer.rules("[a-z]", "[0-9]", "[a-z0-9]")
    def q(p: String) = ("^(?:" + p + ")").replace("'", "''")
    s"""cw(docno, pos, term) AS (
       |  SELECT docno, 1, CAST(NULL AS VARCHAR) FROM $src
       |  UNION ALL
       |  SELECT docno, pos + skip + best,
       |         CASE WHEN best > 255 THEN NULL
       |              WHEN depwin THEN substr(rem2, 1, best - 1)
       |              ELSE substr(rem2, 1, best) END
       |  FROM (
       |    SELECT w.docno, w.pos,
       |           substr(c.content, w.pos) AS rem,
       |           length(regexp_extract(rem, '^[^a-z0-9]*')) AS skip,
       |           substr(rem, skip + 1) AS rem2,
       |           length(regexp_extract(rem2, '${q(r.alphanum)}')) AS l_an,
       |           length(regexp_extract(rem2, '${q(r.apostrophe)}')) AS l_ap,
       |           length(regexp_extract(rem2, '${q(r.acronym)}')) AS l_ac,
       |           length(regexp_extract(rem2, '${q(r.company)}')) AS l_co,
       |           length(regexp_extract(rem2, '${q(r.email)}')) AS l_em,
       |           length(regexp_extract(rem2, '${q(r.host)}')) AS l_ho,
       |           length(regexp_extract(rem2, '${q(r.numOdd)}')) AS l_no,
       |           length(regexp_extract(rem2, '${q(r.numEven)}')) AS l_ne,
       |           length(regexp_extract(rem2, '${q(r.acronymDep)}')) AS l_dp,
       |           greatest(l_an, l_ap, l_ac, l_co, l_em, l_ho, l_no, l_ne, l_dp) AS best,
       |           l_dp > greatest(l_an, l_ap, l_ac, l_co, l_em, l_ho, l_no, l_ne) AS depwin
       |    FROM cw w JOIN $src c USING (docno)
       |  ) WHERE rem2 <> ''
       |)""".stripMargin
  }

  /** Topics for the tree-mode WAND gate entry: nested SHOULD-only groups
    * (prunable tree shapes) whose FLATTENED term multisets are exactly
    * standard topics 1 and 2, so the oracle is the shared BM25 ranking
    * restricted to those qids.
    */
  val wandTreeTopics: Seq[Topic] = Seq(
    Topic("1", "hash | (join | merge)"),
    Topic("2", "(fast | table) | scan"))

  /** Bit-exact DuckDB replay of [[graft.ops.Knn.ivfTrain]] (see its
    * scaladoc): every double is produced by the same left-to-right IEEE
    * operation chain the engine's folds execute — per-vector norms and
    * dots as explicit chained sums, assignment argmax by `dot × 1/|c|`
    * with the strict lowest-cid tie-break, unit components quantized to
    * the 2^24 fixed-point grid (round-half-away-from-zero on both
    * engines), integer cross-row sums, and the `((Σf / 2^24) / n)` mean
    * cast to float — so no tolerance or assignment-margin precondition is
    * needed anywhere. Training rounds are unrolled (the gate entry's
    * `iters` is a constant). Empty cells keep the previous centroid via
    * the LEFT JOIN + coalesce.
    */
  private def ivfDot(dims: Int)(a: String, b: String): String =
    (1 to dims).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")
      .mkString("0.0 + ", " + ", "")

  /** The unrolled spherical-k-means training chain (CTEs `cents0` …
    * `cents$iters`) — shared by the q_ivf_train oracle and every oracle
    * that needs the TRAINED quantizer downstream (q_cluster_sample).
    */
  private def ivfTrainCtes(nCents: Int, iters: Int, dims: Int): String = {
    val dot = ivfDot(dims) _
    val rounds = (1 to iters).map { r =>
      s"""inv$r AS (SELECT cid, cv,
         |    CASE WHEN n2 = 0.0 THEN 0.0 ELSE 1.0 / sqrt(n2) END AS ic
         |  FROM (SELECT cid, cv, ${dot("cv", "cv")} AS n2 FROM cents${r - 1})),
         |asn$r AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY (${dot("e.embedding", "c.cv")}) * c.ic DESC,
         |                      c.cid ASC) AS rn
         |    FROM embeddings e CROSS JOIN inv$r c) WHERE rn = 1),
         |sums$r AS (SELECT a.cid, u.pos, sum(u.f) AS s, count(*) AS n
         |  FROM asn$r a JOIN uu u USING (vec_id) GROUP BY 1, 2),
         |newc$r AS (SELECT cid,
         |    list(CAST((CAST(s AS DOUBLE) / 16777216.0) / CAST(n AS DOUBLE) AS FLOAT)
         |         ORDER BY pos) AS cv
         |  FROM sums$r GROUP BY cid),
         |cents$r AS (SELECT p.cid, coalesce(nc.cv, p.cv) AS cv
         |  FROM cents${r - 1} p LEFT JOIN newc$r nc USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""cents0 AS (SELECT vec_id AS cid, embedding AS cv
       |  FROM embeddings WHERE vec_id < $nCents),
       |nv AS (SELECT vec_id, embedding, sqrt(n2) AS nrm
       |  FROM (SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2
       |        FROM embeddings)),
       |uu AS (SELECT vec_id, pos,
       |              round(CAST(embedding[pos] AS DOUBLE) / nrm * 16777216.0)::BIGINT AS f
       |  FROM (SELECT vec_id, embedding, nrm, unnest(range(1, ${dims + 1})) AS pos
       |        FROM nv WHERE nrm > 0.0)),
       |$rounds""".stripMargin
  }

  private def ivfTrainSql(nCents: Int, iters: Int, dims: Int): String =
    s"""WITH ${ivfTrainCtes(nCents, iters, dims)},
       |outp AS (SELECT cid, unnest(range(1, ${dims + 1})) AS p FROM cents$iters)
       |SELECT o.cid, (o.p - 1)::BIGINT AS pos, c.cv[o.p] AS comp
       |FROM outp o JOIN cents$iters c USING (cid)
       |ORDER BY cid, pos""".stripMargin

  /** Topics for the exact-phrase gate entry: a pure phrase query and a
    * phrase mixed with a loose OR term.
    */
  val phraseTopics: Seq[Topic] = Seq(
    Topic("1", "\"hash join\""),
    Topic("2", "\"table scan\" merge"))

  /** Topics for the prefix gate entry: constant-score expansion OR'd with a
    * scored term, and AND'd with a required term.
    */
  val prefixTopics: Seq[Topic] = Seq(
    Topic("1", "s* merge"),
    Topic("2", "value + qu*"))

  /** Regex gate patterns (Java∩RE2 dialect, full-term anchored): topic 1
    * has the literal prefix "b" for the pruned scan (matches big, batch);
    * topic 2 starts with a group — no literal prefix, the full-projection
    * fallback (matches order).
    */
  val RegexTopic1 = "b.(g|tch)"
  val RegexTopic2 = "(or|bor)der"

  /** More-like-this gate parameters: the source document and how many of
    * its top tf×idf terms become the similarity query.
    */
  val MltDocno = "doc-00000007"
  val MltTerms = 4

  /** Spell-suggestion inputs: five misspellings of corpus words plus one
    * KNOWN word ("merge") that must be gated out by maxQueryFrequency.
    */
  val SuggestInputs: Seq[String] =
    Seq("tabel", "qurey", "hashh", "custmer", "windoww", "merge")

  /** Phrase-suggester inputs (q_phrase_suggest): two-word phrases with
    * misspelled members; the bigram LM must prefer the corpus collocation
    * over the per-slot frequency order.
    */
  val PhraseSuggestInputs: Seq[(String, String)] =
    Seq(("s1", "hsah join"), ("s2", "tabel scann"))

  /** Document-update fixture (q_update_topk): the docno whose content is
    * replaced, and the fixed replacement text — high-tf topic-1 terms in a
    * tiny dl, so the NEW version must enter topic 1's top-k (the entry
    * fails visibly if the delta isn't searched, not just by hash drift).
    */
  val UpdateDocno = "doc-00000012"
  val UpdateContent = "hash hash hash hash join join join join " +
    "merge merge merge merge updated"

  /** Composite-aggregation paging fixture: page size and page count. */
  val CompositePageSize = 7
  val CompositePages = 3

  /** Pipeline-aggregation moving-average window (trailing, exclusive). */
  val MovingWindow = 3

  /** rare_terms max_doc_count and histogram interval fixtures. */
  val RareMaxDf = 2
  val HistInterval = 50

  /** adjacency_matrix named filters (name -> single-term filter text). */
  val AdjFilters: Seq[(String, String)] =
    Seq(("a", "hash"), ("b", "join"), ("c", "merge"))

  /** Chunking fixture: 32-token windows every 24 tokens (8-token overlap). */
  val ChunkSize = 32
  val ChunkStride = 24

  /** Duplicate-span gram length (production ~50; small so the synthetic
    * corpus's shared boilerplate yields multi-span docs).
    */
  val DupSpanN = 5

  // ---- DuckDB oracle -------------------------------------------------------

  /** Shared corpus/tokenization CTEs, mirroring the engine's oracle
    * analyzer chain (whitespace split → lower → stop {a, the}).
    */
  private val CorpusCte =
    """corpus AS (
      |  SELECT concat('doc-', lpad(cast(doc_id AS varchar), 8, '0')) AS docno,
      |         source AS repo,
      |         concat(lang, '/', cast(doc_id AS varchar), '.txt') AS path,
      |         md5(concat('doc-', lpad(cast(doc_id AS varchar), 8, '0'))) AS commit_sha,
      |         lang, text AS content
      |  FROM documents
      |)""".stripMargin

  private val TokCte =
    """tok0 AS (
      |  SELECT docno, unnest(string_split_regex(lower(content), '\s+')) AS term
      |  FROM corpus
      |),
      |tok AS (
      |  SELECT docno, term FROM tok0
      |  WHERE term <> '' AND term NOT IN ('a', 'the')
      |)""".stripMargin

  private def withCtes(body: String): String =
    s"WITH $CorpusCte,\n$TokCte\n$body"

  /** Like [[withCtes]] but RECURSIVE, for bodies containing walk CTEs. */
  private def withCtesRec(body: String): String =
    s"WITH RECURSIVE $CorpusCte,\n$TokCte\n$body"

  /** The SQL form of [[Engine.deleteSet]]: docnos ending in 7 ⟺ doc_id
    * ending in 7 (docnos zero-pad the doc_id).
    */
  private val DeletedDocPred = "doc_id % 10 = 7"

  /** [[withCtes]] over the PURGED corpus (the [[Engine.deleteSet]] docs
    * physically gone): every derived stat — tf/dl/df/N/sumttf — recomputes
    * over survivors, the post-merge Lucene state q_purge_* certifies.
    */
  private def withCtesPurged(body: String): String =
    s"WITH ${CorpusCte.replace("FROM documents",
        s"FROM documents WHERE NOT ($DeletedDocPred)")},\n$TokCte\n$body"

  /** Recursive-CTE replay of the faithful 2-term sloppy-phrase walk
    * ([[graft.search.SloppyPhrase]]; the 2-cursor reduction is
    * cross-checked against the general priority-queue implementation by
    * PhraseSpec's 2000-case battery): state = (cursor indexes, sticky
    * side, open-window min `ml`, accumulated freq). The popped side keeps
    * advancing through ties; a STRICT overshoot of the other cursor closes
    * an event contributing 1/(ml+1) when ml ≤ slop and hands the walk
    * over; cursor exhaustion closes the last event. Emits CTEs
    * `la/lb/init/walk/ph` suffixed with `tag`, expecting `rawpos`
    * (docno, term, pos) in scope; `termB` positions are pre-adjusted by
    * the slot offset (−1).
    */
  private def sloppyWalkCtes(tag: String, termA: String, termB: String,
                             slop: Int): String =
    s"""la$tag AS (SELECT docno, list(pos ORDER BY pos) AS la
       |        FROM rawpos WHERE term = '$termA' GROUP BY docno),
       |lb$tag AS (SELECT docno, list(pos - 1 ORDER BY pos) AS lb
       |        FROM rawpos WHERE term = '$termB' GROUP BY docno),
       |init$tag AS (SELECT docno, la, lb FROM la$tag JOIN lb$tag USING (docno)),
       |walk$tag(docno, ia, ib, sa, ml, freq, done) AS (
       |  SELECT docno, 1, 1, la[1] <= lb[1], abs(la[1] - lb[1]),
       |         CAST(0 AS DOUBLE), FALSE
       |  FROM init$tag
       |  UNION ALL
       |  SELECT w.docno,
       |    CASE WHEN w.fin OR NOT w.sa THEN w.ia ELSE w.ia + 1 END,
       |    CASE WHEN w.fin OR w.sa THEN w.ib ELSE w.ib + 1 END,
       |    CASE WHEN w.fin THEN w.sa WHEN w.ov THEN NOT w.sa ELSE w.sa END,
       |    CASE WHEN w.fin THEN w.ml
       |         WHEN w.ov AND w.sa THEN w.npa - w.pb
       |         WHEN w.ov THEN w.npb - w.pa
       |         WHEN w.sa THEN least(w.ml, w.pb - w.npa)
       |         ELSE least(w.ml, w.pa - w.npb) END,
       |    w.freq + CASE WHEN (w.fin OR w.ov) AND w.ml <= $slop
       |                  THEN 1.0 / (w.ml + 1) ELSE 0 END,
       |    w.fin
       |  FROM (
       |    SELECT w.*,
       |      i.la[w.ia] AS pa, i.lb[w.ib] AS pb,
       |      i.la[w.ia + 1] AS npa, i.lb[w.ib + 1] AS npb,
       |      CASE WHEN w.sa THEN w.ia + 1 > len(i.la)
       |           ELSE w.ib + 1 > len(i.lb) END AS fin,
       |      CASE WHEN w.sa THEN coalesce(i.la[w.ia + 1] > i.lb[w.ib], FALSE)
       |           ELSE coalesce(i.lb[w.ib + 1] > i.la[w.ia], FALSE) END AS ov
       |    FROM walk$tag w JOIN init$tag i USING (docno)
       |    WHERE NOT w.done
       |  ) w
       |),
       |ph$tag AS (SELECT docno, freq FROM walk$tag WHERE done AND freq > 0),""".stripMargin

  /** Word-3-gram shingles + MinHash(12)/bands(2) CTEs — exact mirror of
    * [[ops.Dedup]]'s md5-keyed construction.
    */
  private val ShingleCte =
    """shdoc AS (
      |  SELECT docno,
      |         list_filter(string_split_regex(lower(content), '\s+'),
      |                     t -> t <> '' AND t NOT IN ('a', 'the')) AS toks
      |  FROM corpus
      |),
      |sh AS (
      |  SELECT DISTINCT docno, shingle FROM (
      |    SELECT docno,
      |           unnest(list_transform(range(1, len(toks) - 1),
      |                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingle
      |    FROM shdoc WHERE len(toks) >= 3
      |  )
      |)""".stripMargin

  /** Verified near-dup pairs → connected components (recursive transitive
    * closure; cluster = min reachable docno). Requires `sh` + `cand` from
    * [[ShingleCte]]/[[MinHashCte]] and a RECURSIVE WITH.
    */
  private val DupClusterCtes =
    """sizes AS (SELECT docno, count(*) AS n FROM sh GROUP BY docno),
      |inter AS (
      |  SELECT c.docno_a, c.docno_b, count(*) AS inter
      |  FROM cand c
      |  JOIN sh a ON a.docno = c.docno_a
      |  JOIN sh b ON b.docno = c.docno_b AND b.shingle = a.shingle
      |  GROUP BY c.docno_a, c.docno_b),
      |vp AS (
      |  SELECT c.docno_a, c.docno_b
      |  FROM cand c
      |  LEFT JOIN inter i ON i.docno_a = c.docno_a AND i.docno_b = c.docno_b
      |  JOIN sizes sa ON sa.docno = c.docno_a
      |  JOIN sizes sb ON sb.docno = c.docno_b
      |  WHERE 2 * coalesce(i.inter, 0) >= (sa.n + sb.n - coalesce(i.inter, 0))),
      |sym AS (
      |  SELECT docno_a AS a, docno_b AS b FROM vp
      |  UNION SELECT docno_b, docno_a FROM vp),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b),
      |clus AS (
      |  SELECT c.docno,
      |         least(c.docno, coalesce(min(r.b), c.docno)) AS cluster
      |  FROM corpus c LEFT JOIN reach r ON r.a = c.docno
      |  GROUP BY c.docno)""".stripMargin

  private val MinHashCte =
    """mh AS (
      |  SELECT docno, idx.i,
      |         min(((2 * idx.i + 1) * h1 + idx.i * h2) % 2147483647) AS minv
      |  FROM (SELECT docno,
      |               ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
      |               ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
      |        FROM sh) s
      |  CROSS JOIN (SELECT unnest(range(0, 12)) AS i) idx
      |  GROUP BY docno, idx.i
      |),
      |bands AS (
      |  SELECT docno,
      |         md5(concat((i // 2), '|',
      |             string_agg(CAST(minv AS VARCHAR), ',' ORDER BY i))) AS band_key
      |  FROM mh GROUP BY docno, (i // 2)
      |),
      |cand AS (
      |  SELECT DISTINCT a.docno AS docno_a, b.docno AS docno_b
      |  FROM bands a JOIN bands b
      |    ON a.band_key = b.band_key AND a.docno < b.docno
      |)""".stripMargin

  /** Relevance-model (M1) replay: per-feedback-doc tf/dl, rel/nonrel sums
    * (non-relevant sums only for terms already in the model), OOV = 0.001,
    * weight = (|NR|+1)(relSum+OOV) / ((|R|+1)(nonrelSum+OOV)) — all double
    * arithmetic in the exact operation order of Feedback.relevanceModel, so
    * the weights are bit-identical (sums have ≤2 addends per side, and
    * two-addend double addition is order-independent). Top-terms selection
    * is weight desc, term desc (the reference's TreeSet comparator quirk).
    */
  private val FeedbackCte =
    s"""fb(docno, rel) AS (VALUES
       |  ('doc-00000000', 1), ('doc-00000001', 1),
       |  ('doc-00000002', 0), ('doc-00000003', 0)),
       |fbtf AS (SELECT f.rel, t.docno, t.term, count(*) AS tf
       |         FROM tok t JOIN fb f USING (docno) GROUP BY 1, 2, 3),
       |fbdl AS (SELECT docno, cast(count(*) AS DOUBLE) AS dl
       |         FROM tok JOIN fb USING (docno) GROUP BY 1),
       |rsum AS (SELECT t.term, sum(t.tf / d.dl) AS rs
       |         FROM fbtf t JOIN fbdl d USING (docno)
       |         WHERE t.rel = 1 GROUP BY 1),
       |nsum AS (SELECT t.term, sum(t.tf / d.dl) AS ns
       |         FROM fbtf t JOIN fbdl d USING (docno)
       |         WHERE t.rel = 0 AND t.term IN (SELECT term FROM rsum)
       |         GROUP BY 1),
       |fw AS (SELECT r.term,
       |              (3 * (r.rs + 0.001)) / (3 * (coalesce(n.ns, 0) + 0.001)) AS weight
       |       FROM rsum r LEFT JOIN nsum n USING (term)),
       |fsel AS (SELECT term, weight,
       |                row_number() OVER (ORDER BY weight DESC, term DESC) AS rn
       |         FROM fw)""".stripMargin

  /** The topic batch as SQL VALUES of (qid, clause term) rows — one row per
    * analyzed token occurrence, after stop-filtering (term weights = row
    * multiplicity).
    */
  /** Code-tokenizer replay over column `srcCol` of `corpus` (camel/digit
    * splits → non-alphanumeric split → lower → stop) plus the per-field
    * tf/dl/df/collection-stats CTEs, names prefixed with `p` — one
    * instantiation per FIELD for the multi-field oracle.
    */
  private def codeTokCtes(srcCol: String, p: String): String =
    s"""${p}cs AS (SELECT docno,
       |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |    $srcCol,
       |    '([a-z])([A-Z])', '\\1 \\2', 'g'),
       |    '([A-Z])([A-Z][a-z])', '\\1 \\2', 'g'),
       |    '([A-Za-z])([0-9])', '\\1 \\2', 'g'),
       |    '([0-9])([A-Za-z])', '\\1 \\2', 'g') AS s
       |  FROM corpus),
       |${p}raw AS (SELECT docno,
       |  list_filter(string_split_regex(s, '[^A-Za-z0-9]+'), x -> x <> '') AS l
       |  FROM ${p}cs),
       |${p}tok AS (SELECT docno, term FROM
       |             (SELECT docno, lower(unnest(l)) AS term FROM ${p}raw)
       |           WHERE term NOT IN ('a', 'the')),
       |${p}tf AS (SELECT docno, term, count(*) AS tf FROM ${p}tok GROUP BY docno, term),
       |${p}dl AS (SELECT docno, count(*) AS dl FROM ${p}tok GROUP BY docno),
       |${p}df AS (SELECT term, count(DISTINCT docno) AS df FROM ${p}tok GROUP BY term),
       |${p}st AS (SELECT (SELECT count(*) FROM corpus) AS n,
       |                  (SELECT count(*) FROM ${p}tok) AS sumttf)""".stripMargin

  /** Per-field BM25 scored CTE `${p}sc(qid, docno, score)` over the
    * [[codeTokCtes]] tables with prefix `p`, query terms from `mqw`.
    */
  private def bm25FieldCte(p: String): String =
    s"""${p}sc AS (
       |  SELECT q.qid, f.docno,
       |         sum(q.w * ((1.2 + 1.0) * f.tf)
       |             / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
       |             * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0))) AS score
       |  FROM mqw q
       |  JOIN ${p}tf f ON f.term = q.term
       |  JOIN ${p}dl d ON d.docno = f.docno
       |  JOIN ${p}df v ON v.term = q.term
       |  CROSS JOIN ${p}st st
       |  GROUP BY q.qid, f.docno)""".stripMargin

  private val TopicsCte =
    """topics(qid, term) AS (VALUES
      |  ('1','hash'),('1','join'),('1','merge'),
      |  ('2','fast'),('2','table'),('2','scan'),
      |  ('3','dup'),('3','customer'),('3','data'),
      |  ('4','slow'),('4','query'),('4','window'))""".stripMargin

  /** Shared skeleton for the Lucene stock-model oracles: the standard topic
    * batch scored per (qid, doc) as Σ w × `partial`, where the partial sees
    * `f.tf`, the lossy norm (`d.lossy_dl` / `d.inv_sqrt` from the generated
    * [[LuceneNormSql]] lookup), `v.df`, `c.cf` and the collection stats.
    * `coord = true` multiplies the sum by matched/nterms (DefaultSimilarity
    * keeps coord, which is rank-relevant across docs); the classic
    * queryNorm is a per-query constant and therefore rank-neutral — the
    * ranks-only compare lets the oracle omit it.
    *
    * The sort key rounds to 10 decimals: documents with IDENTICAL stats
    * multisets score exactly equal in the engine (same float partials,
    * same order) and tie-break by docno, but DuckDB's double SUM visits
    * their groups in different orders, leaving ±1e-16-relative noise that
    * would flip the tie arbitrarily. Rounding collapses that noise while
    * preserving genuine gaps (measured ≥1.2e-5 relative across all five
    * models at gate scale — 5+ orders of margin).
    */
  private def stockModelSql(partial: String, coord: Boolean = false): String = {
    val score =
      if (coord) "round(s.score * (s.matched / CAST(z.nterms AS DOUBLE)), 10)"
      else "round(s.score, 10)"
    withCtes(
      s""",
         |$TopicsCte,
         |${LuceneNormSql.cte},
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl0 AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |dln AS (SELECT d.docno, n.lossy_dl, n.inv_sqrt
         |        FROM dl0 d JOIN lnorm n ON n.dl = d.dl),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |cfq AS (SELECT term, count(*) AS cf FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |qterm AS (SELECT qid, term, count(*) AS w FROM topics GROUP BY qid, term),
         |qsize AS (SELECT qid, count(DISTINCT term) AS nterms FROM topics GROUP BY qid),
         |scored AS (
         |  SELECT q.qid, f.docno,
         |         sum(q.w * ($partial)) AS score,
         |         count(DISTINCT f.term) AS matched
         |  FROM qterm q
         |  JOIN tf f ON f.term = q.term
         |  JOIN dln d ON d.docno = f.docno
         |  JOIN df v ON v.term = q.term
         |  JOIN cfq c ON c.term = q.term
         |  CROSS JOIN st
         |  GROUP BY q.qid, f.docno
         |),
         |ranked AS (
         |  SELECT s.qid, s.docno,
         |         (row_number() OVER (PARTITION BY s.qid ORDER BY $score DESC, s.docno ASC) - 1) AS rank
         |  FROM scored s JOIN qsize z ON z.qid = s.qid
         |)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin)
  }

  private val AvgdlSql = "(st.sumttf / CAST(st.n AS DOUBLE))"
  /** NormalizationH2 tfn and the DFR/IB lambdas, substituted textually. */
  private val TfnSql = s"(f.tf * log2(1.0 + $AvgdlSql / d.lossy_dl))"

  /** The shared BM25 ranking CTEs (through `ranked(qid, docno, rank)`);
    * the top-k, WAND, and paging oracles select different slices of it.
    */
  /** `candidateWhere` drops docs from the CANDIDATE set only — tf/dl/df/
    * stats stay full-corpus, which is exactly the logical-delete contract
    * (q_delete_topk): Lucene skips tombstoned docs at decode time but
    * scores with pre-delete statistics until a merge purges them.
    */
  private def bm25RankedCtes(candidateWhere: String = "",
                             having: String = ""): String =
    s""",
       |$TopicsCte,
       |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
       |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
       |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
       |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
       |              (SELECT count(*) FROM tok) AS sumttf),
       |qterm AS (SELECT qid, term, count(*) AS w FROM topics GROUP BY qid, term),
       |scored AS (
       |  SELECT q.qid, f.docno,
       |         sum(q.w * ((1.2 + 1.0) * f.tf)
       |             / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
       |             * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0))) AS score
       |  FROM qterm q
       |  JOIN tf f ON f.term = q.term
       |  JOIN dl d ON d.docno = f.docno
       |  JOIN df v ON v.term = q.term
       |  CROSS JOIN st
       |  $candidateWhere
       |  GROUP BY q.qid, f.docno
       |  $having
       |),
       |ranked AS (
       |  SELECT qid, docno,
       |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
       |  FROM scored
       |)""".stripMargin

  private lazy val Bm25RankedCtes: String = bm25RankedCtes()

  /** The template-scorer oracle (score ≡ Σ clause weights per matched doc,
    * i.e. an integer-exact collector/tie-break probe) — shared by
    * q_tmpl_topk and q_tmple_topk: the byte315 lossy norm cannot move a
    * constant per-clause score, so both models rank identically.
    */
  private lazy val TmplTopkSql: String = withCtes(
    s""",
       |$TopicsCte,
       |qterm AS (SELECT qid, term, count(*) AS w FROM topics GROUP BY qid, term),
       |scored AS (
       |  SELECT q.qid, t.docno, sum(q.w) AS score
       |  FROM qterm q
       |  JOIN (SELECT DISTINCT docno, term FROM tok) t ON t.term = q.term
       |  GROUP BY 1, 2
       |),
       |ranked AS (
       |  SELECT qid, docno,
       |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
       |  FROM scored
       |)
       |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
       |ORDER BY qid, rank""".stripMargin)

  /** The trec_eval-metrics oracle: re-derives the md5 qrels, replays the
    * BM25 run through `ranked`, and computes every double metric with the
    * SAME left-to-right IEEE chains as [[graft.ops.TrecEval]]'s
    * ascending-rank folds — AP/DCG as unrolled per-rank addition chains
    * (missing ranks contribute +0.0, a bitwise identity), ideal DCG as a
    * chain over the per-grade judgment counts, and the NDCG discounts as
    * the identical `Double.toString` literals. Single divisions
    * (P@k, recall, RR, AP, NDCG finals) are correctly rounded on both
    * engines, so the whole row hash-matches with no tolerance.
    */
  private lazy val TrecEvalSql: String = {
    // '…'::DOUBLE, not a bare literal: DuckDB types bare decimal literals
    // as DECIMAL, and its decimal→double conversion can land 1 ULP off
    // the correctly-rounded string parse Java's Double.toString round-trip
    // guarantees (observed on the ndcg column at gate scale)
    val disc = graft.ops.TrecEval.discounts(10)
      .map(d => s"'${java.lang.Double.toString(d)}'::DOUBLE")
    def chain(ts: Seq[String]): String =
      ts.foldLeft("0.0")((a, t) => s"($a + $t)")
    val discCase = (1 to 10)
      .map(p => s"WHEN $p THEN ${disc(p - 1)}")
      .mkString("CASE p ", " ", " ELSE 0.0 END")
    val apChain = chain((1 to TopK).map(p =>
      s"coalesce(max(CASE WHEN p = $p THEN apc END), 0.0)"))
    val dcgChain = chain((1 to 10).map(p =>
      s"coalesce(max(CASE WHEN p = $p THEN dcgc END), 0.0)"))
    val idcgChain = chain((1 to 10).map(i =>
      s"(CASE WHEN $i <= n4 THEN 15.0 WHEN $i <= n4 + n3 THEN 7.0" +
        s" WHEN $i <= n4 + n3 + n2 THEN 3.0" +
        s" WHEN $i <= n4 + n3 + n2 + n1 THEN 1.0 ELSE 0.0 END) * ${disc(i - 1)}"))
    withCtes(
      s"""$Bm25RankedCtes,
         |qh AS (SELECT t.qid, c.docno,
         |              ('0x' || substr(md5(t.qid || ':' || c.docno), 1, 8))::BIGINT AS h
         |       FROM (SELECT DISTINCT qid FROM topics) t CROSS JOIN corpus c),
         |qrels AS (SELECT qid, docno,
         |                 CASE WHEN h % 13 = 0 THEN 2
         |                      WHEN h % 13 < 4 THEN 1 ELSE 0 END AS rel
         |          FROM qh WHERE h % 13 < 6),
         |runk AS (SELECT qid, docno, rank FROM ranked WHERE rank < $TopK),
         |jr AS (SELECT r.qid, r.rank + 1 AS p, coalesce(q.rel, 0) AS rel
         |       FROM runk r LEFT JOIN qrels q
         |         ON q.qid = r.qid AND q.docno = r.docno),
         |pre AS (SELECT qid, p, rel,
         |        sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY qid ORDER BY p) AS relcnt
         |        FROM jr),
         |contrib AS (SELECT qid, p, rel, relcnt,
         |        CASE WHEN rel > 0 THEN CAST(relcnt AS DOUBLE) / CAST(p AS DOUBLE)
         |             ELSE 0.0 END AS apc,
         |        CASE WHEN p <= 10 THEN
         |          CAST((1 << least(rel, 4)) - 1 AS DOUBLE) * ($discCase)
         |        ELSE 0.0 END AS dcgc
         |        FROM pre),
         |qst AS (SELECT qid,
         |        sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::BIGINT AS num_rel,
         |        sum(CASE WHEN rel = 4 THEN 1 ELSE 0 END) AS n4,
         |        sum(CASE WHEN rel = 3 THEN 1 ELSE 0 END) AS n3,
         |        sum(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS n2,
         |        sum(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS n1
         |        FROM qrels GROUP BY qid),
         |agg AS (SELECT qid, count(*) AS num_ret, max(relcnt) AS nrr,
         |        sum(CASE WHEN rel > 0 AND p <= 5 THEN 1 ELSE 0 END) AS r5,
         |        sum(CASE WHEN rel > 0 AND p <= 10 THEN 1 ELSE 0 END) AS r10,
         |        min(CASE WHEN rel > 0 THEN p END) AS minp,
         |        $apChain AS apsum,
         |        $dcgChain AS dcg
         |        FROM contrib GROUP BY qid),
         |icg AS (SELECT qid, $idcgChain AS idcg FROM qst)
         |SELECT a.qid,
         |       a.num_ret::BIGINT AS num_ret,
         |       coalesce(q.num_rel, 0)::BIGINT AS num_rel,
         |       a.nrr::BIGINT AS num_rel_ret,
         |       CAST(a.r5 AS DOUBLE) / 5.0 AS p_5,
         |       CAST(a.r10 AS DOUBLE) / 10.0 AS p_10,
         |       CASE WHEN coalesce(q.num_rel, 0) > 0
         |            THEN CAST(a.nrr AS DOUBLE) / CAST(q.num_rel AS DOUBLE)
         |            ELSE 0.0 END AS recall,
         |       CASE WHEN a.minp IS NOT NULL THEN 1.0 / CAST(a.minp AS DOUBLE)
         |            ELSE 0.0 END AS rr,
         |       CASE WHEN coalesce(q.num_rel, 0) > 0
         |            THEN a.apsum / CAST(q.num_rel AS DOUBLE) ELSE 0.0 END AS ap,
         |       CASE WHEN i.idcg > 0.0 THEN a.dcg / i.idcg ELSE 0.0 END AS ndcg
         |FROM agg a LEFT JOIN qst q USING (qid) LEFT JOIN icg i USING (qid)
         |ORDER BY qid""".stripMargin)
  }

  /** The BM25 top-k oracle — shared verbatim by q_bm25_topk, q_wand_topk
    * (pruning is rank-identical), q_fqcn_scorer_topk (FQCN load of the
    * same scorer), and q_stream_topk (BM25 over the streamed UnionIndex is
    * float-identical to the monolithic build).
    */
  private lazy val Bm25TopkSql: String = withCtes(
    s"""$Bm25RankedCtes
       |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
       |ORDER BY qid, rank""".stripMargin)

  private lazy val PageTopkSql: String = withCtes(
    s"""$Bm25RankedCtes
       |SELECT qid, docno, rank FROM ranked
       |WHERE qid = '1' AND rank >= ${PageNo * PageSize}
       |  AND rank < ${(PageNo + 1) * PageSize}
       |ORDER BY rank""".stripMargin)

  /** Snippet replay: the greedy char-budget fragmenter is a sequential fold
    * (cur + 1 + |tok| > 15 → new fragment), replayed with a RECURSIVE walk
    * over token indexes; fragment score = tokens ∈ the topic's term set,
    * best 4 by (score desc, fragment order), re-sorted to document order,
    * '...'-joined; hit set/ranks = the BM25 oracle's.
    */
  private lazy val SnippetsSql: String =
    s"""WITH RECURSIVE $CorpusCte,
       |$TokCte,
       |$TopicsCte,
       |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
       |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
       |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
       |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
       |              (SELECT count(*) FROM tok) AS sumttf),
       |qterm AS (SELECT qid, term, count(*) AS w FROM topics GROUP BY qid, term),
       |scored AS (
       |  SELECT q.qid, f.docno,
       |         sum(q.w * ((1.2 + 1.0) * f.tf)
       |             / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
       |             * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0))) AS score
       |  FROM qterm q
       |  JOIN tf f ON f.term = q.term
       |  JOIN dl d ON d.docno = f.docno
       |  JOIN df v ON v.term = q.term
       |  CROSS JOIN st
       |  GROUP BY q.qid, f.docno
       |),
       |ranked AS (
       |  SELECT qid, docno,
       |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
       |  FROM scored
       |),
       |rawt AS (SELECT docno,
       |         list_filter(string_split_regex(content, '\\s+'), x -> x <> '') AS l
       |         FROM corpus),
       |toks AS (SELECT docno, unnest(l) AS tok, unnest(range(len(l))) AS i FROM rawt),
       |walk(docno, i, fid, cur) AS (
       |  SELECT docno, 0, 0, length(tok) FROM toks WHERE i = 0
       |  UNION ALL
       |  SELECT t.docno, w.i + 1,
       |         CASE WHEN w.cur + 1 + length(t.tok) > 15 THEN w.fid + 1 ELSE w.fid END,
       |         CASE WHEN w.cur + 1 + length(t.tok) > 15 THEN length(t.tok)
       |              ELSE w.cur + 1 + length(t.tok) END
       |  FROM walk w JOIN toks t ON t.docno = w.docno AND t.i = w.i + 1
       |),
       |fragtok AS (SELECT w.docno, w.fid, w.i, t.tok
       |            FROM walk w JOIN toks t ON t.docno = w.docno AND t.i = w.i),
       |frags AS (SELECT docno, fid, string_agg(tok, ' ' ORDER BY i) AS ftext
       |          FROM fragtok GROUP BY 1, 2),
       |fmatch AS (SELECT tp.qid, ft.docno, ft.fid, count(*) AS score
       |           FROM fragtok ft
       |           JOIN (SELECT DISTINCT qid, term FROM topics) tp ON tp.term = ft.tok
       |           GROUP BY 1, 2, 3),
       |sel AS (SELECT qid, docno, fid,
       |               row_number() OVER (PARTITION BY qid, docno
       |                                  ORDER BY score DESC, fid ASC) AS rn
       |        FROM fmatch),
       |snip AS (SELECT s.qid, s.docno,
       |                string_agg(f.ftext, '...' ORDER BY s.fid) AS snippet
       |         FROM sel s JOIN frags f ON f.docno = s.docno AND f.fid = s.fid
       |         WHERE s.rn <= 4 GROUP BY 1, 2)
       |SELECT r.qid, r.docno, r.rank, n.snippet
       |FROM ranked r JOIN snip n ON n.qid = r.qid AND n.docno = r.docno
       |WHERE r.rank < $TopK ORDER BY r.qid, r.rank""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q_snippets" -> SnippetsSql,
    "q_stream_topk" -> Bm25TopkSql,
    // windowed-rollup replay: the finalized append-mode stream output IS
    // the full batch aggregation (UTC hour buckets; cents are exact)
    "q_stream_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
        |       event_type,
        |       count(*)::BIGINT AS n_events,
        |       sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // session-window replay: gaps-and-islands — a session breaks only
    // when ts > prev + gap, strictly (Spark's session_window merges the
    // boundary-touching event at exactly prev + gap)
    "q_sessions" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts,
        |         CASE WHEN prev IS NULL OR ts > prev + INTERVAL 5 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM o),
        |g AS (
        |  SELECT user_id, ts,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM m)
        |SELECT user_id,
        |       -- floor, not cast: Spark's unix_timestamp truncates the
        |       -- subsecond fraction while a double->bigint CAST rounds
        |       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
        |       count(*)::BIGINT AS n_events
        |FROM g GROUP BY user_id, grp ORDER BY 1, 2""".stripMargin,
    // stream-stream join replay: the batch self-join (inner joins are
    // arrival-order-independent; eviction only drops unmatchable rows)
    "q_stream_join" ->
      """SELECT a.user_id, a.event_id AS click_id, b.event_id AS error_id
        |FROM events a JOIN events b ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'error'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |ORDER BY 1, 2, 3""".stripMargin,
    // streaming dedup replay: the kept set is min(docno) per sha over
    // everything streamed — batch order (originals first) and the
    // within-batch min-docno rule both collapse to the same GROUP BY
    // because 'doc-' < 'dup-'/'fresh*-' lexicographically
    "q_stream_dedup" ->
      s"""WITH $CorpusCte,
         |allin AS (
         |  SELECT docno, sha256(content) AS sha FROM corpus
         |  UNION ALL
         |  SELECT 'dup-' || docno, sha256(content) FROM corpus
         |  WHERE CAST(substr(docno, 5) AS BIGINT) % 2 = 0
         |  UNION ALL
         |  SELECT 'fresha-' || docno, sha256(content || ' v2') FROM corpus
         |  WHERE CAST(substr(docno, 5) AS BIGINT) % 5 = 0
         |  UNION ALL
         |  SELECT 'freshb-' || docno, sha256(content || ' v2') FROM corpus
         |  WHERE CAST(substr(docno, 5) AS BIGINT) % 5 = 0
         |)
         |SELECT min(docno) AS docno, sha FROM allin
         |GROUP BY sha ORDER BY docno""".stripMargin,
    "q_corpus" ->
      s"""WITH $CorpusCte
         |SELECT docno, repo, path, commit_sha AS "commit", lang,
         |       sha256(content) AS sha,
         |       length(content)::BIGINT AS n_chars
         |FROM corpus ORDER BY docno""".stripMargin,
    "q_integrity" -> withCtes(
      """SELECT docno, sha256(content) AS sha
        |FROM corpus ORDER BY docno""".stripMargin),
    "q_doclens" -> withCtes(
      """SELECT c.docno, coalesce(t.dl, 0)::BIGINT AS dl
        |FROM corpus c
        |LEFT JOIN (SELECT docno, count(*) AS dl FROM tok GROUP BY docno) t
        |  USING (docno)
        |ORDER BY docno""".stripMargin),
    // percentile replay: cumulative counts over distinct lengths, the
    // same integer ceiling-rank rule ((p*n + 99) // 100 — no floating
    // ceil on either engine)
    "q_percentiles" -> withCtes(
      """,
        |dl0 AS (SELECT c.docno, coalesce(t.dl, 0) AS dl
        |        FROM corpus c
        |        LEFT JOIN (SELECT docno, count(*) AS dl FROM tok GROUP BY docno) t
        |          USING (docno)),
        |dlc AS (SELECT dl AS v, count(*) AS c FROM dl0 GROUP BY dl),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM dlc),
        |nn AS (SELECT count(*) AS n FROM dl0),
        |ps(pct) AS (VALUES (25), (50), (75), (90), (99))
        |SELECT p.pct::BIGINT AS pct, min(u.v)::BIGINT AS dl
        |FROM ps p CROSS JOIN nn
        |JOIN cum u ON u.cum >= (p.pct * nn.n + 99) // 100
        |GROUP BY p.pct
        |ORDER BY pct""".stripMargin),
    // Resume drill over the fixed 200-doc slice: per-stage lineage rows_out
    // recomputed independently (docs, |vocab|, the ntile-packed merged-run
    // count — same replay as q_postings_meta on the slice), and `reused`
    // pins which stages a crash-after-stats resume must skip vs rebuild.
    "q_resume" ->
      s"""WITH ${CorpusCte.replace("FROM documents",
             "FROM documents WHERE doc_id < 200")},
         |$TokCte,
         |tf AS (SELECT term, docno FROM tok GROUP BY 1, 2),
         |rk AS (SELECT docno,
         |              row_number() OVER (ORDER BY docno) - 1 AS r,
         |              count(*) OVER () AS n
         |       FROM corpus),
         |did AS (SELECT docno,
         |               ((r * 32) // n) * 1099511627776
         |                 + (r - (((r * 32) // n) * n + 31) // 32) AS docid
         |        FROM rk),
         |pg AS (SELECT docno, docid // 262144 AS pgrp FROM did),
         |gmap AS (SELECT pgrp,
         |                (row_number() OVER (ORDER BY pgrp) - 1) // 16 AS mgrp
         |         FROM (SELECT DISTINCT pgrp FROM pg)),
         |pruns AS (SELECT count(*)::BIGINT AS c FROM (
         |  SELECT f.term, g.mgrp FROM tf f
         |  JOIN pg p USING (docno) JOIN gmap g USING (pgrp)
         |  GROUP BY 1, 2)),
         |nterm AS (SELECT count(DISTINCT term)::BIGINT AS c FROM tok),
         |ndoc AS (SELECT count(*)::BIGINT AS c FROM corpus)
         |SELECT * FROM (
         |  SELECT 'docs' AS stage, (SELECT c FROM ndoc) AS rows_out, TRUE AS reused
         |  UNION ALL SELECT 'postings', (SELECT c FROM pruns), FALSE
         |  UNION ALL SELECT 'stats', 1::BIGINT, TRUE
         |  UNION ALL SELECT 'term_stats', (SELECT c FROM nterm), FALSE
         |  UNION ALL SELECT 'tokenized', (SELECT c FROM ndoc), TRUE
         |  UNION ALL SELECT 'vocab', (SELECT c FROM nterm), FALSE
         |) ORDER BY stage""".stripMargin,
    "q_stats" -> withCtes(
      """SELECT (SELECT count(*) FROM corpus)::BIGINT AS max_doc,
        |       (SELECT count(*) FROM tok)::BIGINT AS sum_total_term_freq""".stripMargin),
    "q_df" -> withCtes(
      """SELECT term, count(DISTINCT docno)::BIGINT AS df
        |FROM tok GROUP BY term ORDER BY term""".stripMargin),
    "q_tf" -> withCtes(
      """SELECT term, docno, count(*)::BIGINT AS tf
        |FROM tok GROUP BY term, docno ORDER BY term, docno""".stripMargin),
    // shingle gate: word bigrams over the post-stop token lists (no filler
    // tokens — shingles join consecutive SURVIVING terms, the documented
    // deviation), df per bigram; same list machinery as the minhash CTEs
    "q_shingle_df" -> withCtes(
      """,
        |shl AS (
        |  SELECT docno,
        |         list_filter(string_split_regex(lower(content), '\s+'),
        |                     t -> t <> '' AND t NOT IN ('a', 'the')) AS toks
        |  FROM corpus
        |),
        |big AS (
        |  SELECT DISTINCT docno,
        |         unnest(list_transform(range(1, len(toks)),
        |                i -> toks[i] || ' ' || toks[i + 1])) AS term
        |  FROM shl WHERE len(toks) >= 2
        |)
        |SELECT term, count(*)::BIGINT AS df FROM big
        |GROUP BY term ORDER BY term""".stripMargin),
    // index-sorted prefix gate: both qids are pure ORDER BY (path, docno)
    // LIMIT k — qid 2 over the term-'hash' match set
    "q_index_sorted" -> withCtes(
      s""",
         |m AS (SELECT DISTINCT docno FROM tok WHERE term = 'hash'),
         |a AS (SELECT '1' AS qid, docno, path,
         |        (row_number() OVER (ORDER BY path, docno) - 1) AS rank
         |      FROM corpus),
         |b AS (SELECT '2' AS qid, c.docno, c.path,
         |        (row_number() OVER (ORDER BY c.path, c.docno) - 1) AS rank
         |      FROM corpus c JOIN m USING (docno))
         |SELECT qid, docno, path, rank::BIGINT AS rank FROM a WHERE rank < $TopK
         |UNION ALL
         |SELECT qid, docno, path, rank::BIGINT AS rank FROM b WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // shingle-rewritten phrase gate: BM25 over the shingle FIELD's stats —
    // tf/df of the bigram term, dl/sumttf counting every emitted token
    // (unigrams AND shingles), N = corpus size; ranks replayed exactly
    "q_phrase_shingle_topk" -> withCtes(
      s""",
         |shl AS (
         |  SELECT docno,
         |         list_filter(string_split_regex(lower(content), '\\s+'),
         |                     t -> t <> '' AND t NOT IN ('a', 'the')) AS toks
         |  FROM corpus
         |),
         |uni AS (SELECT docno, unnest(toks) AS term FROM shl),
         |big AS (
         |  SELECT docno,
         |         unnest(list_transform(range(1, len(toks)),
         |                i -> toks[i] || ' ' || toks[i + 1])) AS term
         |  FROM shl WHERE len(toks) >= 2
         |),
         |shtok AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
         |phq(qid, term) AS (VALUES ('1', 'hash join'), ('2', 'table scan')),
         |tf AS (SELECT docno, term, count(*) AS tf FROM shtok
         |       WHERE term IN (SELECT term FROM phq) GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM shtok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM shtok
         |       WHERE term IN (SELECT term FROM phq) GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM shtok) AS sumttf),
         |scored AS (
         |  SELECT q.qid, f.docno,
         |         ((1.2 + 1.0) * f.tf)
         |           / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |           * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0)) AS score
         |  FROM phq q
         |  JOIN tf f ON f.term = q.term
         |  JOIN dl d ON d.docno = f.docno
         |  JOIN df v ON v.term = q.term
         |  CROSS JOIN st
         |),
         |ranked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM scored
         |)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // fold gate: tokens from the folded lowered enriched content; the fold
    // expression is GENERATED from the same table the engine folds with
    "q_fold_df" ->
      s"""WITH $CorpusCte,
         |tokf0 AS (SELECT docno,
         |    unnest(string_split_regex(
         |      ${graft.analysis.AsciiFold.sqlExpr(
               s"lower(content || '${Engine.FoldEnrich}')")}, '\\s+')) AS term
         |  FROM corpus),
         |tokf AS (SELECT docno, term FROM tokf0
         |         WHERE term <> '' AND term NOT IN ('a', 'the'))
         |SELECT term, count(DISTINCT docno)::BIGINT AS df
         |FROM tokf GROUP BY term ORDER BY term""".stripMargin,
    "q_cooccur" -> withCtes(
      """,
        |dterm AS (SELECT DISTINCT docno, term FROM tok)
        |SELECT a.term AS term_a, b.term AS term_b, count(*)::BIGINT AS co_df
        |FROM dterm a JOIN dterm b ON a.docno = b.docno AND a.term < b.term
        |GROUP BY 1, 2 HAVING count(*) > 1
        |ORDER BY term_a, term_b""".stripMargin),
    "q_lang_df" -> withCtes(
      """SELECT c.lang, t.term, count(DISTINCT t.docno)::BIGINT AS df
        |FROM tok t JOIN corpus c USING (docno)
        |GROUP BY 1, 2 ORDER BY lang, term""".stripMargin),
    // deterministic docid replay (IndexBuilder.ntileBoundaries): rank0 =
    // row_number over docno (binary collation ≡ Spark's UTF8 sort), group
    // g = rank0*32 // N (exact ntile, rangePartitions pinned at 32 by
    // Engine.oracleIndex), idx = rank0 - ceil(g*N/32), docid = g*2^40 +
    // idx; physical grp = docid // 2^18 (groupShift), merged grp =
    // sorted-grp-rank // 2^4 (mergeShift); one posting run per
    // (term, merged grp): ndocs = docs containing the term there,
    // n_blocks = ceil(ndocs/128) (PostingCodec.BlockSize)
    "q_postings_meta" ->
      s"""WITH $CorpusCte,
         |$TokCte,
         |tf AS (SELECT term, docno, count(*) AS tf FROM tok GROUP BY 1, 2),
         |rk AS (SELECT docno,
         |              row_number() OVER (ORDER BY docno) - 1 AS r,
         |              count(*) OVER () AS n
         |       FROM corpus),
         |did AS (SELECT docno,
         |               ((r * 32) // n) * 1099511627776
         |                 + (r - (((r * 32) // n) * n + 31) // 32) AS docid
         |        FROM rk),
         |pg AS (SELECT docno, docid // 262144 AS pgrp FROM did),
         |gmap AS (SELECT pgrp,
         |                (row_number() OVER (ORDER BY pgrp) - 1) // 16 AS mgrp
         |         FROM (SELECT DISTINCT pgrp FROM pg))
         |SELECT f.term, g.mgrp AS grp,
         |       count(*)::BIGINT AS ndocs,
         |       ((count(*) + 127) // 128)::BIGINT AS n_blocks,
         |       max(f.tf)::BIGINT AS max_tf,
         |       sum(f.tf)::BIGINT AS sum_tf
         |FROM tf f
         |JOIN pg p USING (docno)
         |JOIN gmap g USING (pgrp)
         |GROUP BY 1, 2
         |ORDER BY term, grp""".stripMargin,
    "q_bm25_topk" -> Bm25TopkSql,
    // logical deletes: full-corpus stats, deleted docs dropped from the
    // candidate set only (the Lucene pre-merge contract)
    "q_delete_topk" -> withCtes(
      s"""${bm25RankedCtes(candidateWhere = "WHERE f.docno NOT LIKE '%7'")}
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // physical purge: the whole pipeline recomputed over survivors
    "q_purge_topk" -> withCtesPurged(
      s"""$Bm25RankedCtes
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    "q_purge_df" -> withCtesPurged(
      """SELECT term, count(DISTINCT docno)::BIGINT AS df
        |FROM tok GROUP BY term ORDER BY term""".stripMargin),
    "q_purge_stats" -> withCtesPurged(
      """SELECT (SELECT count(*) FROM corpus)::BIGINT AS max_doc,
        |       (SELECT count(*) FROM tok)::BIGINT AS sum_total_term_freq""".stripMargin),
    // update = delete + re-add, pre-merge stats: versions are distinct
    // stat-carrying rows (N=501, df/dl count both), only the OLD version
    // leaves the candidate set
    "q_update_topk" ->
      s"""WITH $CorpusCte,
         |up(docno, content) AS (VALUES ('$UpdateDocno', '$UpdateContent')),
         |corpus2 AS (SELECT docno, content, 0 AS ver FROM corpus
         |            UNION ALL SELECT docno, content, 1 AS ver FROM up),
         |tokv0 AS (SELECT docno, ver,
         |                 unnest(string_split_regex(lower(content), '\\s+')) AS term
         |          FROM corpus2),
         |tokv AS (SELECT docno, ver, term FROM tokv0
         |         WHERE term <> '' AND term NOT IN ('a', 'the')),
         |$TopicsCte,
         |tf AS (SELECT docno, ver, term, count(*) AS tf FROM tokv GROUP BY 1, 2, 3),
         |dl AS (SELECT docno, ver, count(*) AS dl FROM tokv GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df
         |       FROM (SELECT DISTINCT docno, ver, term FROM tokv) GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus2) AS n,
         |              (SELECT count(*) FROM tokv) AS sumttf),
         |qterm AS (SELECT qid, term, count(*) AS w FROM topics GROUP BY qid, term),
         |scored AS (
         |  SELECT q.qid, f.docno,
         |         sum(q.w * ((1.2 + 1.0) * f.tf)
         |             / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |             * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0))) AS score
         |  FROM qterm q
         |  JOIN tf f ON f.term = q.term
         |  JOIN dl d ON d.docno = f.docno AND d.ver = f.ver
         |  JOIN df v ON v.term = q.term
         |  CROSS JOIN st
         |  WHERE NOT (f.docno = '$UpdateDocno' AND f.ver = 0)
         |  GROUP BY q.qid, f.docno
         |),
         |ranked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM scored
         |)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin,
    "q_treceval" -> TrecEvalSql,
    // WAND is rank-identical to exhaustive BM25 by design — same oracle
    "q_wand_topk" -> Bm25TopkSql,
    // tree-mode WAND: the SHOULD-only trees flatten to topics 1-2's term
    // multisets, so the oracle is the same BM25 ranking sliced to them
    "q_wand_tree_topk" -> withCtes(
      s"""$Bm25RankedCtes
         |SELECT qid, docno, rank FROM ranked
         |WHERE rank < $TopK AND qid IN ('1', '2')
         |ORDER BY qid, rank""".stripMargin),
    // collapse: the engine reduces per (qid, ckey) by max(score, -docid)
    // before its collector; docid order ≡ docno order (the deterministic
    // ntile packing), so the oracle's (score DESC, docno ASC) window over
    // the same scored stream replays both the winner choice and the rank
    "q_collapse_topk" -> withCtes(
      s"""$Bm25RankedCtes,
         |cwin AS (
         |  SELECT qid, docno, score FROM (
         |    SELECT s.qid, s.docno, s.score,
         |           row_number() OVER (PARTITION BY s.qid, c.repo
         |                              ORDER BY s.score DESC, s.docno ASC) AS rn
         |    FROM scored s JOIN corpus c USING (docno)) WHERE rn = 1
         |),
         |cranked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid
         |                             ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM cwin
         |)
         |SELECT qid, docno, rank FROM cranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // search_after: cursor = hit 10 of the full collector ordering, so
    // the continuation page is exactly ranks [10, 20) of the same window
    "q_search_after" -> withCtes(
      s"""$Bm25RankedCtes
         |SELECT qid, docno, rank FROM ranked
         |WHERE rank >= $SearchAfterDepth
         |  AND rank < ${2 * SearchAfterDepth}
         |ORDER BY qid, rank""".stripMargin),
    // top_hits: per (qid, repo) row_number over the shared scored stream;
    // docid asc ≡ docno asc (deterministic ntile packing)
    "q_top_hits" -> withCtes(
      s"""$Bm25RankedCtes,
         |th AS (
         |  SELECT s.qid, c.repo AS ckey, s.docno,
         |         (row_number() OVER (PARTITION BY s.qid, c.repo
         |                             ORDER BY s.score DESC, s.docno ASC) - 1) AS hit_rank
         |  FROM scored s JOIN corpus c USING (docno)
         |)
         |SELECT qid, ckey, docno, hit_rank FROM th WHERE hit_rank < $TopHitsN
         |ORDER BY qid, ckey, hit_rank""".stripMargin),
    // function_score: the shared BM25 sum × log2(1 + length(content)),
    // re-ranked — multiply AFTER clause summation, like the engine
    "q_function_score_topk" -> withCtes(
      s"""$Bm25RankedCtes,
         |fscored2 AS (
         |  SELECT s.qid, s.docno,
         |         s.score * (ln(1.0 + length(c.content)) / ln(2.0)) AS score
         |  FROM scored s JOIN corpus c USING (docno)
         |),
         |franked2 AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid
         |                             ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM fscored2
         |)
         |SELECT qid, docno, rank FROM franked2 WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // streaming cardinality: per-epoch register tables merged by max must
    // equal the batch replay over everything streamed — the oracle IS the
    // batch replay (same SQL as q_cardinality; the streamed fixture holds
    // exactly the corpus, split in two)
    "q_stream_cardinality" -> withCtes(
      s""",
         |terms AS (SELECT DISTINCT term FROM tok),
         |h AS (SELECT ('0x' || substr(md5(term), 1, 8))::BIGINT AS h1,
         |             ('0x' || substr(md5(term), 9, 8))::BIGINT AS h2
         |      FROM terms),
         |r AS (SELECT h1 // ${1L << (32 - HllP)} AS bucket,
         |             (h1 % ${1L << (32 - HllP)}) * 4294967296 + h2 AS w
         |      FROM h)
         |SELECT bucket,
         |       max(CASE WHEN w = 0 THEN ${64 - HllP + 1}
         |                ELSE ${64 - HllP + 1} - length(bin(w)) END) AS register
         |FROM r GROUP BY bucket
         |ORDER BY bucket""".stripMargin),
    // daily uniques: the per-day HLL register replay — same md5
    // construction keyed by the day bucket; user_id hashes via its
    // canonical integer rendering
    "q_daily_uniques" ->
      s"""WITH h AS (
         |  SELECT epoch(date_trunc('day', ts))::BIGINT AS day_ts,
         |         ('0x' || substr(md5(cast(user_id AS varchar)), 1, 8))::BIGINT AS h1,
         |         ('0x' || substr(md5(cast(user_id AS varchar)), 9, 8))::BIGINT AS h2
         |  FROM events),
         |r AS (SELECT day_ts, h1 // ${1L << (32 - HllP)} AS bucket,
         |             (h1 % ${1L << (32 - HllP)}) * 4294967296 + h2 AS w
         |      FROM h)
         |SELECT day_ts, bucket,
         |       max(CASE WHEN w = 0 THEN ${64 - HllP + 1}
         |                ELSE ${64 - HllP + 1} - length(bin(w)) END) AS register
         |FROM r GROUP BY day_ts, bucket
         |ORDER BY day_ts, bucket""".stripMargin,
    // count-min: one row per term occurrence (tok) is the cf weighting;
    // the d×w counter table replayed with the same md5("i:term") column
    // hash, integer-exact
    "q_cms" -> withCtes(
      s""",
         |cf AS (SELECT term, count(*) AS cf FROM tok GROUP BY term),
         |cells AS (
         |  SELECT idx.i AS row,
         |         ('0x' || substr(md5(cast(idx.i AS varchar) || ':' || term), 1, 8))::BIGINT
         |           % $CmsW AS col,
         |         cf
         |  FROM cf CROSS JOIN (SELECT unnest(range(0, $CmsD)) AS i) idx
         |)
         |SELECT row, col, sum(cf) AS cnt FROM cells
         |GROUP BY row, col
         |ORDER BY row, col""".stripMargin),
    // cardinality: the md5-derived HLL register table replayed
    // bit-for-bit — h1/h2 are the same 32-bit md5 halves as the minhash
    // oracle, bucket = h1 >> 24, w = (h1 mod 2^24)·2^32 + h2,
    // rho = 57 - bitlength(w) (the all-zero stream takes 57)
    "q_cardinality" -> withCtes(
      s""",
         |terms AS (SELECT DISTINCT term FROM tok),
         |h AS (SELECT ('0x' || substr(md5(term), 1, 8))::BIGINT AS h1,
         |             ('0x' || substr(md5(term), 9, 8))::BIGINT AS h2
         |      FROM terms),
         |r AS (SELECT h1 // ${1L << (32 - HllP)} AS bucket,
         |             (h1 % ${1L << (32 - HllP)}) * 4294967296 + h2 AS w
         |      FROM h)
         |SELECT bucket,
         |       max(CASE WHEN w = 0 THEN ${64 - HllP + 1}
         |                ELSE ${64 - HllP + 1} - length(bin(w)) END) AS register
         |FROM r GROUP BY bucket
         |ORDER BY bucket""".stripMargin),
    // filter: the scored stream restricted to lang='de' docs, re-ranked
    "q_filter_topk" -> withCtes(
      s"""$Bm25RankedCtes,
         |fwin AS (
         |  SELECT s.qid, s.docno, s.score
         |  FROM scored s JOIN corpus c USING (docno) WHERE c.lang = 'de'
         |),
         |franked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid
         |                             ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM fwin
         |)
         |SELECT qid, docno, rank FROM franked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // code search: BM25 rebuilt over the identifier-token stream, then
    // lang filter and repo collapse, then rank — the same windows as the
    // standalone collapse/filter oracles
    "q_codesearch_topk" ->
      s"""WITH $CorpusCte,
         |cs AS (SELECT docno, repo, lang,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    content,
         |    '([a-z])([A-Z])', '\\1 \\2', 'g'),
         |    '([A-Z])([A-Z][a-z])', '\\1 \\2', 'g'),
         |    '([A-Za-z])([0-9])', '\\1 \\2', 'g'),
         |    '([0-9])([A-Za-z])', '\\1 \\2', 'g') AS s
         |  FROM corpus),
         |rawc AS (SELECT docno,
         |  list_filter(string_split_regex(s, '[^A-Za-z0-9]+'), x -> x <> '') AS l
         |  FROM cs),
         |ctok AS (SELECT docno, term FROM
         |           (SELECT docno, lower(unnest(l)) AS term FROM rawc)
         |         WHERE term NOT IN ('a', 'the')),
         |$TopicsCte,
         |tf AS (SELECT docno, term, count(*) AS tf FROM ctok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM ctok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM ctok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM ctok) AS sumttf),
         |qterm AS (SELECT qid, term, count(*) AS w FROM topics GROUP BY qid, term),
         |scored AS (
         |  SELECT q.qid, f.docno,
         |         sum(q.w * ((1.2 + 1.0) * f.tf)
         |             / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |             * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0))) AS score
         |  FROM qterm q
         |  JOIN tf f ON f.term = q.term
         |  JOIN dl d ON d.docno = f.docno
         |  JOIN df v ON v.term = q.term
         |  CROSS JOIN st
         |  GROUP BY q.qid, f.docno
         |),
         |fs AS (SELECT s.qid, s.docno, s.score, c.repo
         |       FROM scored s JOIN corpus c USING (docno) WHERE c.lang = 'en'),
         |cwin AS (
         |  SELECT qid, docno, score FROM (
         |    SELECT qid, docno, score,
         |           row_number() OVER (PARTITION BY qid, repo
         |                              ORDER BY score DESC, docno ASC) AS rn
         |    FROM fs) WHERE rn = 1
         |),
         |cranked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid
         |                             ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM cwin
         |)
         |SELECT qid, docno, rank FROM cranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin,
    // multi-field replay: the two field indexes' BM25 scores (each over
    // its OWN token stream + stats) combined content + 2×path through a
    // full outer join — a doc matching only one field still ranks; ranks
    // re-derive with the engine's (score desc, docno asc) collector order
    "q_multifield_topk" ->
      s"""WITH $CorpusCte,
         |${codeTokCtes("content", "c")},
         |${codeTokCtes("path", "p")},
         |mq(qid, term) AS (VALUES
         |  ('m1','hash'),('m1','join'),('m1','txt'),
         |  ('m2','de'),('m2','table'),('m2','scan'),
         |  ('m3','en'),('m3','merge'),
         |  ('m4','42'),('m4','window')),
         |mqw AS (SELECT qid, term, count(*) AS w FROM mq GROUP BY qid, term),
         |${bm25FieldCte("c")},
         |${bm25FieldCte("p")},
         |comb AS (
         |  SELECT coalesce(c.qid, p.qid) AS qid,
         |         coalesce(c.docno, p.docno) AS docno,
         |         (coalesce(c.score, 0) + 2 * coalesce(p.score, 0)) AS score
         |  FROM csc c FULL OUTER JOIN psc p
         |    ON p.qid = c.qid AND p.docno = c.docno),
         |mranked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid
         |                             ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM comb)
         |SELECT qid, docno, rank FROM mranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin,
    // BM25F replay: per-field tf/dl streams full-outer joined per
    // (term, doc), the per-field length normalizations summed into one
    // pseudo-frequency through ONE saturation, idf over the any-field df;
    // the rank sort rounds to 10 decimals (equal-stat tie stability, as
    // the stock-model oracles)
    "q_bm25f_topk" ->
      s"""WITH $CorpusCte,
         |${codeTokCtes("content", "c")},
         |${codeTokCtes("path", "p")},
         |mq(qid, term) AS (VALUES
         |  ('m1','hash'),('m1','join'),('m1','txt'),
         |  ('m2','de'),('m2','table'),('m2','scan'),
         |  ('m3','en'),('m3','merge'),
         |  ('m4','42'),('m4','window')),
         |mqw AS (SELECT qid, term, count(*) AS w FROM mq GROUP BY qid, term),
         |cposts AS (SELECT f.term, f.docno, f.tf, d.dl
         |           FROM ctf f JOIN cdl d USING (docno)
         |           WHERE f.term IN (SELECT term FROM mq)),
         |pposts AS (SELECT f.term, f.docno, f.tf, d.dl
         |           FROM ptf f JOIN pdl d USING (docno)
         |           WHERE f.term IN (SELECT term FROM mq)),
         |fcomb AS (
         |  SELECT coalesce(c.term, p.term) AS term,
         |         coalesce(c.docno, p.docno) AS docno,
         |         (CASE WHEN c.term IS NULL THEN 0.0
         |               ELSE 1.0 * c.tf / ((1.0 - 0.75)
         |                 + 0.75 * (c.dl / (cst.sumttf / CAST(cst.n AS DOUBLE)))) END
         |          + CASE WHEN p.term IS NULL THEN 0.0
         |               ELSE 2.0 * p.tf / ((1.0 - 0.4)
         |                 + 0.4 * (p.dl / (pst.sumttf / CAST(pst.n AS DOUBLE)))) END) AS tfb
         |  FROM cposts c FULL OUTER JOIN pposts p
         |    ON p.term = c.term AND p.docno = c.docno
         |  CROSS JOIN cst CROSS JOIN pst),
         |udf AS (SELECT term, count(*) AS df FROM fcomb GROUP BY term),
         |fscored AS (
         |  SELECT q.qid, m.docno,
         |         sum(q.w * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0))
         |             * m.tfb / (1.2 + m.tfb)) AS score
         |  FROM mqw q
         |  JOIN fcomb m ON m.term = q.term
         |  JOIN udf v ON v.term = q.term
         |  CROSS JOIN cst st
         |  GROUP BY q.qid, m.docno),
         |branked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid
         |             ORDER BY round(score, 10) DESC, docno ASC) - 1) AS rank
         |  FROM fscored)
         |SELECT qid, docno, rank FROM branked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin,
    // LTR-feature replay: the explain join aggregated per (query, hit),
    // plus the query's distinct-term count — all integer columns
    "q_ltr_features" -> withCtes(
      s"""$Bm25RankedCtes,
         |hits AS (SELECT qid, docno FROM ranked WHERE rank < $ExplainK),
         |qsize AS (SELECT qid, count(DISTINCT term) AS nterms FROM topics GROUP BY qid)
         |SELECT h.qid, h.docno,
         |       count(*)::BIGINT AS n_matched,
         |       sum(f.tf)::BIGINT AS sum_tf,
         |       max(f.tf)::BIGINT AS max_tf,
         |       max(d.dl)::BIGINT AS dl,
         |       min(v.df)::BIGINT AS min_df,
         |       max(z.nterms)::BIGINT AS nterms
         |FROM hits h
         |JOIN qterm q ON q.qid = h.qid
         |JOIN tf f ON f.docno = h.docno AND f.term = q.term
         |JOIN dl d ON d.docno = h.docno
         |JOIN df v ON v.term = q.term
         |JOIN qsize z ON z.qid = h.qid
         |GROUP BY h.qid, h.docno
         |ORDER BY h.qid, h.docno""".stripMargin),
    // explain replay: the BM25 oracle's top-5 hits joined back to the
    // integer tf/dl/df tables, one row per (query, hit, matching term)
    "q_explain" -> withCtes(
      s"""$Bm25RankedCtes,
         |hits AS (SELECT qid, docno FROM ranked WHERE rank < $ExplainK)
         |SELECT h.qid, h.docno, q.term,
         |       f.tf::BIGINT AS tf, d.dl::BIGINT AS dl, v.df::BIGINT AS df
         |FROM hits h
         |JOIN qterm q ON q.qid = h.qid
         |JOIN tf f ON f.docno = h.docno AND f.term = q.term
         |JOIN dl d ON d.docno = h.docno
         |JOIN df v ON v.term = q.term
         |ORDER BY h.qid, h.docno, q.term""".stripMargin),
    "q_page_topk" -> PageTopkSql,
    // classic-tokenized Porter-stemmed df: the FQCN-loaded tokenizer
    // replayed via the same recursive-CTE maximal-munch scanner as
    // q_classic_tok, then lower + stop, then the generated full-Porter
    // SQL replay
    "q_fqcn_df" ->
      s"""WITH RECURSIVE $CorpusCte,
         |${classicWalkCte("corpus")},
         |ct AS (SELECT docno, lower(term) AS term FROM cw
         |       WHERE term IS NOT NULL AND lower(term) NOT IN ('a', 'the')),
         |pwords AS (SELECT DISTINCT term FROM ct),
         |${PorterSql.ctes}
         |SELECT p.stem AS term, count(DISTINCT t.docno)::BIGINT AS df
         |FROM ct t JOIN porter p ON p.term = t.term
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_fqcn_scorer_topk" -> Bm25TopkSql,
    "q_top_terms" -> withCtes(
      """SELECT term, count(DISTINCT docno)::BIGINT AS df
        |FROM tok GROUP BY term
        |ORDER BY df DESC, term ASC LIMIT 10""".stripMargin),
    "q_exact_dup" -> withCtes(
      """SELECT sha256(content) AS sha, count(*)::BIGINT AS n_dups,
        |       min(docno) AS first_docno
        |FROM corpus GROUP BY sha256(content) HAVING count(*) > 1
        |ORDER BY sha""".stripMargin),
    // A-ES replay: u from the same 13-hex-digit md5 prefix (exact in a
    // double), key ln(u)/length(content), top-k by key desc / docno asc
    "q_weighted_sample" ->
      s"""WITH $CorpusCte,
         |keyed AS (
         |  SELECT docno, length(content)::DOUBLE AS w,
         |         ln((('0x' || substr(md5('$WeightedSalt:' || docno), 1, 13))::BIGINT)
         |            / 4503599627370496.0) / length(content)::DOUBLE AS skey
         |  FROM corpus WHERE length(content) > 0),
         |rankedws AS (
         |  SELECT docno, w,
         |         (row_number() OVER (ORDER BY skey DESC, docno ASC) - 1) AS rank
         |  FROM keyed)
         |SELECT docno, w, rank::BIGINT AS rank FROM rankedws
         |WHERE rank < $TopK ORDER BY rank""".stripMargin,
    "q_sample" ->
      s"""WITH $CorpusCte
         |SELECT docno,
         |       (('0x' || substr(md5('$SampleSalt:' || docno), 1, 8))::BIGINT
         |        % $SampleBuckets) AS bucket
         |FROM corpus
         |WHERE ('0x' || substr(md5('$SampleSalt:' || docno), 1, 8))::BIGINT
         |      % $SampleBuckets < $SampleKeep
         |ORDER BY docno""".stripMargin,
    "q_strat_sample" ->
      s"""WITH $CorpusCte,
         |k AS (SELECT lang AS strat, docno,
         |             md5('$SampleSalt:' || docno) AS skey
         |      FROM corpus),
         |r AS (SELECT strat, docno,
         |             row_number() OVER (PARTITION BY strat
         |                                ORDER BY skey, docno) AS rank
         |      FROM k)
         |SELECT strat, docno, rank::BIGINT AS rank FROM r WHERE rank <= 5
         |ORDER BY strat, rank""".stripMargin,
    // cluster-balanced sampling: the full training chain (shared with
    // q_ivf_train), final-quantizer assignment argmax (dot × 1/|c|, ties
    // to the lowest cid) over the doc-aligned vectors, then the same
    // md5-window stratified pick per cell
    "q_cluster_sample" ->
      s"""WITH $CorpusCte,
         |${ivfTrainCtes(nCents = 8, iters = 2, dims = 64)},
         |cinv AS (SELECT cid, cv,
         |    CASE WHEN n2 = 0.0 THEN 0.0 ELSE 1.0 / sqrt(n2) END AS ic
         |  FROM (SELECT cid, cv, ${ivfDot(64)("cv", "cv")} AS n2 FROM cents2)),
         |dvec AS (SELECT c.docno, e.embedding
         |         FROM embeddings e JOIN corpus c
         |           ON e.vec_id = substring(c.docno, 5)::BIGINT),
         |asnf AS (SELECT docno, cid FROM (
         |    SELECT d.docno, c.cid,
         |           row_number() OVER (PARTITION BY d.docno
         |             ORDER BY (${ivfDot(64)("d.embedding", "c.cv")}) * c.ic DESC,
         |                      c.cid ASC) AS rn
         |    FROM dvec d CROSS JOIN cinv c) WHERE rn = 1),
         |k AS (SELECT cid::VARCHAR AS strat, docno,
         |             md5('$ClusterSampleSalt:' || docno) AS skey
         |      FROM asnf),
         |r AS (SELECT strat, docno,
         |             row_number() OVER (PARTITION BY strat
         |                                ORDER BY skey, docno) AS rank
         |      FROM k)
         |SELECT strat, docno, rank::BIGINT AS rank FROM r WHERE rank <= 5
         |ORDER BY strat, rank""".stripMargin,
    "q_shuffle" ->
      s"""WITH $CorpusCte
         |SELECT docno,
         |       (row_number() OVER (ORDER BY md5('$SampleSalt:' || docno),
         |                           docno) - 1)::BIGINT AS pos
         |FROM corpus ORDER BY pos""".stripMargin,
    // sliding-window chunk replay: nw = 1 + ceil((n-size)/stride) via
    // integer math; DuckDB list slicing is 1-based inclusive
    "q_chunk" ->
      s"""WITH $CorpusCte,
         |tl AS (SELECT docno,
         |              list_filter(string_split_regex(content, '\\s+'),
         |                          x -> x <> '') AS l
         |       FROM corpus),
         |meta AS (SELECT docno, l, len(l) AS n,
         |                CASE WHEN len(l) <= $ChunkSize THEN 1
         |                     ELSE 1 + (len(l) - $ChunkSize + $ChunkStride - 1) // $ChunkStride
         |                END AS nw
         |         FROM tl),
         |w AS (SELECT docno, l, n, unnest(range(nw)) AS i FROM meta)
         |SELECT docno, i::BIGINT AS chunk_id,
         |       (least(i * $ChunkStride + $ChunkSize, n) - i * $ChunkStride)::BIGINT AS n_tokens,
         |       array_to_string(l[i * $ChunkStride + 1 : least(i * $ChunkStride + $ChunkSize, n)], ' ') AS chunk_text
         |FROM w ORDER BY docno, chunk_id""".stripMargin,
    "q_pack" ->
      s"""WITH $CorpusCte,
         |t AS (SELECT docno,
         |             len(list_filter(string_split_regex(lower(content), '\\s+'),
         |                             x -> x <> ''))::BIGINT AS n_tokens
         |      FROM corpus),
         |c AS (SELECT docno, n_tokens,
         |             coalesce(sum(n_tokens) OVER (ORDER BY docno
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |               0) AS cumb
         |      FROM t)
         |SELECT docno, n_tokens,
         |       (cumb // $PackSeqLen)::BIGINT AS chunk,
         |       (cumb % $PackSeqLen)::BIGINT AS chunk_offset
         |FROM c ORDER BY docno""".stripMargin,
    "q_and_topk" -> withCtes(
      s""",
         |$TopicsCte,
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |qterm AS (SELECT qid, term, count(*) AS w FROM topics GROUP BY qid, term),
         |qsize AS (SELECT qid, count(DISTINCT term) AS nterms FROM topics GROUP BY qid),
         |scored AS (
         |  SELECT q.qid, f.docno,
         |         sum(q.w * ((1.2 + 1.0) * f.tf)
         |             / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |             * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0))) AS score,
         |         count(DISTINCT f.term) AS matched
         |  FROM qterm q
         |  JOIN tf f ON f.term = q.term
         |  JOIN dl d ON d.docno = f.docno
         |  JOIN df v ON v.term = q.term
         |  CROSS JOIN st
         |  GROUP BY q.qid, f.docno
         |),
         |ranked AS (
         |  SELECT s.qid, s.docno,
         |         (row_number() OVER (PARTITION BY s.qid ORDER BY s.score DESC, s.docno ASC) - 1) AS rank
         |  FROM scored s JOIN qsize z ON z.qid = s.qid
         |  WHERE s.matched = z.nterms
         |)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    "q_minhash_pairs" ->
      s"""WITH $CorpusCte,
         |$ShingleCte,
         |$MinHashCte
         |SELECT docno_a, docno_b FROM cand ORDER BY docno_a, docno_b""".stripMargin,
    // decontamination replay: the benchmark set is every 50th doc's
    // first-12-raw-token prefix; both sides shingle through the shared
    // analyzed-3-gram construction (ShingleCte ≡ Dedup.shingles);
    // argmax = shared desc, bench_id asc; no-overlap docs report 0/''
    "q_decontam" ->
      s"""WITH $CorpusCte,
         |$ShingleCte,
         |bsel AS (SELECT docno AS bench_id,
         |                array_to_string(list_slice(list_filter(
         |                  string_split_regex(content, '\\s+'), t -> t <> ''),
         |                  1, 12), ' ') AS btext
         |         FROM corpus
         |         WHERE (CAST(substr(docno, 5) AS INT) % 50) = 7),
         |bshdoc AS (SELECT bench_id,
         |                  list_filter(string_split_regex(lower(btext), '\\s+'),
         |                              t -> t <> '' AND t NOT IN ('a', 'the')) AS toks
         |           FROM bsel),
         |bsh AS (SELECT DISTINCT bench_id, shingle FROM (
         |          SELECT bench_id,
         |                 unnest(list_transform(range(1, len(toks) - 1),
         |                        i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingle
         |          FROM bshdoc WHERE len(toks) >= 3)),
         |m AS (SELECT s.docno, b.bench_id, count(*) AS shared
         |      FROM sh s JOIN bsh b USING (shingle) GROUP BY 1, 2),
         |best AS (SELECT docno, shared, bench_id FROM (
         |           SELECT docno, shared, bench_id,
         |                  row_number() OVER (PARTITION BY docno
         |                    ORDER BY shared DESC, bench_id ASC) AS rn
         |           FROM m) WHERE rn = 1)
         |SELECT c.docno,
         |       coalesce(b.shared, 0) >= 5 AS contaminated,
         |       coalesce(b.shared, 0)::BIGINT AS n_shared,
         |       coalesce(b.bench_id, '') AS bench_id
         |FROM corpus c LEFT JOIN best b USING (docno)
         |ORDER BY docno""".stripMargin,
    // substring-span replay: same tokenization as the shingle CTE, 5-gram
    // md5 keys, duplicated = in ≥2 distinct docs, then classic
    // gaps-and-islands over the covered start positions (a start at pos
    // covers [pos, pos+4]; runs merge while the next start is ≤ prev+5)
    "q_dup_spans" ->
      s"""WITH $CorpusCte,
         |sd AS (SELECT docno,
         |              list_filter(string_split_regex(lower(content), '\\s+'),
         |                          t -> t <> '' AND t NOT IN ('a', 'the')) AS toks
         |       FROM corpus),
         |gr AS (SELECT docno, i AS pos,
         |              md5(array_to_string(
         |                list_slice(toks, i, i + ${DupSpanN - 1}), ' ')) AS gk
         |       FROM (SELECT docno, toks,
         |                    unnest(range(1, len(toks) - ${DupSpanN - 2})) AS i
         |             FROM sd WHERE len(toks) >= $DupSpanN)),
         |dup AS (SELECT gk FROM gr GROUP BY gk
         |        HAVING count(DISTINCT docno) >= 2),
         |st AS (SELECT docno, pos FROM gr JOIN dup USING (gk)),
         |br AS (SELECT docno, pos,
         |              CASE WHEN pos > coalesce(lag(pos) OVER
         |                     (PARTITION BY docno ORDER BY pos),
         |                     ${-1 - DupSpanN}) + $DupSpanN
         |                   THEN 1 ELSE 0 END AS b
         |       FROM st),
         |isl AS (SELECT docno, pos,
         |               sum(b) OVER (PARTITION BY docno ORDER BY pos) AS isl
         |        FROM br)
         |SELECT docno, min(pos)::BIGINT AS span_start,
         |       (max(pos) + ${DupSpanN - 1})::BIGINT AS span_end,
         |       (max(pos) + ${DupSpanN - 1} - min(pos) + 1)::BIGINT AS n_tokens
         |FROM isl GROUP BY docno, isl
         |ORDER BY docno, span_start""".stripMargin,
    "q_neardup" ->
      s"""WITH $CorpusCte,
         |$ShingleCte,
         |$MinHashCte,
         |sizes AS (SELECT docno, count(*) AS n FROM sh GROUP BY docno),
         |inter AS (
         |  SELECT c.docno_a, c.docno_b, count(*) AS inter
         |  FROM cand c
         |  JOIN sh a ON a.docno = c.docno_a
         |  JOIN sh b ON b.docno = c.docno_b AND b.shingle = a.shingle
         |  GROUP BY c.docno_a, c.docno_b
         |)
         |SELECT c.docno_a, c.docno_b,
         |       coalesce(i.inter, 0)::BIGINT AS inter,
         |       (sa.n + sb.n - coalesce(i.inter, 0))::BIGINT AS uni
         |FROM cand c
         |LEFT JOIN inter i ON i.docno_a = c.docno_a AND i.docno_b = c.docno_b
         |JOIN sizes sa ON sa.docno = c.docno_a
         |JOIN sizes sb ON sb.docno = c.docno_b
         |WHERE 2 * coalesce(i.inter, 0) >= (sa.n + sb.n - coalesce(i.inter, 0))
         |ORDER BY 1, 2""".stripMargin,
    // cluster replay: same verified pairs as q_neardup, then a recursive
    // transitive closure; cluster = min reachable docno (self included)
    "q_dup_clusters" ->
      s"""WITH RECURSIVE $CorpusCte,
         |$ShingleCte,
         |$MinHashCte,
         |$DupClusterCtes
         |SELECT docno, cluster, (docno = cluster) AS keep
         |FROM clus ORDER BY docno""".stripMargin,
    // composed curation pipeline replay: canonical keep (clusters above) →
    // token floor → md5 train split → concat-and-chunk packing
    "q_curate" ->
      s"""WITH RECURSIVE $CorpusCte,
         |$ShingleCte,
         |$MinHashCte,
         |$DupClusterCtes,
         |kept AS (SELECT docno FROM clus WHERE docno = cluster),
         |tq AS (SELECT c.docno,
         |              len(list_filter(string_split_regex(lower(c.content), '\\s+'),
         |                              x -> x <> ''))::BIGINT AS n_tokens
         |       FROM corpus c JOIN kept USING (docno)),
         |tr AS (SELECT * FROM tq
         |       WHERE n_tokens >= $CurateMinTokens
         |         AND ('0x' || substr(md5('$SampleSalt:' || docno), 1, 8))::BIGINT
         |             % $SampleBuckets < $CurateTrainKeep),
         |cum AS (SELECT docno, n_tokens,
         |               coalesce(sum(n_tokens) OVER (ORDER BY docno
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |                 0) AS cumb
         |        FROM tr)
         |SELECT docno, n_tokens,
         |       (cumb // $PackSeqLen)::BIGINT AS chunk,
         |       (cumb % $PackSeqLen)::BIGINT AS chunk_offset
         |FROM cum ORDER BY docno""".stripMargin,
    "q_knn_filtered" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |         list_cosine_similarity(q.qv, e.embedding) AS cos
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> q.qid AND e.label = 2
        |),
        |ranked AS (
        |  SELECT qid, vec_id,
        |         (row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) - 1) AS rank
        |  FROM scored
        |)
        |SELECT qid, vec_id, rank FROM ranked WHERE rank < 10
        |ORDER BY qid, rank""".stripMargin,
    "q_knn" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |         list_cosine_similarity(q.qv, e.embedding) AS cos
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid
        |),
        |ranked AS (
        |  SELECT qid, vec_id,
        |         (row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) - 1) AS rank
        |  FROM scored
        |)
        |SELECT qid, vec_id, rank FROM ranked WHERE rank < 10
        |ORDER BY qid, rank""".stripMargin,
    "q_media_stats" ->
      """SELECT doc_id AS media_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |            ELSE 'video' END AS modality,
        |       strlen(text)::BIGINT AS n_bytes,
        |       (CASE WHEN doc_id % 3 <> 0 THEN n_chars * 10 ELSE -1 END)::BIGINT AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin,
    // LM-score replay: bigrams from the in-list token order (never a bare
    // unnest, whose row order is unspecified), counts via two aggs, the
    // interpolation in DOUBLE with (1 - CAST(0.9 AS DOUBLE)) so the
    // complement weight's low bits match the engine's `1.0 - lambda`;
    // avg_bits rounds to 6 decimals on both sides (sum-order noise is
    // ~1e-15 relative, inter-doc gaps ≥1e-3)
    "q_lm_score" ->
      s"""WITH $CorpusCte,
         |$TokCte,
         |lmdoc AS (SELECT docno,
        |                 list_filter(string_split_regex(lower(content), '\\s+'),
        |                             t -> t <> '' AND t NOT IN ('a', 'the')) AS toks
        |          FROM corpus),
        |bgf AS (SELECT docno, p.w1 AS w1, p.w2 AS w2 FROM (
        |          SELECT docno,
        |                 unnest(list_transform(range(1, len(toks)),
        |                        i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS p
        |          FROM lmdoc WHERE len(toks) >= 2)),
        |uni AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
        |tot AS (SELECT count(*) AS t FROM tok),
        |lsc AS (SELECT f.docno,
        |               -log2(CAST(0.9 AS DOUBLE) * b.c12 / u1.c +
        |                     (1 - CAST(0.9 AS DOUBLE)) * u2.c / CAST(tot.t AS DOUBLE)) AS bits
        |        FROM bgf f
        |        JOIN (SELECT w1, w2, count(*) AS c12 FROM bgf GROUP BY w1, w2) b
        |          USING (w1, w2)
        |        JOIN uni u1 ON u1.term = f.w1
        |        JOIN uni u2 ON u2.term = f.w2
        |        CROSS JOIN tot)
        |SELECT docno, count(*)::BIGINT AS n_bigrams,
        |       round(sum(bits) / count(*), 6) AS avg_bits
        |FROM lsc GROUP BY docno ORDER BY docno""".stripMargin,
    "q_quality" ->
      s"""WITH $CorpusCte,
         |t AS (SELECT docno, content,
         |             list_filter(string_split_regex(lower(content), '\\s+'),
         |                         x -> x <> '') AS toks
         |      FROM corpus)
         |SELECT docno,
         |       len(toks)::BIGINT AS n_raw_tokens,
         |       len(list_filter(toks, x -> x IN ('a', 'the')))::BIGINT AS n_stop_tokens,
         |       len(regexp_extract_all(lower(content), '[a-z]+'))::BIGINT AS n_wordish_tokens,
         |       coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::BIGINT AS sum_token_chars
         |FROM t ORDER BY docno""".stripMargin,
    // PII scrub replay: the same three-stage global regexp_replace chain,
    // each audit count taken on that stage's PRE-replacement text
    "q_scrub" ->
      s"""WITH $CorpusCte,
         |e AS (SELECT docno,
         |             content || '${ScrubEnrich.replace("'", "''")}' AS t0
         |      FROM corpus),
         |r1 AS (SELECT docno, t0,
         |              regexp_replace(t0, '${ops.Scrub.EmailPattern}', '<EMAIL>', 'g') AS t1
         |       FROM e),
         |r2 AS (SELECT docno, t0, t1,
         |              regexp_replace(t1, '${ops.Scrub.Ipv4Pattern}', '<IP>', 'g') AS t2
         |       FROM r1)
         |SELECT docno,
         |       regexp_replace(t2, '${ops.Scrub.LongDigitsPattern}', '<NUM>', 'g') AS scrubbed,
         |       len(regexp_extract_all(t0, '${ops.Scrub.EmailPattern}'))::BIGINT AS n_emails,
         |       len(regexp_extract_all(t1, '${ops.Scrub.Ipv4Pattern}'))::BIGINT AS n_ips,
         |       len(regexp_extract_all(t2, '${ops.Scrub.LongDigitsPattern}'))::BIGINT AS n_longnums
         |FROM r2 ORDER BY docno""".stripMargin,
    // repetition replay: bigram counts via a position self-join, identical
    // runs via the gaps-and-islands double-row_number trick
    "q_repetition" ->
      s"""WITH $CorpusCte,
         |e AS (SELECT docno,
         |             content || '${RepEnrich.replace("'", "''")}' AS c
         |      FROM corpus),
         |rawt AS (SELECT docno,
         |  list_filter(string_split_regex(lower(c), '\\s+'), x -> x <> '') AS l
         |  FROM e),
         |toks AS (SELECT docno, unnest(l) AS tok, unnest(range(len(l))) AS i FROM rawt),
         |base AS (SELECT docno, count(*) AS n_tokens,
         |                count(DISTINCT tok) AS n_distinct
         |         FROM toks GROUP BY docno),
         |bg AS (SELECT a.docno, a.tok || ' ' || b.tok AS bgm, count(*) AS c
         |       FROM toks a JOIN toks b ON b.docno = a.docno AND b.i = a.i + 1
         |       GROUP BY 1, 2),
         |topbg AS (SELECT docno, max(c) AS top_bigram FROM bg GROUP BY docno),
         |isl AS (SELECT docno, tok,
         |               i - row_number() OVER (PARTITION BY docno, tok ORDER BY i) AS g
         |        FROM toks),
         |runs AS (SELECT docno, count(*) AS rl FROM isl GROUP BY docno, tok, g),
         |mr AS (SELECT docno, max(rl) AS max_run FROM runs GROUP BY docno)
         |SELECT b.docno, b.n_tokens::BIGINT AS n_tokens,
         |       b.n_distinct::BIGINT AS n_distinct,
         |       coalesce(t.top_bigram, 0)::BIGINT AS top_bigram,
         |       coalesce(m.max_run, 0)::BIGINT AS max_run
         |FROM base b LEFT JOIN topbg t USING (docno) LEFT JOIN mr m USING (docno)
         |ORDER BY docno""".stripMargin,
    "q_text_stats" -> withCtes(
      """SELECT c.docno,
        |       coalesce(t.n_tokens, 0)::BIGINT AS n_tokens,
        |       coalesce(t.n_types, 0)::BIGINT AS n_types,
        |       coalesce(t.max_term_len, 0)::BIGINT AS max_term_len
        |FROM corpus c
        |LEFT JOIN (SELECT docno, count(*) AS n_tokens,
        |                  count(DISTINCT term) AS n_types,
        |                  max(length(term)) AS max_term_len
        |           FROM tok GROUP BY docno) t USING (docno)
        |ORDER BY docno""".stripMargin),
    // replay of the md5-fed fake decoder: feature[i] is built from digest
    // bytes (2i, 2i+1) of md5(modality || payload); the Spark side emits the
    // exact integer v = b0<<8|b1 = the 4 hex chars at offset 4i (1-based
    // substr), so both sides are integer-exact
    "q_media_features" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |              ELSE 'video' END AS modality,
        |         strlen(text)::BIGINT AS n_bytes,
        |         md5(concat(CASE doc_id % 3 WHEN 0 THEN 'image'
        |                    WHEN 1 THEN 'audio' ELSE 'video' END, text)) AS h
        |  FROM documents)
        |SELECT media_id, modality, n_bytes, i.i::BIGINT AS dim,
        |       ('0x' || substr(h, i.i * 4 + 1, 4))::BIGINT AS v
        |FROM m CROSS JOIN (SELECT unnest(range(0, 8)) AS i) i
        |ORDER BY media_id, dim""".stripMargin,
    // marker-count argmax with the engine's exact fold semantics: start at
    // 'en', strict > moves to 'de' then 'es'; zero evidence → 'und'
    "q_langid" ->
      s"""WITH $CorpusCte,
         |t AS (SELECT docno,
         |             list_filter(string_split_regex(lower(content), '\\s+'),
         |                         x -> x <> '') AS toks
         |      FROM corpus),
         |m AS (SELECT docno,
         |  len(list_filter(toks, x -> x IN ('the','a','and','of','is'))) AS n_en,
         |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS n_de,
         |  len(list_filter(toks, x -> x IN ('el','la','los','y','es'))) AS n_es
         |  FROM t),
         |fold AS (SELECT docno,
         |  CASE WHEN n_es > (CASE WHEN n_de > n_en THEN n_de ELSE n_en END) THEN 'es'
         |       WHEN n_de > n_en THEN 'de' ELSE 'en' END AS best_lang,
         |  CASE WHEN n_es > (CASE WHEN n_de > n_en THEN n_de ELSE n_en END) THEN n_es
         |       WHEN n_de > n_en THEN n_de ELSE n_en END AS best_n
         |  FROM m)
         |SELECT docno,
         |       CASE WHEN best_n > 0 THEN best_lang ELSE 'und' END AS lang,
         |       best_n::BIGINT AS n_markers
         |FROM fold ORDER BY docno""".stripMargin,
    // SimHash replay: per (doc, bit) weighted vote from md5(term) bits —
    // get_bit(from_hex(md5)::BIT, i) is exactly the engine's MSB-first bit i
    // of the digest — then all-pairs hamming via sign disagreement counts
    // (brute force is fine for the oracle; the ENGINE uses banded blocking)
    "q_simhash_pairs" -> withCtes(
      """,
        |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
        |bitv AS (
        |  SELECT t.docno, b.bit,
        |         sum(CASE WHEN get_bit(from_hex(md5(t.term))::BIT, b.bit::INT) = 1
        |                  THEN t.tf ELSE -t.tf END) AS v
        |  FROM tf t CROSS JOIN (SELECT unnest(range(0, 64)) AS bit) b
        |  GROUP BY t.docno, b.bit),
        |sig AS (
        |  SELECT c.docno, b.bit, (coalesce(t.v, 0) > 0) AS s
        |  FROM corpus c
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS bit) b
        |  LEFT JOIN bitv t ON t.docno = c.docno AND t.bit = b.bit),
        |ham AS (
        |  SELECT a.docno AS docno_a, b.docno AS docno_b,
        |         sum(CASE WHEN a.s <> b.s THEN 1 ELSE 0 END) AS hamming
        |  FROM sig a JOIN sig b ON a.bit = b.bit AND a.docno < b.docno
        |  GROUP BY 1, 2)
        |SELECT docno_a, docno_b, hamming::BIGINT AS hamming
        |FROM ham WHERE hamming <= 3 ORDER BY 1, 2""".stripMargin),
    // sign-LSH replay: hyperplane components from the same md5-hex → uint32
    // construction (no conv() in DuckDB — '0x'-prefixed cast is equivalent),
    // multi-probe = bucket0 xor {0, 1<<p}
    "q_lsh_knn" ->
      """WITH planes AS (
        |  SELECT p.p, d.d,
        |         (('0x' || substr(md5('p:' || p.p || ':' || d.d), 1, 8))::BIGINT
        |          / 2147483648.0 - 1.0) AS comp
        |  FROM (SELECT unnest(range(0, 8)) AS p) p
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS d) d),
        |proj AS (
        |  SELECT e.vec_id, pl.p, sum(e.embedding[pl.d + 1]::DOUBLE * pl.comp) AS proj
        |  FROM embeddings e JOIN planes pl ON pl.d < len(e.embedding)
        |  GROUP BY e.vec_id, pl.p),
        |bucket AS (
        |  SELECT vec_id,
        |         sum(CASE WHEN proj >= 0 THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
        |  FROM proj GROUP BY vec_id),
        |q AS (SELECT e.vec_id AS qid, e.embedding AS qv, b.bucket AS bucket0
        |      FROM embeddings e JOIN bucket b USING (vec_id) WHERE e.vec_id < 5),
        |probes AS (
        |  SELECT q.qid, q.qv, xor(q.bucket0, f.f::BIGINT) AS bucket
        |  FROM q CROSS JOIN (SELECT unnest([0,1,2,4,8,16,32,64,128]) AS f) f),
        |cand AS (
        |  SELECT p.qid, e.vec_id, list_cosine_similarity(p.qv, e.embedding) AS cos
        |  FROM probes p
        |  JOIN bucket vb ON vb.bucket = p.bucket
        |  JOIN embeddings e ON e.vec_id = vb.vec_id
        |  WHERE e.vec_id <> p.qid),
        |ranked AS (
        |  SELECT qid, vec_id,
        |         (row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) - 1) AS rank
        |  FROM cand)
        |SELECT qid, vec_id, rank FROM ranked WHERE rank < 10
        |ORDER BY qid, rank""".stripMargin,
    // IVF replay: nearest-centroid assignment (cos desc, cid asc — the
    // engine's ascending-cid fold keeps the lowest cid on exact ties),
    // top-2 probed cells per query, exact cosine re-rank inside them.
    // the unrolled bit-exact training replay — no preconditions needed
    // (every double comes from the same IEEE op chain as the engine's)
    "q_ivf_train" -> ivfTrainSql(nCents = 8, iters = 2, dims = 64),
    // FIXTURE PRECONDITIONS (Knn.ivfCellExpr ranks by dot(e,c)/|c| in
    // double while list_cosine_similarity divides by both norms and rounds
    // differently): (a) no zero-norm embeddings — the engine assigns them
    // deterministically to the lowest cid, the oracle's cosine is
    // NaN/undefined; (b) no centroid assignments tied within ~1e-12
    // relative cosine, where libm rounding could flip the argmax. The
    // generated embeddings table satisfies both (verified: min vector
    // norm > 0, min assignment margin ≫ 1e-9 at every sf the gate runs).
    "q_ivf_knn" ->
      """WITH cents AS (SELECT vec_id AS cid, embedding AS cv
        |               FROM embeddings WHERE vec_id < 8),
        |va AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |           row_number() OVER (PARTITION BY e.vec_id
        |             ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC,
        |                      c.cid ASC) AS rn
        |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, embedding AS qv
        |      FROM embeddings WHERE vec_id < 5),
        |probes AS (
        |  SELECT qid, cid FROM (
        |    SELECT q.qid, c.cid,
        |           row_number() OVER (PARTITION BY q.qid
        |             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC,
        |                      c.cid ASC) AS rn
        |    FROM q CROSS JOIN cents c) WHERE rn <= 2),
        |cand AS (
        |  SELECT p.qid, e.vec_id,
        |         list_cosine_similarity(q.qv, e.embedding) AS cos
        |  FROM probes p
        |  JOIN q USING (qid)
        |  JOIN va ON va.cid = p.cid
        |  JOIN embeddings e ON e.vec_id = va.vec_id
        |  WHERE e.vec_id <> p.qid),
        |ranked AS (
        |  SELECT qid, vec_id,
        |         (row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) - 1) AS rank
        |  FROM cand)
        |SELECT qid, vec_id, rank FROM ranked WHERE rank < 10
        |ORDER BY qid, rank""".stripMargin,
    // prefix replay: expansion docs = any term LIKE 'prefix%', constant 1.0
    // per clause per doc; topic 1 sums it with the merge BM25 partial (OR),
    // topic 2 requires both the value term AND a qu*-match (AND)
    "q_prefix_topk" -> withCtes(
      s""",
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |s_docs AS (SELECT DISTINCT docno FROM tok WHERE term LIKE 's%'),
         |qu_docs AS (SELECT DISTINCT docno FROM tok WHERE term LIKE 'qu%'),
         |bm25 AS (
         |  SELECT f.term, f.docno,
         |         ((1.2 + 1.0) * f.tf)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |         * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0)) AS score
         |  FROM tf f JOIN dl d USING (docno) JOIN df v ON v.term = f.term
         |  CROSS JOIN st WHERE f.term IN ('merge', 'value')),
         |p1 AS (
         |  SELECT docno, sum(score) AS score FROM (
         |    SELECT docno, 1.0 AS score FROM s_docs
         |    UNION ALL
         |    SELECT docno, score FROM bm25 WHERE term = 'merge') GROUP BY docno),
         |p2 AS (
         |  SELECT b.docno, b.score + 1.0 AS score
         |  FROM bm25 b JOIN qu_docs q USING (docno) WHERE b.term = 'value'),
         |ranked AS (
         |  SELECT '1' AS qid, docno,
         |         (row_number() OVER (ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM p1
         |  UNION ALL
         |  SELECT '2' AS qid, docno,
         |         (row_number() OVER (ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM p2)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // more-like-this replay: source-doc terms scored tf × (1 + ln(N/(df+1)))
    // — the same double chain as MoreLikeThis.interestingTerms — top
    // MltTerms by (score desc, term asc) become w=1 BM25 clauses; the
    // source doc drops out BEFORE ranks are assigned
    // synonym groups: plain term partials + a summed-tf / group-max-df BM25
    // partial per group; the group's df blend is over its INDEXED members
    // (doc-independent), exactly the engine's SynonymWeight
    "q_synonym_topk" -> withCtes(
      s""",
         |$TopicsCte,
         |syn(qid, term) AS (VALUES
         |  ('1','scan'),('1','window'),('2','dup'),('2','slow'),
         |  ('3','merge'),('3','fast'),('4','hash'),('4','customer')),
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |qterm AS (SELECT qid, term, count(*) AS w FROM topics GROUP BY qid, term),
         |tpart AS (
         |  SELECT q.qid, f.docno,
         |         sum(q.w * ((1.2 + 1.0) * f.tf)
         |             / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |             * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0))) AS score
         |  FROM qterm q JOIN tf f ON f.term = q.term
         |  JOIN dl d ON d.docno = f.docno JOIN df v ON v.term = q.term
         |  CROSS JOIN st GROUP BY q.qid, f.docno),
         |sdf AS (SELECT s.qid, max(v.df) AS df
         |        FROM (SELECT DISTINCT qid, term FROM syn) s
         |        JOIN df v ON v.term = s.term GROUP BY 1),
         |sgrp AS (SELECT s.qid, f.docno, sum(f.tf) AS tf
         |         FROM syn s JOIN tf f ON f.term = s.term GROUP BY 1, 2),
         |spart AS (
         |  SELECT g.qid, g.docno,
         |         ((1.2 + 1.0) * g.tf)
         |           / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + g.tf)
         |           * (ln(1.0 + (st.n - x.df + 0.5) / (x.df + 0.5)) / ln(2.0)) AS score
         |  FROM sgrp g JOIN dl d ON d.docno = g.docno
         |  JOIN sdf x ON x.qid = g.qid CROSS JOIN st),
         |scored AS (
         |  SELECT qid, docno, sum(score) AS score FROM (
         |    SELECT * FROM tpart UNION ALL SELECT * FROM spart) GROUP BY 1, 2),
         |ranked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM scored)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // hybrid RRF: replay both retrievers (the proven BM25 `ranked` chain +
    // the list_cosine_similarity dense ranking over the doc-aligned
    // embedding slice), then the same double fusion arithmetic
    "q_hybrid_topk" -> withCtes(
      s"""$Bm25RankedCtes,
         |sparse AS (SELECT qid, docno, rank AS r_sparse
         |           FROM ranked WHERE rank < $TopK),
         |dv AS (SELECT e.vec_id, e.embedding
         |       FROM embeddings e JOIN corpus c
         |         ON e.vec_id = substring(c.docno, 5)::BIGINT),
         |qvq AS (SELECT vec_id AS qid, embedding AS qv
         |        FROM embeddings WHERE vec_id BETWEEN 1001 AND 1004),
         |dscored AS (SELECT q.qid, d.vec_id,
         |                   list_cosine_similarity(q.qv, d.embedding) AS cos
         |            FROM dv d CROSS JOIN qvq q),
         |densed AS (SELECT (qid - 1000)::VARCHAR AS qid,
         |                  'doc-' || lpad(vec_id::VARCHAR, 8, '0') AS docno,
         |                  row_number() OVER (PARTITION BY qid
         |                    ORDER BY cos DESC, vec_id ASC) - 1 AS r_dense
         |           FROM dscored),
         |dense AS (SELECT * FROM densed WHERE r_dense < $TopK),
         |fused AS (SELECT coalesce(s.qid, d.qid) AS qid,
         |                 coalesce(s.docno, d.docno) AS docno,
         |                 coalesce(1.0::DOUBLE / (61.0::DOUBLE + s.r_sparse), 0.0::DOUBLE)
         |                   + coalesce(1.0::DOUBLE / (61.0::DOUBLE + d.r_dense), 0.0::DOUBLE) AS rrf
         |          FROM sparse s FULL OUTER JOIN dense d
         |            ON s.qid = d.qid AND s.docno = d.docno),
         |final AS (SELECT qid, docno,
         |                 row_number() OVER (PARTITION BY qid
         |                   ORDER BY rrf DESC, docno ASC) - 1 AS rank
         |          FROM fused)
         |SELECT qid, docno, rank FROM final WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    "q_mlt_topk" -> withCtes(
      s""",
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |srct AS (SELECT term, count(*) AS tf FROM tok
         |         WHERE docno = '$MltDocno' GROUP BY term),
         |cand AS (SELECT s.term,
         |                s.tf * (1.0 + ln(CAST(st.n AS DOUBLE) / (v.df + 1))) AS score
         |         FROM srct s JOIN df v USING (term) CROSS JOIN st),
         |sel AS (SELECT term FROM (
         |          SELECT term, row_number() OVER (ORDER BY score DESC, term ASC) AS rn
         |          FROM cand) WHERE rn <= $MltTerms),
         |qterm AS (SELECT '1' AS qid, term, 1 AS w FROM sel),
         |scored AS (
         |  SELECT q.qid, f.docno,
         |         sum(q.w * ((1.2 + 1.0) * f.tf)
         |             / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |             * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0))) AS score
         |  FROM qterm q
         |  JOIN tf f ON f.term = q.term
         |  JOIN dl d ON d.docno = f.docno
         |  JOIN df v ON v.term = q.term
         |  CROSS JOIN st
         |  WHERE f.docno <> '$MltDocno'
         |  GROUP BY q.qid, f.docno
         |),
         |ranked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM scored
         |)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // facet replay: matching docs = any doc sharing a term with the topic,
    // counted per (qid, lang) — integer-exact
    "q_facets" -> withCtes(
      s""",
         |$TopicsCte,
         |m AS (SELECT DISTINCT tp.qid, t.docno
         |      FROM tok t
         |      JOIN (SELECT DISTINCT qid, term FROM topics) tp ON tp.term = t.term)
         |SELECT m.qid, c.lang AS ckey, count(*)::BIGINT AS n_docs
         |FROM m JOIN corpus c USING (docno)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // trigram-index replay: the semantic truth of the gram table is "the
    // distinct character 3-grams of every doc's content" — a sliding
    // window unnest, deduped per doc, counted per gram
    "q_trigram_df" -> withCtes(
      """,
        |grams AS (
        |  SELECT DISTINCT docno, substring(content, CAST(i AS INTEGER), 3) AS gram
        |  FROM corpus, unnest(range(1, length(content) - 1)) AS t(i)
        |)
        |SELECT gram, count(*)::BIGINT AS ndocs
        |FROM grams GROUP BY gram ORDER BY gram""".stripMargin),
    // substring replay: the oracle IS the un-indexed semantic truth — a
    // full contains() scan with the same non-overlapping replace-count
    // the engine applies to its trigram-pruned candidates
    "q_substring_topk" -> withCtes(
      s""",
         |needles(qid, needle) AS (VALUES $SubstringNeedlesSql),
         |hit AS (
         |  SELECT n.qid, c.docno,
         |         CAST((length(c.content) - length(replace(c.content, n.needle, '')))
         |              / length(n.needle) AS BIGINT) AS hits
         |  FROM needles n JOIN corpus c ON contains(c.content, n.needle)
         |),
         |ranked AS (
         |  SELECT qid, docno, hits,
         |         (row_number() OVER (PARTITION BY qid ORDER BY hits DESC, docno ASC) - 1) AS rank
         |  FROM hit
         |)
         |SELECT qid, docno, hits, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // grep-search replay: contains scan + lang predicate + the same two
    // windows (per-(qid, repo) winner, then global rank)
    "q_grepsearch_topk" -> withCtes(
      s""",
         |needles(qid, needle) AS (VALUES $SubstringNeedlesSql),
         |ghit AS (
         |  SELECT n.qid, c.docno, c.repo,
         |         CAST((length(c.content) - length(replace(c.content, n.needle, '')))
         |              / length(n.needle) AS BIGINT) AS hits
         |  FROM needles n JOIN corpus c
         |    ON contains(c.content, n.needle) AND c.lang = 'en'
         |),
         |gw AS (
         |  SELECT qid, docno, repo, hits,
         |         row_number() OVER (PARTITION BY qid, repo ORDER BY hits DESC, docno ASC) AS wr
         |  FROM ghit WHERE hits > 0),
         |gr AS (
         |  SELECT qid, docno, repo, hits,
         |         (row_number() OVER (PARTITION BY qid ORDER BY hits DESC, docno ASC) - 1) AS rank
         |  FROM gw WHERE wr = 1)
         |SELECT qid, docno, repo, hits, rank FROM gr WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // term-vectors replay: tf + min position from the raw stream with
    // the stop terms removed (their positions stay as gaps)
    "q_termvectors" -> withCtes(
      s""",
         |rawt AS (SELECT docno,
         |         list_filter(string_split_regex(lower(content), '\\s+'),
         |                     x -> x <> '') AS l FROM corpus),
         |rawpos AS (SELECT docno, unnest(l) AS term, unnest(range(len(l))) AS pos
         |           FROM rawt)
         |SELECT docno, term, count(*)::BIGINT AS tf, min(pos)::BIGINT AS first_pos
         |FROM rawpos
         |WHERE docno IN (${TermVectorDocnos.map(d => s"'$d'").mkString(", ")})
         |  AND term NOT IN ('a', 'the')
         |GROUP BY docno, term
         |ORDER BY docno, term""".stripMargin),
    // percolator replay: distinct query-term overlap per (doc, query)
    // over the sliced corpus, gated on the matched-clause floor
    "q_percolate" -> withCtes(
      s""",
         |$TopicsCte,
         |perc AS (
         |  SELECT k.docno, t.qid, count(DISTINCT k.term)::BIGINT AS n_matched
         |  FROM (SELECT DISTINCT docno, term FROM tok WHERE docno LIKE '%3') k
         |  JOIN (SELECT DISTINCT qid, term FROM topics) t USING (term)
         |  GROUP BY 1, 2)
         |SELECT docno, qid, n_matched FROM perc WHERE n_matched >= 2
         |ORDER BY docno, qid""".stripMargin),
    // span-near replay: the identical NearSpansOrdered walk as a
    // recursive CTE (stretch → shrink → emit → consume), scored with the
    // accumulated two-term weight
    "q_span_near_topk" -> withCtesRec(
      s""",
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |rawt AS (SELECT docno,
         |         list_filter(string_split_regex(lower(content), '\\s+'),
         |                     x -> x <> '') AS l FROM corpus),
         |rawpos AS (SELECT docno, unnest(l) AS term, unnest(range(len(l))) AS pos
         |           FROM rawt),
         |widf AS (SELECT d.term,
         |                ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) / ln(2.0) AS w
         |         FROM df d CROSS JOIN st),
         |sn(qid, ta, tb, slop) AS (VALUES ${SpanNears
            .map { case (q, a, b, sl) => s"('$q','$a','$b',$sl)" }.mkString(", ")}),
         |lap AS (SELECT s.qid, r.docno, list(r.pos ORDER BY r.pos) AS la
         |        FROM sn s JOIN rawpos r ON r.term = s.ta GROUP BY 1, 2),
         |lbp AS (SELECT s.qid, r.docno, list(r.pos ORDER BY r.pos) AS lb
         |        FROM sn s JOIN rawpos r ON r.term = s.tb GROUP BY 1, 2),
         |initn AS (SELECT a.qid, a.docno, a.la, b.lb, s.slop
         |          FROM lap a JOIN lbp b USING (qid, docno)
         |          JOIN sn s ON s.qid = a.qid),
         |walkn(qid, docno, i, freq, done) AS (
         |  SELECT qid, docno, 1, CAST(0 AS DOUBLE), FALSE FROM initn
         |  UNION ALL
         |  SELECT w.qid, w.docno,
         |         CASE WHEN w.b IS NULL THEN w.i ELSE w.ai + 1 END,
         |         w.freq + (CASE WHEN w.b IS NOT NULL AND (w.b - w.la[w.ai] - 1) <= w.slop
         |                        THEN 1.0 / (1 + (w.b - w.la[w.ai] - 1)) ELSE 0 END),
         |         (w.b IS NULL) OR (w.ai + 1 > len(w.la))
         |  FROM (
         |    SELECT w2.qid, w2.docno, w2.i, w2.freq, i.la, i.slop,
         |           list_min(list_filter(i.lb, x -> x > i.la[w2.i])) AS b,
         |           len(list_filter(i.la,
         |             x -> x < list_min(list_filter(i.lb, x2 -> x2 > i.la[w2.i])))) AS ai
         |    FROM walkn w2 JOIN initn i USING (qid, docno)
         |    WHERE NOT w2.done
         |  ) w
         |),
         |sfr AS (SELECT qid, docno, freq FROM walkn WHERE done AND freq > 0),
         |scoredn AS (
         |  SELECT f.qid, f.docno,
         |         ((1.2 + 1.0) * f.freq)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.freq)
         |         * (1.0 + wa.w + wb.w) AS score
         |  FROM sfr f JOIN dl d USING (docno) CROSS JOIN st
         |  JOIN sn s ON s.qid = f.qid
         |  JOIN widf wa ON wa.term = s.ta
         |  JOIN widf wb ON wb.term = s.tb),
         |rankedn AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM scoredn)
         |SELECT qid, docno, rank FROM rankedn WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // unordered span-near replay: two-cursor min-start walk as a recursive
    // CTE — each visited state contributes 1/(1+|pa−pb|) when
    // |pa−pb| − 1 ≤ slop, then the min-start cursor advances
    "q_span_unordered_topk" -> withCtesRec(
      s""",
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |rawt AS (SELECT docno,
         |         list_filter(string_split_regex(lower(content), '\\s+'),
         |                     x -> x <> '') AS l FROM corpus),
         |rawpos AS (SELECT docno, unnest(l) AS term, unnest(range(len(l))) AS pos
         |           FROM rawt),
         |widf AS (SELECT d.term,
         |                ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) / ln(2.0) AS w
         |         FROM df d CROSS JOIN st),
         |snu(qid, ta, tb, slop) AS (VALUES ${SpanNearsU
            .map { case (q, a, b, sl) => s"('$q','$a','$b',$sl)" }.mkString(", ")}),
         |lau AS (SELECT s.qid, r.docno, list(r.pos ORDER BY r.pos) AS la
         |        FROM snu s JOIN rawpos r ON r.term = s.ta GROUP BY 1, 2),
         |lbu AS (SELECT s.qid, r.docno, list(r.pos ORDER BY r.pos) AS lb
         |        FROM snu s JOIN rawpos r ON r.term = s.tb GROUP BY 1, 2),
         |initu AS (SELECT a.qid, a.docno, a.la, b.lb, s.slop
         |          FROM lau a JOIN lbu b USING (qid, docno)
         |          JOIN snu s ON s.qid = a.qid),
         |walku(qid, docno, i, j, freq, done) AS (
         |  SELECT qid, docno, 1, 1, CAST(0 AS DOUBLE), FALSE FROM initu
         |  UNION ALL
         |  SELECT w.qid, w.docno,
         |    CASE WHEN i.la[w.i] <= i.lb[w.j] THEN w.i + 1 ELSE w.i END,
         |    CASE WHEN i.la[w.i] <= i.lb[w.j] THEN w.j ELSE w.j + 1 END,
         |    w.freq + CASE WHEN abs(i.la[w.i] - i.lb[w.j]) - 1 <= i.slop
         |                  THEN 1.0 / (1 + abs(i.la[w.i] - i.lb[w.j])) ELSE 0 END,
         |    CASE WHEN i.la[w.i] <= i.lb[w.j] THEN w.i + 1 > len(i.la)
         |         ELSE w.j + 1 > len(i.lb) END
         |  FROM walku w JOIN initu i USING (qid, docno)
         |  WHERE NOT w.done
         |),
         |sfu AS (SELECT qid, docno, freq FROM walku WHERE done AND freq > 0),
         |scoredu AS (
         |  SELECT f.qid, f.docno,
         |         ((1.2 + 1.0) * f.freq)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.freq)
         |         * (1.0 + wa.w + wb.w) AS score
         |  FROM sfu f JOIN dl d USING (docno) CROSS JOIN st
         |  JOIN snu s ON s.qid = f.qid
         |  JOIN widf wa ON wa.term = s.ta
         |  JOIN widf wb ON wb.term = s.tb),
         |rankedu AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM scoredu)
         |SELECT qid, docno, rank FROM rankedu WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // rescore replay: base ranking from the shared CTEs, window = rank<50,
    // proximity phrase freq from raw adjacency, total = base + 2·phrase
    "q_rescore_topk" -> withCtes(
      s"""${bm25RankedCtes()}
         |, rawt AS (SELECT docno,
         |         list_filter(string_split_regex(lower(content), '\\s+'),
         |                     x -> x <> '') AS l FROM corpus),
         |rawpos AS (SELECT docno, unnest(l) AS term, unnest(range(len(l))) AS pos
         |           FROM rawt),
         |widf AS (SELECT d.term,
         |                ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) / ln(2.0) AS w
         |         FROM df d CROSS JOIN st),
         |rphr(qid, ta, tb) AS (VALUES
         |  ('1','hash','join'), ('2','fast','table'),
         |  ('3','dup','customer'), ('4','slow','query')),
         |pfreq AS (SELECT p.qid, a.docno, count(*) AS freq
         |          FROM rphr p
         |          JOIN rawpos a ON a.term = p.ta
         |          JOIN rawpos b ON b.docno = a.docno AND b.pos = a.pos + 1
         |                       AND b.term = p.tb
         |          GROUP BY 1, 2),
         |pscore AS (SELECT f.qid, f.docno,
         |         ((1.2 + 1.0) * f.freq)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.freq)
         |         * (1.0 + wa.w + wb.w) AS phscore
         |  FROM pfreq f JOIN dl d USING (docno) CROSS JOIN st
         |  JOIN rphr p ON p.qid = f.qid
         |  JOIN widf wa ON wa.term = p.ta
         |  JOIN widf wb ON wb.term = p.tb),
         |win AS (SELECT r.qid, r.docno, s.score
         |        FROM ranked r JOIN scored s USING (qid, docno)
         |        WHERE r.rank < $RescoreWindow),
         |resc AS (SELECT w.qid, w.docno,
         |                w.score + coalesce(2.0 * p.phscore, 0.0) AS score
         |         FROM win w LEFT JOIN pscore p USING (qid, docno)),
         |rranked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM resc)
         |SELECT qid, docno, rank FROM rranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // dismax replay: per-(doc, term) BM25 partials, then max + tie·rest
    "q_dismax_topk" -> withCtes(
      s""",
         |$TopicsCte,
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |partials AS (
         |  SELECT q.qid, f.docno,
         |         ((1.2 + 1.0) * f.tf)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |         * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0)) AS score
         |  FROM (SELECT DISTINCT qid, term FROM topics) q
         |  JOIN tf f ON f.term = q.term
         |  JOIN dl d ON d.docno = f.docno
         |  JOIN df v ON v.term = q.term
         |  CROSS JOIN st),
         |dm AS (SELECT qid, docno,
         |              max(score) + $DisMaxTie * (sum(score) - max(score)) AS score
         |       FROM partials GROUP BY 1, 2),
         |ranked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM dm)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // boosting replay: the shared BM25 scored stream with matching docs
    // demoted by the exactly-representable 0.5 factor
    "q_boosting_topk" -> withCtes(
      s"""${bm25RankedCtes()}
         |, negs(qid, term) AS (VALUES ${BoostingNegTerms
            .map { case (q, t) => s"('$q','$t')" }.mkString(", ")}),
         |negdocs AS (SELECT n.qid, k.docno
         |            FROM negs n
         |            JOIN (SELECT DISTINCT docno, term FROM tok) k USING (term)),
         |demoted AS (
         |  SELECT s.qid, s.docno,
         |         CASE WHEN d.docno IS NOT NULL THEN s.score * 0.5
         |              ELSE s.score END AS score
         |  FROM scored s LEFT JOIN negdocs d
         |    ON d.qid = s.qid AND d.docno = s.docno),
         |branked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM demoted)
         |SELECT qid, docno, rank FROM branked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // completion replay: popularity = total analyzed occurrences (cf)
    "q_complete" -> withCtes(
      s""",
         |cf AS (SELECT term, count(*) AS cf FROM tok GROUP BY term),
         |pfx(qid, p) AS (VALUES ${CompletePrefixes
            .map { case (q, p) => s"('$q','$p')" }.mkString(", ")}),
         |cand AS (SELECT x.qid, c.term, c.cf
         |         FROM pfx x JOIN cf c ON c.term LIKE x.p || '%'),
         |ranked AS (
         |  SELECT qid, term, cf,
         |         (row_number() OVER (PARTITION BY qid ORDER BY cf DESC, term ASC) - 1) AS rank
         |  FROM cand)
         |SELECT qid, term, cf::BIGINT AS cf, rank FROM ranked WHERE rank < 5
         |ORDER BY qid, rank""".stripMargin),
    // span-first replay: in-bound occurrences from the raw position
    // stream (stop gaps preserved), scored with the shared BM25 formula
    "q_span_first_topk" -> withCtes(
      s""",
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |rawt AS (SELECT docno,
         |         list_filter(string_split_regex(lower(content), '\\s+'),
         |                     x -> x <> '') AS l FROM corpus),
         |rawpos AS (SELECT docno, unnest(l) AS term, unnest(range(len(l))) AS pos
         |           FROM rawt),
         |spans(qid, term, e) AS (VALUES ${SpanFirsts
            .map { case (q, t, e) => s"('$q','$t',$e)" }.mkString(", ")}),
         |sfreq AS (SELECT s.qid, r.docno, s.term, count(*) AS freq
         |          FROM spans s JOIN rawpos r
         |            ON r.term = s.term AND r.pos < s.e
         |          GROUP BY 1, 2, 3),
         |scored AS (
         |  SELECT f.qid, f.docno,
         |         ((1.2 + 1.0) * f.freq)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.freq)
         |         * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0)) AS score
         |  FROM sfreq f JOIN dl d USING (docno) JOIN df v ON v.term = f.term
         |  CROSS JOIN st),
         |ranked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM scored)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // date-histogram replay: hour truncation in the shared UTC frame,
    // epoch seconds keep the bucket key integer
    // composite pages = deterministic row_number slices of the full
    // key-ordered bucket list
    "q_composite" ->
      s"""WITH g AS (
         |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         |         count(*)::BIGINT AS n_events, max(value) AS max_value
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (ORDER BY event_type, day) - 1 AS rn
         |      FROM g)
         |SELECT CAST(rn // $CompositePageSize AS BIGINT) AS page, event_type,
         |       day, n_events, max_value
         |FROM r WHERE rn < ${CompositePages * CompositePageSize}
         |ORDER BY page, event_type, day""".stripMargin,
    // adjacency-matrix replay: singles + upper-triangle pair intersections
    "q_adjacency" -> withCtes(
      s""",
         |flt(name, term) AS (VALUES ${AdjFilters
           .map { case (n, t) => s"('$n','$t')" }.mkString(", ")}),
         |m AS (SELECT DISTINCT f.name, k.docno
         |      FROM flt f JOIN tok k ON k.term = f.term)
         |SELECT CASE WHEN a.name = b.name THEN a.name
         |            ELSE a.name || '&' || b.name END AS key,
         |       count(*)::BIGINT AS n_docs
         |FROM m a JOIN m b ON b.docno = a.docno AND a.name <= b.name
         |GROUP BY 1 ORDER BY key""".stripMargin),
    // rare-terms replay: the df table's long tail
    "q_rare_terms" -> withCtes(
      s"""SELECT term, count(DISTINCT docno)::BIGINT AS df FROM tok
         |GROUP BY term HAVING count(DISTINCT docno) <= $RareMaxDf
         |ORDER BY term""".stripMargin),
    // histogram replay: identical floor-bucket keys, order-free aggregates
    "q_histogram" ->
      s"""SELECT floor(value / $HistInterval) * $HistInterval AS bkt,
         |       count(*)::BIGINT AS n, min(value) AS min_v, max(value) AS max_v
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // pipeline-agg replay: identical window frames (lag; unbounded-to-
    // current sum; trailing-exclusive avg) over the daily bucket list
    "q_pipeline_agg" ->
      s"""WITH daily AS (
         |  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*)::BIGINT AS n_events
         |  FROM events GROUP BY 1)
         |SELECT day, n_events,
         |       n_events - lag(n_events) OVER (ORDER BY day) AS deriv,
         |       CAST(sum(n_events) OVER (ORDER BY day
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |       avg(n_events) OVER (ORDER BY day
         |         ROWS BETWEEN $MovingWindow PRECEDING AND 1 PRECEDING) AS mavg
         |FROM daily ORDER BY day""".stripMargin,
    "q_date_histogram" ->
      """SELECT epoch(date_trunc('hour', ts))::BIGINT AS bucket_ts,
        |       event_type, count(*)::BIGINT AS n_events,
        |       min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // significant-terms replay: hit sets from the shared BM25 ranking,
    // foreground df over the analyzed token stream of those docs,
    // background df from the corpus-wide df table, all-integer score
    "q_sig_terms" -> withCtes(
      s"""${bm25RankedCtes()}
         |, hitset AS (SELECT qid, docno FROM ranked WHERE rank < $TopK),
         |nh AS (SELECT qid, count(*) AS n_hits FROM hitset GROUP BY qid),
         |fg AS (SELECT h.qid, k.term, count(DISTINCT k.docno) AS fg_df
         |       FROM hitset h JOIN tok k USING (docno) GROUP BY 1, 2),
         |sigscore AS (
         |  SELECT f.qid, f.term, f.fg_df, d.df AS bg_df,
         |         f.fg_df * st.n - d.df * nh.n_hits AS score
         |  FROM fg f JOIN df d ON d.term = f.term
         |  JOIN nh ON nh.qid = f.qid CROSS JOIN st),
         |sigranked AS (
         |  SELECT qid, term, fg_df, bg_df, score,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, term ASC) - 1) AS rank
         |  FROM sigscore)
         |SELECT qid, term, fg_df::BIGINT AS fg_df, bg_df::BIGINT AS bg_df,
         |       score::BIGINT AS score, rank
         |FROM sigranked WHERE rank < $SigTermsN
         |ORDER BY qid, rank""".stripMargin),
    // wildcard replay: expansion docs = any term LIKE-matching the
    // translated pattern (s??n → s__n, qu* → qu%), constant 1.0 per
    // clause per doc; w1 sums with the table BM25 partial, w2 ranks by
    // pure docno tie-break
    "q_wildcard_topk" -> withCtes(
      s""",
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |wc1_docs AS (SELECT DISTINCT docno FROM tok WHERE term LIKE 's__n'),
         |wc2_docs AS (SELECT DISTINCT docno FROM tok WHERE term LIKE 'qu%'),
         |bm25 AS (
         |  SELECT f.docno,
         |         ((1.2 + 1.0) * f.tf)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |         * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0)) AS score
         |  FROM tf f JOIN dl d USING (docno) JOIN df v ON v.term = f.term
         |  CROSS JOIN st WHERE f.term = 'table'),
         |p1 AS (
         |  SELECT docno, sum(score) AS score FROM (
         |    SELECT docno, 1.0 AS score FROM wc1_docs
         |    UNION ALL
         |    SELECT docno, score FROM bm25) GROUP BY docno),
         |ranked AS (
         |  SELECT 'w1' AS qid, docno,
         |         (row_number() OVER (ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM p1
         |  UNION ALL
         |  SELECT 'w2' AS qid, docno,
         |         (row_number() OVER (ORDER BY docno ASC) - 1) AS rank
         |  FROM wc2_docs)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // term-range replay: expansion docs = any term in the inclusive
    // binary-order range; r1 sums with the merge BM25 partial, r2 ranks
    // by pure docno tie-break
    "q_range_topk" -> withCtes(
      s""",
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |rg1_docs AS (SELECT DISTINCT docno FROM tok
         |             WHERE term >= 'scan' AND term <= 'sort'),
         |rg2_docs AS (SELECT DISTINCT docno FROM tok
         |             WHERE term >= 'dup' AND term <= 'fast'),
         |bm25 AS (
         |  SELECT f.docno,
         |         ((1.2 + 1.0) * f.tf)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |         * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0)) AS score
         |  FROM tf f JOIN dl d USING (docno) JOIN df v ON v.term = f.term
         |  CROSS JOIN st WHERE f.term = 'merge'),
         |p1 AS (
         |  SELECT docno, sum(score) AS score FROM (
         |    SELECT docno, 1.0 AS score FROM rg1_docs
         |    UNION ALL
         |    SELECT docno, score FROM bm25) GROUP BY docno),
         |ranked AS (
         |  SELECT 'r1' AS qid, docno,
         |         (row_number() OVER (ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM p1
         |  UNION ALL
         |  SELECT 'r2' AS qid, docno,
         |         (row_number() OVER (ORDER BY docno ASC) - 1) AS rank
         |  FROM rg2_docs)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // multi-phrase replay: union-slot adjacency = "first term at p, ANY
    // slot member at p+1" (raw positions, stop gaps preserved); the
    // accumulated weight folds EVERY slot term's idf from 1.0 — prefix
    // slots sum the whole LIKE band of the vocabulary (= the engine's
    // sorted expandPrefix set)
    "q_phrase_prefix_topk" -> withCtes(
      s""",
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |rawt AS (SELECT docno,
         |         list_filter(string_split_regex(lower(content), '\\s+'),
         |                     x -> x <> '') AS l FROM corpus),
         |rawpos AS (SELECT docno, unnest(l) AS term, unnest(range(len(l))) AS pos
         |           FROM rawt),
         |widf AS (SELECT d.term,
         |                ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) / ln(2.0) AS w
         |         FROM df d CROSS JOIN st),
         |php1 AS (SELECT a.docno, count(*) AS freq
         |         FROM rawpos a JOIN rawpos b
         |           ON b.docno = a.docno AND b.pos = a.pos + 1
         |         WHERE a.term = 'table' AND b.term LIKE 's%' GROUP BY a.docno),
         |php2 AS (SELECT a.docno, count(*) AS freq
         |         FROM rawpos a JOIN rawpos b
         |           ON b.docno = a.docno AND b.pos = a.pos + 1
         |         WHERE a.term IN ('fast', 'slow') AND b.term = 'query'
         |         GROUP BY a.docno),
         |php3 AS (SELECT a.docno, count(*) AS freq
         |         FROM rawpos a JOIN rawpos b
         |           ON b.docno = a.docno AND b.pos = a.pos + 1
         |         WHERE a.term = 'dup' AND b.term LIKE 'cu%' GROUP BY a.docno),
         |scored AS (
         |  SELECT 'p1' AS qid, p.docno,
         |         ((1.2 + 1.0) * p.freq)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + p.freq)
         |         * (1.0 + (SELECT w FROM widf WHERE term = 'table')
         |                + (SELECT sum(w) FROM widf WHERE term LIKE 's%')) AS score
         |  FROM php1 p JOIN dl d USING (docno) CROSS JOIN st
         |  UNION ALL
         |  SELECT 'p2' AS qid, p.docno,
         |         ((1.2 + 1.0) * p.freq)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + p.freq)
         |         * (1.0 + (SELECT w FROM widf WHERE term = 'fast')
         |                + (SELECT w FROM widf WHERE term = 'slow')
         |                + (SELECT w FROM widf WHERE term = 'query')) AS score
         |  FROM php2 p JOIN dl d USING (docno) CROSS JOIN st
         |  UNION ALL
         |  SELECT 'p3' AS qid, p.docno,
         |         ((1.2 + 1.0) * p.freq)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + p.freq)
         |         * (1.0 + (SELECT w FROM widf WHERE term = 'dup')
         |                + (SELECT sum(w) FROM widf WHERE term LIKE 'cu%')) AS score
         |  FROM php3 p JOIN dl d USING (docno) CROSS JOIN st
         |),
         |ranked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM scored)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // grep replay: RE2 leftmost-first non-overlapping match count over a
    // full scan — the engine's branch-expanded scan implements the same
    // alternation preference (earliest position, then pattern order)
    "q_grep_topk" -> withCtes(
      s""",
         |patterns(qid, pat) AS (VALUES $GrepPatternsSql),
         |hit AS (
         |  SELECT p.qid, c.docno,
         |         CAST(len(regexp_extract_all(c.content, p.pat)) AS BIGINT) AS hits
         |  FROM patterns p CROSS JOIN corpus c
         |),
         |ranked AS (
         |  SELECT qid, docno, hits,
         |         (row_number() OVER (PARTITION BY qid ORDER BY hits DESC, docno ASC) - 1) AS rank
         |  FROM hit WHERE hits > 0
         |)
         |SELECT qid, docno, hits, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // msm replay: the shared BM25 ranking restricted to (qid, doc) groups
    // matching ≥ MsmMin clauses — sum(q.w) is the matched-clause count
    // (w = clauses per term), exactly the engine's distinct-qidx gate
    "q_msm_topk" -> withCtes(
      s"""${bm25RankedCtes(having = s"HAVING sum(q.w) >= $MsmMin")}
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // regex replay: expansion docs = any term regexp_full_match'ing the
    // pattern (DuckDB RE2 full-match ≡ the engine's anchored Java rlike on
    // the shared dialect), constant 1.0 per clause per doc; topic 1 sums
    // it with the merge BM25 partial, topic 2 is constant-score only so
    // ranks are pure docno tie-breaks
    "q_regex_topk" -> withCtes(
      s""",
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |rx1_docs AS (SELECT DISTINCT docno FROM tok
         |             WHERE regexp_full_match(term, '$RegexTopic1')),
         |rx2_docs AS (SELECT DISTINCT docno FROM tok
         |             WHERE regexp_full_match(term, '$RegexTopic2')),
         |bm25 AS (
         |  SELECT f.term, f.docno,
         |         ((1.2 + 1.0) * f.tf)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |         * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0)) AS score
         |  FROM tf f JOIN dl d USING (docno) JOIN df v ON v.term = f.term
         |  CROSS JOIN st WHERE f.term = 'merge'),
         |p1 AS (
         |  SELECT docno, sum(score) AS score FROM (
         |    SELECT docno, 1.0 AS score FROM rx1_docs
         |    UNION ALL
         |    SELECT docno, score FROM bm25) GROUP BY docno),
         |ranked AS (
         |  SELECT '1' AS qid, docno,
         |         (row_number() OVER (ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM p1
         |  UNION ALL
         |  SELECT '2' AS qid, docno,
         |         (row_number() OVER (ORDER BY docno ASC) - 1) AS rank
         |  FROM rx2_docs)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // MUST_NOT: BM25 over the positive terms, minus docs containing any
    // negated term (excluded before ranking, so ranks close up)
    // faithful '-' replay: every doc matching a positive OR free of the
    // negated term is in; neg-free docs add the match-all constant 1.0
    "q_not_topk" -> withCtes(
      s""",
         |topics(qid, term) AS (VALUES
         |  ('1','hash'),('1','join'),('1','merge'),
         |  ('2','fast'),('2','table'),('2','scan')),
         |neg(qid, term) AS (VALUES ('1','window'),('2','customer')),
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |qterm AS (SELECT qid, term, count(*) AS w FROM topics GROUP BY qid, term),
         |scored AS (
         |  SELECT q.qid, f.docno,
         |         sum(q.w * ((1.2 + 1.0) * f.tf)
         |             / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |             * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0))) AS score
         |  FROM qterm q
         |  JOIN tf f ON f.term = q.term
         |  JOIN dl d ON d.docno = f.docno
         |  JOIN df v ON v.term = q.term
         |  CROSS JOIN st
         |  GROUP BY q.qid, f.docno
         |),
         |negdoc AS (
         |  SELECT DISTINCT n.qid, f.docno
         |  FROM neg n JOIN tf f ON f.term = n.term),
         |univ AS (
         |  SELECT q.qid, c.docno
         |  FROM (SELECT DISTINCT qid FROM topics) q CROSS JOIN corpus c),
         |fin AS (
         |  SELECT u.qid, u.docno,
         |         coalesce(s.score, 0)
         |           + (CASE WHEN nd.docno IS NULL THEN 1.0 ELSE 0 END) AS score,
         |         (s.docno IS NOT NULL OR nd.docno IS NULL) AS m
         |  FROM univ u
         |  LEFT JOIN scored s ON s.qid = u.qid AND s.docno = u.docno
         |  LEFT JOIN negdoc nd ON nd.qid = u.qid AND nd.docno = u.docno),
         |ranked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM fin WHERE m
         |)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // hard-exclusion replay (programmatic sibling MUST_NOT): docs holding a
    // negated term are removed before ranking
    "q_must_not_topk" -> withCtes(
      s""",
         |topics(qid, term) AS (VALUES
         |  ('1','hash'),('1','join'),('1','merge'),
         |  ('2','fast'),('2','table'),('2','scan')),
         |neg(qid, term) AS (VALUES ('1','window'),('2','customer')),
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |qterm AS (SELECT qid, term, count(*) AS w FROM topics GROUP BY qid, term),
         |scored AS (
         |  SELECT q.qid, f.docno,
         |         sum(q.w * ((1.2 + 1.0) * f.tf)
         |             / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |             * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0))) AS score
         |  FROM qterm q
         |  JOIN tf f ON f.term = q.term
         |  JOIN dl d ON d.docno = f.docno
         |  JOIN df v ON v.term = q.term
         |  CROSS JOIN st
         |  GROUP BY q.qid, f.docno
         |),
         |kept AS (
         |  SELECT s.* FROM scored s
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM neg n JOIN tf f2 ON f2.term = n.term
         |    WHERE n.qid = s.qid AND f2.docno = s.docno)
         |),
         |ranked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM kept
         |)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // precedence-group replay: topic 1 = (hash OR merge) AND scan — scan
    // required, the OR group sums whichever side matched; topic 2 =
    // (table AND fast) OR scan — the AND pair as one branch, full outer
    // with the scan branch
    "q_group_topk" -> withCtes(
      s""",
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |bm25 AS (
         |  SELECT f.term, f.docno,
         |         ((1.2 + 1.0) * f.tf)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |         * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0)) AS score
         |  FROM tf f JOIN dl d USING (docno) JOIN df v ON v.term = f.term
         |  CROSS JOIN st
         |  WHERE f.term IN ('hash', 'merge', 'scan', 'table', 'fast')),
         |t1 AS (
         |  SELECT s.docno,
         |         coalesce(h.score, 0) + coalesce(m.score, 0) + s.score AS score
         |  FROM (SELECT docno, score FROM bm25 WHERE term = 'scan') s
         |  LEFT JOIN (SELECT docno, score FROM bm25 WHERE term = 'hash') h USING (docno)
         |  LEFT JOIN (SELECT docno, score FROM bm25 WHERE term = 'merge') m USING (docno)
         |  WHERE h.docno IS NOT NULL OR m.docno IS NOT NULL),
         |pair2 AS (
         |  SELECT t.docno, t.score + f.score AS score
         |  FROM (SELECT docno, score FROM bm25 WHERE term = 'table') t
         |  JOIN (SELECT docno, score FROM bm25 WHERE term = 'fast') f USING (docno)),
         |t2 AS (
         |  SELECT coalesce(a.docno, s.docno) AS docno,
         |         coalesce(a.score, 0) + coalesce(s.score, 0) AS score
         |  FROM pair2 a
         |  FULL OUTER JOIN (SELECT docno, score FROM bm25 WHERE term = 'scan') s
         |    ON s.docno = a.docno),
         |ranked AS (
         |  SELECT '1' AS qid, docno,
         |         (row_number() OVER (ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM t1
         |  UNION ALL
         |  SELECT '2' AS qid, docno,
         |         (row_number() OVER (ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM t2
         |)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // ClassicTokenizer replay: the corpus text is plain lowercase words, so
    // a fixed all-lowercase enrichment suffix exercises every grammar rule
    // INCLUDING the leftmost-longest differentiators (whole digit-bearing
    // host, NUM beating HOST, strict digit parity, ACRONYM_DEP trim) on
    // every doc; the oracle replays the maximal-munch scanner itself as a
    // recursive CTE (per-rule anchored lengths -> max), not an ordered
    // alternation, so it is exact on divergent forms too
    "q_classic_tok" ->
      s"""WITH RECURSIVE $CorpusCte,
         |c2 AS (SELECT docno, content || '${ClassicEnrich.replace("'", "''")}' AS content
         |       FROM corpus),
         |${classicWalkCte("c2")},
         |z AS (SELECT docno, term,
         |             row_number() OVER (PARTITION BY docno ORDER BY pos) - 1 AS pos
         |      FROM cw WHERE term IS NOT NULL)
         |SELECT docno, pos::BIGINT AS pos, term
         |FROM z ORDER BY docno, pos""".stripMargin,
    // CodeTokenizer replay: four global boundary-insertion regex passes
    // (the rules are pairwise non-overlapping — fuzz-proved equivalent to
    // the engine's 3-char-window scanner in CodeTokSpec), then a
    // separator-class split and the downstream lowercase
    "q_code_tok" -> withCtes(
      s""",
         |cs AS (SELECT docno,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    content || '${CodeEnrich.replace("'", "''")}',
         |    '([a-z])([A-Z])', '\\1 \\2', 'g'),
         |    '([A-Z])([A-Z][a-z])', '\\1 \\2', 'g'),
         |    '([A-Za-z])([0-9])', '\\1 \\2', 'g'),
         |    '([0-9])([A-Za-z])', '\\1 \\2', 'g') AS s
         |  FROM corpus),
         |raw AS (SELECT docno,
         |  list_filter(string_split_regex(s, '[^A-Za-z0-9]+'), x -> x <> '') AS l
         |  FROM cs),
         |z AS (SELECT docno, unnest(range(len(l)))::BIGINT AS pos,
         |             lower(unnest(l)) AS term
         |      FROM raw)
         |SELECT docno, pos, term FROM z ORDER BY docno, pos""".stripMargin),
    // KStem replay via the generated CTE chain (KStemSql)
    "q_kstem_df" -> withCtes(
      s""",
         |kwords AS (SELECT DISTINCT term FROM tok),
         |${KStemSql.ctes}
         |SELECT s.stem AS term, count(DISTINCT t.docno)::BIGINT AS df
         |FROM tok t JOIN kstem s ON s.term = t.term
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Snowball/Porter2 replay via the generated CTE chain (SnowballSql)
    "q_snowball_df" -> withCtes(
      s""",
         |swords AS (SELECT DISTINCT term FROM tok),
         |${SnowballSql.ctes}
         |SELECT s.stem AS term, count(DISTINCT t.docno)::BIGINT AS df
         |FROM tok t JOIN snowball s ON s.term = t.term
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // S-stemmer replay: Lucene EnglishMinimalStemFilter's plural strip —
    // keep -us/-ss, -ies→-y when the 4th-from-last is not a/e, keep other
    // vowel+es, else drop the final s
    "q_minstem_df" -> withCtes(
      """,
        |mstem AS (
        |  SELECT term,
        |    CASE
        |      WHEN length(term) < 3 OR substr(term, length(term), 1) <> 's' THEN term
        |      WHEN substr(term, length(term) - 1, 1) IN ('u', 's') THEN term
        |      WHEN substr(term, length(term) - 1, 1) = 'e' THEN
        |        CASE
        |          WHEN length(term) > 3 AND substr(term, length(term) - 2, 1) = 'i'
        |               AND substr(term, length(term) - 3, 1) NOT IN ('a', 'e')
        |            THEN substr(term, 1, length(term) - 3) || 'y'
        |          WHEN substr(term, length(term) - 2, 1) IN ('i', 'a', 'o', 'e')
        |            THEN term
        |          ELSE substr(term, 1, length(term) - 1)
        |        END
        |      ELSE substr(term, 1, length(term) - 1)
        |    END AS stem
        |  FROM (SELECT DISTINCT term FROM tok))
        |SELECT m.stem AS term, count(DISTINCT t.docno)::BIGINT AS df
        |FROM tok t JOIN mstem m ON m.term = t.term
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // totalHits replay: distinct docs holding ANY analyzed topic term
    "q_match_counts" -> withCtes(
      """,
        |topics(qid, term) AS (VALUES
        |  ('1','hash'),('1','join'),('1','merge'),
        |  ('2','fast'),('2','table'),('2','scan'),
        |  ('3','dup'),('3','customer'),('3','data'),
        |  ('4','slow'),('4','query'),('4','window'))
        |SELECT t.qid, count(DISTINCT k.docno)::BIGINT AS n_hits
        |FROM (SELECT DISTINCT qid, term FROM topics) t
        |LEFT JOIN tok k ON k.term = t.term
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // document frequency over the PORTER-stemmed index: the oracle replays
    // the full Porter algorithm in generated SQL (cv-map via iterated
    // regexp passes, m() via 'v+c' run counting) — see graft.PorterSql
    "q_porter_df" -> withCtes(
      s""",
         |pwords AS (SELECT DISTINCT term FROM tok),
         |${PorterSql.ctes}
         |SELECT p.stem AS term, count(DISTINCT t.docno)::BIGINT AS df
         |FROM tok t JOIN porter p ON p.term = t.term
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // winnowing replay: k-gram hashes = '0x'-cast first 8 md5 hex chars
    // (≙ Fingerprint.gramHash's first 4 digest bytes), per-window rightmost
    // minimum via row_number (h ASC, pos DESC), distinct selections.
    // (Docs with fewer than w k-grams would take the engine's single-
    // fingerprint branch — none exist at gate scale, min dl = 8; the branch
    // is spec-locked in OpsSpec.)
    "q_winnow" ->
      s"""WITH $CorpusCte,
         |toksl AS (SELECT docno,
         |          list_filter(string_split_regex(lower(content), '\\s+'),
         |                      x -> x <> '' AND x NOT IN ('a', 'the')) AS l
         |          FROM corpus),
         |grams AS (
         |  SELECT docno, unnest(range(0, len(l) - 2)) AS pos,
         |         list_transform(range(0, len(l) - 2),
         |           p -> ('0x' || substr(md5(array_to_string(list_slice(l, p + 1, p + 3), ' ')), 1, 8))::BIGINT) AS hs
         |  FROM toksl WHERE len(l) >= 3),
         |gh AS (SELECT docno, pos, hs[pos + 1] AS h FROM grams),
         |starts AS (SELECT docno, unnest(range(0, len(l) - 2 - 4 + 1)) AS s
         |           FROM toksl WHERE len(l) - 2 >= 4),
         |wins AS (SELECT st.docno, st.s, g.pos, g.h
         |         FROM starts st JOIN gh g
         |           ON g.docno = st.docno AND g.pos BETWEEN st.s AND st.s + 3),
         |sel AS (SELECT docno, s, pos, h,
         |               row_number() OVER (PARTITION BY docno, s
         |                                  ORDER BY h ASC, pos DESC) AS rn
         |        FROM wins)
         |SELECT DISTINCT docno, pos::BIGINT AS pos, h::BIGINT AS fp
         |FROM sel WHERE rn = 1 ORDER BY docno, pos""".stripMargin,
    // embedding near-dup replay: same hyperplane/probe construction as
    // q_lsh_knn, candidates = bucket hamming ≤ 1, exact double cosine
    // threshold (boundary margin at gate scale: 1.3e-4 ≫ float noise)
    "q_emb_neardup" ->
      """WITH planes AS (
        |  SELECT p.p, d.d,
        |         (('0x' || substr(md5('p:' || p.p || ':' || d.d), 1, 8))::BIGINT
        |          / 2147483648.0 - 1.0) AS comp
        |  FROM (SELECT unnest(range(0, 8)) AS p) p
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS d) d),
        |proj AS (
        |  SELECT e.vec_id, pl.p, sum(e.embedding[pl.d + 1]::DOUBLE * pl.comp) AS proj
        |  FROM embeddings e JOIN planes pl ON pl.d < len(e.embedding)
        |  GROUP BY e.vec_id, pl.p),
        |bucket AS (
        |  SELECT vec_id,
        |         sum(CASE WHEN proj >= 0 THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
        |  FROM proj GROUP BY vec_id),
        |probes AS (
        |  SELECT b.vec_id, xor(b.bucket, f.f::BIGINT) AS pbucket
        |  FROM bucket b CROSS JOIN (SELECT unnest([0,1,2,4,8,16,32,64,128]) AS f) f),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM probes a JOIN bucket b ON b.bucket = a.pbucket AND a.vec_id < b.vec_id),
        |verified AS (
        |  SELECT c.vec_a, c.vec_b FROM cand c
        |  JOIN embeddings ea ON ea.vec_id = c.vec_a
        |  JOIN embeddings eb ON eb.vec_id = c.vec_b
        |  WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= 0.4)
        |SELECT vec_a::BIGINT AS vec_a, vec_b::BIGINT AS vec_b
        |FROM verified ORDER BY 1, 2""".stripMargin,
    // exact-phrase replay: raw token positions via DuckDB's zipped unnests
    // (positions COUNT stop tokens, matching the engine's positionIncrement
    // semantics), phraseFreq by self-join adjacency, BM25 with the
    // accumulated multi-term idf, loose OR term summed per doc
    "q_phrase_topk" -> withCtes(
      s""",
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |rawt AS (SELECT docno,
         |         list_filter(string_split_regex(lower(content), '\\s+'),
         |                     x -> x <> '') AS l FROM corpus),
         |rawpos AS (SELECT docno, unnest(l) AS term, unnest(range(len(l))) AS pos
         |           FROM rawt),
         |widf AS (SELECT d.term,
         |                ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) / ln(2.0) AS w
         |         FROM df d CROSS JOIN st),
         |ph1 AS (SELECT a.docno, count(*) AS freq
         |        FROM rawpos a JOIN rawpos b
         |          ON b.docno = a.docno AND b.pos = a.pos + 1
         |        WHERE a.term = 'hash' AND b.term = 'join' GROUP BY a.docno),
         |ph2 AS (SELECT a.docno, count(*) AS freq
         |        FROM rawpos a JOIN rawpos b
         |          ON b.docno = a.docno AND b.pos = a.pos + 1
         |        WHERE a.term = 'table' AND b.term = 'scan' GROUP BY a.docno),
         |partials AS (
         |  SELECT '1' AS qid, p.docno,
         |         ((1.2 + 1.0) * p.freq)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + p.freq)
         |         * (1.0 + (SELECT w FROM widf WHERE term = 'hash')
         |                + (SELECT w FROM widf WHERE term = 'join')) AS score
         |  FROM ph1 p JOIN dl d USING (docno) CROSS JOIN st
         |  UNION ALL
         |  SELECT '2' AS qid, p.docno,
         |         ((1.2 + 1.0) * p.freq)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + p.freq)
         |         * (1.0 + (SELECT w FROM widf WHERE term = 'table')
         |                + (SELECT w FROM widf WHERE term = 'scan')) AS score
         |  FROM ph2 p JOIN dl d USING (docno) CROSS JOIN st
         |  UNION ALL
         |  SELECT '2' AS qid, f.docno,
         |         ((1.2 + 1.0) * f.tf)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |         * (SELECT w FROM widf WHERE term = 'merge') AS score
         |  FROM tf f JOIN dl d USING (docno) CROSS JOIN st WHERE f.term = 'merge'
         |),
         |scored AS (SELECT qid, docno, sum(score) AS score FROM partials GROUP BY 1, 2),
         |ranked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM scored)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // BM25e replay: byte315 norms quantize dl to 3 significant bits —
    // integer bit math ((dl >> s) << s, s = bitlength − 3), verified exact
    // against the codec for every dl in [1, 2M); adl stays EXACT (the
    // engine's CollStats is unquantized, only the per-doc norm is lossy)
    "q_bm25e_topk" -> withCtes(
      s""",
         |$TopicsCte,
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl0 AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |dl AS (SELECT docno, ((dl >> s) << s) AS dl
         |       FROM (SELECT docno, dl,
         |                    greatest(length(bin(dl)) - 3, 0)::INT AS s
         |             FROM dl0)),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |qterm AS (SELECT qid, term, count(*) AS w FROM topics GROUP BY qid, term),
         |scored AS (
         |  SELECT q.qid, f.docno,
         |         sum(q.w * ((1.2 + 1.0) * f.tf)
         |             / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |             * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0))) AS score
         |  FROM qterm q
         |  JOIN tf f ON f.term = q.term
         |  JOIN dl d ON d.docno = f.docno
         |  JOIN df v ON v.term = q.term
         |  CROSS JOIN st
         |  GROUP BY q.qid, f.docno
         |),
         |ranked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM scored
         |)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // TMPL replay: totals = Σ topic-term multiplicity over matched terms
    // (integer-exact; score ≡ 1 per clause)
    "q_tmpl_topk" -> TmplTopkSql,
    "q_tmple_topk" -> TmplTopkSql,
    // Lucene 5.4 BM25Similarity: natural-log idf, avgdl over maxDoc, lossy
    // 1-byte doc length (LuceneNormSql)
    "q_bm25l_topk" -> stockModelSql(
      s"""ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5))
         | * (1.2 + 1.0) * f.tf
         | / (f.tf + 1.2 * ((1.0 - 0.75) + 0.75 * d.lossy_dl / $AvgdlSql))"""
        .stripMargin.replace("\n", "")),
    // Lucene DefaultSimilarity (classic TF-IDF): sqrt(tf) · idf² ·
    // lossy 1/√dl fieldNorm, with the coord factor (queryNorm is a
    // per-query constant → rank-neutral, omitted)
    "q_classicl_topk" -> stockModelSql(
      "sqrt(f.tf) * pow(1.0 + ln(st.n / (v.df + 1.0)), 2) * d.inv_sqrt",
      coord = true),
    // Lucene LMDirichletSimilarity (μ=2000): p(w|C) = (cf+1)/(Σcf+1),
    // per-term floor at 0
    "q_lmd_topk" -> stockModelSql(
      """greatest(0.0, ln(1.0 + f.tf / (2000.0 * ((c.cf + 1.0) / (st.sumttf + 1.0))))
        | + ln(2000.0 / (d.lossy_dl + 2000.0)))""".stripMargin.replace("\n", "")),
    // Lucene DFRSimilarity(P, L, H2): tfn = tf·log2(1 + avgdl/dl_lossy),
    // λ = (cf+1)/(N+1), Poisson information × L after-effect, floored at 0
    "q_dfrl_topk" -> stockModelSql(
      """greatest(0.0, (TFN * log2(TFN / LAM)
        | + (LAM + 1.0 / (12 * TFN) - TFN) * (1.0 / ln(2.0))
        | + 0.5 * log2(2 * pi() * TFN)) * (1.0 / (TFN + 1)))"""
        .stripMargin.replace("\n", "")
        .replace("LAM", "((c.cf + 1.0) / (st.n + 1.0))")
        .replace("TFN", TfnSql)),
    // Lucene IBSimilarity(SPL, DF, H2): λ = (df+1)/(N+1), floored at 0
    "q_ibl_topk" -> stockModelSql(
      "greatest(0.0, -log2((pow(LAM, TFN / (TFN + 1.0)) - LAM) / (1.0 - LAM)))"
        .replace("LAM", "((v.df + 1.0) / (st.n + 1.0))")
        .replace("TFN", TfnSql)),
    // TREC-parse replay: the parsed block text is the docno followed by the
    // whitespace-collapsed content (tags stripped; the synthetic content is
    // entity-free)
    "q_trec_parse" ->
      s"""WITH $CorpusCte
         |SELECT docno,
         |       trim(concat(docno, ' ',
         |            array_to_string(list_filter(
         |              string_split_regex(content, '\\s+'), x -> x <> ''), ' '))) AS parsed
         |FROM corpus ORDER BY docno""".stripMargin,
    // WARC-parse replay: payload = the content verbatim; records rendered
    // as requests (doc_id%7=3) or id-less responses (doc_id%7=5) are
    // filtered out by the parser's record predicate
    "q_warc_parse" ->
      """SELECT concat('doc-', lpad(cast(doc_id AS varchar), 8, '0')) AS docno,
        |       trim(text) AS parsed
        |FROM documents WHERE doc_id % 7 NOT IN (3, 5)
        |ORDER BY docno""".stripMargin,
    // keyword replay: tf·idf rank with the same double math (tf · ln(N/df))
    // and the same (score desc, term asc) tie-break
    "q_keywords" -> withCtes(
      """,
        |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY 1),
        |st AS (SELECT (SELECT count(*) FROM corpus) AS n),
        |scored AS (
        |  SELECT f.docno, f.term,
        |         round(f.tf * ln(CAST(st.n AS DOUBLE) / v.df), 10) AS s
        |  FROM tf f JOIN df v USING (term) CROSS JOIN st),
        |r AS (
        |  SELECT docno, term,
        |         (row_number() OVER (PARTITION BY docno
        |                             ORDER BY s DESC, term ASC) - 1) AS kw_rank
        |  FROM scored)
        |SELECT docno, term, kw_rank FROM r WHERE kw_rank < 3
        |ORDER BY docno, kw_rank""".stripMargin),
    // simple-parse replay: docno survives the basename/extension strip;
    // lines (split at spaces) joined without separators = spaces deleted
    "q_simple_parse" ->
      s"""WITH $CorpusCte
         |SELECT docno, replace(content, ' ', '') AS parsed
         |FROM corpus ORDER BY docno""".stripMargin,
    // compressed-scan round trip: the engine wrote gz+bz2 TREC renders and
    // re-parsed them through the codec-sniffing directory scan — the
    // expected output is the same corpus projection q_trec_parse replays
    "q_codec_scan" ->
      s"""WITH $CorpusCte
         |SELECT docno,
         |       trim(concat(docno, ' ',
         |            array_to_string(list_filter(
         |              string_split_regex(content, '\\s+'), x -> x <> ''), ' '))) AS parsed
         |FROM corpus ORDER BY docno""".stripMargin,
    // query-file parse: the expected constant table for the fixture XML
    // (tag case-insensitivity, both feedback-doc forms, processor attrs)
    "q_queryfile" ->
      """SELECT * FROM (VALUES
        |  ('t1', 'alpha beta', 0::BIGINT, -1::BIGINT, '', '', '', ''),
        |  ('t2', 'gamma', 0::BIGINT, -1::BIGINT, '', '', 'pre.Clazz', 'post.Clazz'),
        |  ('t3', 'delta', 2::BIGINT, 7::BIGINT, 'doc-00000001', 'true,false', '', '')
        |) AS t(qid, "text", n_feedback, keep, fb_docnos, fb_rel, pre, post)
        |ORDER BY qid""".stripMargin,
    // run-file sink: trec_eval lines for the constant-score match-all
    // query — score is the literal 1.0, runtag the default scorer name,
    // rank = docno rank under the deterministic docid packing
    "q_runfile" ->
      s"""WITH $CorpusCte
         |SELECT concat('t1 Q0 ', docno, ' ', rank, ' 1.0 bm25') AS line
         |FROM (SELECT docno, row_number() OVER (ORDER BY docno) - 1 AS rank
         |      FROM corpus)
         |WHERE rank < 20 ORDER BY line""".stripMargin,
    // BPE-ish token budgeting: the same regex runs verbatim in both engines
    // (valid Java regex AND RE2)
    "q_token_count" ->
      s"""WITH $CorpusCte
         |SELECT docno,
         |       len(regexp_extract_all(lower(content), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_bpeish,
         |       len(regexp_extract_all(lower(path), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_path_bpeish,
         |       len(regexp_extract_all(lower(content), '[0-9]+'))::BIGINT AS n_digit_runs
         |FROM corpus ORDER BY docno""".stripMargin,
    // M1 relevance-model weights (exact doubles; see FeedbackCte scaladoc)
    "q_feedback_weights" -> withCtes(
      s""",
         |$FeedbackCte
         |SELECT term, weight FROM fsel WHERE rn <= $FeedbackTopTerms
         |ORDER BY term""".stripMargin),
    // feedback-expanded retrieval: BM25 partials boosted by the M1 weights,
    // feedback docs excluded BEFORE ranking (ranks close up)
    "q_feedback_topk" -> withCtes(
      s""",
         |$FeedbackCte,
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |scored AS (
         |  SELECT f.docno,
         |         sum(w.weight * ((1.2 + 1.0) * f.tf)
         |             / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |             * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0))) AS score
         |  FROM (SELECT term, weight FROM fsel WHERE rn <= $FeedbackTopTerms) w
         |  JOIN tf f ON f.term = w.term
         |  JOIN dl d ON d.docno = f.docno
         |  JOIN df v ON v.term = w.term
         |  CROSS JOIN st
         |  WHERE f.docno NOT IN ('doc-00000000', 'doc-00000001',
         |                        'doc-00000002', 'doc-00000003')
         |  GROUP BY f.docno
         |),
         |ranked AS (
         |  SELECT '1' AS qid, docno,
         |         (row_number() OVER (ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM scored
         |)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // chained two-round feedback: round 1 = the q_feedback_topk replay;
    // its top-3 docs join the relevant set; the round-2 model reproduces
    // the engine's per-term accumulation as an explicit left-associative
    // chain in document order (fold order is part of the double
    // arithmetic: relevants doc-00000000, doc-00000001, then the three
    // pseudo docs in rank order; non-relevants doc-00000002, doc-00000003)
    "q_feedback2_topk" -> withCtes(
      s""",
         |$FeedbackCte,
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |scored1 AS (
         |  SELECT f.docno,
         |         sum(w.weight * ((1.2 + 1.0) * f.tf)
         |             / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |             * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0))) AS score
         |  FROM (SELECT term, weight FROM fsel WHERE rn <= $FeedbackTopTerms) w
         |  JOIN tf f ON f.term = w.term
         |  JOIN dl d ON d.docno = f.docno
         |  JOIN df v ON v.term = w.term
         |  CROSS JOIN st
         |  WHERE f.docno NOT IN ('doc-00000000', 'doc-00000001',
         |                        'doc-00000002', 'doc-00000003')
         |  GROUP BY f.docno
         |),
         |ranked1 AS (SELECT docno,
         |                   row_number() OVER (ORDER BY score DESC, docno ASC) - 1 AS rank
         |            FROM scored1),
         |xv AS (SELECT f.docno, f.term,
         |              CAST(f.tf AS DOUBLE) / CAST(d.dl AS DOUBLE) AS x
         |       FROM tf f JOIN dl d USING (docno)),
         |rel5 AS (SELECT 'doc-00000000' AS docno UNION ALL
         |         SELECT 'doc-00000001' UNION ALL
         |         SELECT docno FROM ranked1 WHERE rank < $Feedback2Pseudo),
         |cterm AS (SELECT DISTINCT term FROM xv
         |          WHERE docno IN (SELECT docno FROM rel5)),
         |w2 AS (SELECT t.term,
         |    (3 * (((((coalesce(r0.x, 0) + coalesce(r1.x, 0)) + coalesce(p0.x, 0))
         |            + coalesce(p1.x, 0)) + coalesce(p2.x, 0)) + 0.001))
         |    / (6 * ((coalesce(n0.x, 0) + coalesce(n1.x, 0)) + 0.001)) AS weight
         |  FROM cterm t
         |  LEFT JOIN xv r0 ON r0.term = t.term AND r0.docno = 'doc-00000000'
         |  LEFT JOIN xv r1 ON r1.term = t.term AND r1.docno = 'doc-00000001'
         |  LEFT JOIN xv p0 ON p0.term = t.term
         |    AND p0.docno = (SELECT docno FROM ranked1 WHERE rank = 0)
         |  LEFT JOIN xv p1 ON p1.term = t.term
         |    AND p1.docno = (SELECT docno FROM ranked1 WHERE rank = 1)
         |  LEFT JOIN xv p2 ON p2.term = t.term
         |    AND p2.docno = (SELECT docno FROM ranked1 WHERE rank = 2)
         |  LEFT JOIN xv n0 ON n0.term = t.term AND n0.docno = 'doc-00000002'
         |  LEFT JOIN xv n1 ON n1.term = t.term AND n1.docno = 'doc-00000003'),
         |fsel2 AS (SELECT term, weight,
         |                 row_number() OVER (ORDER BY weight DESC, term DESC) AS rn
         |          FROM w2),
         |scored2 AS (
         |  SELECT f.docno,
         |         sum(w.weight * ((1.2 + 1.0) * f.tf)
         |             / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |             * (ln(1.0 + (st.n - v.df + 0.5) / (v.df + 0.5)) / ln(2.0))) AS score
         |  FROM (SELECT term, weight FROM fsel2 WHERE rn <= $FeedbackTopTerms) w
         |  JOIN tf f ON f.term = w.term
         |  JOIN dl d ON d.docno = f.docno
         |  JOIN df v ON v.term = w.term
         |  CROSS JOIN st
         |  WHERE f.docno NOT IN ('doc-00000000', 'doc-00000001',
         |                        'doc-00000002', 'doc-00000003')
         |    AND f.docno NOT IN (SELECT docno FROM ranked1
         |                        WHERE rank < $Feedback2Pseudo)
         |  GROUP BY f.docno
         |),
         |ranked2 AS (SELECT '1' AS qid, docno,
         |                   row_number() OVER (ORDER BY score DESC, docno ASC) - 1 AS rank
         |            FROM scored2)
         |SELECT qid, docno, rank FROM ranked2 WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // sloppy-phrase replay: anchor = first phrase slot; ml = the other
    // slot's NEAREST-position distance from its expected raw position (raw
    // positions COUNT stop tokens, engine positionIncrement semantics); a
    // match needs ml ≤ slop and contributes the slop factor 1/(ml+1)
    // (≙ BM25.computeSlopFactor, BM25.java:110-114) to the phrase freq,
    // scored with the accumulated multi-term idf like the exact oracle
    "q_phrase_slop_topk" -> withCtesRec(
      s""",
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |rawt AS (SELECT docno,
         |         list_filter(string_split_regex(lower(content), '\\s+'),
         |                     x -> x <> '') AS l FROM corpus),
         |rawpos AS (SELECT docno, unnest(l) AS term, unnest(range(len(l))) AS pos
         |           FROM rawt),
         |widf AS (SELECT d.term,
         |                ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) / ln(2.0) AS w
         |         FROM df d CROSS JOIN st),
         |${sloppyWalkCtes("1", "hash", "merge", 2)}
         |${sloppyWalkCtes("2", "join", "hash", 3)}
         |partials AS (
         |  SELECT '1' AS qid, p.docno,
         |         ((1.2 + 1.0) * p.freq)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + p.freq)
         |         * (1.0 + (SELECT w FROM widf WHERE term = 'hash')
         |                + (SELECT w FROM widf WHERE term = 'merge')) AS score
         |  FROM ph1 p JOIN dl d USING (docno) CROSS JOIN st
         |  UNION ALL
         |  SELECT '2' AS qid, p.docno,
         |         ((1.2 + 1.0) * p.freq)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + p.freq)
         |         * (1.0 + (SELECT w FROM widf WHERE term = 'join')
         |                + (SELECT w FROM widf WHERE term = 'hash')) AS score
         |  FROM ph2 p JOIN dl d USING (docno) CROSS JOIN st
         |  UNION ALL
         |  SELECT '2' AS qid, f.docno,
         |         ((1.2 + 1.0) * f.tf)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |         * (SELECT w FROM widf WHERE term = 'customer') AS score
         |  FROM tf f JOIN dl d USING (docno) CROSS JOIN st WHERE f.term = 'customer'
         |),
         |scored AS (SELECT qid, docno, sum(score) AS score FROM partials GROUP BY 1, 2),
         |ranked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM scored)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // sort-by-field: matched docs (any topic term) ordered (repo asc,
    // docno asc) — docid tie-break ≡ docno under the ntile packing
    "q_sort_topk" -> withCtes(
      s""",
         |$TopicsCte,
         |m AS (SELECT DISTINCT t.qid, k.docno
         |      FROM topics t JOIN tok k ON k.term = t.term),
         |ranked AS (SELECT m.qid, m.docno, c.repo AS ckey,
         |                  (row_number() OVER (PARTITION BY m.qid
         |                     ORDER BY c.repo ASC, m.docno ASC) - 1) AS rank
         |           FROM m JOIN corpus c USING (docno))
         |SELECT qid, docno, rank::BIGINT AS rank, ckey
         |FROM ranked WHERE rank < $TopK ORDER BY qid, rank""".stripMargin),
    // spell suggestion: candidates = vocabulary within 2 edits of each
    // input absent from the corpus, ranked (distance asc, df desc, term
    // asc) — the engine's maxQueryFrequency=0 gate is the NOT EXISTS
    "q_suggest" -> withCtes(
      s""",
         |inputs(q) AS (VALUES ${SuggestInputs.map(w => s"('$w')").mkString(",")}),
         |voc AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |act AS (SELECT q FROM inputs i
         |        WHERE NOT EXISTS (SELECT 1 FROM voc v WHERE v.term = i.q)),
         |cand AS (SELECT a.q, v.term, levenshtein(a.q, v.term) AS d, v.df
         |         FROM act a JOIN voc v
         |           ON abs(length(v.term) - length(a.q)) <= 2
         |         WHERE levenshtein(a.q, v.term) <= 2),
         |ranked AS (SELECT q, term, d, df,
         |                  row_number() OVER (PARTITION BY q
         |                    ORDER BY d ASC, df DESC, term ASC) AS rn
         |           FROM cand)
         |SELECT q, term AS suggestion, d::BIGINT AS dist, df::BIGINT AS df,
         |       (rn - 1)::BIGINT AS rank
         |FROM ranked WHERE rn <= 3 ORDER BY q, rank""".stripMargin),
    // phrase-suggester replay: per-slot candidate top-3 by the
    // DirectSpellChecker order, 2-word sequences scored
    // log2(cf1/T) + log2(c12/cf1 | 0.4·cf2/T), ranked per input
    "q_phrase_suggest" -> withCtes(
      s""",
         |voc AS (SELECT term, count(DISTINCT docno) AS df, count(*) AS cf
         |        FROM tok GROUP BY term),
         |tot AS (SELECT count(*) AS t FROM tok),
         |inp(qid, slot, w) AS (VALUES ${PhraseSuggestInputs.flatMap {
             case (q, text) => text.split(" ").zipWithIndex.map {
               case (w, i) => s"('$q', $i, '$w')" }
           }.mkString(", ")}),
         |ci AS (SELECT i.qid, i.slot, v.term, v.df, v.cf,
         |         row_number() OVER (PARTITION BY i.qid, i.slot
         |           ORDER BY levenshtein(v.term, i.w) ASC, v.df DESC,
         |                    v.term ASC) AS rn
         |       FROM inp i JOIN voc v ON levenshtein(v.term, i.w) <= 2),
         |cnd AS (SELECT * FROM ci WHERE rn <= 3),
         |shl2 AS (
         |  SELECT docno,
         |         list_filter(string_split_regex(lower(content), '\\s+'),
         |                     t -> t <> '' AND t NOT IN ('a', 'the')) AS toks
         |  FROM corpus
         |),
         |bgc AS (SELECT term, count(*) AS c FROM (
         |    SELECT unnest(list_transform(range(1, len(toks)),
         |           i -> toks[i] || ' ' || toks[i + 1])) AS term
         |    FROM shl2 WHERE len(toks) >= 2) GROUP BY term),
         |seqs AS (SELECT a.qid, a.term AS w1, b.term AS w2,
         |                a.cf AS cf1, b.cf AS cf2
         |         FROM cnd a JOIN cnd b
         |           ON b.qid = a.qid AND a.slot = 0 AND b.slot = 1),
         |scoredps AS (SELECT s.qid, s.w1 || ' ' || s.w2 AS suggestion,
         |    log2(s.cf1 / CAST(t.t AS DOUBLE))
         |    + CASE WHEN bg.c IS NOT NULL
         |           THEN log2(bg.c / CAST(s.cf1 AS DOUBLE))
         |           ELSE log2(0.4 * s.cf2 / CAST(t.t AS DOUBLE)) END AS score
         |  FROM seqs s CROSS JOIN tot t
         |  LEFT JOIN bgc bg ON bg.term = s.w1 || ' ' || s.w2),
         |rankedps AS (SELECT qid, suggestion,
         |    (row_number() OVER (PARTITION BY qid
         |       ORDER BY score DESC, suggestion ASC) - 1) AS rank
         |  FROM scoredps)
         |SELECT qid, suggestion, rank FROM rankedps WHERE rank < 3
         |ORDER BY qid, rank""".stripMargin),
    // blended-frequency fuzzy replay: expansion = levenshtein ≤ N over the
    // vocabulary (well under maxExpansions=50 here), ONE idf from the max
    // df across the expansion, per-term boost 1 − d/min(|q|,|t|), a doc
    // matching several expansions sums them (BooleanQuery SHOULD)
    "q_fuzzy_topk" -> withCtes(
      s""",
         |tf AS (SELECT docno, term, count(*) AS tf FROM tok GROUP BY docno, term),
         |dl AS (SELECT docno, count(*) AS dl FROM tok GROUP BY docno),
         |df AS (SELECT term, count(DISTINCT docno) AS df FROM tok GROUP BY term),
         |st AS (SELECT (SELECT count(*) FROM corpus) AS n,
         |              (SELECT count(*) FROM tok) AS sumttf),
         |widf AS (SELECT d.term,
         |                ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)) / ln(2.0) AS w
         |         FROM df d CROSS JOIN st),
         |exp1 AS (SELECT term, df, levenshtein(term, 'lin') AS d
         |         FROM df WHERE levenshtein(term, 'lin') <= 2),
         |idf1 AS (SELECT ln(1.0 + (st.n - b.bdf + 0.5) / (b.bdf + 0.5)) / ln(2.0) AS w
         |         FROM (SELECT max(df) AS bdf FROM exp1) b CROSS JOIN st),
         |exp2 AS (SELECT term, df, levenshtein(term, 'valu') AS d
         |         FROM df WHERE levenshtein(term, 'valu') <= 1),
         |idf2 AS (SELECT ln(1.0 + (st.n - b.bdf + 0.5) / (b.bdf + 0.5)) / ln(2.0) AS w
         |         FROM (SELECT max(df) AS bdf FROM exp2) b CROSS JOIN st),
         |partials AS (
         |  SELECT '1' AS qid, f.docno,
         |         ((1.2 + 1.0) * f.tf)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |         * (SELECT w FROM idf1)
         |         * (1.0 - e.d / CAST(least(3, length(e.term)) AS DOUBLE)) AS score
         |  FROM exp1 e JOIN tf f ON f.term = e.term
         |  JOIN dl d USING (docno) CROSS JOIN st
         |  UNION ALL
         |  SELECT '1' AS qid, f.docno,
         |         ((1.2 + 1.0) * f.tf)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |         * (SELECT w FROM widf WHERE term = 'window') AS score
         |  FROM tf f JOIN dl d USING (docno) CROSS JOIN st WHERE f.term = 'window'
         |  UNION ALL
         |  SELECT '2' AS qid, f.docno,
         |         ((1.2 + 1.0) * f.tf)
         |         / (1.2 * (1.0 - 0.75 + 0.75 * (d.dl / (st.sumttf / CAST(st.n AS DOUBLE)))) + f.tf)
         |         * (SELECT w FROM idf2)
         |         * (1.0 - e.d / CAST(least(4, length(e.term)) AS DOUBLE)) AS score
         |  FROM exp2 e JOIN tf f ON f.term = e.term
         |  JOIN dl d USING (docno) CROSS JOIN st
         |),
         |scored AS (SELECT qid, docno, sum(score) AS score FROM partials GROUP BY 1, 2),
         |ranked AS (
         |  SELECT qid, docno,
         |         (row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno ASC) - 1) AS rank
         |  FROM scored)
         |SELECT qid, docno, rank FROM ranked WHERE rank < $TopK
         |ORDER BY qid, rank""".stripMargin),
    // capped-bucket MinHash: identical to q_minhash_pairs but band buckets
    // larger than the cap are dropped before pair generation
    "q_minhash_pairs_capped" ->
      s"""WITH $CorpusCte,
         |$ShingleCte,
         |$MinHashCte,
         |bsz AS (SELECT band_key, count(*) AS bs FROM bands GROUP BY band_key),
         |capped AS (SELECT b.docno, b.band_key FROM bands b
         |           JOIN bsz USING (band_key) WHERE bsz.bs <= 2),
         |cand2 AS (
         |  SELECT DISTINCT a.docno AS docno_a, b.docno AS docno_b
         |  FROM capped a JOIN capped b
         |    ON a.band_key = b.band_key AND a.docno < b.docno)
         |SELECT docno_a, docno_b FROM cand2 ORDER BY docno_a, docno_b""".stripMargin
  )
}
