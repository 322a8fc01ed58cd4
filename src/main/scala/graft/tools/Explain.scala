package graft.tools

import graft.Engine
import graft.search.{CombinedField, MultiField, PhraseClause, Searcher, SynonymClause, Topic,
  WeightedClause}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Diagnostic: print formatted physical plans for the hot paths so
  * pushdown/pruning regressions are visible (`PushedFilters`, partition
  * pruning on `bucket`, `WholeStageCodegen` spans).
  *
  * Run: sbt "runMain graft.tools.Explain /root/testdata/sf0.001"
  */
object Explain {
  /** Runs `body` and returns the formatted executed plans of its queries
    * that scan postings: a search collects its top-k on the driver, so the
    * Dataset it returns only plans a local relation. Its driver collects go
    * through [[graft.PlanRunner]], which reports them; other queries reach
    * the listener.
    */
  private[graft] def scoringPlans(spark: SparkSession)(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.PlanRunner.observing(seen.add)(body)
      spark.range(1).toDF("explain_sentinel").collect() // delivered last, in order
      Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(qe => qe != null && !qe.analyzed.output.exists(_.name == "explain_sentinel"))
        .map(_.explainString(FormattedMode)).filter(_.contains("/postings")).toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** The search sections, (title, the search to run): each prints the
    * scoring plans [[scoringPlans]] captures. `fields` are the two field
    * indexes of the multi-field and BM25F sections.
    */
  private[graft] def searchSections(searcher: Searcher, shingle: Searcher,
                                    fields: (Searcher, Searcher)): Seq[(String, () => Unit)] = {
    val topic = Seq(Topic("1", "hash join merge"))
    def query(text: String): () => Unit = () => searcher.searchQuery(Seq(Topic("1", text)), 20).collect()
    Seq(
      "full search plan" -> (() => searcher.search(topic, 20).collect()),
      "fuzzy blended search plan (expanded terms in the plain-term decode → the shared sorted combine pass; no MapGroups)" ->
        query("lin~2 window"),
      "sloppy phrase search plan" -> query("\"hash merge\"~2"),
      "boolean-tree group plan ((hash | merge) + scan)" -> query("(hash | merge) + scan"),
      "faithful negation plan (complement anti-join should BROADCAST the candidate side)" ->
        query("hash -window"),
      "synonym-group search plan (group postings in the same bucket-pruned scan; the tf sum in the range task)" ->
        (() => searcher.searchClauses(Seq(WeightedClause("1", 0, "hash", 1.0f)), k = 20,
          synonymClauses = Seq(SynonymClause("1", 1, Seq("scan", "window"), 1.0f))).collect()),
      "multi-field most_fields (per-field bucket-pruned scans → ONE (qid, docid) full-outer join → bounded top-k)" ->
        (() => MultiField.mostFields(Seq(fields._1 -> 1.0f, fields._2 -> 2.0f),
          Seq(Topic("m1", "hash join txt")), 20).collect()),
      "BM25F combined-field (a one-job df pre-pass, then per-field pruned postings scans → the range tasks)" ->
        (() => CombinedField.bm25f(Seq((fields._1, 1.0, 0.75), (fields._2, 2.0, 0.4)),
          Seq(Topic("m1", "hash join txt")), 20).collect()),
      "dismax (the flat OR's plain-term decode → the shared sorted combine pass, max + tie·rest reducer; no MapGroups)" ->
        (() => searcher.searchDisMax(topic, 20, 0.3f).collect()),
      "span-near (one positional postings scan → the range task's leapfrog cursor; no MapGroups)" ->
        (() => searcher.searchSpanNear(Seq(("1", "hash", "join", 2)), 20).collect()),
      "searchQuery term tree (plain-term decode → the shared sorted combine pass, tree reducer; no MapGroups)" ->
        query("hash +join -merge"),
      "boosting (negative postings decode → distributed left join demote; no driver doc sets)" ->
        (() => searcher.searchBoosting(topic, Seq(("1", "slow")), 0.5f, 20).collect()),
      "rescore (bounded window agg → left join against the phrase range-task stream → bounded top-k)" ->
        (() => searcher.searchRescore(topic,
          Seq(PhraseClause("1", 0, Seq(("hash", 0), ("join", 1)), 1.0f)), 50, 2.0f, 20).collect()),
      "span-first (positional postings scan pruned to the span terms' buckets)" ->
        (() => searcher.searchSpanFirst(Seq(("f1", "hash", 5)), 20).collect()),
      "shingle-rewritten phrase (ONE bigram-term bucket-pruned scan; ReadSchema must NOT contain pos_blob)" ->
        (() => shingle.searchPhraseShingle(Seq("1" -> "hash join"), 20).collect()))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val idx = Engine.oracleIndex(spark, sfDir)

    println("\n========== postings lookup (should show bucket partition pruning + term PushedFilters) ==========")
    val terms = Seq("hash", "join", "merge")
    idx.forTerms(idx.postings, terms).explain("formatted")

    println("\n========== scoring postings view (pos_blob/block_pos_off pruned out of ReadSchema) ==========")
    idx.forTerms(idx.postingsScoring, terms).explain("formatted")

    println("\n========== term_stats memo load (bucket partition pruning; a term predicate only past the memo's vocabulary) ==========")
    idx.statsRows(terms.map(idx.statsPart).distinct).explain("formatted")

    println("\n========== docs scan for doclens (column pruning: docno, dl only) ==========")
    idx.docs.select("docno", "dl").explain("formatted")

    val searcher = new Searcher(idx)
    println("\n========== vocab prefix scan (StringStartsWith pushed + len partition bound) ==========")
    searcher.prefixScan("qu").explain("formatted")

    println("\n========== vocab fuzzy length band (len partition pruning) ==========")
    idx.vocab.where(col("len") >= 2 && col("len") <= 6).explain("formatted")

    println("\n========== IVF assignment (narrow codegen'd fold — no shuffle before the candidate join) ==========")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    graft.ops.Knn.ivfTopK(emb, q, 10,
      graft.ops.Knn.ivfSeedCentroids(emb, 8), nProbe = 2).explain("formatted")

    println("\n========== hash sample (filter pushed to the corpus scan, zero shuffles) ==========")
    val corp = graft.corpus.Corpus.fromDocuments(spark, sfDir)
    graft.ops.Curation.hashSample(corp, "s1", 20, 2).explain("formatted")

    println("\n========== seeded shuffle prefix sum (exactly ONE range exchange; both passes read the materialized sort) ==========")
    graft.ops.Curation.seededShuffle(corp, "s1").explain("formatted")

    println("\n========== hybrid RRF fusion (two bounded top-k inputs → full-outer join on ≤2k rows/query; the window runs over that bounded set) ==========")
    val docVecs = corp
      .select(expr("cast(substring(docno, 5, 24) as long)").as("vec_id"))
      .join(emb, "vec_id").select(col("vec_id"), col("embedding"))
    val qv1 = emb.where(col("vec_id") === 1001)
      .select(lit("1").as("qid"), col("embedding").as("qv"))
    val dense = graft.ops.Knn.bruteForceTopK(docVecs,
        emb.where(col("vec_id") === 1001)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")), 20)
      .select((col("qid") - 1000).cast("string").as("qid"),
        concat(lit("doc-"), lpad(col("vec_id").cast("string"), 8, "0")).as("docno"),
        col("rank"))
    val sparse = searcher.search(Seq(Topic("1", "hash join merge")), 20).toDF()
      .select(col("qid"), col("docno"), col("rank"))
    graft.ops.Fusion.rrf2(sparse, dense, 20).explain("formatted")

    println("\n========== in-row co-occurrence pairs (ONE aggregate exchange; pair fan-out inside WholeStageCodegen) ==========")
    graft.ops.TextQuality.coocPairs(
      spark.read.parquet(s"${idx.dir}/${graft.index.IndexLayout.TokenizedDir}")
        .select(col("docno"), col("terms.term").as("ts"))).explain("formatted")

    println("\n========== cluster assignment + stratified pick (assignment is a narrow fold over the scan — no shuffle before the per-cell heap agg) ==========")
    graft.ops.Curation.stratifiedSample(
      docVecs.withColumn("cid", graft.ops.Knn.ivfCellExpr(col("embedding"),
          graft.ops.Knn.ivfSeedCentroids(emb, 8)))
        .select(concat(lit("doc-"), lpad(col("vec_id").cast("string"), 8, "0")).as("docno"),
          col("cid")),
      "cid", "cs1", 5).explain("formatted")

    println("\n========== duplicate spans (one gram agg + semi-join; ONE docno exchange shared by both window passes and the island agg) ==========")
    graft.ops.Dedup.duplicatedSpans(corp,
      new graft.analysis.Analyzer(Engine.OracleAnalyzer), n = 5)
      .explain("formatted")

    println("\n========== LM score (two count aggs broadcast-joined back onto the bigram stream; one per-doc agg) ==========")
    graft.ops.TextQuality.lmScore(corp,
      new graft.analysis.Analyzer(Engine.OracleAnalyzer)).explain("formatted")

    println("\n========== trigram substring lookup (bucket partition pruning + gram PushedFilters; verify join broadcasts the candidate side) ==========")
    val gt = Engine.trigramIndex(spark, sfDir)
    graft.index.TrigramIndex.substringTopK(corp, gt,
      Seq(("s1", "merge slow")), 20).explain("formatted")

    println("\n========== trigram grep (OR-of-branches in ONE grouped pass over the same pruned gram scan) ==========")
    graft.index.TrigramIndex.regexTopK(corp, gt,
      Seq(("g1", "merge (slow|fast)")), 20).explain("formatted")

    println("\n========== composite-agg page 2 (after-key filter BEFORE the aggregate; one agg exchange) ==========")
    graft.ops.CompositeAgg.page(
      spark.read.parquet(s"$sfDir/events.parquet")
        .select(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value")),
      Seq("event_type", "day"),
      Seq(count(lit(1)).as("n_events")), 7,
      Some(Seq("click", "2026-01-01"))).explain("formatted")

    println("\n========== pipeline aggs (window pass over the ALREADY-REDUCED bucket list — the single-partition window is bounded by construction) ==========")
    graft.ops.PipelineAgg.over(
      spark.read.parquet(s"$sfDir/events.parquet")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events")),
      "day", "n_events", 3).explain("formatted")

    println("\n========== filtered kNN (label predicate in PushedFilters of the embeddings scan, BEFORE the norm arithmetic) ==========")
    val embf = spark.read.parquet(s"$sfDir/embeddings.parquet")
    graft.ops.Knn.filteredTopK(embf,
      embf.where(col("vec_id") === 1).limit(1)
        .select(col("vec_id").as("qid"), col("embedding").as("qv")),
      5, col("label") === 2).explain("formatted")

    println("\n========== index-sorted prefix batch (closed-range sp partition predicate; sort+limit over ONE slice) ==========")
    val sd = Engine.sortedDocs(spark, sfDir)
    sd.data.where(col("sp") >= 0 && col("sp") <= 0)
      .select(col("skey"), col("docno"))
      .orderBy(col("skey").asc, col("docno").asc).limit(20)
      .explain("formatted")

    searchSections(searcher, new Searcher(Engine.shingleIndex(spark, sfDir)),
      (new Searcher(Engine.codeIndex(spark, sfDir)), new Searcher(Engine.pathIndex(spark, sfDir))))
      .foreach { case (title, run) =>
        println(s"\n========== $title ==========")
        scoringPlans(spark)(run()).foreach(println)
      }

    spark.stop()
  }
}
