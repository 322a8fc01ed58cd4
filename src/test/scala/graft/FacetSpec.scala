package graft

import graft.analysis.AnalyzerConfig
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Searcher, Topic}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Facet counts: distinct matching docs per attribute value, verified
  * against brute force, plus the scan-width contract — the facet,
  * adjacency and match-count jobs must read only the docid runs (tf/dl
  * blobs and block metadata stay in parquet).
  */
class FacetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val docs = Seq(
    ("f-01", "alpha beta", "scala"),
    ("f-02", "alpha alpha gamma", "java"),
    ("f-03", "beta delta", "java"),
    ("f-04", "gamma delta", "scala"),
    ("f-05", "epsilon", "go"),
    ("f-06", "alpha epsilon", "go"))

  private lazy val (searcher, keys) = {
    import spark.implicits._
    val corpus = docs.map(d => (d._1, d._2)).toDF("docno", "content")
    val idx = IndexBuilder.build(corpus, TestSpark.tmpDir("facets"),
      IndexConfig(analyzer = AnalyzerConfig(), groupShift = 4, mergeShift = 1))
    val sr = new Searcher(idx)
    val attrs = docs.map(d => (d._1, d._2, d._3)).toDF("docno", "content", "lang")
    (sr, sr.collapseKeyTable(attrs, "lang"))
  }

  test("counts distinct matching docs per (qid, key), brute-force identical") {
    val topics = Seq(Topic("1", "alpha delta"), Topic("2", "epsilon"))
    val got = searcher.facetCounts(topics, keys)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    val want = (for {
      t <- topics
      terms = t.text.split(" ").toSet
      (docno, content, lang) <- docs
      if content.split(" ").toSet.intersect(terms).nonEmpty
    } yield (t.qid, docno, lang))
      .groupBy(x => (x._1, x._3)).map { case ((q, l), xs) =>
        (q, l, xs.map(_._2).distinct.size.toLong)
      }.toSet
    assert(got == want)
    // multi-term matches count once: f-01/f-02 match both alpha-ish terms
    assert(got.contains(("1", "java", 2L))) // f-02 (alpha), f-03 (delta)
    assert(got.contains(("2", "go", 2L)))
  }

  /** Fails if a postings scan in `plans` reads more than docid runs. */
  private def assertDocidRunsOnly(plans: Seq[SparkPlan], what: String): Unit = {
    val helper = new AdaptiveSparkPlanHelper {}
    val postingsScans = plans
      .flatMap(p => helper.collect(p) { case s: FileSourceScanExec => s })
      .map(_.requiredSchema.simpleString).filter(_.contains("doc_blob"))
    assert(postingsScans.nonEmpty, s"no postings scan in the $what plan")
    postingsScans.foreach { f =>
      Seq("tf_blob", "dl_blob", "pos_blob", "block_last_docid").foreach(b =>
        assert(!f.contains(b), s"$b leaked into the $what scan: $f"))
    }
  }

  test("facet plan reads only docid runs; empty topics yield empty output") {
    Seq(
      "facet" -> searcher.facetCounts(Seq(Topic("1", "alpha")), keys),
      "adjacency" -> searcher.adjacencyMatrix(Seq(("a", "alpha"), ("b", "gamma")))
    ).foreach { case (what, df) =>
      assertDocidRunsOnly(Seq(df.queryExecution.executedPlan), what)
    }
    // a stop-word-only topic analyzes to nothing
    val empty = searcher.facetCounts(
      Seq(Topic("1", "")), keys).collect()
    assert(empty.isEmpty)
  }

  test("adjacency matrix: singles + upper-triangle intersections, brute-force identical") {
    val got = searcher.adjacencyMatrix(
        Seq(("a", "alpha"), ("b", "gamma"), ("c", "epsilon")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // alpha: f-01 f-02 f-06; gamma: f-02 f-04; epsilon: f-05 f-06
    assert(got == Map(
      "a" -> 3L, "b" -> 2L, "c" -> 2L,
      "a&b" -> 1L, // f-02
      "a&c" -> 1L  // f-06; gamma∩epsilon empty → no "b&c" bucket, like ES
    ))
    intercept[IllegalArgumentException] {
      searcher.adjacencyMatrix(Seq(("x&y", "alpha")))
    }
    intercept[IllegalArgumentException] {
      searcher.adjacencyMatrix(Seq(("a", "alpha beta")))
    }
  }

  test("match counts read only docid runs, brute-force identical") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    // matchCounts returns a Map, so its plans are captured as they run; the
    // listener bus delivers in order, so the sentinel query's arrival means
    // every matchCounts plan has been seen
    val sentinel = "match_counts_sentinel"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan)
        if (qe.analyzed.output.exists(_.name == sentinel)) done.countDown()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val got = try {
      val counts = searcher.matchCounts(
        Seq(Topic("1", "alpha delta"), Topic("2", "epsilon"), Topic("3", "")))
      spark.range(1).toDF(sentinel).collect()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain")
      counts
    } finally spark.listenerManager.unregister(listener)
    // alpha: f-01 f-02 f-06, delta: f-03 f-04; epsilon: f-05 f-06
    assert(got == Map("1" -> 5L, "2" -> 2L, "3" -> 0L))
    import scala.jdk.CollectionConverters._
    assertDocidRunsOnly(plans.asScala.toSeq, "match count")
  }
}
