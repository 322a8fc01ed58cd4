package graft

import graft.analysis.AnalyzerConfig
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Searcher, Topic}
import org.scalatest.funsuite.AnyFunSuite

/** Per-hit scoring breakdown (Searcher.explainStats ≙
  * IndexSearcher.explain): one row per (query, top-k hit, MATCHING term)
  * carrying the integer scoring components. Also: every search section of
  * `tools.Explain` prints the plan that scored, not the local relation of
  * the collected hits.
  */
class ExplainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val docs = Seq(
    ("e-1", "hash hash join"),
    ("e-2", "hash merge merge merge"),
    ("e-3", "scan only words here"))

  private lazy val searcher = {
    import spark.implicits._
    val idx = IndexBuilder.build(docs.toDF("docno", "content"),
      TestSpark.tmpDir("explain"), IndexConfig())
    new Searcher(idx)
  }

  test("tools.Explain: no search section prints only a LocalTableScan") {
    import spark.implicits._
    val corpus = Seq(
      "x-1" -> "hash join merge scan window",
      "x-2" -> "hash join slow line txt",
      "x-3" -> "merge scan txt window",
      "x-4" -> "line hash window join").toDF("docno", "content")
    val positional = new Searcher(IndexBuilder.build(corpus, TestSpark.tmpDir("explain-pos"),
      IndexConfig(indexPositions = true)))
    val shingle = new Searcher(IndexBuilder.build(corpus, TestSpark.tmpDir("explain-shingle"),
      IndexConfig(analyzer = AnalyzerConfig(shingleSize = 2))))
    val sections = graft.tools.Explain.searchSections(positional, shingle, (positional, positional))
    assert(sections.size == 15)
    sections.foreach { case (title, run) =>
      val plans = graft.tools.Explain.scoringPlans(spark)(run())
      assert(plans.nonEmpty, s"'$title' prints no scoring plan")
      plans.foreach(p => assert(p.contains("Scan parquet"), s"'$title' prints:\n$p"))
    }
  }

  test("explain rows carry exact tf/dl/df for matching terms only") {
    val rows = searcher.explainStats(Seq(Topic("1", "hash join")), k = 5)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    // e-1 matches both terms, e-2 only "hash", e-3 neither (absent)
    assert(rows == Set(
      ("1", "e-1", "hash", 2L, 3L, 2L),
      ("1", "e-1", "join", 1L, 3L, 1L),
      ("1", "e-2", "hash", 1L, 4L, 2L)))
  }

  test("breakdown is bounded by k: only top-k docs are explained") {
    val one = searcher.explainStats(Seq(Topic("1", "hash")), k = 1)
      .collect().map(_.getString(1)).toSet
    assert(one.size == 1) // a single explained doc, whichever ranks first
  }

  test("ltrFeatures aggregates the components into integer feature rows") {
    val rows = searcher.ltrFeatures(Seq(Topic("1", "hash join")), k = 5)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))).toMap
    // e-1: matches hash(tf 2, df 2) + join(tf 1, df 1), dl 3, nterms 2
    assert(rows(("1", "e-1")) == ((2L, 3L, 2L, 3L, 1L, 2L)))
    // e-2: matches only hash(tf 1, df 2), dl 4
    assert(rows(("1", "e-2")) == ((1L, 1L, 1L, 4L, 2L, 2L)))
    assert(!rows.contains(("1", "e-3")))
  }
}
