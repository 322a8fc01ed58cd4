package graft

import graft.analysis.AnalyzerConfig
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Searcher, Topic}
import org.apache.spark.sql.DataFrame

import org.scalatest.funsuite.AnyFunSuite

/** Locks the scan-width contract of [[graft.index.BuiltIndex.postingsScoring]]:
  * non-phrase query paths must never read the position columns from
  * parquet (on a positions-enabled index `pos_blob` is ~38% of postings
  * bytes — measured in BENCH.md — and grows with document length), while
  * the phrase path keeps the full schema.
  */
class PostingsPruningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** ReadSchema lines of every scan in the plan — parsed from the
    * formatted explain because AQE wraps the physical plan in
    * AdaptiveSparkPlanExec, hiding FileSourceScanExec from collect().
    */
  private def scanFields(df: DataFrame): Seq[String] = {
    val txt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    txt.linesIterator.filter(_.trim.startsWith("ReadSchema")).map(_.trim).toSeq
  }

  private lazy val idx = {
    import spark.implicits._
    val docs = (0 until 60).map(i => (f"pp$i%03d", s"alpha beta w$i gamma alpha"))
    IndexBuilder.build(docs.toDF("docno", "content"),
      TestSpark.tmpDir("posprune"),
      IndexConfig(analyzer = AnalyzerConfig(), groupShift = 4, mergeShift = 1,
        indexPositions = true))
  }

  test("postingsScoring prunes pos columns from the parquet scan; postings keeps them") {
    val pruned = scanFields(idx.postingsScoring.select("term", "ndocs", "doc_blob"))
    assert(pruned.nonEmpty)
    pruned.foreach { f =>
      assert(!f.contains("pos_blob") && !f.contains("block_pos_off"), f)
    }
    val full = scanFields(idx.postings.select("term", "pos_blob"))
    assert(full.exists(_.contains("pos_blob")))
  }

  test("postingsDecode also drops run extrema and block metadata from the scan") {
    val pruned = scanFields(idx.postingsDecode.select("term", "ndocs", "doc_blob"))
    assert(pruned.nonEmpty)
    val banned = Seq("pos_blob", "block_pos_off", "first_docid", "last_docid",
      "max_tf", "sum_tf", "block_last_docid", "block_max_tf", "block_min_dl",
      "block_doc_off", "block_tf_off", "block_dl_off")
    pruned.foreach(f => banned.foreach(b => assert(!f.contains(b), s"$b in $f")))
    // the exhaustive (non-WAND) scored stream reads none of them either
    // (r6: pinned on the scored seam — the search() result is collected)
    val s = new Searcher(idx)
    val plain = scanFields(s.scoredTopics(Seq(Topic("t2", "alpha"))).toDF())
    assert(plain.exists(_.contains("doc_blob")))
    plain.filter(_.contains("doc_blob"))
      .foreach(f => assert(!f.contains("block_last_docid"), f))
  }

  test("pruning propagates below a UnionIndex's delta union") {
    import spark.implicits._
    val dirs = Seq("ppu_a", "ppu_b").map { n =>
      val docs = (0 until 20).map(i => (s"$n$i", s"alpha beta u$n$i"))
      IndexBuilder.build(docs.toDF("docno", "content"), TestSpark.tmpDir(n),
        IndexConfig(analyzer = AnalyzerConfig(), groupShift = 4, mergeShift = 1,
          indexPositions = true)).dir
    }
    val first = graft.index.BuiltIndex.open(spark, dirs.head)
    val union = new graft.streaming.UnionIndex(spark, dirs, first.cfg)
    val scans = scanFields(union.postingsDecode.select("term", "ndocs", "doc_blob"))
    assert(scans.size >= 2, s"expected one scan per delta, got $scans")
    scans.foreach { f =>
      assert(!f.contains("pos_blob") && !f.contains("block_last_docid"), f)
    }
  }

  test("term search plan reads no position bytes; phrase search plan does") {
    // r6: search()'s returned Dataset is the collected result (driver-side
    // tail), so the postings scan lives in the SCORED stream the collector
    // consumes — pin the ReadSchema contract there, at the seam that
    // actually reads parquet.
    val s = new Searcher(idx)
    val term = s.scoredTopics(Seq(Topic("t1", "alpha gamma")))
    val termScans = scanFields(term.toDF())
    assert(termScans.nonEmpty)
    termScans.foreach(f => assert(!f.contains("pos_blob"), f))

    val phrase = s.scoredClauses(Nil, phraseClauses = Seq(
      graft.search.PhraseClause("p1", 0, Seq("alpha" -> 0, "beta" -> 1), 1.0f)))
    val phraseScans = scanFields(phrase.toDF())
    assert(phraseScans.exists(_.contains("pos_blob")),
      s"phrase plan lost its positions read: $phraseScans")

    // and the pruning is semantically invisible: both still return hits
    assert(s.search(Seq(Topic("t1", "alpha gamma")), 5).collect().nonEmpty &&
      s.searchQuery(Seq(Topic("p1", "\"alpha beta\"")), 5).collect().nonEmpty)
  }

  test("a mixed phrase + term plan reads positions for the phrase's terms only") {
    val s = new Searcher(idx)
    val mixed = s.scoredClauses(Seq(graft.search.WeightedClause("m1", 1, "gamma", 1.0f)),
      phraseClauses = Seq(graft.search.PhraseClause("m1", 0, Seq("alpha" -> 0, "beta" -> 1), 1.0f)))
    val scans = scanFields(mixed.toDF())
    assert(scans.size == 2, s"one positional and one plain scan: $scans")
    assert(scans.count(_.contains("pos_blob")) == 1, scans)
    assert(scans.exists(f => f.contains("doc_blob") && !f.contains("pos_blob") && !f.contains("block_pos_off")),
      scans)
    assert(mixed.collect().length == 60)
  }
}
