package graft

import graft.analysis.AnalyzerConfig
import graft.index._
import graft.search._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Indexes that hold no postings at all — a corpus whose docs analyze to
  * no terms, a purge or a compaction that deletes every doc. Each of the
  * three writers must still publish an index that opens and answers every
  * search with no hits, with `max_doc` the surviving doc count.
  */
class ZeroPostingsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cfg = IndexConfig(
    analyzer = AnalyzerConfig(stopWords = Set("a", "the")),
    groupShift = 1, mergeShift = 1, buckets = 8)

  private val topics = Seq(Topic("1", "cat dog"), Topic("2", "the mat"))

  private def corpusDF(ds: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    ds.toDF("docno", "content")
  }

  private val docs = Seq("z1" -> "cat dog", "z2" -> "the mat", "z3" -> "dog")

  private def assertAnswersNothing(idx: BuiltIndex, maxDoc: Long): Unit =
    for (i <- Seq(idx, BuiltIndex.open(spark, idx.dir))) {
      assert(i.stats == StatsRow(maxDoc, 0L))
      assert(i.postings.count() == 0L && i.termStats.count() == 0L &&
        i.vocab.count() == 0L)
      val s = new Searcher(i)
      assert(s.search(topics, 10).collect().isEmpty)
      assert(s.searchAnd(topics, 10).collect().isEmpty)
      assert(s.search(topics, 10, pruning = true).collect().isEmpty)
      assert(s.matchCounts(topics) == Map("1" -> 0L, "2" -> 0L))
    }

  test("build: a corpus with no indexed terms yields an empty, searchable index") {
    val corpora = Seq(
      "stop" -> Seq("s1" -> "the a THE", "s2" -> "a"),
      "blank" -> Seq("b1" -> "", "b2" -> (null: String)),
      "none" -> Seq.empty[(String, String)])
    for ((tag, ds) <- corpora) {
      val idx = IndexBuilder.build(corpusDF(ds), TestSpark.tmpDir(s"zero-$tag"), cfg)
      assert(idx.docs.count() == ds.size.toLong, tag)
      assertAnswersNothing(idx, ds.size.toLong)
    }
  }

  test("purge: deleting every doc yields an empty, searchable index") {
    import spark.implicits._
    val idx = IndexBuilder.build(corpusDF(docs), TestSpark.tmpDir("zero-pg"), cfg)
    val ov = TestSpark.tmpDir("zero-pgov") + "/ovl"
    Deletes.writeDeletes(idx, docs.map(_._1).toDF("docno"), ov)
    val purged = Deletes.purge(idx.withDeletes(ov), TestSpark.tmpDir("zero-pgout") + "/out")
    assert(purged.docs.count() == 0L)
    assertAnswersNothing(purged, 0L)
  }

  test("compaction: reclaiming every doc yields an empty, searchable index") {
    import spark.implicits._
    val srcDir = TestSpark.tmpDir("zero-cmp")
    val src = IndexBuilder.build(corpusDF(docs), srcDir, cfg)
    Deletes.writeDeletes(src, docs.map(_._1).toDF("docno"),
      s"$srcDir/${IndexLayout.DeletesDir}")
    val compacted = SegmentMerger.compactIndexes(spark, Seq(srcDir),
      TestSpark.tmpDir("zero-cmpout") + "/out", cfg)
    assert(compacted.docs.count() == 0L)
    assertAnswersNothing(compacted, 0L)
  }
}
