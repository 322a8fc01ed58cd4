package graft

import graft.analysis.AnalyzerConfig
import graft.index._
import graft.search._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Equality-delete overlay + physical purge (index.Deletes): the
  * Lucene-shaped two-stage delete contract.
  *
  *   - overlay: deleted docs vanish from results, ranks close up,
  *     surviving scores are FLOAT-IDENTICAL (stats/df keep pre-delete
  *     values, like Lucene before a merge reclaims deletes);
  *   - purge ≡ fresh build: purge(build(C), D) is rank- and
  *     float-score-identical to build(C \ D), df/stats recomputed.
  */
class DeletesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cfg = IndexConfig(
    analyzer = AnalyzerConfig(stopWords = Set("a", "the")),
    groupShift = 1, mergeShift = 1, buckets = 8)

  private val docs: Seq[(String, String)] = Seq(
    "d01" -> "the cat sat on the mat",
    "d02" -> "cat cat dog mat",
    "d03" -> "dog runs fast and runs far",
    "d04" -> "cat dog mat fast",
    "d05" -> "the a THE A",
    "d06" -> "identical twin content",
    "d07" -> "identical twin content cat",
    "d08" -> "hot hot hot hot term cat",
    "d09" -> "mixed tokens dog mat",
    "d10" -> "solo fast"
  )
  private val deleted = Set("d02", "d07", "d10")

  private val topics = Seq(
    Topic("1", "cat dog"),
    Topic("2", "identical twin content"),
    Topic("3", "fast mat"),
    Topic("4", "solo"))

  private def corpusDF(ds: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    ds.toDF("docno", "content")
  }

  private def runOf(ds: org.apache.spark.sql.Dataset[RunLine])
      : Map[String, Seq[(String, Int, Float)]] =
    ds.collect().toSeq.groupBy(_.qid).view
      .mapValues(_.sortBy(_.rank).map(l => (l.docno, l.rank, l.score)).toSeq)
      .toMap

  /** `got` was written by the same writer as a fresh build: its stats row,
    * full term_stats rows and vocab rows equal `want`'s.
    */
  private def assertSameDerivedTables(got: BuiltIndex, want: BuiltIndex): Unit = {
    import spark.implicits._
    assert(got.stats == want.stats)
    def termStats(i: BuiltIndex) = i.termStats.select("term", "bucket", "df", "max_tf", "cf")
      .as[(String, Int, Long, Int, Long)].collect().sorted.toSeq
    def vocab(i: BuiltIndex) =
      i.vocab.select("term", "len").as[(String, Int)].collect().sorted.toSeq
    assert(termStats(got) == termStats(want))
    assert(vocab(got) == vocab(want))
  }

  private lazy val (fullIdx, overlayIdx): (BuiltIndex, BuiltIndex) = {
    import spark.implicits._
    val dir = TestSpark.tmpDir("delfull")
    val idx = IndexBuilder.build(corpusDF(docs), dir, cfg)
    val ov = TestSpark.tmpDir("delov") + "/ovl"
    Deletes.writeDeletes(idx, deleted.toSeq.toDF("docno"), ov)
    (idx, idx.withDeletes(ov))
  }

  test("overlay: deleted docs vanish, ranks close up, surviving scores unchanged") {
    val full = runOf(new Searcher(fullIdx).search(topics, k = 1000))
    val over = runOf(new Searcher(overlayIdx).search(topics, k = 1000))
    // expected = full ranking minus deleted docs, ranks re-assigned
    val want = full.view.mapValues(_.filterNot(h => deleted(h._1))
      .zipWithIndex.map { case ((d, _, s), i) => (d, i, s) })
      .filter(_._2.nonEmpty).toMap
    assert(over == want)
    // the full run really contained deleted docs (the test bites)
    assert(full.values.flatten.exists(h => deleted(h._1)))
    // topic 4 only matched a deleted doc → absent entirely
    assert(full.contains("4") && !over.contains("4"))
  }

  test("overlay: WAND pruning stays rank- and score-identical under deletes") {
    val plain = runOf(new Searcher(overlayIdx).search(topics, k = 3))
    val pruned = runOf(new Searcher(overlayIdx).search(topics, k = 3, pruning = true))
    assert(pruned == plain)
  }

  test("overlay: stats and df keep pre-delete values (Lucene pre-merge)") {
    assert(overlayIdx.stats == fullIdx.stats)
    import spark.implicits._
    val df1 = fullIdx.termStats.select("term", "df").as[(String, Long)].collect().toMap
    val df2 = overlayIdx.termStats.select("term", "df").as[(String, Long)].collect().toMap
    assert(df1 == df2)
  }

  test("overlay: matchCounts and match-all complement skip deleted docs") {
    val counts = new Searcher(overlayIdx).matchCounts(Seq(Topic("1", "cat dog")))
    // live docs containing cat or dog: d01 d03 d04 d08 d09 (d02/d07 deleted)
    assert(counts("1") == 5L)
    // explicit match-all: every LIVE doc, none of the deleted
    val all = runOf(new Searcher(overlayIdx).searchQuery(
      Seq(Topic("9", "*")), k = 1000))
    val got = all("9").map(_._1).toSet
    assert(got == docs.map(_._1).toSet -- deleted)
  }

  test("writeDeletes is idempotent per batch; distinct batches accumulate") {
    import spark.implicits._
    val idxDir = TestSpark.tmpDir("delidem")
    val idx = IndexBuilder.build(corpusDF(docs), idxDir, cfg)
    val ov = TestSpark.tmpDir("delidemov") + "/ovl"
    Deletes.writeDeletes(idx, Seq("d01").toDF("docno"), ov)
    Deletes.writeDeletes(idx, Seq("d01").toDF("docno"), ov) // same batch: no-op
    val fs = new org.apache.hadoop.fs.Path(ov)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(ov)).length == 1)
    Deletes.writeDeletes(idx, Seq("d03").toDF("docno"), ov) // new batch
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(ov)).length == 2)
    val t = Deletes.load(spark, Seq(ov))
    assert(t.length == 2 && t.sameElements(t.sorted))
    // cardinality cap fails loudly, pointing at purge
    val e = intercept[IllegalArgumentException](Deletes.load(spark, Seq(ov), cap = 1))
    assert(e.getMessage.contains("purge"))
  }

  test("purge ≡ fresh build of the surviving corpus (ranks, float scores, df, stats)") {
    val purged = Deletes.purge(overlayIdx, TestSpark.tmpDir("delpg") + "/purged")
    val freshDir = TestSpark.tmpDir("delfresh")
    val fresh = IndexBuilder.build(
      corpusDF(docs.filterNot(d => deleted(d._1))), freshDir, cfg)
    assertSameDerivedTables(purged, fresh)
    val rp = runOf(new Searcher(purged).search(topics, k = 1000))
    val rf = runOf(new Searcher(fresh).search(topics, k = 1000))
    assert(rp == rf)
    // purge carries no tombstones forward; re-purging is rejected loudly
    assert(purged.tombstones.isEmpty)
    intercept[IllegalArgumentException](
      Deletes.purge(purged, TestSpark.tmpDir("delpg2")))
    // purge is resumable: a second call opens the completed output
    val again = Deletes.purge(overlayIdx, purged.dir)
    assert(again.stats == purged.stats)
  }

  test("update = delta re-add + base-resolved tombstone over UnionIndex") {
    import spark.implicits._
    val baseDir = TestSpark.tmpDir("updbase")
    val base = IndexBuilder.build(corpusDF(docs), baseDir, cfg)
    val root = TestSpark.tmpDir("updroot")
    // new version of d01: drops 'cat', gains high-tf 'solo'
    val delta = graft.streaming.StreamingIngest.ingestBatch(
      Seq(("d01", "solo solo solo updated")).toDF("docno", "content"),
      batchId = 0, root, base.cfg)
    val ov = s"$root/tomb"
    Deletes.writeDeletes(base, Seq("d01").toDF("docno"), ov)
    val union = new graft.streaming.UnionIndex(spark, Seq(base.dir, delta.dir), base.cfg)
    val got = runOf(new Searcher(union.withDeletes(ov))
      .search(Seq(Topic("1", "cat"), Topic("2", "solo")), k = 100))
    // old version (cat-bearing) gone; new version tops the solo query
    assert(!got("1").exists(_._1 == "d01"))
    assert(got("2").head._1 == "d01")
    // pre-merge stats: N counts both versions
    assert(union.stats.max_doc == docs.size + 1L)
  }

  test("compaction reclaims in-place deletes (≡ fresh build of survivors)") {
    import spark.implicits._
    val srcDir = TestSpark.tmpDir("cmpdel")
    val src = IndexBuilder.build(corpusDF(docs), srcDir, cfg)
    // in-place deletes: generations under the index's own deletes/ subdir
    Deletes.writeDeletes(src, deleted.toSeq.toDF("docno"),
      s"$srcDir/${IndexLayout.DeletesDir}")
    assert(BuiltIndex.open(spark, srcDir).tombstones.length == deleted.size)
    val compacted = SegmentMerger.compactIndexes(spark, Seq(srcDir),
      TestSpark.tmpDir("cmpout") + "/out", cfg)
    val fresh = IndexBuilder.build(
      corpusDF(docs.filterNot(d => deleted(d._1))), TestSpark.tmpDir("cmpfresh"), cfg)
    assert(compacted.tombstones.isEmpty) // reclaimed, not carried forward
    assertSameDerivedTables(compacted, fresh)
    val rc = runOf(new Searcher(compacted).search(topics, k = 1000))
    val rf = runOf(new Searcher(fresh).search(topics, k = 1000))
    assert(rc == rf)
  }

  test("purge copies runs outside the tombstoned docid range verbatim") {
    import spark.implicits._
    val purged = Deletes.purge(overlayIdx, TestSpark.tmpDir("delvb") + "/purged")
    val tomb = overlayIdx.tombstones.toSet
    val before = fullIdx.postings.as[PostingRun].collect()
      .map(r => (r.term, r.grp) -> r).toMap
    val after = purged.postings.as[PostingRun].collect()
    assert(after.nonEmpty)
    var untouched = 0
    after.foreach { r =>
      val b = before((r.term, r.grp))
      if (!tomb.exists(d => d >= b.first_docid && d <= b.last_docid)) {
        untouched += 1
        assert(java.util.Arrays.equals(r.doc_blob, b.doc_blob) &&
          java.util.Arrays.equals(r.tf_blob, b.tf_blob), r.term)
      }
      // no tombstoned docid survives anywhere
      SegmentMerger.decode(r).foreach(p => assert(!tomb(p.docid)))
    }
    assert(untouched > 0, "fixture should leave some runs untouched")
  }
}
