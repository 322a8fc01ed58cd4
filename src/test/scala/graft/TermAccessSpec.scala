package graft

import graft.analysis.AnalyzerConfig
import graft.index.{BuiltIndex, IndexBuilder, IndexConfig, IndexLayout}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** The read side's one term-access seam on [[BuiltIndex]]: `forTerms`
  * (bucket partition filter + pushed term IN; no scan for an empty term
  * set) and `termStatsOf` (a memo per snapshot, shared by every handle
  * on it, absent terms answered too: of whole term_stats buckets when the
  * vocabulary fits it, else of single terms).
  */
class TermAccessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val corpus = Seq(
    "t-1" -> "alpha beta beta",
    "t-2" -> "alpha gamma",
    "t-3" -> "delta")

  private lazy val (dir, idx) = {
    import spark.implicits._
    val d = TestSpark.tmpDir("termaccess")
    (d, IndexBuilder.build(corpus.toDF("docno", "content"), d,
      IndexConfig(analyzer = AnalyzerConfig(), buckets = 8)))
  }

  private def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }

  test("forTerms prunes on bucket, pushes the term IN; no terms means no scan") {
    val rows = idx.forTerms(idx.termStats, Seq("beta", "alpha", "beta"))
    val got = rows.select("term").collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("alpha", "beta"))
    val Seq(scan) = scans(rows)
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "bucket")))
    assert(scan.dataFilters.exists(_.references.exists(_.name == "term")))

    val empty = idx.forTerms(idx.postingsMatch, Nil)
    var n = -1
    assert(TestSpark.jobsOf { n = empty.collect().length } == 0)
    assert(n == 0 && scans(empty).isEmpty)
    assert(empty.schema == idx.postingsMatch.schema)
  }

  test("termStatsOf: one lookup per unseen term, shared by every handle on the index") {
    val terms = Seq("alpha", "beta", "nope")
    var first = Map.empty[String, (Long, Long)]
    val cold = TestSpark.jobsOf { first = idx.termStatsOf(terms) }
    assert(cold == 1, s"jobs=$cold")
    // absent terms have no entry; df/cf match the term_stats table
    assert(first == Map("alpha" -> (2L, 2L), "beta" -> (1L, 2L)))
    // a second handle on the same snapshot, the handle open() reads back
    // from disk and a delete overlay share the memo (same snapshotKey):
    // hits and the absent term alike cost no job
    val again = new BuiltIndex(spark, dir, idx.cfg)
    Seq(idx, again, BuiltIndex.open(spark, dir),
        again.withDeletes(TestSpark.tmpDir("termaccess-del"))).foreach { h =>
      assert(h.snapshotKey == idx.snapshotKey)
      var got = Map.empty[String, (Long, Long)]
      assert(TestSpark.jobsOf { got = h.termStatsOf(terms) } == 0)
      assert(got == first)
    }
    assert(TestSpark.jobsOf { assert(idx.termStatsOf(Nil).isEmpty) } == 0)
  }

  test("termStatsOf: an absent term in a loaded bucket costs no job") {
    val loaded = Set("alpha", "beta", "gamma", "delta").map(IndexLayout.bucketOf(_, idx.cfg.buckets))
    idx.termStatsOf(Seq("alpha", "beta", "gamma", "delta"))
    val absent = (0 until 1000).map(i => s"zz$i")
      .filter(t => loaded(IndexLayout.bucketOf(t, idx.cfg.buckets))).take(20)
    assert(absent.size == 20)
    var got = Map.empty[String, (Long, Long)]
    assert(TestSpark.jobsOf { got = idx.termStatsOf(absent :+ "gamma") } == 0)
    assert(got == Map("gamma" -> (1L, 1L)))
  }

  /** A vocabulary past [[BuiltIndex.MemoTerms]]: 20,000 terms in one
    * bucket, larger than the memo's bound on its own, so the memo holds
    * single terms.
    */
  private lazy val (wide, wideTerms) = {
    import spark.implicits._
    val terms = (0 until 20000).map(i => s"w$i")
    val docs = terms.grouped(100).zipWithIndex.map { case (ts, i) => (s"wd$i", ts.mkString(" ")) }.toSeq
    (IndexBuilder.build(docs.toDF("docno", "content"), TestSpark.tmpDir("termwide"),
      IndexConfig(analyzer = AnalyzerConfig(), buckets = 1)), terms)
  }

  test("termStatsOf: past the memo's vocabulary, a bucket larger than the bound still answers repeats from memory") {
    assert(wideTerms.size > BuiltIndex.MemoTerms)
    wide.termStats // the handle's schema read: one job, not a memo's
    var got = Map.empty[String, (Long, Long)]
    assert(TestSpark.jobsOf { got = wide.termStatsOf(Seq("w1", "w2", "nope")) } == 1)
    assert(got == Map("w1" -> (1L, 1L), "w2" -> (1L, 1L)))
    // single terms are held, the absent one too: a repeat costs no job,
    // another term of the same bucket one
    assert(TestSpark.jobsOf { got = wide.termStatsOf(Seq("w2", "nope", "w1")) } == 0)
    assert(got == Map("w1" -> (1L, 1L), "w2" -> (1L, 1L)))
    assert(TestSpark.jobsOf { got = wide.termStatsOf(Seq("w3")) } == 1)
    assert(BuiltIndex.statsMemo(wide.snapshotKey).heldRows == 4)
  }

  test("termStatsOf: the memo is bounded, least recently used first out") {
    val memo = BuiltIndex.statsMemo(wide.snapshotKey)
    // "w1", then "w0", then MemoTerms − 1 other terms, absent ones
    // counted, "w0" read again halfway: "w1" leaves, "w0" stays
    val fresh = wideTerms.drop(10).take(BuiltIndex.MemoTerms / 2) ++
      (0 until BuiltIndex.MemoTerms / 2 - 1).map(i => s"absent$i")
    val (h1, h2) = fresh.splitAt(fresh.size / 2)
    wide.termStatsOf(Seq("w1"))
    wide.termStatsOf(Seq("w0"))
    wide.termStatsOf(h1)
    assert(wide.termStatsOf(Seq("w0")) == Map("w0" -> (1L, 1L)))
    wide.termStatsOf(h2)
    assert(memo.heldRows == BuiltIndex.MemoTerms)
    assert(TestSpark.jobsOf { wide.termStatsOf(Seq("w0")) } == 0)
    assert(TestSpark.jobsOf { wide.termStatsOf(Seq("w1")) } == 1)
    assert(memo.heldRows <= BuiltIndex.MemoTerms)

    // past MemoSnapshots snapshots, the least recent one's memo goes
    val evicted = BuiltIndex.statsMemo("evict-0")
    (1 to BuiltIndex.MemoSnapshots).foreach(i => BuiltIndex.statsMemo(s"evict-$i"))
    assert(!(BuiltIndex.statsMemo("evict-0") eq evicted))
  }

  test("termStatsOf: a lookup past the memo's bound is still complete") {
    // every term and an absent one: 20,001 parts loaded in one job, fewer kept
    var got = Map.empty[String, (Long, Long)]
    assert(TestSpark.jobsOf { got = wide.termStatsOf(wideTerms :+ "nope") } == 1)
    assert(got == wideTerms.map(_ -> (1L, 1L)).toMap)
    assert(BuiltIndex.statsMemo(wide.snapshotKey).heldRows <= BuiltIndex.MemoTerms)
  }

  test("union term_stats buckets hold the rows of a monolithic build") {
    import spark.implicits._
    val cfg = IndexConfig(analyzer = AnalyzerConfig(), buckets = 8)
    val docs = (0 until 300).map(i => (f"u$i%04d", s"a${i % 7} b${i % 11} c${i % 50} a${i % 3}"))
    val mono = IndexBuilder.build(docs.toDF("docno", "content"), TestSpark.tmpDir("termmono"), cfg)
    val root = TestSpark.tmpDir("termunion")
    val deltas = docs.grouped(100).zipWithIndex.map { case (ds, b) =>
      graft.streaming.StreamingIngest.ingestBatch(ds.toDF("docno", "content"), b, root, cfg)
    }.toSeq
    val union = new graft.streaming.UnionIndex(spark, deltas.map(_.dir), cfg)
    def rows(ix: BuiltIndex) = ix.termStats.select("term", "bucket", "df", "max_tf", "cf")
      .as[(String, Int, Long, Int, Long)].collect().toSeq.sorted
    assert(rows(union) == rows(mono))
    val terms = rows(mono).map(_._1) :+ "nope"
    assert(union.termStatsOf(terms) == mono.termStatsOf(terms))
    assert(union.termStatsOf(terms).size == terms.size - 1)
  }
}
