package graft

import graft.analysis.AnalyzerConfig
import graft.index.{BuiltIndex, IndexBuilder, IndexConfig}
import graft.search.{RunLine, Searcher, Topic}
import graft.streaming.{StreamingIngest, UnionIndex}
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

/** The per-snapshot memos of a search: term_stats buckets
  * ([[BuiltIndex.termStatsOf]]) and docno pages ([[Searcher.docnoLookup]]),
  * both keyed by [[BuiltIndex.snapshotKey]].
  *
  *   - an index rebuilt at the same path is a new snapshot;
  *   - a loaded page answers a docid no document holds with null;
  *   - pages are bounded and leave least recently used first, and a lookup
  *     past the bound is still complete;
  *   - a cold lookup whose pages span more than the page-load cap reads
  *     only its ids;
  *   - a union of deltas gives the docnos of a rebuild;
  *   - run lines are bit-identical whether the memos are cold or warm.
  */
class SnapshotMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cfg = IndexConfig(analyzer = AnalyzerConfig(), buckets = 8)

  private def corpus(prefix: String, n: Int, salt: Int): Seq[(String, String)] =
    (0 until n).map(i => (f"$prefix$i%05d", s"k${i % 7} k${(i * salt) % 13} m${i % 31}"))

  private def build(docs: Seq[(String, String)], dir: String): BuiltIndex = {
    import spark.implicits._
    IndexBuilder.build(docs.toDF("docno", "content"), dir, cfg)
  }

  private val topics = Seq(Topic("1", "k1 m3"), Topic("2", "k5 k9 m30"), Topic("3", "m7"))

  /** (qid, docno, rank, score bits) of every line. */
  private def bits(ds: Dataset[RunLine]): Seq[(String, String, Int, Int)] =
    ds.collect().toSeq.map(l => (l.qid, l.docno, l.rank, java.lang.Float.floatToIntBits(l.score)))

  test("snapshot key: an index rebuilt at the same path answers from its new corpus") {
    val dir = TestSpark.tmpDir("memorebuild")
    val a = build(corpus("a", 600, 3), dir)
    val before = a.termStatsOf(Seq("k1", "m3"))
    val aLines = new Searcher(a).search(topics, k = 20).collect()
    assert(aLines.nonEmpty && aLines.forall(_.docno.startsWith("a")))

    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
    // half the documents, a different term mix: other df, other docnos on
    // the same docids
    val bDocs = corpus("b", 300, 5)
    val b = build(bDocs, dir)
    val reopened = BuiltIndex.open(spark, dir)
    assert(b.snapshotKey != a.snapshotKey && reopened.snapshotKey == b.snapshotKey)
    val want = bDocs.flatMap(_._2.split(" ").distinct).groupBy(identity).map { case (t, ts) => t -> ts.size.toLong }
    val got = reopened.termStatsOf(Seq("k1", "m3"))
    assert(got.map { case (t, (df, _)) => t -> df } == Map("k1" -> want("k1"), "m3" -> want("m3")))
    assert(got != before)
    val bLines = new Searcher(reopened).search(topics, k = 20).collect()
    assert(bLines.nonEmpty && bLines.forall(_.docno.startsWith("b")))
    assert(bLines.toSeq == new Searcher(build(bDocs, TestSpark.tmpDir("memofresh"))).search(topics, k = 20).collect().toSeq)
  }

  private lazy val idx = build(corpus("d", 2000, 3), TestSpark.tmpDir("memopages"))

  /** Every (docid, docno) of the index's docs table. */
  private def allDocs(ix: BuiltIndex): Map[Long, String] = {
    import spark.implicits._
    ix.docs.select("docid", "docno").as[(Long, String)].collect().toMap
  }

  test("docno pages: a docid no document holds is dropped, and costs no job on a loaded page") {
    val all = allDocs(idx)
    val s = new Searcher(idx)
    // the docids of each page's first and last document, and one past the
    // last: on a loaded page, held by no document
    val pages = all.keys.groupBy(_ >> Searcher.PageShift).values.toSeq
    assert(pages.size > 1)
    val edges = pages.flatMap(p => Seq(p.min, p.max))
    val absent = pages.map(_.max + 1).filter(d => !all.contains(d) && d >> Searcher.PageShift == (d - 1) >> Searcher.PageShift)
    assert(absent.nonEmpty)
    s.docnoLookup(edges.toArray)
    var got: Searcher.Docnos = null
    assert(TestSpark.jobsOf { got = s.docnoLookup((edges ++ absent).toArray) } == 0)
    assert(edges.forall(d => got(d).toString == all(d)) && absent.forall(got(_) == null))
  }

  test("docno pages: bounded, least recently used page first out; a lookup past the bound is complete") {
    val memo = Searcher.docnoPages
    val all = allDocs(idx)
    val byPage = all.keys.groupBy(_ >> Searcher.PageShift).map { case (p, ds) => p -> ds.toSeq.sorted }
    val Seq(p0, p1) = byPage.keys.toSeq.sorted.take(2)
    val s = new Searcher(idx)
    def jobs(p: Long): Int = TestSpark.jobsOf {
      val got = s.docnoLookup(byPage(p).toArray)
      assert(byPage(p).forall(d => got(d).toString == all(d)))
    }
    jobs(p0); jobs(p1)
    assert(jobs(p0) == 0 && jobs(p1) == 0)
    // a synthetic page that fills the memo up to p1's rows: every page
    // used before p1, p0 included, leaves; p1 stays
    def page(n: Int) = new Searcher.Docnos(Array.tabulate(n)(_.toLong), new Array(n))
    val fill = Searcher.MemoDocnos - byPage(p1).size
    memo.getAll(Seq(("synthetic", 0L)))(ks => ks.map(_ -> page(fill)).toMap)
    assert(memo.heldRows == Searcher.MemoDocnos)
    assert(jobs(p1) == 0)
    assert(jobs(p0) == 1)
    assert(memo.heldRows <= Searcher.MemoDocnos)

    // a page larger than the bound is answered but not kept
    var loads = 0
    def huge = memo.getAll(Seq(("synthetic", 1L))) { ks => loads += 1; ks.map(_ -> page(Searcher.MemoDocnos + 1)).toMap }
    assert(huge(("synthetic", 1L)).ids.length == Searcher.MemoDocnos + 1)
    assert(huge(("synthetic", 1L)).ids.length == Searcher.MemoDocnos + 1 && loads == 2)
    assert(memo.heldRows <= Searcher.MemoDocnos)
  }

  test("docno pages: a cold lookup spanning more than PageLoadMax docids reads only its ids and keeps no page") {
    import Searcher.PageShift
    val all = allDocs(idx)
    TestSpark.coldDocnos()
    val s = new Searcher(idx)
    // three documents, and one docid on each of enough empty pages past
    // the last document that the cold pages span more than PageLoadMax
    val real = all.keys.toSeq.sorted.take(3)
    val last = all.keys.max >> PageShift
    val far = (1 to (Searcher.PageLoadMax >> PageShift) + 1).map(i => ((last + i) << PageShift) + 1)
    val ids = (real ++ far).toArray
    var got: Searcher.Docnos = null
    assert(TestSpark.jobsOf { got = s.docnoLookup(ids) } == 1)
    assert(real.forall(d => got(d).toString == all(d)) && far.forall(got(_) == null))
    assert(TestSpark.jobsOf { s.docnoLookup(ids) } == 1)
    // the three alone load their page, so a repeat runs no job
    assert(TestSpark.jobsOf { got = s.docnoLookup(real.toArray) } == 1)
    assert(TestSpark.jobsOf { got = s.docnoLookup(real.toArray) } == 0)
    assert(real.forall(d => got(d).toString == all(d)))
  }

  test("docno pages: a union of deltas gives the docnos of a rebuild") {
    import spark.implicits._
    val docs = corpus("u", 900, 3)
    val root = TestSpark.tmpDir("memounion")
    val deltas = docs.grouped(300).zipWithIndex.map { case (ds, b) =>
      StreamingIngest.ingestBatch(ds.toDF("docno", "content"), b, root, cfg)
    }.toSeq
    val union = new UnionIndex(spark, deltas.map(_.dir), cfg)
    val rebuilt = build(docs, TestSpark.tmpDir("memurebuild"))
    // every union docid's docno, across the deltas' epochs
    val all = allDocs(union)
    val got = new Searcher(union).docnoLookup(all.keys.toArray)
    assert(all.size == docs.size && all.forall { case (d, n) => got(d).toString == n })
    assert(all.values.toSet == allDocs(rebuilt).values.toSet)
    assert(bits(new Searcher(union).search(topics, k = 50)) == bits(new Searcher(rebuilt).search(topics, k = 50)))
  }

  test("run lines are bit-identical with cold and warm memos") {
    val dir = TestSpark.tmpDir("memocold")
    val docs = corpus("c", 1500, 7)
    val s = new Searcher(build(docs, dir))
    def runs: Seq[Seq[(String, String, Int, Int)]] = Seq(
      bits(s.search(topics, k = 30)), bits(s.searchAnd(topics, k = 30)),
      bits(s.search(topics, k = 30, pruning = true)))
    var cold = Seq.empty[Seq[(String, String, Int, Int)]]
    val coldJobs = TestSpark.jobsOf { cold = runs }
    var warm = Seq.empty[Seq[(String, String, Int, Int)]]
    val warmJobs = TestSpark.jobsOf { warm = runs }
    assert(cold.forall(_.nonEmpty) && warm == cold)
    // the cold round loads the buckets and pages; the warm one runs only
    // its three range tasks
    assert(coldJobs > warmJobs && warmJobs == 3, s"cold=$coldJobs warm=$warmJobs")
  }
}
