package graft

import graft.analysis.AnalyzerConfig
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.Searcher
import org.scalatest.funsuite.AnyFunSuite

/** SpanFirstQuery (term confined to the first N positions, stop gaps
  * preserved) and the completion suggester (prefix → top terms by
  * collection frequency).
  */
class SpanCompleteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val corpus = Seq(
    "c-1" -> "alpha beta gamma delta epsilon", // alpha@0
    "c-2" -> "the beta alpha gamma",           // alpha@2 (stop gap at 0)
    "c-3" -> "beta gamma delta epsilon alpha", // alpha@4
    "c-4" -> "beta beta gamma",                // no alpha
    "c-5" -> "alpha alpha beta")               // alpha@0,1

  private lazy val searcher: Searcher = {
    import spark.implicits._
    val dir = TestSpark.tmpDir("spanfirst")
    new Searcher(IndexBuilder.build(corpus.toDF("docno", "content"), dir,
      IndexConfig(analyzer = AnalyzerConfig(stopWords = Set("the", "a")),
        indexPositions = true)))
  }

  test("span-first matches only in-bound occurrences, freq = in-bound count") {
    // end=2: alpha@0 (c-1), alpha@0,1 (c-5, freq 2); c-2's alpha sits at
    // RAW position 2 (the stop gap counts), c-3's at 4 — both out of bound
    val got = searcher.searchSpanFirst(Seq(("f", "alpha", 2)), 10)
      .collect().sortBy(_.rank)
    assert(got.map(_.docno).toSet == Set("c-1", "c-5"))
    // c-5 has freq 2 and the shorter doc: it must outrank c-1
    assert(got.head.docno == "c-5")
  }

  test("span-first honors the stop-gap position convention") {
    // end=3 brings c-2's alpha@2 into bound
    val got = searcher.searchSpanFirst(Seq(("f", "alpha", 3)), 10)
      .collect().map(_.docno).toSet
    assert(got == Set("c-1", "c-2", "c-5"))
  }

  test("span-first batch: independent bounds per qid; unindexed term empty") {
    val got = searcher.searchSpanFirst(
      Seq(("f1", "alpha", 1), ("f2", "beta", 1), ("f3", "zzz", 5)), 10)
      .collect().groupBy(_.qid)
    assert(got("f1").map(_.docno).toSet == Set("c-1", "c-5"))
    assert(got("f2").map(_.docno).toSet == Set("c-3", "c-4"))
    assert(!got.contains("f3"))
  }

  test("span-near ordered: the NearSpansOrdered walk (stretch/shrink/consume)") {
    import spark.implicits._
    // independent brute reimplementation of the walk
    def walk(la: Seq[Int], lb: Seq[Int], slop: Int): Float = {
      var freq = 0.0f; var i = 0
      while (i < la.length) {
        val a = la(i)
        val bs = lb.filter(_ > a)
        if (bs.isEmpty) i = la.length
        else {
          val b = bs.min
          val ai = la.count(_ < b)
          val gap = b - la(ai - 1) - 1
          if (gap <= slop) freq += 1.0f / (1 + gap)
          i = ai
        }
      }
      freq
    }
    val docs = Seq(
      "n-1" -> "alpha beta",                  // gap 0
      "n-2" -> "alpha x y beta",              // gap 2
      "n-3" -> "beta alpha",                  // wrong order
      "n-4" -> "alpha x alpha beta",         // shrink: closest alpha wins
      "n-5" -> "alpha beta alpha x beta",    // two matches
      "n-6" -> "alpha x y z w beta")          // gap 4: out of slop 2
    val dir = TestSpark.tmpDir("spannear")
    val sr = new Searcher(IndexBuilder.build(docs.toDF("docno", "content"), dir,
      IndexConfig(analyzer = AnalyzerConfig(), indexPositions = true)))
    val got = sr.searchSpanNear(Seq(("n", "alpha", "beta", 2)), 10)
      .collect().map(l => l.docno -> l.score).toMap
    def positions(c: String, t: String): Seq[Int] =
      c.split(" ").zipWithIndex.filter(_._1 == t).map(_._2).toSeq
    val expectFreqs = docs.map { case (d, c) =>
      d -> walk(positions(c, "alpha"), positions(c, "beta"), 2)
    }.filter(_._2 > 0).toMap
    assert(got.keySet == expectFreqs.keySet)
    // shrink semantics: n-4's match is (alpha@2, beta@3) gap 0 — one match
    assert(expectFreqs("n-4") == 1.0f)
    // two matches in n-5: (alpha@0, beta@1) gap 0 → 1, then the walk
    // consumes alpha@0 and pairs alpha@2 with beta@4 (gap 1) → 1/2
    assert(expectFreqs("n-5") == 1.5f)
    // matched sets: wrong order and over-slop gaps excluded
    assert(!got.contains("n-3") && !got.contains("n-6"))
    // repeated-term spans are rejected (repeat pinning unsupported)
    intercept[IllegalArgumentException] {
      sr.searchSpanNear(Seq(("r", "alpha", "alpha", 1)), 10)
    }
  }

  test("span-near unordered: the NearSpansUnordered walk (min-start advance)") {
    import spark.implicits._
    // independent brute reimplementation: every min-start-advance state,
    // match when |pa−pb| − 1 ≤ slop, slop factor 1/(1+|pa−pb|)
    def walkU(la: Seq[Int], lb: Seq[Int], slop: Int): Float = {
      var freq = 0.0f; var i = 0; var j = 0
      while (i < la.length && j < lb.length) {
        val w = math.abs(la(i) - lb(j))
        if (w - 1 <= slop) freq += 1.0f / (1 + w)
        if (la(i) <= lb(j)) i += 1 else j += 1
      }
      freq
    }
    val docs = Seq(
      "u-1" -> "alpha beta",                 // forward, width 1 → 1/2
      "u-2" -> "beta alpha",                 // REVERSED still matches → 1/2
      "u-3" -> "beta x y alpha",             // width 3, slop 2: width−1=2 ok → 1/4
      "u-4" -> "alpha x y z beta",           // width 4: out of slop 2
      "u-5" -> "alpha beta alpha",           // states (0,1),(2,1) → 1/2 + 1/2
      "u-6" -> "alpha")                      // no beta
    val dir = TestSpark.tmpDir("spannearu")
    val sr = new Searcher(IndexBuilder.build(docs.toDF("docno", "content"), dir,
      IndexConfig(analyzer = AnalyzerConfig(), indexPositions = true)))
    val got = sr.searchSpanNear(Seq(("u", "alpha", "beta", 2)), 10,
        ordered = false)
      .collect().map(l => l.docno -> l.score).toMap
    def positions(c: String, t: String): Seq[Int] =
      c.split(" ").zipWithIndex.filter(_._1 == t).map(_._2).toSeq
    val expectFreqs = docs.map { case (d, c) =>
      d -> walkU(positions(c, "alpha"), positions(c, "beta"), 2)
    }.filter(_._2 > 0).toMap
    assert(got.keySet == expectFreqs.keySet)
    assert(expectFreqs("u-1") == 0.5f && expectFreqs("u-2") == 0.5f)
    assert(expectFreqs("u-3") == 0.25f)
    assert(expectFreqs("u-5") == 1.0f)
    assert(!got.contains("u-4") && !got.contains("u-6"))
    // the ordered walk on the same corpus misses the reversed docs — the
    // direction asymmetry IS the feature distinction
    val ord = sr.searchSpanNear(Seq(("o", "alpha", "beta", 2)), 10)
      .collect().map(_.docno).toSet
    assert(!ord.contains("u-2") && !ord.contains("u-3"))
  }

  test("span-near on a delete overlay drops the tombstoned doc, keeps every other score's bits") {
    import spark.implicits._
    val docs = Seq(
      "d-1" -> "alpha beta",
      "d-2" -> "beta x alpha",
      "d-3" -> "alpha x beta alpha",
      "d-4" -> "alpha beta beta",
      "d-5" -> "beta alpha x x beta")
    val idx = IndexBuilder.build(docs.toDF("docno", "content"), TestSpark.tmpDir("spandel"),
      IndexConfig(analyzer = AnalyzerConfig(), indexPositions = true))
    val ov = TestSpark.tmpDir("spandel-ovl") + "/ovl"
    graft.index.Deletes.writeDeletes(idx, Seq("d-3").toDF("docno"), ov)
    val full = new Searcher(idx)
    val deleted = new Searcher(idx.withDeletes(ov))
    Seq(true, false).foreach { ordered =>
      def bits(sr: Searcher): Map[String, Int] =
        sr.searchSpanNear(Seq(("n", "alpha", "beta", 2)), 10, ordered = ordered)
          .collect().map(l => l.docno -> java.lang.Float.floatToIntBits(l.score)).toMap
      val before = bits(full)
      assert(before.contains("d-3"), s"ordered=$ordered")
      // delete overlays keep the pre-delete statistics
      assert(bits(deleted) == before - "d-3", s"ordered=$ordered")
    }
  }

  test("complete: prefix candidates ranked by cf desc, term asc") {
    // cfs: beta 6, alpha 5, gamma 4, delta 2, epsilon 2
    val rows = searcher.complete(
        Seq(("q1", "b"), ("q2", "de"), ("q3", "nope")), topN = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ("q1").map(x => (x._2, x._3)).toSeq == Seq(("beta", 6L)))
    assert(byQ("q2").map(x => (x._2, x._3)).toSeq == Seq(("delta", 2L)))
    assert(!byQ.contains("q3"))
    // tie broken by term asc: delta and epsilon tie at cf 2
    val de = searcher.complete(Seq(("q", "d")), 5).collect()
    assert(de.map(_.getString(1)).toSeq == Seq("delta"))
    val all = searcher.complete(Seq(("q", "a")), 2).collect()
    assert(all.map(_.getString(1)).toSeq == Seq("alpha"))
  }

  test("job count: a repeated complete over 3 prefixes runs 0 jobs") {
    val prefixes = Seq(("q1", "b"), ("q2", "de"), ("q3", "g"))
    val first = searcher.complete(prefixes).collect()
    var again = Array.empty[org.apache.spark.sql.Row]
    val jobs = TestSpark.jobsOf { again = searcher.complete(prefixes).collect() }
    assert(again.toSeq == first.toSeq)
    // expansions and their collection frequencies both come from memos
    assert(jobs == 0, s"jobs=$jobs")
  }

  test("job count: a memo-warm span-first search reads term stats from the memo") {
    val spans = Seq(("s", "alpha", 3))
    searcher.searchSpanFirst(spans, k = 10).collect() // warms the memo
    var lines = Array.empty[graft.search.RunLine]
    val jobs = TestSpark.jobsOf { lines = searcher.searchSpanFirst(spans, k = 10).collect() }
    assert(lines.nonEmpty)
    // the scoring + collector stage; no term_stats or docno job
    assert(jobs == 1, s"jobs=$jobs")
  }
}
