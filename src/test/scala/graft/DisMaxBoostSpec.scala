package graft

import graft.analysis.AnalyzerConfig
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Searcher, Topic}
import org.scalatest.funsuite.AnyFunSuite

/** DisjunctionMaxQuery (max + tie·rest) and the boosting query (demote,
  * don't exclude), verified against the plain OR run's per-doc partials.
  */
class DisMaxBoostSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val corpus = Seq(
    "b-1" -> "apple apple apple",        // one strong clause
    "b-2" -> "apple pear",               // two moderate clauses
    "b-3" -> "pear pear plum",           // two clauses, one repeated
    "b-4" -> "plum alone here",
    "b-5" -> "apple pear bad")           // the boosting victim

  private lazy val searcher: Searcher = {
    import spark.implicits._
    val dir = TestSpark.tmpDir("dismax")
    new Searcher(IndexBuilder.build(corpus.toDF("docno", "content"), dir,
      IndexConfig(analyzer = AnalyzerConfig())))
  }

  private val topic = Topic("t", "apple pear plum")

  test("tie=1 equals the OR sum; tie=0 is the pure max") {
    val or = searcher.search(Seq(topic), 10).collect()
      .map(l => l.docno -> l.score).toMap
    val tie1 = searcher.searchDisMax(Seq(topic), 10, tieBreaker = 1.0f)
      .collect().map(l => l.docno -> l.score).toMap
    assert(tie1.keySet == or.keySet)
    tie1.foreach { case (d, s) =>
      assert(math.abs(s - or(d)) <= math.ulp(or(d)) * 4, s"$d: $s vs ${or(d)}")
    }
    // tie=0: every doc scores exactly its best single clause — b-2 must
    // drop below b-1 (its two moderate partials no longer add)
    val tie0 = searcher.searchDisMax(Seq(topic), 10, tieBreaker = 0.0f)
      .collect().map(l => l.docno -> l.score).toMap
    assert(tie0.keySet == or.keySet)
    tie0.foreach { case (d, s) => assert(s <= or(d) + math.ulp(or(d))) }
  }

  test("intermediate tie ranks by max + tie·rest") {
    val got = searcher.searchDisMax(Seq(topic), 10, tieBreaker = 0.3f)
      .collect().sortBy(_.rank).map(_.docno).toSeq
    assert(got.toSet == Set("b-1", "b-2", "b-3", "b-4", "b-5"))
  }

  test("tie=0.3 scores equal a brute-force max + 0.3·(Σ − max), bit for bit") {
    import graft.analysis.Analyzer
    import graft.search.{CollStats, Scorer}
    val an = new Analyzer(AnalyzerConfig())
    val docs = corpus.map { case (d, t) => (d, an.analyze(t).toSeq) }
    val stats = CollStats(docs.size, docs.map(_._2.size.toLong).sum)
    val bm25 = Scorer.byName("bm25")
    // sub-queries in first-occurrence term order; a repeat adds nothing
    val terms = an.analyze("pear apple pear plum").distinct.toSeq
    val want: Map[String, Float] = docs.flatMap { case (d, ts) =>
      val partials = terms.flatMap { t =>
        val tf = ts.count(_ == t)
        if (tf == 0) None
        else {
          val df = docs.count(_._2.contains(t)).toLong
          val cf = docs.map(_._2.count(_ == t).toLong).sum
          Some(bm25.score(tf.toFloat, ts.size, bm25.termWeight(df, cf, stats), stats))
        }
      }
      if (partials.isEmpty) None
      else {
        var max = Float.NegativeInfinity
        var sum = 0.0f
        partials.foreach { p => sum += p; if (p > max) max = p }
        Some(d -> (max + 0.3f * (sum - max)))
      }
    }.toMap
    val got = searcher.searchDisMax(Seq(Topic("t", "pear apple pear plum")), 10,
        tieBreaker = 0.3f).collect().map(l => l.docno -> l.score).toMap
    def bits(m: Map[String, Float]) = m.map { case (d, s) => d -> java.lang.Float.floatToIntBits(s) }
    assert(bits(got) == bits(want))
  }

  test("a repeated topic term scores once (sub-queries are a set, like the oracle's DISTINCT)") {
    // tie=1 is the OR sum, where a double-counted clause would be visible:
    // "apple apple pear" must score exactly like "apple pear" (ADVICE r5 —
    // the oracle dedupes via SELECT DISTINCT qid, term)
    val rep = searcher.searchDisMax(Seq(Topic("t", "apple apple pear")), 10,
        tieBreaker = 1.0f).collect().map(l => l.docno -> l.score).toMap
    val once = searcher.searchDisMax(Seq(Topic("t", "apple pear")), 10,
        tieBreaker = 1.0f).collect().map(l => l.docno -> l.score).toMap
    assert(rep == once)
  }

  test("boosting demotes matching docs without removing them") {
    val base = searcher.search(Seq(topic), 10).collect()
      .map(l => l.docno -> l.score).toMap
    val got = searcher.searchBoosting(Seq(topic), Seq(("t", "bad")), 0.5f, 10)
      .collect()
    val byDoc = got.map(l => l.docno -> l.score).toMap
    assert(byDoc.keySet == base.keySet) // nothing excluded
    assert(byDoc("b-5") == base("b-5") * 0.5f) // exact demote
    (byDoc.keySet - "b-5").foreach(d => assert(byDoc(d) == base(d)))
  }

  test("boosting parameter bounds are enforced") {
    intercept[IllegalArgumentException] {
      searcher.searchBoosting(Seq(topic), Seq(("t", "bad")), 1.5f, 10)
    }
    intercept[IllegalArgumentException] {
      searcher.searchDisMax(Seq(topic), 10, tieBreaker = 2.0f)
    }
  }

  test("job count: a memo-warm dismax search reads term stats from the memo") {
    searcher.searchDisMax(Seq(topic), k = 10).collect() // warms the memo
    var lines = Array.empty[graft.search.RunLine]
    val jobs = TestSpark.jobsOf {
      lines = searcher.searchDisMax(Seq(topic), k = 10).collect()
    }
    assert(lines.nonEmpty)
    // one range task with the collector in its stage; no term_stats or
    // docno job
    assert(jobs == 1, s"jobs=$jobs")
  }
}
