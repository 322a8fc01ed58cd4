package graft

import graft.analysis.{Analyzer, AnalyzerConfig}
import graft.index._
import graft.search._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.shiftright
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Generated corpora and topics against a brute-force BM25, bit for bit on
  * the Float scores, in (score desc, docid asc) order: OR, AND and
  * minShouldMatch; WAND on ≡ WAND off; a tombstone overlay; k past the
  * match count; one docid range ≡ several (the range planner's
  * package-private override). The corpora mix empty docs, a term in every
  * doc, duplicate contents under different docnos (exact score ties),
  * non-ASCII terms, and runs longer than one 128-posting block. Fixed
  * seed, bounded sizes.
  */
class RangeScorerPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val words = Vector("w0", "w1", "w2", "w3", "w4", "w5", "w6", "w7", "w8", "w9")
  private val wide = Vector("café", "über", "日本", "ñandú")
  private val vocab = words ++ wide

  /** A skewed draw: low word indexes are frequent. */
  private val word: Gen[String] = Gen.frequency(
    8 -> Gen.choose(0, 2).map(words), 4 -> Gen.choose(3, 9).map(words), 2 -> Gen.oneOf(wide))

  // None: repeat the previous document's content
  private val content: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(Some("")),
    2 -> Gen.const(None),
    17 -> Gen.choose(0, 7).flatMap(n => Gen.listOfN(n, word)).map(ws => Some(("all" +: ws).mkString(" "))))

  private final case class Case(docs: Seq[(String, String)], topics: Seq[Topic],
                                dead: Set[String], cfg: IndexConfig)

  private val genCase: Gen[Case] = for {
    n <- Gen.frequency(1 -> Gen.choose(1, 12), 3 -> Gen.choose(150, 320))
    raw <- Gen.listOfN(n, content)
    ranges <- Gen.oneOf(1, 3)
    shift <- Gen.oneOf(5, 18)
    t1 <- Gen.choose(2, 3).flatMap(Gen.listOfN(_, word))
    t2 <- word
    t3 <- word
    t4 <- Gen.oneOf(vocab)
    deadBits <- Gen.listOfN(n, Gen.frequency(1 -> true, 6 -> false))
  } yield {
    val texts = raw.scanLeft("")((prev, c) => c.getOrElse(prev)).tail
    val docs = texts.zipWithIndex.map { case (t, i) => f"d$i%04d" -> t }
    val topics = Seq(Topic("t1", t1.mkString(" ")), Topic("t2", s"all $t2"),
      Topic("t3", s"$t3 zzz $t3"), Topic("t4", t4))
    Case(docs, topics, docs.map(_._1).zip(deadBits).collect { case (d, true) => d }.toSet,
      IndexConfig(analyzer = AnalyzerConfig(), buckets = 4, groupShift = shift,
        mergeShift = 1, rangePartitions = ranges))
  }

  /** (docno, rank, score bits) per qid: the analyzer, bm25, N = maxDoc and
    * pre-delete statistics, clause-order Float sums, ties by docno (docids
    * follow docno order).
    */
  private def brute(c: Case, k: Int, mode: String = "or", msm: Int = 0,
                    dead: Set[String] = Set.empty): Map[String, Seq[(String, Int, Int)]] = {
    val an = new Analyzer(c.cfg.analyzer)
    val docs = c.docs.map { case (d, t) => (d, an.analyze(t).toSeq) }
    val stats = CollStats(docs.size, docs.map(_._2.size.toLong).sum)
    val df = docs.flatMap(_._2.distinct).groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    c.topics.flatMap { t =>
      val clauses = an.analyze(t.text).toSeq
      val needed = if (mode == "and") clauses.size else msm
      val hits = docs.filterNot(d => dead(d._1)).flatMap { case (docno, ts) =>
        val tf = ts.groupBy(identity).map { case (w, o) => w -> o.size }
        val partials = clauses.flatMap(w => tf.get(w).map(f =>
          Bm25Scorer.score(f.toFloat, ts.size, Bm25Scorer.termWeight(df(w), 0L, stats), stats)))
        if (partials.isEmpty || partials.size < needed) None
        else {
          var s = 0.0f
          partials.foreach(s += _)
          Some((docno, s))
        }
      }.sortWith((x, y) => x._2 > y._2 || (x._2 == y._2 && x._1 < y._1)).take(k)
      Option.when(hits.nonEmpty)(t.qid -> hits.zipWithIndex.map { case ((d, s), i) =>
        (d, i, java.lang.Float.floatToIntBits(s))
      })
    }.toMap
  }

  private def runOf(ds: Dataset[RunLine]): Map[String, Seq[(String, Int, Int)]] =
    ds.collect().toSeq.groupBy(_.qid).map { case (q, ls) =>
      q -> ls.sortBy(_.rank).map(l => (l.docno, l.rank, java.lang.Float.floatToIntBits(l.score)))
    }

  private def check(c: Case): Unit = {
    import spark.implicits._
    val idx = IndexBuilder.build(c.docs.toDF("docno", "content"), TestSpark.tmpDir("rangeprop"), c.cfg)
    val ov = TestSpark.tmpDir("rangepropdel") + "/ovl"
    Deletes.writeDeletes(idx, c.dead.toSeq.toDF("docno"), ov)
    val overlay = idx.withDeletes(ov)
    val kBig = c.docs.size + 5
    def eq(what: String, got: Map[String, Seq[(String, Int, Int)]],
           want: Map[String, Seq[(String, Int, Int)]]): Unit =
      assert(got == want, s"$what on ${c.docs.size} docs, ${c.cfg}, topics ${c.topics}")
    for (p <- Seq(0, 3)) { // 0: the planner's P; 3: three docid ranges
      val s = new Searcher(idx, p)
      val d = new Searcher(overlay, p)
      for (k <- Seq(3, 10)) {
        eq(s"OR k=$k P=$p", runOf(s.search(c.topics, k)), brute(c, k))
        eq(s"WAND k=$k P=$p", runOf(s.search(c.topics, k, pruning = true)), brute(c, k))
        eq(s"overlay WAND k=$k P=$p", runOf(d.search(c.topics, k, pruning = true)),
          brute(c, k, dead = c.dead))
      }
      eq(s"OR k>matches P=$p", runOf(s.search(c.topics, kBig)), brute(c, kBig))
      eq(s"AND P=$p", runOf(s.searchAnd(c.topics, 10)), brute(c, 10, mode = "and"))
      eq(s"msm=2 P=$p", runOf(s.search(c.topics, 10, minShouldMatch = 2)), brute(c, 10, msm = 2))
      eq(s"overlay OR P=$p", runOf(d.search(c.topics, kBig)), brute(c, kBig, dead = c.dead))
    }
  }

  test("regression: a run crossing a docid group keeps every posting under P > 1") {
    import spark.implicits._
    // 199 docs in three groups of ~67 and 32-docid runs: some runs cross
    // from one group's tail into the next group's head, where ranges restart
    val rnd = new scala.util.Random(5)
    val docs = (0 until 199).map(i =>
      f"d$i%04d" -> ("all " + Seq.fill(rnd.nextInt(6))(s"w${rnd.nextInt(3)}").mkString(" ")))
    val cfg = IndexConfig(analyzer = AnalyzerConfig(), buckets = 4, groupShift = 5,
      mergeShift = 1, rangePartitions = 3)
    val idx = IndexBuilder.build(docs.toDF("docno", "content"), TestSpark.tmpDir("rangecross"), cfg)
    val crossing = idx.postings.where($"term" === "w1")
      .where(shiftright($"first_docid", 40) =!= shiftright($"last_docid", 40)).count()
    assert(crossing > 0, "the fixture needs a run crossing a docid group")
    val c = Case(docs, Seq(Topic("t1", "w1 w1"), Topic("t2", "w0 w2")), Set.empty, cfg)
    for (p <- Seq(1, 2, 3))
      assert(runOf(new Searcher(idx, p).search(c.topics, 300)) == brute(c, 300), s"P=$p")
  }

  test("range tasks ≡ brute force on generated corpora (score bits, tie order)") {
    val params = Test.Parameters.default.withInitialSeed(Seed(20261019L))
      .withMinSuccessfulTests(6).withWorkers(1).withMaxDiscardRatio(1)
    val res = Test.check(params, Prop.forAllNoShrink(genCase)(c => { check(c); true }))
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}
