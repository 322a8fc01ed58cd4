package graft

import graft.analysis.AnalyzerConfig
import graft.index._
import graft.search._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.shiftright
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Generated corpora and topics against [[BruteForce]], bit for bit on
  * the Float scores, in (score desc, docid asc) order: OR, AND and
  * minShouldMatch; WAND on ≡ WAND off; a tombstone overlay; k past the
  * match count; one docid range ≡ several (the range planner's
  * package-private override). The corpora mix empty docs, a term in every
  * doc, duplicate contents under different docnos (exact score ties),
  * non-ASCII terms, and runs longer than one 128-posting block. The other
  * clause kinds — phrases, span-near, span-first, synonyms, expansions —
  * run over corpora with a stopword (position gaps) and positions, under
  * one and three docid ranges and a tombstone overlay. Fixed seeds,
  * bounded sizes; a failure prints its seed and case.
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

  private def brute(c: Case, k: Int, mode: String = "or", msm: Int = 0,
                    dead: Set[String] = Set.empty): Map[String, Seq[(String, Int, Int)]] = {
    val corpus = new BruteForce.Corpus(c.docs, c.cfg.analyzer)
    BruteForce.ranked(BruteForce.search(corpus, BruteForce.topics(corpus, c.topics), k,
      mode = mode, msm = msm, dead = dead))
  }

  private def runOf(ds: Dataset[RunLine]): Map[String, Seq[(String, Int, Int)]] =
    BruteForce.ranked(ds.collect().toSeq)

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

  // ---- positional and union clause kinds ----------------------------------

  // "the" is stopped: it leaves position gaps
  private val posWord: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("a", "b", "c"), 2 -> Gen.oneOf("d", "e"), 1 -> Gen.const("the"), 1 -> Gen.oneOf(wide))

  private final case class PosCase(docs: Seq[(String, String)], dead: Set[String],
                                   cfg: IndexConfig, t: Seq[String])

  private val genPosCase: Gen[PosCase] = for {
    n <- Gen.frequency(1 -> Gen.choose(1, 12), 3 -> Gen.choose(150, 320))
    raw <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(None),
      9 -> Gen.choose(0, 12).flatMap(Gen.listOfN(_, posWord)).map(ws => Some(ws.mkString(" ")))))
    ranges <- Gen.oneOf(1, 3)
    shift <- Gen.oneOf(5, 18)
    t <- Gen.pick(3, Seq("a", "b", "c", "d")).flatMap(ws => Gen.oneOf(ws.toSeq.permutations.toSeq))
    deadBits <- Gen.listOfN(n, Gen.frequency(1 -> true, 6 -> false))
  } yield {
    val texts = raw.scanLeft("")((prev, c) => c.getOrElse(prev)).tail
    val docs = texts.zipWithIndex.map { case (x, i) => f"d$i%04d" -> x }
    PosCase(docs, docs.map(_._1).zip(deadBits).collect { case (d, true) => d }.toSet,
      IndexConfig(analyzer = AnalyzerConfig(stopWords = Set("the")), buckets = 4,
        groupShift = shift, mergeShift = 1, rangePartitions = ranges, indexPositions = true), t)
  }

  // each generated case's index and tombstone overlay, built once for
  // every property (the properties draw the same cases from one seed)
  private val built = scala.collection.concurrent.TrieMap.empty[PosCase, (BuiltIndex, BuiltIndex)]

  private def indexes(c: PosCase): (BuiltIndex, BuiltIndex) = built.getOrElseUpdate(c, {
    import spark.implicits._
    val idx = IndexBuilder.build(c.docs.toDF("docno", "content"), TestSpark.tmpDir("rangepos"), c.cfg)
    val ov = TestSpark.tmpDir("rangeposdel") + "/ovl"
    Deletes.writeDeletes(idx, c.dead.toSeq.toDF("docno"), ov)
    (idx, idx.withDeletes(ov))
  })

  private val posSeed = 20261020L

  /** `engine` under P = 1 and P = 3 and on the tombstone overlay ≡ the
    * brute force of `queries`, bit for bit, for every generated case.
    */
  private def posProperty(kind: String)(queries: PosCase => Seq[(String, Seq[BruteForce.Clause])])
                         (engine: (Searcher, PosCase, Int) => Seq[RunLine]): Unit = {
    val k = 20
    def check(c: PosCase): Unit = {
      val (idx, overlay) = indexes(c)
      val corpus = new BruteForce.Corpus(c.docs, c.cfg.analyzer)
      def want(dead: Set[String]) = BruteForce.ranked(BruteForce.search(corpus, queries(c), k, dead = dead))
      for ((what, s, dead) <- Seq(("P=1", new Searcher(idx, 1), Set.empty[String]),
          ("P=3", new Searcher(idx, 3), Set.empty[String]), ("overlay", new Searcher(overlay), c.dead))) {
        val got = BruteForce.ranked(engine(s, c, k))
        assert(got == want(dead), s"$kind $what (seed $posSeed) on ${c.docs.size} docs, ${c.cfg}, " +
          s"query words ${c.t}, docs ${c.docs}")
      }
    }
    val params = Test.Parameters.default.withInitialSeed(Seed(posSeed))
      .withMinSuccessfulTests(4).withWorkers(1).withMaxDiscardRatio(1)
    val res = Test.check(params, Prop.forAllNoShrink(genPosCase)(c => { check(c); true }))
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  private def lines(ds: Dataset[RunLine]): Seq[RunLine] = ds.collect().toSeq

  test("phrase cursors ≡ brute force: slop 0 and 1, stop gaps, union slots, repeats") {
    import BruteForce.{Phrase, Term}
    def phrases(t: Seq[String]) = Seq(
      "p0" -> Seq((t(0), 0), (t(1), 1)) -> 0, "p1" -> Seq((t(1), 0), (t(2), 2)) -> 0,
      "p2" -> Seq((t(0), 0), (t(1), 1)) -> 1, "p3" -> Seq((t(0), 0), (t(1), 1), (t(2), 1)) -> 0,
      "p4" -> Seq((t(2), 0), (t(0), 1), (t(2), 2)) -> 0, "p5" -> Seq((t(0), 0), (t(1), 1), (t(0), 2)) -> 1)
    posProperty("phrase")(c => phrases(c.t).map { case ((q, ts), slop) =>
      q -> ((if (q == "p0") Seq(Term(c.t(0))) else Nil) :+ Phrase(ts, slop))
    }) { (s, c, k) =>
      lines(s.searchClauses(Seq(WeightedClause("p0", 0, c.t(0), 1.0f)), k,
        phraseClauses = phrases(c.t).map { case ((q, ts), slop) =>
          PhraseClause(q, if (q == "p0") 1 else 0, ts, 1.0f, slop)
        }))
    }
  }

  test("span-near cursors ≡ brute force: ordered and unordered") {
    def spans(t: Seq[String]) = Seq(("n0", t(0), t(1), 1), ("n1", t(1), t(2), 0), ("n2", t(2), t(0), 3))
    for (ordered <- Seq(true, false))
      posProperty(s"span-near ordered=$ordered")(c => spans(c.t).map { case (q, a, b, slop) =>
        q -> Seq(BruteForce.Near(a, b, slop, ordered))
      })((s, c, k) => lines(s.searchSpanNear(spans(c.t), k, ordered = ordered)))
  }

  test("span-first cursors ≡ brute force") {
    def spans(t: Seq[String]) = Seq(("f0", t(0), 1), ("f1", t(1), 3), ("f2", t(2), 8))
    posProperty("span-first")(c => spans(c.t).map { case (q, w, end) =>
      q -> Seq(BruteForce.First(w, end))
    })((s, c, k) => lines(s.searchSpanFirst(spans(c.t), k)))
  }

  test("synonym cursors ≡ brute force: one tf sum, one similarity call") {
    def groups(t: Seq[String]) = Seq("s0" -> Seq(t(0), t(1)), "s1" -> Seq(t(0), "zzz", t(2)),
      "s2" -> Seq(t(1), "e"))
    posProperty("synonym")(c => groups(c.t).map { case (q, ts) =>
      q -> ((if (q == "s0") Seq(BruteForce.Term(c.t(2))) else Nil) :+ BruteForce.Synonym(ts))
    }) { (s, c, k) =>
      lines(s.searchClauses(Seq(WeightedClause("s0", 0, c.t(2), 1.0f)), k,
        synonymClauses = groups(c.t).map { case (q, ts) => SynonymClause(q, if (q == "s0") 1 else 0, ts, 1.0f) }))
    }
  }

  test("expansion cursors ≡ brute force: the boost once per doc") {
    def exps(t: Seq[String]) = Seq(("e0", Seq(t(0), t(1)), 1.0f), ("e1", Seq(t(0), t(1), t(2), "zzz"), 0.5f))
    posProperty("expansion")(c => exps(c.t).map { case (q, ts, b) =>
      q -> ((if (q == "e0") Seq(BruteForce.Term(c.t(2))) else Nil) :+ BruteForce.Expansion(ts, b))
    }) { (s, c, k) =>
      lines(s.searchClauses(Seq(WeightedClause("e0", 0, c.t(2), 1.0f)), k,
        expansionClauses = exps(c.t).map { case (q, ts, b) => ExpansionClause(q, if (q == "e0") 1 else 0, ts, b) }))
    }
  }
}
