package graft

import graft.search._
import graft.search.BoolQuery.{EBool, EConst, ELeaf, TreeSpec}
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side clause plan, built without a Spark session from a
  * term-stats map: queryNorm over every clause kind, AND-mode dead qids,
  * the qids WAND may prune, slot numbering and the argument checks.
  */
class ClausePlanSpec extends AnyFunSuite {
  private val stats = CollStats(100, 1000)
  private val dfs = Map("a" -> (10L, 20L), "b" -> (3L, 5L), "c" -> (50L, 80L), "d" -> (1L, 1L))

  private def plan(clauses: Seq[WeightedClause] = Nil,
                   phrases: Seq[PhraseClause] = Nil,
                   expansions: Seq[ExpansionClause] = Nil,
                   blended: Seq[BlendedClause] = Nil,
                   synonyms: Seq[SynonymClause] = Nil,
                   trees: Map[String, TreeSpec] = Map.empty,
                   mode: String = "or", msm: Int = 0, pruning: Boolean = false,
                   negTerms: Seq[(String, String)] = Nil,
                   excludeDocnos: Map[String, Set[String]] = Map.empty,
                   collapse: Boolean = false, filter: Boolean = false,
                   positions: Boolean = true, scorer: Scorer = Bm25Scorer,
                   lookups: java.util.concurrent.atomic.AtomicInteger = null): ClausePlan =
    new ClausePlan(clauses, phrases, expansions, blended, synonyms, trees, mode, msm,
      pruning, negTerms, excludeDocnos, collapse, filter, positions, scorer, stats,
      { ts =>
        if (lookups != null) lookups.incrementAndGet()
        val want = ts.toSet
        dfs.filter { case (t, _) => want(t) }
      })

  private def bits(f: Float): Int = java.lang.Float.floatToIntBits(f)

  test("classic TF-IDF queryNorm: every clause kind, unindexed terms included") {
    val c = ClassicScorer
    val p = plan(
      clauses = Seq(WeightedClause("q", 0, "a", 2.0f), WeightedClause("q", 1, "zz", 1.0f)),
      phrases = Seq(PhraseClause("q", 2, Seq(("a", 0), ("b", 1)), 1.5f)),
      expansions = Seq(ExpansionClause("q", 3, Seq("c", "d"), 0.5f)),
      blended = Seq(BlendedClause("q", 4, Seq(("a", 1.0f), ("b", 0.5f)), 1.0f)),
      synonyms = Seq(SynonymClause("q", 5, Seq("b", "c"), 2.0f)),
      scorer = c)
    val w = Seq(
      c.termWeight(10, 20, stats) * 2.0f,
      c.termWeight(0, 0, stats) * 1.0f,
      c.phraseWeight(Seq((10L, 20L), (3L, 5L)), stats) * 1.5f,
      0.5f, // constant-score expansion
      c.termWeight(10, 20, stats) * 1.0f, // blended: max df, max cf
      c.termWeight(50, 85, stats) * 2.0f) // synonym: max df, summed cf
    val qn = c.queryNorm(w)
    assert(qn != 1.0f)
    assert(bits(p.qnByQid("q")) == bits(qn))
    assert(p.maxOverlap == Map("q" -> 6))
    // queryNorm is folded into every clause boost; "a" as a term clause and
    // as a blended expansion shares one weight, so one group serves both
    val Array((aWeight, aClauses)) = p.terms("a")
    assert(bits(aWeight) == bits(c.termWeight(10, 20, stats)))
    assert(aClauses.map(e => bits(e._3)).toSet == Set(bits(2.0f * qn), bits(1.0f * 1.0f * qn)))
    assert(p.phrases.map(pc => bits(pc.boost)) == Seq(bits(1.5f * qn)))
    assert(p.expansions.map(e => (e.terms, bits(e.boost))) == Seq((Seq("c", "d"), bits(0.5f * qn))))
    assert(p.synonyms.map(sc => (bits(sc.weight), bits(sc.boost))) ==
      Seq((bits(c.termWeight(50, 85, stats)), bits(2.0f * qn))))
  }

  test("classic TF-IDF queryNorm in tree mode: prohibited clauses out, match-all entries in") {
    val c = ClassicScorer
    // a SHOULD, b under MUST_NOT, two scoring match-all nodes
    val root = EBool(Array((1, ELeaf(0)), (2, ELeaf(1)), (1, EConst(1.0f)), (1, EConst(1.0f))))
    val p = plan(
      clauses = Seq(WeightedClause("t", 0, "a", 1.0f), WeightedClause("t", 1, "b", 1.0f)),
      trees = Map("t" -> TreeSpec(root, Set(1), 2)), scorer = c)
    val qn = c.queryNorm(Seq(c.termWeight(10, 20, stats), 1.0f, 1.0f))
    assert(bits(p.qnByQid("t")) == bits(qn))
    val EBool(folded) = p.treeEval("t")
    assert(folded(2)._2 == EConst(1.0f * qn))
    // the match-all branch matches a document holding neither leaf
    assert(p.complementQids.map(_._1) == Seq("t"))
    assert(p.maxOverlap == Map("t" -> 2))
  }

  test("AND mode: each clause kind can kill its qid, and dead qids plan nothing") {
    val clauses = Seq(WeightedClause("t1", 0, "zz", 1.0f), WeightedClause("ok", 0, "a", 1.0f))
    val phrases = Seq(PhraseClause("t2", 0, Seq(("a", 0), ("zz", 1)), 1.0f))
    val expansions = Seq(ExpansionClause("t3", 0, Nil, 1.0f))
    val blended = Seq(BlendedClause("t4", 0, Seq(("zz", 1.0f), ("yy", 0.5f)), 1.0f),
      BlendedClause("ok", 1, Seq(("zz", 1.0f), ("b", 0.5f)), 1.0f))
    val synonyms = Seq(SynonymClause("t5", 0, Seq("zz", "yy"), 1.0f),
      SynonymClause("ok", 2, Seq("zz", "c"), 1.0f))
    val and = plan(clauses, phrases, expansions, blended, synonyms, mode = "and")
    assert(and.deadQids == Set("t1", "t2", "t3", "t4", "t5"))
    assert(and.slots.keySet == Set("ok"))
    assert(and.terms.values.flatMap(_.toSeq.flatMap(_._2.toSeq.map(_._1))).toSet == Set("ok"))
    assert(and.synonyms.map(_.terms) == Seq(Seq("c"))) // the unindexed member is dropped
    assert(and.phrases.isEmpty && and.expansions.isEmpty)
    // OR mode kills nothing: only unindexed terms drop out
    val or = plan(clauses, phrases, expansions, blended, synonyms)
    assert(or.deadQids.isEmpty)
    assert(or.phrases.map(_.qid) == Seq("t2"))
    assert(or.slots.keySet == Set("t1", "t2", "ok"))
  }

  test("pruneQids: pure term qids only, under a pruning-safe scorer in OR mode") {
    val terms = Seq("plain", "ph", "neg", "ex", "exp", "bl", "syn")
      .map(q => WeightedClause(q, 0, "a", 1.0f))
    val p = plan(terms, pruning = true,
      phrases = Seq(PhraseClause("ph", 1, Seq(("a", 0), ("b", 1)), 1.0f)),
      expansions = Seq(ExpansionClause("exp", 1, Seq("c"), 1.0f)),
      blended = Seq(BlendedClause("bl", 1, Seq(("b", 1.0f)), 1.0f)),
      synonyms = Seq(SynonymClause("syn", 1, Seq("b"), 1.0f)),
      negTerms = Seq("neg" -> "b"), excludeDocnos = Map("ex" -> Set("d-1")))
    assert(p.pruneQids == Set("plain"))
    assert(terms.filter(c => p.pruneQids(c.qid)) == Seq(terms.head))
    assert(plan(terms, pruning = false).pruneQids.isEmpty)
    assert(plan(terms, pruning = true, mode = "and").pruneQids.isEmpty)
    assert(plan(terms, pruning = true, scorer = ClassicScorer).pruneQids.isEmpty)
    // a tree prunes iff it is a SHOULD-only term tree
    val flat = EBool(Array((1, ELeaf(0)), (1, ELeaf(1))))
    val must = EBool(Array((0, ELeaf(0)), (1, ELeaf(1))))
    val two = Seq("f", "m").flatMap(q =>
      Seq(WeightedClause(q, 0, "a", 1.0f), WeightedClause(q, 1, "b", 1.0f)))
    val tp = plan(two, pruning = true,
      trees = Map("f" -> TreeSpec(flat, Set.empty, 0), "m" -> TreeSpec(must, Set.empty, 0)))
    assert(tp.pruneQids == Set("f"))
  }

  test("slots: (qidx, expansion rank) order, blended expansions one slot each") {
    val p = plan(
      clauses = Seq(WeightedClause("q", 2, "c", 1.0f), WeightedClause("r", 0, "a", 1.0f)),
      phrases = Seq(PhraseClause("q", 1, Seq(("a", 0), ("b", 1)), 1.0f)),
      // the unindexed "zz" takes no slot; "b" then "a" in rank order
      blended = Seq(BlendedClause("q", 0, Seq(("b", 0.5f), ("zz", 1.0f), ("a", 1.0f)), 2.0f)))
    assert(p.slots("q").toSeq == Seq(0, 0, 1, 2))
    assert(p.slots("r").toSeq == Seq(0))
    val blendW = Bm25Scorer.termWeight(10, 20, stats) // max df, max cf of {a, b}
    def entries(t: String) = p.terms(t).toSeq.flatMap { case (w, cs) =>
      cs.toSeq.map(c => (c._1, c._2, bits(w), bits(c._3)))
    }.toSet
    assert(entries("b") == Set(("q", 0, bits(blendW), bits(0.5f * 2.0f))))
    assert(entries("a") == Set(("q", 1, bits(blendW), bits(1.0f * 2.0f)),
      ("r", 0, bits(Bm25Scorer.termWeight(10, 20, stats)), bits(1.0f))))
    assert(entries("c") == Set(("q", 3, bits(Bm25Scorer.termWeight(50, 80, stats)), bits(1.0f))))
    assert(p.phrases.map(_.slot) == Seq(2))
    // one weight group per distinct weight: "a" serves both at one weight
    assert(p.terms("a").length == 1)
  }

  test("termPlan: entries group by term, then by weight") {
    val tp = ClausePlan.termPlan(Seq(
      ("a", 1.0f, ("q", 0, 1.0f)), ("a", 2.0f, ("q", 1, 0.5f)), ("a", 1.0f, ("r", 0, 1.0f)),
      ("b", 3.0f, ("q", 2, 1.0f))))
    assert(tp.keySet == Set("a", "b"))
    assert(tp("a").map { case (w, cs) => w -> cs.toSeq }.toMap ==
      Map(1.0f -> Seq(("q", 0, 1.0f), ("r", 0, 1.0f)), 2.0f -> Seq(("q", 1, 0.5f))))
  }

  test("argument checks: each message, and no term-stats lookup before them") {
    val a = Seq(WeightedClause("q", 0, "a", 1.0f))
    def fails(msg: String)(build: java.util.concurrent.atomic.AtomicInteger => ClausePlan): Unit = {
      val lookups = new java.util.concurrent.atomic.AtomicInteger
      val e = intercept[IllegalArgumentException](build(lookups))
      assert(e.getMessage.contains(msg), e.getMessage)
      assert(lookups.get == 0)
    }
    fails("minShouldMatch requires flat OR mode without trees or pruning")(l =>
      plan(a, msm = 2, mode = "and", lookups = l))
    fails("phrase clauses need a positions-enabled index")(l =>
      plan(phrases = Seq(PhraseClause("q", 0, Seq(("a", 0), ("b", 1)), 1.0f)),
        positions = false, lookups = l))
    fails("slot alternatives (MultiPhraseQuery union slots) require slop == 0")(l =>
      plan(phrases = Seq(PhraseClause("q", 0, Seq(("a", 0), ("b", 0), ("c", 1)), 1.0f, 2)),
        lookups = l))
    fails("tree evaluation carries its own boolean structure")(l =>
      plan(a, trees = Map("q" -> TreeSpec(ELeaf(0), Set.empty, 0)), mode = "and", lookups = l))
    fails("field collapse cannot prune")(l => plan(a, collapse = true, pruning = true, lookups = l))
    fails("attribute filters cannot prune")(l => plan(a, filter = true, pruning = true, lookups = l))
    fails("clauses reference qids without a TreeSpec: r")(l =>
      plan(a :+ WeightedClause("r", 0, "a", 1.0f),
        trees = Map("q" -> TreeSpec(ELeaf(0), Set.empty, 0)), lookups = l))
    fails("clauses of one qid need distinct qidx, got duplicates: (q,0)")(l =>
      plan(a, synonyms = Seq(SynonymClause("q", 0, Seq("b"), 1.0f)), lookups = l))
    // a valid plan looks the terms up exactly once
    val lookups = new java.util.concurrent.atomic.AtomicInteger
    assert(!plan(a, lookups = lookups).isEmpty)
    assert(lookups.get == 1)
  }
}
