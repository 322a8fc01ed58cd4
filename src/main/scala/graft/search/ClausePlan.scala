package graft.search

/** The driver-side plan of one clause batch: everything the scoring entries
  * of [[Searcher]] settle before a posting is read. It checks the
  * arguments, looks up the clause terms' (df, cf) once, and derives the
  * per-clause weights, the per-query queryNorm and maxOverlap, the AND-mode
  * dead qids and live clauses, the qids WAND may prune, and the clauses
  * the range tasks build cursors for. It holds no Spark state, so a spec
  * builds it from a term-stats map without a session.
  *
  * Slots. A cursor's partial carries a per-qid slot, not a clause index. The
  * plan numbers each qid's live clause entries in (qidx, expansion rank)
  * order: one slot per term, phrase, expansion or synonym clause, and one
  * per live expanded term of a blended (fuzzy) clause. The range tasks
  * fold each (qid, doc)'s partials in slot order, and their reducers fold
  * slots back into clauses through [[slots]]: a blended clause's expansions sum from 0 in
  * rank order, then the clauses add in qidx order — the Float order of a
  * per-clause reduction, without one.
  *
  * `termStats` is the term-stats lookup ([[graft.index.BuiltIndex
  * .termStatsOf]]); it runs once, after the argument checks.
  */
private[graft] final class ClausePlan(
    clauses: Seq[WeightedClause], phraseClauses: Seq[PhraseClause],
    expansionClauses: Seq[ExpansionClause], blendedClauses: Seq[BlendedClause],
    synonymClauses: Seq[SynonymClause], trees: Map[String, BoolQuery.TreeSpec],
    mode: String, minShouldMatch: Int, pruning: Boolean,
    negTerms: Seq[(String, String)], excludeDocnos: Map[String, Set[String]],
    collapse: Boolean, filter: Boolean, positions: Boolean,
    val scorer: Scorer, val stats: CollStats,
    termStats: Iterable[String] => Map[String, (Long, Long)]) {
  import ClausePlan._

  // minimumNumberShouldMatch (≙ BooleanQuery.setMinimumNumberShouldMatch):
  // flat-OR only — a tree carries its own occurs, AND already requires
  // all, and the msm gate stays exhaustive (no WAND).
  require(minShouldMatch == 0 || (mode == "or" && trees.isEmpty && !pruning),
    "minShouldMatch requires flat OR mode without trees or pruning")
  require(phraseClauses.isEmpty || positions,
    "phrase clauses need a positions-enabled index (IndexConfig.indexPositions)")
  // MultiPhraseQuery union slots (several terms sharing one offset —
  // match_phrase_prefix's expanded last slot): exact matching unions the
  // slot's position lists; the sloppy event walk pins repeats by TERM
  // identity per slot, which a union slot has no single answer for.
  require(phraseClauses.forall(pc =>
      pc.slop == 0 || pc.terms.map(_._2).distinct.size == pc.terms.size),
    "slot alternatives (MultiPhraseQuery union slots) require slop == 0")
  require(trees.isEmpty || (mode == "or" && negTerms.isEmpty),
    "tree evaluation carries its own boolean structure: use mode=or and no negTerms")
  require(!collapse || !pruning,
    "field collapse cannot prune: WAND's θ bounds the global kth " +
      "score, but a collapse key's winner may rank anywhere")
  require(!filter || !pruning,
    "attribute filters cannot prune: WAND's θ is the kth score of the " +
      "UNfiltered stream, so the filtered kth score may sit in a " +
      "block the overshooting θ skipped")

  private val keys: Seq[(String, Int)] =
    clauses.map(c => (c.qid, c.qidx)) ++ phraseClauses.map(pc => (pc.qid, pc.qidx)) ++
      expansionClauses.map(e => (e.qid, e.qidx)) ++
      blendedClauses.map(bc => (bc.qid, bc.qidx)) ++
      synonymClauses.map(sc => (sc.qid, sc.qidx))
  // fail at the driver, not as an executor-side lookup miss at job time
  require(trees.isEmpty || keys.forall(k => trees.contains(k._1)),
    s"clauses reference qids without a TreeSpec: " +
      keys.map(_._1).distinct.filterNot(trees.contains).mkString(", "))
  // a slot folds back into exactly one clause
  require(keys.distinct.size == keys.size,
    "clauses of one qid need distinct qidx, got duplicates: " +
      keys.diff(keys.distinct).distinct.mkString(", "))

  val conjunctive: Boolean = mode == "and"

  /** (df, cf) of every indexed clause term. */
  val dfs: Map[String, (Long, Long)] = termStats(clauses.map(_.term) ++
    phraseClauses.flatMap(_.terms.map(_._1)) ++
    blendedClauses.flatMap(_.terms.map(_._1)) ++ synonymClauses.flatMap(_.terms))

  /** The similarity's weight of one indexed term. */
  def termWeight(term: String): Float = {
    val (df, cf) = dfs(term)
    scorer.termWeight(df, cf, stats)
  }

  // phrase clause weight = the reference's accumulate-from-1.0 multi-stats
  // branch (`BM25.java:57,64-68`), duplicated phrase terms included
  private val phraseWeights: Map[(String, Int), Float] = phraseClauses.map { pc =>
    (pc.qid, pc.qidx) ->
      scorer.phraseWeight(pc.terms.map(t => dfs.getOrElse(t._1, (0L, 0L))), stats)
  }.toMap
  // one weight from the group's indexed terms: the MAX df and `cf` of their cfs
  private def groupWeight(terms: Seq[String], cf: Seq[Long] => Long): Float = {
    val present = terms.flatMap(dfs.get)
    if (present.isEmpty) 0.0f else scorer.termWeight(present.map(_._1).max, cf(present.map(_._2)), stats)
  }
  // blended (≙ BlendedTermQuery.adjustFrequencies): max df, max cf
  private val blendWeights: Map[(String, Int), Float] = blendedClauses.map(bc =>
    (bc.qid, bc.qidx) -> groupWeight(bc.terms.map(_._1), _.max)).toMap
  // synonym pseudo-term (≙ SynonymQuery.SynonymWeight's merged
  // TermStatistics): max docFreq, summed collectionFreq
  private val synWeights: Map[(String, Int), Float] = synonymClauses.map(sc =>
    (sc.qid, sc.qidx) -> groupWeight(sc.terms, _.sum)).toMap

  /** Per-query normalization (1 for every reference model; only classic
    * TF-IDF uses it): sumOfSquaredWeights over ALL clauses, unmatched terms
    * included, like Lucene's weight phase. Tree mode mirrors BooleanWeight:
    * prohibited (MUST_NOT-subtree) clauses never contribute, and each
    * scoring match-all node contributes weight 1.
    */
  val qnByQid: Map[String, Float] = {
    val entries: Seq[(String, Int, Float)] =
      clauses.map(c => (c.qid, c.qidx, {
        val (df, cf) = dfs.getOrElse(c.term, (0L, 0L))
        scorer.termWeight(df, cf, stats) * c.boost
      })) ++
        phraseClauses.map(pc => (pc.qid, pc.qidx, phraseWeights((pc.qid, pc.qidx)) * pc.boost)) ++
        expansionClauses.map(e => (e.qid, e.qidx, e.boost)) ++ // constant weight
        blendedClauses.map(bc => (bc.qid, bc.qidx, blendWeights((bc.qid, bc.qidx)) * bc.boost)) ++
        synonymClauses.map(sc => (sc.qid, sc.qidx, synWeights((sc.qid, sc.qidx)) * sc.boost))
    (if (trees.isEmpty) entries
     else entries.filterNot { case (qid, qidx, _) =>
       trees.get(qid).exists(_.prohibitedNorm(qidx))
     } ++ trees.toSeq.flatMap { case (qid, ts) =>
       Seq.fill(ts.nMatchAllNorm)((qid, Int.MaxValue, 1.0f))
     })
      .groupBy(_._1).map { case (qid, ws) => qid -> scorer.queryNorm(ws.sortBy(_._2).map(_._3)) }
  }

  /** Clauses per qid, the coord denominator and the AND-mode requirement. */
  val maxOverlap: Map[String, Int] = keys.groupBy(_._1).map { case (q, cs) => q -> cs.size }

  /** AND mode: a query with an unindexed term or phrase term, an empty
    * expansion, or a blended or synonym clause with no indexed term
    * matches nothing.
    */
  val deadQids: Set[String] =
    if (!conjunctive) Set.empty
    else (clauses.filterNot(c => dfs.contains(c.term)).map(_.qid) ++
      phraseClauses.filter(_.terms.exists(t => !dfs.contains(t._1))).map(_.qid) ++
      expansionClauses.filter(_.terms.isEmpty).map(_.qid) ++
      blendedClauses.filter(_.terms.forall(t => !dfs.contains(t._1))).map(_.qid) ++
      synonymClauses.filter(_.terms.forall(t => !dfs.contains(t))).map(_.qid)).toSet

  private val liveClauses = clauses.filterNot(c => deadQids(c.qid))
  private val livePhrases = phraseClauses.filterNot(pc => deadQids(pc.qid))
  private val liveExpansions = expansionClauses
    .filterNot(e => deadQids(e.qid)).filter(_.terms.nonEmpty)
  private val liveBlended = blendedClauses.filterNot(bc => deadQids(bc.qid))
    .map(bc => bc.copy(terms = bc.terms.filter(t => dfs.contains(t._1))))
    .filter(_.terms.nonEmpty)
  private val liveSynonyms = synonymClauses.filterNot(sc => deadQids(sc.qid))
    .map(sc => sc.copy(terms = sc.terms.filter(dfs.contains)))
    .filter(_.terms.nonEmpty)

  /** Qids block-max WAND may prune. Pruning is sound per QUERY only for
    * pure disjunctive term scoring: MUST_NOT terms remove docs AFTER the
    * range tasks' heaps saw them, so their θ may overshoot; excluded docnos
    * keep the same rule; and phrase/expansion/blended/synonym partials are
    * not covered by the term block bounds, so such a query's true kth score
    * could beat θ inside a skipped block. Those qids stay exhaustive while
    * clean qids of the same batch still prune. A tree prunes iff it is the
    * flat OR in disguise ([[BoolQuery.prunableShape]]): with a coord-free
    * scorer (implied by `supportsPruning`) its evaluation is the
    * NaN-skipping sum of leaf partials, monotone in each of them.
    */
  val pruneQids: Set[String] =
    if (!pruning || !scorer.supportsPruning || conjunctive) Set.empty
    else {
      val unprunable = (phraseClauses.map(_.qid) ++ expansionClauses.map(_.qid) ++
        blendedClauses.map(_.qid) ++ synonymClauses.map(_.qid) ++
        negTerms.map(_._1) ++ excludeDocnos.keys ++
        trees.collect { case (qid, ts) if !BoolQuery.prunableShape(ts.root) => qid }).toSet
      clauses.map(_.qid).filterNot(unprunable).toSet
    }

  // qid → its live (qidx, rank) entries in slot order
  private val slotted: Map[String, Array[(Int, Int)]] =
    (liveClauses.map(c => (c.qid, c.qidx, 0)) ++ livePhrases.map(pc => (pc.qid, pc.qidx, 0)) ++
      liveExpansions.map(e => (e.qid, e.qidx, 0)) ++
      liveBlended.flatMap(bc => bc.terms.indices.map(r => (bc.qid, bc.qidx, r))) ++
      liveSynonyms.map(sc => (sc.qid, sc.qidx, 0)))
      .groupBy(_._1).map { case (q, es) => q -> es.map(e => (e._2, e._3)).sorted.toArray }
  private val firstSlot: Map[(String, Int), Int] = slotted.flatMap { case (q, es) =>
    es.zipWithIndex.collect { case ((qidx, 0), s) => (q, qidx) -> s }
  }
  private def slot(qid: String, qidx: Int, rank: Int = 0): Int = firstSlot((qid, qidx)) + rank

  /** qid → slot → the clause (qidx) the slot folds into. */
  val slots: Map[String, Array[Int]] = slotted.map { case (q, es) => q -> es.map(_._1) }

  /** Term and blended clauses: term → weight groups. A term clause scores
    * at the term's own weight, boosted by clause boost × queryNorm; a
    * blended clause's expanded term at the clause's blended weight,
    * boosted by its fuzzy boost × clause boost × queryNorm.
    */
  val terms: Map[String, TermGroups] = termPlan(
    liveClauses.filter(c => dfs.contains(c.term)).map(c =>
      (c.term, termWeight(c.term), (c.qid, slot(c.qid, c.qidx), c.boost * qnByQid(c.qid)))) ++
      liveBlended.flatMap { bc =>
        val w = blendWeights((bc.qid, bc.qidx))
        bc.terms.zipWithIndex.map { case ((term, fb), r) =>
          (term, w, (bc.qid, slot(bc.qid, bc.qidx, r), fb * bc.boost * qnByQid(bc.qid)))
        }
      })

  /** Phrase clauses, weighted and boosted. */
  val phrases: Seq[PositionalClause] = livePhrases.map(pc =>
    PositionalClause(pc.qid, slot(pc.qid, pc.qidx), pc.terms, Proximity.Phrase(pc.slop),
      phraseWeights((pc.qid, pc.qidx)), pc.boost * qnByQid(pc.qid)))

  /** Constant-score expansions, boosted by boost × queryNorm. */
  val expansions: Seq[UnionClause] = liveExpansions.map(e =>
    UnionClause(e.qid, slot(e.qid, e.qidx), e.terms, synonym = false, 0.0f, e.boost * qnByQid(e.qid)))

  /** Synonym groups of their indexed members, at the group weight and
    * boosted by boost × queryNorm.
    */
  val synonyms: Seq[UnionClause] = liveSynonyms.map(sc =>
    UnionClause(sc.qid, slot(sc.qid, sc.qidx), sc.terms, synonym = true,
      synWeights((sc.qid, sc.qidx)), sc.boost * qnByQid(sc.qid)))

  /** Every clause the range tasks build cursors for. */
  def cursors: RangeClauses = RangeClauses(terms, phrases, expansions ++ synonyms)

  /** Each tree with its queryNorm folded into the match-all constants. */
  val treeEval: Map[String, BoolQuery.EvalNode] = trees.map { case (qid, ts) =>
    qid -> BoolQuery.foldQueryNorm(ts.root, qnByQid.getOrElse(qid, 1.0f))
  }

  /** Trees that match a document holding none of their leaves (pure
    * negation, explicit `*`), with that empty document's score.
    */
  val complementQids: Seq[(String, Float)] = treeEval.toSeq.flatMap { case (qid, folded) =>
    val s = BoolQuery.eval(folded, _ => Float.NaN, scorer.coord)
    if (s.isNaN) None else Some(qid -> s)
  }

  /** Postings work of the plan — Σ df × entries of [[terms]], plus the df
    * of each phrase and synonym term — from which [[RangeScorer.plan]]
    * picks the number of docid ranges.
    */
  def work: Long = RangeScorer.work(terms, dfs(_)._1) +
    (livePhrases.flatMap(_.terms.map(_._1)) ++ liveSynonyms.flatMap(_.terms))
      .flatMap(dfs.get).map(_._1).sum

  /** Nothing can score: no live clause and no tree (a tree may match-all). */
  def isEmpty: Boolean = terms.isEmpty && phrases.isEmpty && expansions.isEmpty &&
    synonyms.isEmpty && trees.isEmpty
}

object ClausePlan {
  /** A term's weight groups: each distinct weight with the (qid, slot,
    * boost) entries scored at it, so a posting is scored once per weight.
    */
  type TermGroups = Array[(Float, Array[(String, Int, Float)])]

  /** term → weight groups of (term, weight, (qid, slot, boost)) entries:
    * the per-term plan of the range tasks' term cursors (scored clauses,
    * dismax).
    */
  def termPlan(entries: Seq[(String, Float, (String, Int, Float))]): Map[String, TermGroups] =
    entries.groupBy(_._1).map { case (term, es) =>
      term -> es.groupMap(_._2)(_._3).toArray.map { case (w, cs) => (w, cs.toArray) }
    }
}
