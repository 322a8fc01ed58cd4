package graft.search

/** Faithful reimplementation of the boolean query syntax the reference
  * feeds to Lucene 5.4's `SimpleQueryParser` with ALL features enabled and
  * the default SHOULD operator (`new SimpleQueryParser(analyzer, field)`,
  * `BatchSearch.java:189-190`): `+` AND, `|` OR, `-` NOT, `"…"` phrase with
  * optional `~N` slop, trailing `*` prefix, `~N` fuzzy, `( )` precedence
  * groups, `\` escapes, and the lone-`*` match-all query.
  *
  * Semantics reconstructed from the public Lucene `SimpleQueryParser`
  * source (all deliberate, several of them folkloric gotchas):
  *
  *  - Combination is LEFT-ASSOCIATIVE with operator batching, not classic
  *    precedence: consecutive clauses under the SAME operator flatten into
  *    one boolean node; an operator CHANGE wraps the tree so far as the
  *    first child of a new node. `a b + c` ⇒ `(a OR b) AND c`;
  *    `a | b + c` ⇒ `(a OR b) AND c`; `a + b | c` ⇒ `(a AND b) OR c`.
  *  - Only the FIRST operator between two clauses takes effect
  *    (`a + | b` ⇒ `a AND b`); operators with no left operand are dropped.
  *  - `-` before a clause (token, phrase or group) negates it by rewriting
  *    to `(MUST_NOT clause, SHOULD match-all)` — so under the default OR
  *    operator, `b -a` matches docs containing b PLUS every doc not
  *    containing a (the match-all branch scores a constant 1·queryNorm).
  *    `--` double-negates.
  *  - Analysis happens at parse time: a clause whose analysis is empty
  *    (pure stopwords) never enters the tree AND leaves any pending
  *    operator armed for the next clause (`a + the b` ⇒ `a AND b`) and any
  *    pending `-` count un-consumed (`-the b` ⇒ `-b`).
  *  - `()` (immediately-closed group) resets a pending operator; an
  *    unmatched `(` is dropped and its tail parses at the current level;
  *    an unmatched `"` consumes to end of string; a stray `)` is ignored.
  *  - A whole query of exactly `*` is the match-all query.
  */
object BoolQuery {

  sealed trait Occur
  case object Must extends Occur
  case object Should extends Occur
  case object MustNot extends Occur

  /** Analyzed query tree. Leaves carry index-ready payloads (terms are
    * already analyzer output; prefix/fuzzy text is lowercased-only, like
    * Lucene's multi-term query normalization).
    */
  sealed trait Node
  case object MatchAllNode extends Node
  final case class TermLeaf(term: String) extends Node
  final case class PhraseLeaf(slots: Seq[(String, Int)], slop: Int) extends Node
  final case class PrefixLeaf(prefix: String) extends Node
  final case class FuzzyLeaf(base: String, maxEdits: Int) extends Node
  final case class BoolNode(children: Vector[(Occur, Node)]) extends Node

  /** Turns raw clause text into analyzed leaves. `None` = the clause
    * analyzes to nothing and is dropped at parse time (like Lucene's null
    * branches — with the operator-state quirks documented above).
    */
  trait LeafFactory {
    def token(text: String): Option[Node]
    def phrase(text: String, slop: Int): Option[Node]
    def prefix(text: String): Option[Node]
    def fuzzy(text: String, maxEdits: Int): Option[Node]
  }

  private final class State(val data: Array[Char], var index: Int, val end: Int) {
    var top: Node = null
    var currentOperation: Occur = null
    var previousOperation: Occur = null
    var not: Int = 0
  }

  def parse(text: String, leaves: LeafFactory): Option[Node] = {
    // Deliberately `text.trim` — Lucene's SimpleQueryParser.parse opens
    // with `if ("*".equals(queryText.trim())) return new
    // MatchAllDocsQuery();`, so whitespace-padded "  *  " IS match-all
    // there too (the r3 advisory suggesting a length==1 guard would have
    // introduced the deviation it meant to prevent; locked by
    // BoolQuerySpec). "* *" etc. trim to something longer and flow through
    // the normal token path on both sides.
    if (text.trim == "*") return Some(MatchAllNode)
    val st = new State(text.toCharArray, 0, text.length)
    parseSub(st, leaves)
    Option(st.top)
  }

  private def parseSub(st: State, lf: LeafFactory): Unit = {
    while (st.index < st.end) {
      st.data(st.index) match {
        case '(' => consumeGroup(st, lf)
        case ')' => st.index += 1 // extraneous closing parenthesis — ignored
        case '+' =>
          if (st.currentOperation == null && st.top != null) st.currentOperation = Must
          st.index += 1
        case '|' =>
          if (st.currentOperation == null && st.top != null) st.currentOperation = Should
          st.index += 1
        case '-' => st.not += 1; st.index += 1
        case '"' => consumePhrase(st, lf)
        case w if Character.isWhitespace(w) => st.index += 1
        case _ => consumeToken(st, lf)
      }
    }
  }

  /** `( … )`: scan (escape- and nesting-aware) for the matching close, then
    * parse the interior with a fresh state and graft its tree as one
    * clause. The `-` pending on the group applies to the WHOLE group.
    */
  private def consumeGroup(st: State, lf: LeafFactory): Unit = {
    val start = st.index + 1
    st.index = start
    var depth = 1
    var esc = false
    var found = false
    while (st.index < st.end && !found) {
      val c = st.data(st.index)
      if (!esc) {
        if (c == '\\') esc = true
        else if (c == '(') depth += 1
        else if (c == ')') { depth -= 1; if (depth == 0) found = true }
      } else esc = false
      if (!found) st.index += 1
    }
    if (!found) {
      // unmatched '(' — drop it; its tail parses at the current level
      st.index = start
    } else if (st.index == start) {
      // '()' wrapped nothing: the pending operator is reset
      st.currentOperation = null
      st.index += 1
    } else {
      val sub = new State(st.data, start, st.index)
      parseSub(sub, lf)
      buildTree(st, Option(sub.top))
      st.index += 1
    }
  }

  /** `"…"` with `\` escapes and an optional `~N` slop suffix after the
    * closing quote (bare `~` means slop 2, like the fuzzy default). An
    * unmatched quote consumes to end of input.
    */
  private def consumePhrase(st: State, lf: LeafFactory): Unit = {
    st.index += 1
    val sb = new StringBuilder
    var esc = false
    var closed = false
    var slop = 0
    while (st.index < st.end && !closed) {
      val c = st.data(st.index)
      if (esc) { esc = false; sb.append(c); st.index += 1 }
      else if (c == '\\') { esc = true; st.index += 1 }
      else if (c == '"') {
        closed = true
        st.index += 1
        if (st.index < st.end && st.data(st.index) == '~') {
          st.index += 1
          val d = new StringBuilder
          while (st.index < st.end && st.data(st.index).isDigit) {
            d.append(st.data(st.index)); st.index += 1
          }
          slop = if (d.isEmpty) 2 else d.toString.take(9).toInt
        }
      } else { sb.append(c); st.index += 1 }
    }
    val text = sb.toString
    if (text.trim.nonEmpty) buildTree(st, lf.phrase(text, slop))
  }

  /** A bare token, ended by whitespace, `"`, `|`, `+`, `(` or `)` (`-`, `*`
    * and `~` are ordinary token characters except in their operator
    * positions). `\` escapes the next character AND strips it of any
    * operator meaning, so `te\*t`/`a\~1` are literal.
    */
  private def consumeToken(st: State, lf: LeafFactory): Unit = {
    val sb = new StringBuilder
    val escd = Vector.newBuilder[Boolean]
    var esc = false
    var broke = false
    while (st.index < st.end && !broke) {
      val c = st.data(st.index)
      if (esc) { esc = false; sb.append(c); escd += true; st.index += 1 }
      else if (c == '\\') { esc = true; st.index += 1 }
      else if (c == '"' || c == '|' || c == '+' || c == '(' || c == ')' ||
               Character.isWhitespace(c)) broke = true
      else { sb.append(c); escd += false; st.index += 1 }
    }
    val raw = sb.toString
    if (raw.isEmpty) return
    val escMask = escd.result()

    // trailing unescaped '*' → prefix (must leave a nonempty stem)
    val isPrefix = raw.length > 1 && raw.last == '*' && !escMask.last
    // trailing unescaped '~' + digits → fuzzy (bare '~' ⇒ maxEdits 2,
    // digits clamped to Lucene's maximum supported distance of 2)
    val fuzzyAt = {
      val tilde = raw.lastIndexOf('~')
      if (isPrefix || tilde <= 0 || escMask(tilde) ||
          !raw.substring(tilde + 1).forall(_.isDigit)) -1
      else tilde
    }
    val node: Option[Node] =
      if (isPrefix) lf.prefix(raw.dropRight(1))
      else if (fuzzyAt > 0) {
        val digits = raw.substring(fuzzyAt + 1)
        val d = if (digits.isEmpty) 2 else math.min(digits.take(9).toInt, 2)
        lf.fuzzy(raw.substring(0, fuzzyAt), d)
      } else lf.token(raw)
    buildTree(st, node)
  }

  /** The Lucene combine step: negate via the match-all wrap, then chain
    * left-associatively — same operator appends into the open boolean node,
    * an operator change starts a new parent with the old tree as its first
    * clause.
    */
  private def buildTree(st: State, branchOpt: Option[Node]): Unit =
    branchOpt.foreach { b0 =>
      val branch =
        if (st.not % 2 == 1)
          BoolNode(Vector((MustNot, b0), (Should, MatchAllNode)))
        else b0
      if (st.top == null) st.top = branch
      else {
        if (st.currentOperation == null) st.currentOperation = Should
        if (st.previousOperation != st.currentOperation)
          st.top = BoolNode(Vector((st.currentOperation, st.top)))
        st.top = (st.top: @unchecked) match {
          case BoolNode(cs) => BoolNode(cs :+ ((st.currentOperation, branch)))
        }
        st.previousOperation = st.currentOperation
        st.currentOperation = null
      }
      st.not = 0
    }

  // --- runtime evaluation trees -------------------------------------------

  /** Evaluation tree over per-document leaf scores: leaves are clause
    * indexes into the partial-score stream, `EConst` is the match-all
    * query's constant (queryNorm-folded) score, `EBool` mirrors a
    * BooleanQuery node (occur: 0 = MUST, 1 = SHOULD, 2 = MUST_NOT).
    */
  sealed trait EvalNode extends Serializable
  final case class ELeaf(qidx: Int) extends EvalNode
  final case class EConst(score: Float) extends EvalNode
  final case class EBool(children: Array[(Int, EvalNode)]) extends EvalNode

  /** Per-query evaluation spec handed to the searcher: the root node, the
    * clause indexes that sit under a MUST_NOT (excluded from the classic
    * queryNorm sum, like Lucene's prohibited clauses), and the number of
    * norm-contributing match-all nodes (weight 1 each).
    */
  final case class TreeSpec(root: EvalNode, prohibitedNorm: Set[Int],
                            nMatchAllNorm: Int)

  /** Folds the per-query queryNorm into every match-all constant (leaf
    * partials already carry it from the clause pipelines). No-op for the
    * reference models, whose queryNorm is 1.
    */
  def foldQueryNorm(n: EvalNode, qn: Float): EvalNode =
    if (qn == 1.0f) n
    else n match {
      case EConst(s) => EConst(s * qn)
      case EBool(cs) => EBool(cs.map { case (o, c) => (o, foldQueryNorm(c, qn)) })
      case leaf => leaf
    }

  /** True when the tree is the flat OR in disguise: every node is a
    * SHOULD-only BoolNode over plain term leaves (no MUST/MUST_NOT, no
    * match-all constant). With a coord-free scorer, [[eval]] over such a
    * tree is exactly the NaN-skipping sum of the matched leaf partials —
    * the flat disjunctive score, monotone in every leaf — so block-max
    * WAND's block bounds stay valid upper bounds and the Searcher keeps
    * pruning enabled for these queries (ClausePlan.pruneQids).
    */
  def prunableShape(n: EvalNode): Boolean = n match {
    case ELeaf(_) => true
    case EConst(_) => false
    case EBool(cs) =>
      cs.nonEmpty && cs.forall { case (occ, c) => occ == 1 && prunableShape(c) }
  }

  /** BooleanQuery-faithful recursive match + score: returns NaN for
    * "no match". A node matches when all MUST children match, no MUST_NOT
    * child matches, and — when there are no MUST children — at least one
    * SHOULD child matches. Score = sum of matching MUST/SHOULD child scores
    * in clause order (deterministic Float order) times the similarity's
    * coord(matched, maxOverlap); MUST_NOT children contribute match
    * information only.
    */
  def eval(node: EvalNode, scores: Int => Float,
           coord: (Int, Int) => Float): Float = node match {
    case ELeaf(q) => scores(q)
    case EConst(s) => s
    case EBool(cs) =>
      var sum = 0.0f
      var matched = 0
      var maxOverlap = 0
      var hasMust = false
      var ok = true
      var i = 0
      while (i < cs.length) {
        val (occ, child) = cs(i)
        val s = eval(child, scores, coord)
        if (occ == 2) { if (!s.isNaN) ok = false }
        else {
          maxOverlap += 1
          if (occ == 0) { hasMust = true; if (s.isNaN) ok = false }
          if (!s.isNaN) { sum += s; matched += 1 }
        }
        i += 1
      }
      if (!ok || (!hasMust && matched == 0)) Float.NaN
      else {
        val c = coord(matched, maxOverlap)
        if (c == 1.0f) sum else sum * c
      }
  }
}
