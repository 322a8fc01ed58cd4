package graft.search

import scala.collection.mutable

/** Sloppy-phrase frequency — an array-backed from-scratch re-implementation
  * of the published SloppyPhraseScorer algorithm (Lucene 5.4
  * `SloppyPhraseScorer.java`, reached from the reference's BM25 via the
  * slop factor at `BM25.java:110-114`): enumerate match events by
  * repeatedly popping the minimal phase-adjusted position from a queue,
  * shrinking the current window while later slots tie the minimum, and
  * scoring `1/(matchLength+1)` whenever the window `end - min` fits the
  * slop. Slots repeating the same term are pinned to DISTINCT document
  * occurrences (repeat groups start on the term's 1st, 2nd, … occurrence;
  * collisions advance the lesser cursor) — the alignment detail the
  * earlier per-slot-nearest approximation missed for 3+-term phrases with
  * repeats (the two are provably identical for 2-term phrases; see
  * PhraseSpec's cross-check battery).
  *
  * Slots here are single terms (the engine has no multi-term synonym
  * positions), so the published algorithm's `hasMultiTermRpts` branches
  * are unreachable and intentionally omitted.
  */
object SloppyPhrase {

  /** One slot's position cursor. `position` is phase-adjusted
    * (docPos − slot offset); `tpPos` the raw document position; `ord` the
    * slot index (final ordering tie-break, making the heap order total).
    */
  private final class PP(val arr: Array[Int], val offset: Int, val ord: Int) {
    var i: Int = 0
    var rptGroup: Int = -1
    def position: Int = arr(i) - offset
    def tpPos: Int = arr(i)
    def next(): Boolean = { i += 1; i < arr.length }
    def lessThan(o: PP): Boolean =
      if (position == o.position)
        if (offset == o.offset) ord < o.ord else offset < o.offset
      else position < o.position
  }

  /** Phrase frequency for one (doc, phrase). `terms(s)` / `posBySlot(s)` /
    * `offs(s)` are slot s's term, its ascending in-doc positions
    * (non-empty — the caller only reaches here when every slot matched),
    * and its phrase offset (counting stopped-word gaps). Returns 0 when no
    * window fits within `slop`.
    */
  def freq(terms: Array[String], posBySlot: Array[Array[Int]],
           offs: Array[Int], slop: Int): Float = {
    val n = terms.length
    if (n == 0) return 0.0f
    // a one-slot "phrase" degenerates to the bare term (Lucene rewrites it
    // to a TermQuery): every occurrence is a zero-width match
    if (n == 1) return posBySlot(0).length.toFloat

    val pps = Array.tabulate(n)(s => new PP(posBySlot(s), offs(s), s))
    // repeat groups = terms occupying 2+ slots, members offset-ascending
    val groups: Array[Array[PP]] = terms.zip(pps).groupBy(_._1).values
      .map(_.map(_._2).sortBy(_.offset)).filter(_.length > 1).toArray
    groups.zipWithIndex.foreach { case (g, gi) => g.foreach(_.rptGroup = gi) }
    val hasRpts = groups.nonEmpty

    // repeat-group init: the j-th same-term cursor starts on the term's
    // j-th document occurrence (j advances from the first position)
    for (g <- groups; j <- 1 until g.length; _ <- 0 until j)
      if (!g(j).next()) return 0.0f // occurrences exhausted: no match

    // min-position heap (total order: position, then offset, then ord)
    val pq = mutable.PriorityQueue.empty[PP](
      Ordering.fromLessThan[PP]((a, b) => b.lessThan(a)))
    var end = Int.MinValue
    pps.foreach { p => if (p.position > end) end = p.position; pq.enqueue(p) }

    def advancePP(p: PP): Boolean =
      p.next() && { if (p.position > end) end = p.position; true }

    def collide(p: PP): PP = {
      val g = groups(p.rptGroup)
      var i = 0
      while (i < g.length) {
        val p2 = g(i)
        if ((p2 ne p) && p2.tpPos == p.tpPos) return p2
        i += 1
      }
      null
    }

    def lesserOf(a: PP, b: PP): PP =
      if (a.position < b.position ||
          (a.position == b.position && a.offset < b.offset)) a else b

    // resolve same-occurrence collisions among a repeat group by advancing
    // the lesser cursor until none collide; cursors advanced while sitting
    // IN the heap invalidate its order, so rebuild it (the array-backed
    // analog of the published bitset re-queue — same resulting heap)
    def advanceRpts(p0: PP): Boolean = {
      if (p0.rptGroup < 0) return true
      var p = p0
      var othersMoved = false
      var c = collide(p)
      while (c != null) {
        p = lesserOf(p, c)
        if (!advancePP(p)) return false
        if (p ne p0) othersMoved = true
        c = collide(p)
      }
      if (othersMoved) {
        val drained = pq.dequeueAll
        drained.foreach(pq.enqueue(_))
      }
      true
    }

    var freqAcc = 0.0f
    var pp = pq.dequeue()
    var matchLength = end - pp.position
    var next = pq.head.position
    var exhausted = false
    while (!exhausted && advancePP(pp)) {
      if (hasRpts && !advanceRpts(pp)) exhausted = true // cursors done
      else if (pp.position > next) { // done minimizing the current window
        if (matchLength <= slop) freqAcc += 1.0f / (matchLength + 1)
        pq.enqueue(pp)
        pp = pq.dequeue()
        next = pq.head.position
        matchLength = end - pp.position
      } else {
        val m2 = end - pp.position
        if (m2 < matchLength) matchLength = m2
      }
    }
    if (matchLength <= slop) freqAcc += 1.0f / (matchLength + 1)
    freqAcc
  }
}

/** Span-near frequency of two single-term spans A and B, summing the slop
  * factor of each match (the span walks of Lucene 5.4).
  *
  * `ordered = true` is the faithful NearSpansOrdered enumeration:
  * repeatedly stretch to order (first B strictly after the current A),
  * shrink to the shortest match (the LARGEST A before that B), emit slop
  * factor 1/(1+gap) when the gap is within `slop`, then advance the first
  * span past the shrunk A. Note the shrink step makes this genuinely
  * different from the sloppy phrase's event walk: each B pairs with at
  * most its closest A, and skipped A's are consumed.
  *
  * `ordered = false` is the faithful NearSpansUnordered enumeration: visit
  * every cursor state reachable by advancing the min-start span, match
  * when maxEnd − minStart − totalSpanLength ≤ slop, slop factor from
  * width() = the start-position difference (Lucene's unordered width,
  * distinct from the ordered walk's gap).
  */
object SpanNear {

  /** Frequency for one doc from A's and B's ascending in-doc positions. */
  def freq(la: Array[Int], lb: Array[Int], slop: Int, ordered: Boolean): Float = {
    var freq = 0.0f
    if (ordered) {
      var i = 0
      while (i < la.length) {
        val a = la(i)
        // first B strictly after a (stretchToOrder)
        var bi = java.util.Arrays.binarySearch(lb, a + 1)
        if (bi < 0) bi = -bi - 1
        if (bi >= lb.length) { i = la.length } // exhausted: stop
        else {
          val b = lb(bi)
          // shrink: the largest A before b; ai = count of A's < b
          var ai = java.util.Arrays.binarySearch(la, b)
          if (ai < 0) ai = -ai - 1
          val aShrunk = la(ai - 1) // ai ≥ i+1 > 0 since la(i) < b
          val gap = b - aShrunk - 1
          if (gap <= slop) freq += 1.0f / (1 + gap)
          i = ai // advance the first span past the shrunk A
        }
      }
    } else {
      // a state matches when width − 1 ≤ slop (single-term spans) and
      // contributes the slop factor of the START position difference —
      // NOT the ordered walk's gap (Lucene's ordered width is lastStart −
      // firstEnd; the asymmetry is the reference behavior, spec-locked)
      var i = 0
      var j = 0
      while (i < la.length && j < lb.length) {
        val pa = la(i)
        val pb = lb(j)
        val width = math.abs(pa - pb)
        if (width - 1 <= slop) freq += 1.0f / (1 + width)
        if (pa <= pb) i += 1 else j += 1
      }
    }
    freq
  }
}

/** Exact-phrase frequency (≙ ExactPhraseScorer): the number of phrase
  * starts where every slot holds its term — an anchor scan over the
  * sparsest slot, binary-searching the others (the count is
  * anchor-invariant).
  */
object ExactPhrase {

  /** Frequency from each slot's ascending in-doc positions and offset. */
  def freq(posBySlot: Array[Array[Int]], offs: Array[Int]): Float = {
    var minSlot = 0
    var s = 1
    while (s < posBySlot.length) {
      if (posBySlot(s).length < posBySlot(minSlot).length) minSlot = s
      s += 1
    }
    val anchorOff = offs(minSlot)
    var freq = 0.0f
    posBySlot(minSlot).foreach { p0 =>
      val base = p0 - anchorOff // phrase start position in doc
      var ok = base >= 0
      var j = 0
      while (ok && j < posBySlot.length) {
        if (j != minSlot) ok = java.util.Arrays.binarySearch(posBySlot(j), base + offs(j)) >= 0
        j += 1
      }
      if (ok) freq += 1.0f
    }
    freq
  }
}

/** How a positional clause ([[PositionalClause]]) turns its slots'
  * ascending in-doc positions into the freq it scores: `terms(s)` and
  * `offs(s)` are slot s's term and phrase offset.
  */
private[graft] sealed trait Proximity extends Serializable {
  def freq(terms: Array[String], pos: Array[Array[Int]], offs: Array[Int]): Float
}

private[graft] object Proximity {
  /** A phrase: exact adjacency at slop 0, else the sloppy event walk. */
  final case class Phrase(slop: Int) extends Proximity {
    def freq(terms: Array[String], pos: Array[Array[Int]], offs: Array[Int]): Float =
      if (slop == 0) ExactPhrase.freq(pos, offs) else SloppyPhrase.freq(terms, pos, offs, slop)
  }

  /** SpanNearQuery over the single-term spans at slots 0 and 1. */
  final case class Near(slop: Int, ordered: Boolean) extends Proximity {
    def freq(terms: Array[String], pos: Array[Array[Int]], offs: Array[Int]): Float =
      SpanNear.freq(pos(0), pos(1), slop, ordered)
  }

  /** SpanFirstQuery: each occurrence before `end` is a zero-length span,
    * so the freq is their count.
    */
  final case class First(end: Int) extends Proximity {
    def freq(terms: Array[String], pos: Array[Array[Int]], offs: Array[Int]): Float =
      pos(0).count(_ < end).toFloat
  }
}
