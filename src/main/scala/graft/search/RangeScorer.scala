package graft.search

import graft.codec.{PostingCodec, VarByte}
import graft.index.{BuiltIndex, Deletes, IndexBuilder, PostingRun}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.col
import org.apache.spark.util.LongAccumulator

/** Whole 128-posting blocks of one term's posting run, undecoded: the blobs
  * and block metadata cut to the blocks. `base` is the docid before the
  * first block (−1: its first delta is absolute). A slice read from the
  * metadata-free postings view ([[BuiltIndex.postingsDecode]]) is a whole
  * run with empty block arrays; it decodes sequentially and never skips.
  * `pos` / `posOff` are the positions and their block offsets, empty
  * unless a positional clause reads the term.
  */
final case class RunSlice(term: String, base: Long, ndocs: Int,
    doc: Array[Byte], tf: Array[Byte], dl: Array[Byte], pos: Array[Byte],
    lastDocid: Array[Long], maxTf: Array[Int], minDl: Array[Int],
    docOff: Array[Int], tfOff: Array[Int], dlOff: Array[Int], posOff: Array[Int])

/** One input of a range task: a run slice of docid range `range`, read
  * from field `field` (0 but for BM25F's further field indexes); `key` is
  * the range's hash-partition salt.
  */
final case class RangeInput(key: Int, range: Int, field: Int, slice: RunSlice)

/** A positional clause of qid `qid`'s slot `slot`: the (term, offset)
  * slots of a phrase, a span-near or a span-first, whose in-doc positions
  * `shape` turns into a freq, scored at `weight` times `boost`.
  */
private[graft] final case class PositionalClause(qid: String, slot: Int,
    terms: Seq[(String, Int)], shape: Proximity, weight: Float, boost: Float)

/** A clause over the union of `terms`' postings, for qid `qid`'s slot
  * `slot`: a synonym group (`synonym`) sums its members' raw tf and scores
  * it once at `weight` (≙ SynonymScorer: one freq, one similarity call),
  * times `boost`; a constant-score expansion adds `boost` once per doc.
  */
private[graft] final case class UnionClause(qid: String, slot: Int, terms: Seq[String],
                                            synonym: Boolean, weight: Float, boost: Float)

/** BM25F's clauses: per query term, its idf over the document-level df,
  * its slot (the term's rank in ascending term order) and each query's
  * (qid, occurrence count); per field, (w_f, b_f, avglen_f).
  */
private[search] final case class FieldClauses(k1: Double, fields: Array[(Double, Double, Double)],
    terms: Map[String, (Double, Int, Array[(String, Int)])])

/** The clauses of one batch the range tasks build cursors for: term
  * weight groups, positional clauses, union clauses and BM25F terms.
  */
private[search] final case class RangeClauses(terms: Map[String, ClausePlan.TermGroups],
    positional: Seq[PositionalClause] = Nil, unions: Seq[UnionClause] = Nil,
    fields: Option[FieldClauses] = None) {
  /** The terms read from field 0, and those a positional clause reads. */
  def fieldTerms: Set[String] = terms.keySet ++ positionalTerms ++ unions.flatMap(_.terms) ++
    fields.toSeq.flatMap(_.terms.keys)
  def positionalTerms: Set[String] = positional.flatMap(_.terms.map(_._1)).toSet
}

/** `p` docid ranges: each docid group's (`docid >> 40`) dense local ids
  * [0, span) split into `p` equal parts, ids past `span` in the last part.
  * A range is monotone in docid within a group, not across groups.
  */
private[search] final case class DocRanges(p: Int, span: Long) {
  import DocRanges.LocalMask
  def of(docid: Long): Int =
    if (p == 1) 0 else math.min(p - 1L, (docid & LocalMask) * p / span).toInt
}

private[search] object DocRanges {
  val LocalMask: Long = (1L << 40) - 1
}

/** The engine's one per-(qid, docid) combiner: range tasks. The driver
  * splits the docid space into P ranges ([[plan]]); the postings scan ships
  * runs undecoded, cut at block boundaries into per-range slices when
  * P > 1 (one hash exchange, keyed by range), and with no exchange at all
  * when P = 1 and the read touches few bucket files. Each range task
  * merges its clause cursors document-at-a-time: it decodes one block at a
  * time into reusable primitive arrays, gathers every qid's partials of a
  * docid, and folds them in slot order through a [[Searcher.RunReducer]] —
  * the Float order of a per-clause reduction. Every clause kind is a
  * cursor over [[PostingReader]]s: a term, a union (synonym, expansion), a
  * leapfrog conjunction that decodes positions only where every slot
  * matches (phrase, span-near, span-first) and BM25F's per-field union.
  *
  * Block-max WAND runs inside the task against a live per-qid heap of the
  * task's k best: a block is skipped only when, for every qid reading it,
  * the block's bound plus the qid's other clauses' maxima over the task's
  * blocks — folded through the same reducer, so in the same Float order as
  * a real score — is strictly below that qid's current kth score. A pruned
  * qid's rows leave the task only if they entered its heap, so every row
  * out carries an exact score. Only term-only qids prune
  * ([[ClausePlan.pruneQids]]).
  */
private[search] object RangeScorer extends Serializable {
  /** Σdf postings per range: the P the driver plans. */
  val PostingsPerRange: Long = 1L << 15
  /** Most bucket partitions a single P = 1 task reads without an exchange. */
  val FewBuckets = 8

  // derived once, as expression encoders: a product encoder costs
  // milliseconds of Scala reflection on the driver, and a typed operator
  // given a plain `Encoders.product` rebuilds its expressions every call
  val RunEnc: Encoder[PostingRun] = ExpressionEncoder[PostingRun]()
  val InputEnc: Encoder[RangeInput] = ExpressionEncoder[RangeInput]()
  val ScoredEnc: Encoder[(String, Long, Float)] = ExpressionEncoder[(String, Long, Float)]()

  /** WAND state of a pruned search: the qids it prunes, k, and the
    * decoded / skipped block counters.
    */
  final case class Wand(qids: Set[String], k: Int,
                        decoded: LongAccumulator, skipped: LongAccumulator)

  /** Σ df × entries of `terms`: the postings work of a term plan. */
  def work(terms: Map[String, ClausePlan.TermGroups], df: String => Long): Long =
    terms.iterator.map { case (t, gs) => df(t) * gs.iterator.map(_._2.length).sum }.sum

  /** P from the plan's work (Σ df over the clause entries), at most the
    * session's shuffle partitions; `forced` > 0 fixes P (specs).
    */
  def plan(index: BuiltIndex, work: Long, forced: Int): DocRanges = {
    val maxP = index.spark.conf.get("spark.sql.shuffle.partitions").toInt
    val p = if (forced > 0) forced
      else math.max(1L, math.min(maxP.toLong, (work + PostingsPerRange - 1) / PostingsPerRange)).toInt
    val groups = math.max(1, index.cfg.rangePartitions)
    DocRanges(p, math.max(1L, (index.stats.max_doc + groups - 1) / groups))
  }

  /** Whole blocks of `run` per range they overlap, one slice per maximal
    * span of overlapping blocks (the whole run when P = 1), with positions
    * iff `withPos`. A run may cross a docid group (`docid >> 40`), where
    * ranges restart, so a range's blocks need not be contiguous; a block
    * that crosses a group is sent to every range.
    */
  def cut(run: PostingRun, ranges: DocRanges, withPos: Boolean): Iterator[(Int, RunSlice)] = {
    val nb = run.block_last_docid.length
    if (ranges.p == 1 || nb == 0)
      return Iterator.single((0, RunSlice(run.term, -1L, run.ndocs, run.doc_blob, run.tf_blob,
        run.dl_blob, if (withPos) run.pos_blob else Array.emptyByteArray,
        run.block_last_docid, run.block_max_tf, run.block_min_dl, run.block_doc_off,
        run.block_tf_off, run.block_dl_off, if (withPos) run.block_pos_off else Array.emptyIntArray)))
    // block b holds docids in [lo, hi]: ranges (of(lo) to of(hi)) within one group
    val (rlo, rhi) = (0 until nb).map { b =>
      val lo = if (b == 0) run.first_docid else run.block_last_docid(b - 1) + 1
      val hi = run.block_last_docid(b)
      if ((lo >>> 40) == (hi >>> 40)) (ranges.of(lo), ranges.of(hi)) else (0, ranges.p - 1)
    }.unzip
    Iterator.range(0, ranges.p).flatMap { r =>
      def in(b: Int) = rlo(b) <= r && r <= rhi(b)
      Iterator.unfold(0) { from =>
        val b0 = (from until nb).find(in).getOrElse(nb)
        Option.when(b0 < nb) {
          val b1 = (b0 until nb).find(!in(_)).getOrElse(nb)
          ((r, slice(run, b0, b1, withPos)), b1)
        }
      }
    }
  }

  private def slice(run: PostingRun, b0: Int, b1: Int, withPos: Boolean): RunSlice = {
    val nb = run.block_last_docid.length
    def part(blob: Array[Byte], off: Array[Int]): (Array[Byte], Array[Int]) = {
      val end = if (b1 < nb) off(b1) else blob.length
      (java.util.Arrays.copyOfRange(blob, off(b0), end),
        off.slice(b0, b1).map(_ - off(b0)))
    }
    val (doc, docOff) = part(run.doc_blob, run.block_doc_off)
    val (tf, tfOff) = part(run.tf_blob, run.block_tf_off)
    val (dl, dlOff) = part(run.dl_blob, run.block_dl_off)
    val (pos, posOff) =
      if (withPos) part(run.pos_blob, run.block_pos_off) else (Array.emptyByteArray, Array.emptyIntArray)
    RunSlice(run.term, if (b0 == 0) -1L else run.block_last_docid(b0 - 1),
      math.min(b1 * PostingCodec.BlockSize, run.ndocs) - b0 * PostingCodec.BlockSize,
      doc, tf, dl, pos, run.block_last_docid.slice(b0, b1), run.block_max_tf.slice(b0, b1),
      run.block_min_dl.slice(b0, b1), docOff, tfOff, dlOff, posOff)
  }

  /** Scored (qid, docid, score) rows of the range tasks over `clauses`.
    * `nSlots` holds every qid's slot count; `reducer` folds one (qid,
    * docid)'s slots; tombstoned docs and each qid's `excluded` docids score
    * nothing. BM25F's field f > 0 reads `fields(f - 1)`.
    */
  def score(index: BuiltIndex, clauses: RangeClauses,
            nSlots: Map[String, Int], reducer: () => Searcher.RunReducer,
            scorer: Scorer, stats: CollStats,
            tombs: Option[Broadcast[Array[Long]]], excluded: Map[String, Set[Long]],
            wand: Option[Wand], work: Long, forced: Int,
            fields: Seq[BuiltIndex] = Nil): Dataset[(String, Long, Float)] = {
    val ranges = plan(index, work, forced)
    val posTerms = clauses.positionalTerms
    val reads = (index, clauses.fieldTerms) +:
      fields.map(_ -> clauses.fields.fold(Set.empty[String])(_.terms.keySet))
    val exchange = ranges.p > 1 || reads.map { case (ix, ts) => ix.bucketsOf(ts) }.sum > FewBuckets
    val salts = if (exchange) IndexBuilder.saltsFor(ranges.p) else Array(0)
    // only the positional terms read the positions column
    def view(ix: BuiltIndex) =
      if (wand.nonEmpty || ranges.p > 1) ix.postingsScoring else ix.postingsDecode
    def read(ix: BuiltIndex, ts: Set[String], f: Int): DataFrame = {
      val (pos, plain) = if (f == 0) ts.partition(posTerms) else (Set.empty[String], ts)
      Seq(pos -> ix.postings, plain -> view(ix)).collect { case (t, v) if t.nonEmpty =>
        ix.forTerms(v, t) }.reduce(_ union _)
    }
    val runs = reads.zipWithIndex.collect { case ((ix, ts), f) if ts.nonEmpty => (f, read(ix, ts, f)) }
    def inputs(run: PostingRun, f: Int): Iterator[RangeInput] =
      cut(run, ranges, f == 0 && posTerms(run.term)).map { case (r, s) => RangeInput(salts(r), r, f, s) }
    def task(in: Iterator[RangeInput]): Iterator[(String, Long, Float)] =
      new RangeTask(clauses, nSlots, reducer(), scorer, stats,
        Searcher.tombsOf(tombs), excluded, wand.orNull, ranges).run(in)
    runs match {
      case Seq() => index.spark.emptyDataset(ScoredEnc)
      // the common small search: one task over the runs, no exchange
      case Seq((0, rs)) if !exchange =>
        rs.coalesce(1).as(RunEnc).mapPartitions(it => task(it.flatMap(inputs(_, 0))))(ScoredEnc)
      case _ =>
        val in = runs.map { case (f, rs) => rs.as(RunEnc).flatMap(inputs(_, f))(InputEnc) }.reduce(_ union _)
        (if (exchange) in.repartition(ranges.p, col("key")) else in.coalesce(1))
          .mapPartitions(task)(ScoredEnc)
    }
  }
}

/** A docid-ordered cursor of one range task. `doc` is Long.MaxValue once
  * exhausted; `contribute` adds the partials at `doc` to the task.
  */
private abstract class Cursor {
  var doc: Long = Long.MaxValue
  def contribute(): Unit
  def advance(): Unit
  /** Advances to the first doc at or past `t`. */
  def advanceTo(t: Long): Unit = while (doc < t) advance()
}

/** One term's slices of one docid range, in docid order: decodes a block
  * at a time into reusable arrays, dropping tombstoned docids and the
  * docids outside `range`. [[advanceTo]] passes over the blocks that end
  * before its target undecoded; [[positions]] decodes the current
  * posting's positions on demand, skipping those of the postings passed
  * over. Starts before its first posting; a bare reader contributes
  * nothing, the clause cursors over it do.
  */
private class PostingReader(val range: Int, val slices: Array[RunSlice], task: RangeTask)
    extends Cursor {
  doc = -1L
  private val docs = new Array[Long](PostingCodec.BlockSize)
  private val tfs = new Array[Int](PostingCodec.BlockSize)
  private val dls = new Array[Int](PostingCodec.BlockSize)
  private val posAt = new Array[Int](PostingCodec.BlockSize) // positions in the block before it
  private var n = 0 // postings kept from the current block
  private var i = 0 // position in it
  private var si = -1 // slice
  private var bi = 0 // next block of the slice
  private var nb = 0 // blocks in the slice
  private var prev = -1L // docid before the next block (−1: absolute)
  private var seek = false // readers must seek to the next block's offsets
  private var target = -1L // no block ending before it is decoded
  private var dr: VarByte.Reader = _
  private var tr: VarByte.Reader = _
  private var lr: VarByte.Reader = _
  private var pr: VarByte.Reader = _ // null: the slice carries no positions
  private var pRead = 0 // positions of the block read so far

  def slice: RunSlice = slices(si)
  /** The block [[nextBlock]] is deciding on. */
  def block: Int = bi
  def tf: Int = tfs(i)
  def dl: Int = dls(i)

  def contribute(): Unit = ()

  def advance(): Unit = {
    i += 1
    while (i >= n) if (!nextBlock()) { doc = Long.MaxValue; return }
    doc = docs(i)
  }

  override def advanceTo(t: Long): Unit = { target = t; while (doc < t) advance() }

  /** The current posting's ascending in-doc positions. */
  def positions(): Array[Int] = {
    var skip = posAt(i) - pRead
    while (skip > 0) { pr.nextLong(); skip -= 1 }
    val out = new Array[Int](tfs(i))
    var p = 0
    var j = 0
    while (j < out.length) { p += pr.nextInt(); out(j) = p; j += 1 }
    pRead = posAt(i) + out.length
    out
  }

  /** Whether to pass over the block [[block]] of [[slice]] undecoded. */
  protected def skipBlock(): Boolean = false

  // decodes the next block not skipped; false once every slice is done
  private def nextBlock(): Boolean = {
    var s: RunSlice = null
    var found = false
    while (!found) {
      while (si < 0 || bi >= nb) {
        si += 1
        if (si >= slices.length) return false
        s = slice
        nb = (s.ndocs + PostingCodec.BlockSize - 1) / PostingCodec.BlockSize
        bi = 0
        prev = s.base
        dr = new VarByte.Reader(s.doc); tr = new VarByte.Reader(s.tf); lr = new VarByte.Reader(s.dl)
        pr = if (s.pos.isEmpty) null else new VarByte.Reader(s.pos)
        seek = false
      }
      s = slice
      if ((s.lastDocid.nonEmpty && s.lastDocid(bi) < target) || skipBlock()) {
        prev = s.lastDocid(bi); bi += 1; seek = true
      } else found = true
    }
    if (seek) { dr.seek(s.docOff(bi)); tr.seek(s.tfOff(bi)); lr.seek(s.dlOff(bi)); seek = false }
    if (pr != null) { pr.seek(s.posOff(bi)); pRead = 0 }
    val len = math.min(PostingCodec.BlockSize, s.ndocs - bi * PostingCodec.BlockSize)
    var d = prev
    var ps = 0
    n = 0
    var j = 0
    while (j < len) {
      val delta = dr.nextLong()
      d = if (d < 0) delta else d + delta
      val tf = tr.nextInt()
      val dl = lr.nextInt()
      if (task.keeps(range, d)) { docs(n) = d; tfs(n) = tf; dls(n) = dl; posAt(n) = ps; n += 1 }
      ps += tf
      j += 1
    }
    prev = d
    bi += 1
    i = 0
    task.decodedBlock()
    true
  }
}

/** A term's reader scoring its weight groups: `weights(g)` / `qis(g)` /
  * `slots(g)` / `boosts(g)` are weight group g. Asks the task before
  * decoding a block (WAND).
  */
private final class TermCursor(range: Int, slices: Array[RunSlice],
    val weights: Array[Float], val qis: Array[Array[Int]], val slots: Array[Array[Int]],
    val boosts: Array[Array[Float]], task: RangeTask) extends PostingReader(range, slices, task) {

  /** Per weight group, the largest block bound over every slice (WAND). */
  lazy val groupMax: Array[Float] = weights.map(w => slices.iterator
    .flatMap(s => s.maxTf.indices.iterator.map(task.bound(s, _, w))).foldLeft(0.0f)(math.max))

  override def contribute(): Unit = {
    val tf0 = tf.toFloat
    val dl0 = dl
    var g = 0
    while (g < weights.length) {
      val s = task.scorer.score(tf0, dl0, weights(g), task.stats)
      val (q, sl, b) = (qis(g), slots(g), boosts(g))
      var e = 0
      while (e < q.length) {
        task.add(q(e), sl(e), if (b(e) == 1.0f) s else s * b(e))
        e += 1
      }
      g += 1
    }
  }

  override protected def skipBlock(): Boolean = task.skip(this)
}

/** Readers advanced together: `doc` is their smallest docid, and a reader
  * is on it iff its own doc equals it. Starts before the first posting.
  */
private final class Union(val rs: Array[PostingReader]) {
  private val heap = new CursorHeap(rs.length)
  rs.foreach(heap.push)
  var doc: Long = -1L

  def advanceTo(t: Long): Unit = {
    while (heap.nonEmpty && heap.top.doc < t) {
      val r = heap.pop()
      r.advanceTo(t)
      if (r.doc != Long.MaxValue) heap.push(r)
    }
    doc = if (heap.nonEmpty) heap.top.doc else Long.MaxValue
  }

  /** The sum of the raw tf of the readers on [[doc]], and their dl. */
  def tfAndDl: (Int, Int) = {
    var tf = 0
    var dl = 0
    rs.foreach(r => if (r.doc == doc) { tf += r.tf; dl = r.dl })
    (tf, dl)
  }
}

/** A synonym group or a constant-score expansion ([[UnionClause]]) of
  * qid `q`: every doc of the union scores once.
  */
private final class UnionCursor(u: Union, c: UnionClause, q: Int, task: RangeTask) extends Cursor {
  def advance(): Unit = { u.advanceTo(u.doc + 1); doc = u.doc }
  def contribute(): Unit =
    if (!c.synonym) task.add(q, c.slot, c.boost)
    else {
      val (tf, dl) = u.tfAndDl
      val s = task.scorer.score(tf.toFloat, dl, c.weight, task.stats)
      task.add(q, c.slot, if (c.boost == 1.0f) s else s * c.boost)
    }
}

/** A [[PositionalClause]] of qid `q` over one union per distinct offset
  * (`offs`, ascending; several terms at one offset are a MultiPhraseQuery
  * union slot): a leapfrog conjunction that decodes positions only at
  * docs every slot holds, and stops at those whose freq is non-zero.
  * `terms(s)` is slot s's first term with postings in the range.
  */
private final class PositionalCursor(slots: Array[Union], terms: Array[String], offs: Array[Int],
    c: PositionalClause, q: Int, task: RangeTask) extends Cursor {
  private var partial = 0.0f
  private var from = 0L

  def contribute(): Unit = task.add(q, c.slot, partial)

  def advance(): Unit = {
    var t = align(from)
    while (t != Long.MaxValue) {
      val pos = slots.map(positions)
      val freq = c.shape.freq(terms, pos, offs)
      if (freq != 0.0f) {
        val s = task.scorer.score(freq, slots(0).tfAndDl._2, c.weight, task.stats)
        partial = if (c.boost == 1.0f) s else s * c.boost
        doc = t
        from = t + 1
        return
      }
      t = align(t + 1)
    }
    doc = Long.MaxValue
  }

  // the first doc at or past t that every slot holds
  private def align(t0: Long): Long = {
    var t = t0
    var agree = 0
    var s = 0
    while (agree < slots.length) {
      val u = slots(s)
      u.advanceTo(t)
      if (u.doc == Long.MaxValue) return Long.MaxValue
      if (u.doc == t) agree += 1 else { t = u.doc; agree = 1 }
      s = (s + 1) % slots.length
    }
    t
  }

  // a slot's positions at its doc: its readers' lists merged
  private def positions(u: Union): Array[Int] =
    u.rs.iterator.filter(_.doc == u.doc).map(_.positions()).reduce(Searcher.mergeSorted)
}

/** One BM25F query term of the qids `qs` (`counts` occurrences each),
  * over one reader per field: tf̃ = Σ_f w_f · tf_f / ((1 − b_f) + b_f ·
  * len_f / avglen_f) in field order, one saturation idf · tf̃ / (k1 + tf̃)
  * in Double, then per qid the count times it as a Float at `slot`.
  */
private final class FieldCursor(u: Union, f: FieldClauses, idf: Double, slot: Int,
    qs: Array[Int], counts: Array[Int], task: RangeTask) extends Cursor {
  def advance(): Unit = { u.advanceTo(u.doc + 1); doc = u.doc }
  def contribute(): Unit = {
    var tfb = 0.0
    var i = 0
    while (i < f.fields.length) {
      val r = u.rs(i)
      val (w, b, avgdl) = f.fields(i)
      val part = if (r.doc == doc) w * r.tf / ((1.0 - b) + b * r.dl / avgdl) else 0.0
      tfb = if (i == 0) part else tfb + part
      i += 1
    }
    val sat = idf * tfb / (f.k1 + tfb)
    var e = 0
    while (e < qs.length) { task.add(qs(e), slot, (counts(e) * sat).toFloat); e += 1 }
  }
}

/** One range task: see [[RangeScorer]]. */
private final class RangeTask(clauses: RangeClauses,
    nSlots: Map[String, Int], reducer: Searcher.RunReducer,
    val scorer: Scorer, val stats: CollStats, tombs: Array[Long],
    excluded: Map[String, Set[Long]], wand: RangeScorer.Wand, ranges: DocRanges) {
  private val qids: Array[String] = nSlots.keys.toArray.sorted
  private val qi: Map[String, Int] = qids.zipWithIndex.toMap
  private val acc: Array[Array[Float]] = qids.map(q => new Array[Float](nSlots(q)))
  private val has: Array[Array[Boolean]] = qids.map(q => new Array[Boolean](nSlots(q)))
  private val excl: Array[Set[Long]] = qids.map(excluded.getOrElse(_, null))
  private val touched = new Array[Int](qids.length)
  private val isTouched = new Array[Boolean](qids.length)
  private var nTouched = 0
  // WAND: a heap per pruned qid, and each pruned qid's slots as
  // (cursor, weight group, boost), the cursor per range (−1: none)
  private val heaps: Array[TopK.Heap] =
    qids.map(q => if (wand != null && wand.qids(q)) new TopK.Heap(wand.k) else null)
  private val slotCursor = scala.collection.mutable.HashMap.empty[Int, Array[Array[Int]]] // per range
  private val slotGroup: Array[Array[Int]] = qids.map(q => new Array[Int](nSlots(q)))
  private val slotBoost: Array[Array[Float]] = qids.map(q => new Array[Float](nSlots(q)))
  private var cursors: Array[TermCursor] = Array.empty

  def live(d: Long): Boolean = Deletes.live(tombs, d)
  def keeps(range: Int, d: Long): Boolean = live(d) && ranges.of(d) == range

  def add(q: Int, slot: Int, v: Float): Unit = {
    if (!isTouched(q)) { isTouched(q) = true; touched(nTouched) = q; nTouched += 1 }
    val a = acc(q)
    if (has(q)(slot)) a(slot) += v else { has(q)(slot) = true; a(slot) = v }
  }

  def decodedBlock(): Unit = if (wand != null) wand.decoded.add(1)

  /** Block b's bound at weight w: the score of its max tf at its min dl. */
  def bound(s: RunSlice, b: Int, w: Float): Float = scorer.score(s.maxTf(b).toFloat, s.minDl(b), w, stats)

  /** WAND: skip `c`'s next block iff every qid reading it is pruned, its
    * heap is full, and the block cannot reach its kth score.
    */
  def skip(c: TermCursor): Boolean = {
    if (wand == null || c.slice.maxTf.isEmpty) return false
    var g = 0
    while (g < c.qis.length) {
      val q = c.qis(g)
      var e = 0
      while (e < q.length) {
        val h = heaps(q(e))
        if (h == null || !h.full || !(upperBound(q(e), c) < h.worstScore)) return false
        e += 1
      }
      g += 1
    }
    wand.skipped.add(1)
    true
  }

  // the reducer's fold of qid q's slot bounds: `c`'s next block for its
  // own slots, the maximum over the task's blocks of every other cursor of
  // `c`'s range
  private def upperBound(q: Int, c: TermCursor): Float = {
    reducer.begin(qids(q))
    val sc = slotCursor(c.range)(q)
    var s = 0
    while (s < sc.length) {
      val ci = sc(s)
      if (ci >= 0) {
        val cur = cursors(ci)
        val g = slotGroup(q)(s)
        val raw = if (cur eq c) bound(c.slice, c.block, cur.weights(g)) else cur.groupMax(g)
        val b = slotBoost(q)(s)
        reducer.add(s, if (b == 1.0f) raw else raw * b)
      }
      s += 1
    }
    reducer.score
  }

  def run(in: Iterator[RangeInput]): Iterator[(String, Long, Float)] = {
    val slices: Map[(Int, String, Int), Array[RunSlice]] = in.toSeq
      .groupBy(x => (x.field, x.slice.term, x.range))
      .map { case (key, xs) => key -> xs.map(_.slice).sortBy(firstDocid).toArray }
    cursors = slices.iterator.collect { case ((0, term, range), ss) if clauses.terms.contains(term) =>
      val groups = clauses.terms(term)
      new TermCursor(range, ss, groups.map(_._1), groups.map(_._2.map(e => qi(e._1))),
        groups.map(_._2.map(_._2)), groups.map(_._2.map(_._3)), this)
    }.toArray
    if (wand != null) for ((c, ci) <- cursors.zipWithIndex; g <- c.qis.indices; e <- c.qis(g).indices) {
      val (q, s) = (c.qis(g)(e), c.slots(g)(e))
      if (heaps(q) != null) {
        slotCursor.getOrElseUpdate(c.range, qids.map(q => Array.fill(nSlots(q))(-1)))(q)(s) = ci
        slotGroup(q)(s) = g
        slotBoost(q)(s) = c.boosts(g)(e)
      }
    }
    // the other clause kinds: per range, a cursor over the readers of the
    // clause's terms that have slices in it (BM25F: one per field)
    def union(keys: Seq[(Int, String, Int)]): Union =
      new Union(keys.map(k => new PostingReader(k._3, slices.getOrElse(k, Array.empty), this)).toArray)
    val others = slices.keysIterator.map(_._3).toSeq.distinct.flatMap { r =>
      def present(terms: Seq[String]) = terms.map((0, _, r)).filter(slices.contains)
      clauses.unions.flatMap { c =>
        val keys = present(c.terms)
        Option.when(keys.nonEmpty)(new UnionCursor(union(keys), c, qi(c.qid), this))
      } ++ clauses.positional.flatMap { c =>
        val offs = c.terms.map(_._2).distinct.sorted.toArray
        val terms = offs.map(o => c.terms.filter(_._2 == o).map(_._1).distinct)
        val keys = terms.map(present)
        Option.when(keys.forall(_.nonEmpty))(
          new PositionalCursor(keys.map(union), keys.map(_.head._2), offs, c, qi(c.qid), this))
      } ++ clauses.fields.toSeq.flatMap(f => f.terms.flatMap { case (term, (idf, slot, qs)) =>
        val keys = f.fields.indices.map((_, term, r))
        Option.when(keys.exists(slices.contains))(
          new FieldCursor(union(keys), f, idf, slot, qs.map(e => qi(e._1)), qs.map(_._2), this))
      })
    }
    merge(cursors ++ others)
  }

  private def firstDocid(s: RunSlice): Long = {
    val d = new VarByte.Reader(s.doc).nextLong()
    if (s.base < 0) d else s.base + d
  }

  /** Document-at-a-time merge of `cs` by docid. */
  private def merge(cs: Array[Cursor]): Iterator[(String, Long, Float)] = {
    val heap = new CursorHeap(cs.length)
    cs.foreach { c => c.advance(); if (c.doc != Long.MaxValue) heap.push(c) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Float)]
    new Iterator[(String, Long, Float)] {
      private var o = 0
      def hasNext: Boolean = {
        while (o >= out.length && heap.nonEmpty) { out.clear(); o = 0; step(heap, out) }
        o < out.length
      }
      def next(): (String, Long, Float) = { hasNext; o += 1; out(o - 1) }
    }
  }

  // gathers and folds the smallest docid of `heap`
  private def step(heap: CursorHeap, out: scala.collection.mutable.ArrayBuffer[(String, Long, Float)]): Unit = {
    val d = heap.top.doc
    while (heap.nonEmpty && heap.top.doc == d) {
      val c = heap.pop()
      c.contribute()
      c.advance()
      if (c.doc != Long.MaxValue) heap.push(c)
    }
    java.util.Arrays.sort(touched, 0, nTouched)
    var t = 0
    while (t < nTouched) {
      val q = touched(t)
      isTouched(q) = false
      val h = has(q)
      if (excl(q) == null || !excl(q).contains(d)) {
        reducer.begin(qids(q))
        var s = 0
        while (s < h.length) { if (h(s)) reducer.add(s, acc(q)(s)); s += 1 }
        if (reducer.keep) {
          val sc = reducer.score
          if (heaps(q) == null) out += ((qids(q), d, sc))
          else if (!sc.isNaN && heaps(q).offer(d, sc)) out += ((qids(q), d, sc))
        }
      }
      java.util.Arrays.fill(h, false)
      t += 1
    }
    nTouched = 0
  }
}

/** Binary min-heap of cursors by their current docid. */
private final class CursorHeap(cap: Int) {
  private val a = new Array[Cursor](math.max(cap, 1))
  private var n = 0
  def nonEmpty: Boolean = n > 0
  def top: Cursor = a(0)
  def push(c: Cursor): Unit = {
    var i = n
    n += 1
    while (i > 0 && a((i - 1) >>> 1).doc > c.doc) { a(i) = a((i - 1) >>> 1); i = (i - 1) >>> 1 }
    a(i) = c
  }
  def pop(): Cursor = {
    val r = a(0)
    n -= 1
    if (n > 0) {
      val c = a(n)
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        if (l >= n) done = true
        else {
          val m = if (l + 1 < n && a(l + 1).doc < a(l).doc) l + 1 else l
          if (a(m).doc < c.doc) { a(i) = a(m); i = m } else done = true
        }
      }
      a(i) = c
    }
    r
  }
}
