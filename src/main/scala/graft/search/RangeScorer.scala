package graft.search

import graft.codec.{PostingCodec, VarByte}
import graft.index.{BuiltIndex, IndexBuilder, PostingRun}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.LongAccumulator

/** Whole 128-posting blocks of one term's posting run, undecoded: the blobs
  * and block metadata cut to the blocks. `base` is the docid before the
  * first block (−1: its first delta is absolute). A slice read from the
  * metadata-free postings view ([[BuiltIndex.postingsDecode]]) is a whole
  * run with empty block arrays; it decodes sequentially and never skips.
  */
final case class RunSlice(term: String, base: Long, ndocs: Int,
    doc: Array[Byte], tf: Array[Byte], dl: Array[Byte],
    lastDocid: Array[Long], maxTf: Array[Int], minDl: Array[Int],
    docOff: Array[Int], tfOff: Array[Int], dlOff: Array[Int])

/** One input of a range task: a run slice, or a batch of a non-term
  * producer's (qid, docid, slot, partial) rows, of docid range `range`;
  * `key` is the range's hash-partition salt.
  */
final case class RangeInput(key: Int, range: Int, slice: Option[RunSlice],
                            rows: Option[Array[(String, Long, Int, Float)]])

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
  * the Float order of a per-clause reduction. Rows of the non-term
  * producers (positional co-group, expansions, synonyms, BM25F fields)
  * enter as one more docid-ordered cursor.
  *
  * Block-max WAND runs inside the task against a live per-qid heap of the
  * task's k best: a block is skipped only when, for every qid reading it,
  * the block's bound plus the qid's other clauses' maxima over the task's
  * blocks — folded through the same reducer, so in the same Float order as
  * a real score — is strictly below that qid's current kth score. A pruned
  * qid's rows leave the task only if they entered its heap, so every row
  * out carries an exact score.
  */
private[search] object RangeScorer extends Serializable {
  /** Σdf postings per range: the P the driver plans. */
  val PostingsPerRange: Long = 1L << 15
  /** Most bucket partitions a single P = 1 task reads without an exchange. */
  val FewBuckets = 8
  /** Rows per batch of a non-term producer. */
  private val BatchRows = 4096

  // derived once: a product encoder costs milliseconds of Scala
  // reflection on the driver, once per search if derived per call
  val RunEnc: Encoder[PostingRun] = Encoders.product[PostingRun]
  val InputEnc: Encoder[RangeInput] = Encoders.product[RangeInput]
  val ScoredEnc: Encoder[(String, Long, Float)] = Encoders.product[(String, Long, Float)]

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
    * span of overlapping blocks (the whole run when P = 1). A run may cross
    * a docid group (`docid >> 40`), where ranges restart, so a range's
    * blocks need not be contiguous; a block that crosses a group is sent
    * to every range.
    */
  def cut(run: PostingRun, ranges: DocRanges): Iterator[(Int, RunSlice)] = {
    val nb = run.block_last_docid.length
    if (ranges.p == 1 || nb == 0)
      return Iterator.single((0, RunSlice(run.term, -1L, run.ndocs, run.doc_blob, run.tf_blob,
        run.dl_blob, run.block_last_docid, run.block_max_tf, run.block_min_dl,
        run.block_doc_off, run.block_tf_off, run.block_dl_off)))
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
          ((r, slice(run, b0, b1)), b1)
        }
      }
    }
  }

  private def slice(run: PostingRun, b0: Int, b1: Int): RunSlice = {
    val nb = run.block_last_docid.length
    def part(blob: Array[Byte], off: Array[Int]): (Array[Byte], Array[Int]) = {
      val end = if (b1 < nb) off(b1) else blob.length
      (java.util.Arrays.copyOfRange(blob, off(b0), end),
        off.slice(b0, b1).map(_ - off(b0)))
    }
    val (doc, docOff) = part(run.doc_blob, run.block_doc_off)
    val (tf, tfOff) = part(run.tf_blob, run.block_tf_off)
    val (dl, dlOff) = part(run.dl_blob, run.block_dl_off)
    RunSlice(run.term, if (b0 == 0) -1L else run.block_last_docid(b0 - 1),
      math.min(b1 * PostingCodec.BlockSize, run.ndocs) - b0 * PostingCodec.BlockSize,
      doc, tf, dl, run.block_last_docid.slice(b0, b1), run.block_max_tf.slice(b0, b1),
      run.block_min_dl.slice(b0, b1), docOff, tfOff, dlOff)
  }

  /** Scored (qid, docid, score) rows of the range tasks over `terms`' runs
    * and the non-term `rows`. `nSlots` holds every qid's slot count;
    * `reducer` folds one (qid, docid)'s slots; tombstoned docs and each
    * qid's `excluded` docids score nothing.
    */
  def score(index: BuiltIndex, terms: Map[String, ClausePlan.TermGroups],
            rows: Option[Dataset[(String, Long, Int, Float)]],
            nSlots: Map[String, Int], reducer: () => Searcher.RunReducer,
            scorer: Scorer, stats: CollStats,
            tombs: Option[Broadcast[Array[Long]]], excluded: Map[String, Set[Long]],
            wand: Option[Wand], work: Long, forced: Int): Dataset[(String, Long, Float)] = {
    val spark = index.spark
    val ranges = plan(index, work, forced)
    val exchange = ranges.p > 1 || index.bucketsOf(terms.keys) > FewBuckets
    val salts = if (exchange) IndexBuilder.saltsFor(ranges.p) else Array(0)
    val view = if (wand.nonEmpty || ranges.p > 1) index.postingsScoring else index.postingsDecode
    val runs = Option.when(terms.nonEmpty)(index.forTerms(view, terms.keys).as(RunEnc))
    def inputs(run: PostingRun): Iterator[RangeInput] =
      cut(run, ranges).map { case (r, s) => RangeInput(salts(r), r, Some(s), None) }
    def task(in: Iterator[RangeInput]): Iterator[(String, Long, Float)] =
      new RangeTask(terms, nSlots, reducer(), scorer, stats,
        tombs.map(_.value).orNull, excluded, wand.orNull, ranges).run(in)
    (runs, rows) match {
      case (None, None) => spark.emptyDataset(ScoredEnc)
      // the common small search: one task over the runs, no exchange
      case (Some(rs), None) if !exchange =>
        rs.coalesce(1).mapPartitions(it => task(it.flatMap(inputs)))(ScoredEnc)
      case _ =>
        val in = (runs.map(_.flatMap(inputs)(InputEnc)) ++
          rows.map(_.mapPartitions(it => batch(it, ranges, salts))(InputEnc))).reduce(_ union _)
        (if (exchange) in.repartition(ranges.p, col("key")) else in.coalesce(1))
          .mapPartitions(task)(ScoredEnc)
    }
  }

  /** One producer partition's rows as per-range batches. */
  private def batch(it: Iterator[(String, Long, Int, Float)], ranges: DocRanges,
                    salts: Array[Int]): Iterator[RangeInput] =
    it.grouped(BatchRows).flatMap(_.groupBy(row => ranges.of(row._2)).iterator.map {
      case (r, rows) => RangeInput(salts(r), r, None, Some(rows.toArray))
    })
}

/** A docid-ordered cursor of one range task. `doc` is Long.MaxValue once
  * exhausted; `contribute` adds the partials at `doc` to the task.
  */
private abstract class Cursor {
  var doc: Long = Long.MaxValue
  def contribute(): Unit
  def advance(): Unit
}

/** One term's slices of one docid range, in docid order: decodes a block
  * at a time into reusable arrays, dropping tombstoned docids and the
  * docids outside `range`; asks the task before decoding a block.
  * `weights(g)` / `qis(g)` / `slots(g)` / `boosts(g)` are weight group g.
  */
private final class TermCursor(val range: Int, val slices: Array[RunSlice],
    val weights: Array[Float], val qis: Array[Array[Int]], val slots: Array[Array[Int]],
    val boosts: Array[Array[Float]], task: RangeTask) extends Cursor {
  private val docs = new Array[Long](PostingCodec.BlockSize)
  private val tfs = new Array[Int](PostingCodec.BlockSize)
  private val dls = new Array[Int](PostingCodec.BlockSize)
  private var n = 0 // postings kept from the current block
  private var i = 0 // position in it
  private var si = -1 // slice
  private var bi = 0 // next block of the slice
  private var nb = 0 // blocks in the slice
  private var prev = -1L // docid before the next block (−1: absolute)
  private var seek = false // readers must seek to the next block's offsets
  private var dr: VarByte.Reader = _
  private var tr: VarByte.Reader = _
  private var lr: VarByte.Reader = _

  /** Per weight group, the largest block bound over every slice (WAND). */
  lazy val groupMax: Array[Float] = weights.map(w => slices.iterator
    .flatMap(s => s.maxTf.indices.iterator.map(task.bound(s, _, w))).foldLeft(0.0f)(math.max))

  def slice: RunSlice = slices(si)
  /** The block [[nextBlock]] is deciding on. */
  def block: Int = bi

  def contribute(): Unit = {
    val tf = tfs(i).toFloat
    var g = 0
    while (g < weights.length) {
      val s = task.scorer.score(tf, dls(i), weights(g), task.stats)
      val (q, sl, b) = (qis(g), slots(g), boosts(g))
      var e = 0
      while (e < q.length) {
        task.add(q(e), sl(e), if (b(e) == 1.0f) s else s * b(e))
        e += 1
      }
      g += 1
    }
  }

  def advance(): Unit = {
    i += 1
    while (i >= n) if (!nextBlock()) { doc = Long.MaxValue; return }
    doc = docs(i)
  }

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
        seek = false
      }
      s = slice
      if (task.skip(this)) { prev = s.lastDocid(bi); bi += 1; seek = true }
      else found = true
    }
    if (seek) { dr.seek(s.docOff(bi)); tr.seek(s.tfOff(bi)); lr.seek(s.dlOff(bi)); seek = false }
    val len = math.min(PostingCodec.BlockSize, s.ndocs - bi * PostingCodec.BlockSize)
    var d = prev
    n = 0
    var j = 0
    while (j < len) {
      val delta = dr.nextLong()
      d = if (d < 0) delta else d + delta
      val tf = tr.nextInt()
      val dl = lr.nextInt()
      if (task.keeps(range, d)) { docs(n) = d; tfs(n) = tf; dls(n) = dl; n += 1 }
      j += 1
    }
    prev = d
    bi += 1
    i = 0
    task.decodedBlock()
    true
  }
}

/** The non-term (qid, docid, slot, partial) rows of a range task, sorted
  * by (docid, qid, slot); tombstoned docids are passed over.
  */
private final class RowCursor(rows: Array[(String, Long, Int, Float)], qi: Map[String, Int],
                              task: RangeTask) extends Cursor {
  private var i = -1
  def contribute(): Unit = {
    var j = i
    while (j < rows.length && rows(j)._2 == doc) {
      task.add(qi(rows(j)._1), rows(j)._3, rows(j)._4)
      j += 1
    }
  }
  def advance(): Unit = {
    val d = doc
    i += 1
    while (i < rows.length && (rows(i)._2 == d || !task.live(rows(i)._2))) i += 1
    doc = if (i < rows.length) rows(i)._2 else Long.MaxValue
  }
}

/** One range task: see [[RangeScorer]]. */
private final class RangeTask(terms: Map[String, ClausePlan.TermGroups],
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

  def live(d: Long): Boolean = tombs == null || java.util.Arrays.binarySearch(tombs, d) < 0
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
    val sl = scala.collection.mutable.ArrayBuffer.empty[(Int, RunSlice)]
    val rs = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Int, Float)]
    in.foreach { x =>
      x.slice.foreach(s => sl += ((x.range, s)))
      x.rows.foreach(rs ++= _)
    }
    cursors = sl.groupBy(x => (x._2.term, x._1)).iterator.map { case ((term, range), ss) =>
      val groups = terms(term)
      new TermCursor(range, ss.map(_._2).sortBy(firstDocid).toArray, groups.map(_._1),
        groups.map(_._2.map(e => qi(e._1))), groups.map(_._2.map(_._2)), groups.map(_._2.map(_._3)), this)
    }.toArray
    if (wand != null) for ((c, ci) <- cursors.zipWithIndex; g <- c.qis.indices; e <- c.qis(g).indices) {
      val (q, s) = (c.qis(g)(e), c.slots(g)(e))
      if (heaps(q) != null) {
        slotCursor.getOrElseUpdate(c.range, qids.map(q => Array.fill(nSlots(q))(-1)))(q)(s) = ci
        slotGroup(q)(s) = g
        slotBoost(q)(s) = c.boosts(g)(e)
      }
    }
    val rowCursor = Option.when(rs.nonEmpty)(
      new RowCursor(rs.sortBy(r => (r._2, r._1, r._3)).toArray, qi, this))
    merge(cursors ++ rowCursor)
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
