package graft.codec

import java.io.ByteArrayOutputStream

/** One decoded posting: docid (64-bit — ids are packed
  * (rangePartition << 40 | localIndex) at 10^12-doc scale), term frequency,
  * and the document's token length. dl is denormalized into the posting so
  * query-time BM25 scoring needs no join against the doc-length table — the
  * Spark equivalent of Lucene's per-segment norms array being a local
  * lookup (norms written at `BM25.java:146-149` in the reference).
  *
  * `pos` holds the in-document token positions of the term's tf occurrences
  * (ascending; Lucene positionIncrement semantics — stopped tokens consume
  * a position), or the shared empty array when the index stores no
  * positions (`IndexConfig.indexPositions = false`, the default).
  */
final case class DecodedPosting(docid: Long, tf: Int, dl: Int,
                                pos: Array[Int] = PostingCodec.NoPositions)

/** An encoded posting-list run for one (term, docid-range group).
  *
  * - `docBlob`: docids — first absolute, then deltas — varbyte
  * - `tfBlob`:  term frequencies, varbyte
  * - `dlBlob`:  exact doc lengths, varbyte
  * - `posBlob`: optional in-doc positions — per posting, tf values, first
  *   absolute then deltas, varbyte; EMPTY when positions are not indexed
  * - block metadata every [[PostingCodec.BlockSize]] postings: last docid,
  *   max tf and min dl per block plus byte offsets into each blob, enabling
  *   block skipping / block-max WAND upper bounds without decoding.
  */
final case class EncodedRun(
    ndocs: Int,
    firstDocid: Long,
    lastDocid: Long,
    maxTf: Int,
    sumTf: Long,
    docBlob: Array[Byte],
    tfBlob: Array[Byte],
    dlBlob: Array[Byte],
    posBlob: Array[Byte],
    blockLastDocid: Array[Long],
    blockMaxTf: Array[Int],
    blockMinDl: Array[Int],
    blockDocOff: Array[Int],
    blockTfOff: Array[Int],
    blockDlOff: Array[Int],
    blockPosOff: Array[Int]
)

object PostingCodec {
  val BlockSize = 128
  /** Shared zero-length positions array — postings without positions all
    * reference this instance (no per-posting allocation on the hot path).
    */
  val NoPositions: Array[Int] = Array.emptyIntArray

  /** Encode postings (docids MUST be strictly ascending). `it` is consumed
    * streaming so a sorted shuffle partition never materializes twice.
    * Positions are encoded iff the FIRST posting carries a non-empty `pos`
    * (all-or-nothing per run; enforced).
    */
  def encode(it: Iterator[DecodedPosting]): EncodedRun = {
    val doc = new ByteArrayOutputStream()
    val tfO = new ByteArrayOutputStream()
    val dlO = new ByteArrayOutputStream()
    val posO = new ByteArrayOutputStream()
    val bLast = Vector.newBuilder[Long]
    val bMaxTf = Vector.newBuilder[Int]
    val bMinDl = Vector.newBuilder[Int]
    val bDocOff = Vector.newBuilder[Int]
    val bTfOff = Vector.newBuilder[Int]
    val bDlOff = Vector.newBuilder[Int]
    val bPosOff = Vector.newBuilder[Int]

    var n = 0
    var prev = -1L
    var first = -1L
    var maxTf = 0
    var sumTf = 0L
    var blkMaxTf = 0
    var blkMinDl = Int.MaxValue
    var lastInBlk = -1L
    var withPos = false

    while (it.hasNext) {
      val p = it.next()
      require(p.docid > prev, s"docids must be strictly ascending: ${p.docid} after $prev")
      if (n == 0) withPos = p.pos.nonEmpty
      if (n % BlockSize == 0) {
        if (n > 0) { // close previous block
          bLast += lastInBlk; bMaxTf += blkMaxTf; bMinDl += blkMinDl
          blkMaxTf = 0; blkMinDl = Int.MaxValue
        }
        bDocOff += doc.size(); bTfOff += tfO.size(); bDlOff += dlO.size()
        bPosOff += posO.size()
      }
      if (n == 0) { first = p.docid; VarByte.write(doc, p.docid) }
      else VarByte.write(doc, p.docid - prev)
      VarByte.write(tfO, p.tf)
      VarByte.write(dlO, p.dl)
      if (withPos) {
        require(p.pos.length == p.tf,
          s"positions per posting must equal tf (${p.pos.length} != ${p.tf})")
        var i = 0
        var pprev = 0
        while (i < p.pos.length) {
          VarByte.write(posO, if (i == 0) p.pos(0).toLong else (p.pos(i) - pprev).toLong)
          pprev = p.pos(i)
          i += 1
        }
      } else require(p.pos.isEmpty, "mixed with/without-positions postings in one run")
      prev = p.docid
      lastInBlk = p.docid
      if (p.tf > maxTf) maxTf = p.tf
      if (p.tf > blkMaxTf) blkMaxTf = p.tf
      if (p.dl < blkMinDl) blkMinDl = p.dl
      sumTf += p.tf
      n += 1
    }
    if (n > 0) { bLast += lastInBlk; bMaxTf += blkMaxTf; bMinDl += blkMinDl }

    EncodedRun(n, first, prev, maxTf, sumTf,
      doc.toByteArray, tfO.toByteArray, dlO.toByteArray, posO.toByteArray,
      bLast.result().toArray, bMaxTf.result().toArray, bMinDl.result().toArray,
      bDocOff.result().toArray, bTfOff.result().toArray, bDlOff.result().toArray,
      bPosOff.result().toArray)
  }

  def encode(postings: Seq[DecodedPosting]): EncodedRun = encode(postings.iterator)

  /** Full streaming decode of one run. */
  def decode(run: EncodedRun): Iterator[DecodedPosting] =
    decodeBlobs(run.ndocs, run.docBlob, run.tfBlob, run.dlBlob, run.posBlob)

  /** Docid-only streaming decode: walks just the delta-varbyte doc blob
    * (block boundaries need no special casing — each block's first delta
    * is relative to the previous block's last docid, so the sequential
    * cumulative sum is exact). The match-counting paths (facets,
    * attribute-filter membership) use this so tf/dl bytes never decode.
    */
  def decodeDocids(ndocs: Int, docBlob: Array[Byte]): Iterator[Long] =
    new Iterator[Long] {
      private val dr = new VarByte.Reader(docBlob, 0)
      private var i = 0
      private var docid = 0L
      def hasNext: Boolean = i < ndocs
      def next(): Long = {
        val d = dr.nextLong()
        docid = if (i == 0) d else docid + d
        i += 1
        docid
      }
    }

  def decodeBlobs(ndocs: Int, docBlob: Array[Byte], tfBlob: Array[Byte],
                  dlBlob: Array[Byte],
                  posBlob: Array[Byte] = Array.emptyByteArray): Iterator[DecodedPosting] = {
    val dr = new VarByte.Reader(docBlob)
    val tr = new VarByte.Reader(tfBlob)
    val lr = new VarByte.Reader(dlBlob)
    val withPos = posBlob.nonEmpty
    val pr = if (withPos) new VarByte.Reader(posBlob) else null
    new Iterator[DecodedPosting] {
      private var i = 0
      private var docid = 0L
      def hasNext: Boolean = i < ndocs
      def next(): DecodedPosting = {
        val d = dr.nextLong()
        docid = if (i == 0) d else docid + d
        i += 1
        val tf = tr.nextInt()
        DecodedPosting(docid, tf, lr.nextInt(),
          if (withPos) readPositions(pr, tf) else NoPositions)
      }
    }
  }

  private def readPositions(pr: VarByte.Reader, tf: Int): Array[Int] = {
    val out = new Array[Int](tf)
    var i = 0
    var p = 0
    while (i < tf) {
      p += pr.nextInt()
      out(i) = p
      i += 1
    }
    out
  }
}
