package graft

import graft.codec._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

class CodecSpec extends AnyFunSuite {

  private def randomPostings(rnd: Random): List[DecodedPosting] = {
    val n = rnd.nextInt(600)
    var id = math.abs(rnd.nextLong()) % (1L << 50)
    (0 until n).map { _ =>
      id += 1 + rnd.nextInt(100000)
      DecodedPosting(id, 1 + rnd.nextInt(1000), rnd.nextInt(100000))
    }.toList
  }

  test("varbyte round-trips longs (seeded random)") {
    val rnd = new Random(42)
    for (_ <- 1 to 200) {
      val arr = Array.fill(rnd.nextInt(200))(math.abs(rnd.nextLong()))
      assert(VarByte.decode(VarByte.encode(arr), arr.length).toSeq == arr.toSeq)
    }
    val edges = Array(0L, 1L, 127L, 128L, 16383L, 16384L, Int.MaxValue.toLong,
      1L << 40, Long.MaxValue)
    assert(VarByte.decode(VarByte.encode(edges), edges.length).toSeq == edges.toSeq)
  }

  test("varbyte known encodings") {
    assert(VarByte.encode(Array(0L)).toSeq == Seq(0.toByte))
    assert(VarByte.encode(Array(127L)).toSeq == Seq(127.toByte))
    assert(VarByte.encode(Array(128L)).toSeq == Seq(0x80.toByte, 1.toByte))
    assert(VarByte.encode(Array(300L)).toSeq == Seq(0xac.toByte, 0x02.toByte))
  }

  test("varbyte rejects negatives") {
    intercept[IllegalArgumentException] {
      VarByte.write(new java.io.ByteArrayOutputStream(), -1L)
    }
  }

  test("posting codec round-trips (delta + varbyte, any docid magnitude)") {
    val rnd = new Random(7)
    for (_ <- 1 to 100) {
      val ps = randomPostings(rnd)
      val run = PostingCodec.encode(ps)
      assert(PostingCodec.decode(run).toList == ps)
      assert(run.ndocs == ps.length)
      if (ps.nonEmpty) {
        assert(run.firstDocid == ps.head.docid)
        assert(run.lastDocid == ps.last.docid)
        assert(run.maxTf == ps.map(_.tf).max)
        assert(run.sumTf == ps.map(_.tf.toLong).sum)
      }
    }
  }

  test("posting codec block metadata is consistent") {
    val rnd = new Random(11)
    for (_ <- 1 to 50) {
      val ps = randomPostings(rnd)
      val run = PostingCodec.encode(ps)
      val b = PostingCodec.BlockSize
      val expectedBlocks = (ps.length + b - 1) / b
      assert(run.blockLastDocid.length == expectedBlocks)
      assert(run.blockMaxTf.length == expectedBlocks)
      assert(run.blockDocOff.length == expectedBlocks)
      ps.grouped(b).zipWithIndex.foreach { case (blk, i) =>
        assert(run.blockLastDocid(i) == blk.last.docid)
        assert(run.blockMaxTf(i) == blk.map(_.tf).max)
        assert(run.blockMinDl(i) == blk.map(_.dl).min)
      }
      // block byte offsets allow decoding a block's tf/dl independently
      if (expectedBlocks > 1) {
        val tr = new VarByte.Reader(run.tfBlob, run.blockTfOff(1))
        assert(tr.nextInt() == ps(b).tf)
        val lr = new VarByte.Reader(run.dlBlob, run.blockDlOff(1))
        assert(lr.nextInt() == ps(b).dl)
      }
    }
  }

  test("posting codec rejects non-ascending docids") {
    intercept[IllegalArgumentException] {
      PostingCodec.encode(Seq(DecodedPosting(5, 1, 1), DecodedPosting(5, 1, 1)))
    }
  }

  test("smallfloat315 round-trip is a lossy fixpoint and monotone") {
    // re-encoding the decoded value is stable (the SmallFloat contract the
    // reference's BM25e norm table relies on, BM25e.java:22-27)
    for (dl <- 0 to 200000 by 7) {
      val b = SmallFloat315.floatToByte315(dl.toFloat)
      val f = SmallFloat315.byte315ToFloat(b)
      assert(SmallFloat315.floatToByte315(f) == b, s"dl=$dl")
    }
    var prev = SmallFloat315.byte315ToFloat(SmallFloat315.floatToByte315(1.0f))
    for (dl <- 2 to 100000) {
      val f = SmallFloat315.byte315ToFloat(SmallFloat315.floatToByte315(dl.toFloat))
      assert(f >= prev)
      prev = f
    }
    // small ints are exactly representable (3 mantissa bits)
    for (x <- 1 to 8)
      assert(SmallFloat315.byte315ToFloat(SmallFloat315.floatToByte315(x.toFloat)) == x.toFloat)
    assert(SmallFloat315.floatToByte315(0.0f) == 0)
    assert(SmallFloat315.byte315ToFloat(0) == 0.0f)
  }

  test("Lucene stock-model norms: independent truncation math validates " +
      "every LuceneNormSql row (the q_*l_topk oracle lookup table)") {
    import graft.search.LuceneNorms
    (1 to graft.LuceneNormSql.MaxDl).foreach { dl =>
      val v = (1.0 / math.sqrt(dl.toDouble)).toFloat
      // independent 3-significant-bit truncation: exponent by power-of-two
      // comparison (no log, no bit fiddling), mantissa by exact division
      var e = 0
      while (math.pow(2.0, e) > v) e -= 1
      val step = math.pow(2.0, e - 2)
      val truncated = (math.floor(v / step) * step).toFloat
      assert(LuceneNorms.lossyInvSqrt(dl) == truncated, s"inv_sqrt dl=$dl")
      assert(LuceneNorms.lossyDl(dl) == 1.0f / (truncated * truncated),
        s"lossy_dl dl=$dl")
    }
    // the CTE itself prints round-trippable doubles
    assert(graft.LuceneNormSql.cte.startsWith("lnorm(dl, lossy_dl, inv_sqrt)"))
  }

  test("byte315 of an int doc length = truncate to 3 significant bits " +
      "(the closed form the q_bm25e_topk oracle replays in SQL)") {
    (1 to 200000).foreach { dl =>
      val s = math.max(64 - java.lang.Long.numberOfLeadingZeros(dl.toLong) - 3, 0)
      val truncated = ((dl >> s) << s).toFloat
      val decoded = SmallFloat315.NORM(
        SmallFloat315.floatToByte315(dl.toFloat) & 0xff)
      assert(decoded == truncated, s"dl=$dl")
    }
  }
}

object CodecSpec {

  /** Block `bi` of `run` decoded alone from its stored byte offsets, as the
    * range task's block reader seeks: the block's first delta is relative
    * to block bi−1's last docid (absolute for block 0).
    */
  def blockAt(run: EncodedRun, bi: Int): Seq[DecodedPosting] = {
    def from(blob: Array[Byte], off: Array[Int]) =
      if (blob.isEmpty) blob else java.util.Arrays.copyOfRange(blob, off(bi), blob.length)
    val base = if (bi == 0) 0L else run.blockLastDocid(bi - 1)
    val n = math.min(PostingCodec.BlockSize, run.ndocs - bi * PostingCodec.BlockSize)
    PostingCodec.decodeBlobs(n, from(run.docBlob, run.blockDocOff), from(run.tfBlob, run.blockTfOff),
      from(run.dlBlob, run.blockDlOff), from(run.posBlob, run.blockPosOff))
      .map(p => p.copy(docid = base + p.docid)).toSeq
  }
}
