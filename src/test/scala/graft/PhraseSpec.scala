package graft

import graft.analysis.AnalyzerConfig
import graft.codec.{DecodedPosting, PostingCodec}
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Searcher, Topic}
import org.scalatest.funsuite.AnyFunSuite

/** Exact phrase matching over the positions blob: codec round-trip,
  * adjacency, stop-word position gaps (Lucene positionIncrement
  * semantics), phraseFreq scoring, and composition with loose terms and
  * AND mode.
  */
class PhraseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("codec: positions round-trip, including multi-block seeks") {
    val rnd = new scala.util.Random(42)
    val postings = (0 until 300).map { i =>
      val tf = 1 + rnd.nextInt(4)
      val pos = Array.iterate(rnd.nextInt(5), tf)(_ + 1 + rnd.nextInt(9))
      DecodedPosting(i.toLong * 3 + 1, tf, 10 + rnd.nextInt(90), pos)
    }
    val run = PostingCodec.encode(postings.iterator)
    assert(run.posBlob.nonEmpty && run.blockPosOff.length == run.blockDocOff.length)
    val decoded = PostingCodec.decode(run).toSeq
    assert(decoded.map(_.docid) == postings.map(_.docid))
    decoded.zip(postings).foreach { case (d, p) =>
      assert(d.pos.toSeq == p.pos.toSeq, s"docid ${p.docid}")
    }
    // block-seek decode of the middle block matches the full decode
    val bi = 1
    val blk = CodecSpec.blockAt(run, bi)
    val expect = decoded.slice(bi * PostingCodec.BlockSize, (bi + 1) * PostingCodec.BlockSize)
    assert(blk.map(_.docid) == expect.map(_.docid))
    blk.zip(expect).foreach { case (a, b) => assert(a.pos.toSeq == b.pos.toSeq) }
    // a no-positions run still encodes/decodes with empty pos
    val bare = PostingCodec.encode(postings.map(_.copy(pos = PostingCodec.NoPositions)).iterator)
    assert(bare.posBlob.isEmpty)
    assert(PostingCodec.decode(bare).forall(_.pos.isEmpty))
  }

  private lazy val searcher: Searcher = {
    import spark.implicits._
    val corpus = Seq(
      "p-1" -> "alpha beta gamma",
      "p-2" -> "beta alpha gamma",
      "p-3" -> "alpha gamma beta alpha beta",
      "p-4" -> "alpha the beta",            // "the" is stopped → gap at pos 1
      "p-5" -> "alpha beta alpha beta").toDF("docno", "content")
    val idx = IndexBuilder.build(corpus, TestSpark.tmpDir("phrase"),
      IndexConfig(analyzer = AnalyzerConfig(stopWords = Set("the")),
        indexPositions = true, groupShift = 1, mergeShift = 1))
    new Searcher(idx)
  }

  test("exact adjacency: only true phrase occurrences match") {
    val got = searcher.searchQuery(Seq(Topic("1", "\"alpha beta\"")), 10)
      .collect().map(_.docno).toSet
    assert(got == Set("p-1", "p-3", "p-5")) // p-2 reversed, p-4 gapped
  }

  test("phraseFreq scores through the tf saturation (2 occurrences > 1)") {
    val run = searcher.searchQuery(Seq(Topic("1", "\"alpha beta\"")), 10)
      .collect().sortBy(_.rank)
    assert(run.head.docno == "p-5") // freq 2 beats freq 1 at comparable dl
    assert(run.map(_.score).distinct.length > 1)
  }

  test("stopped words leave position gaps (positionIncrement semantics)") {
    // "alpha the beta" analyzes to alpha@0, beta@2: matches docs where beta
    // sits two positions after alpha — p-4 ("alpha the beta") AND p-3
    // ("alpha gamma beta..."), exactly like Lucene's gapped PhraseQuery
    // (the gap admits ANY token, not specifically the stopped one); and NOT
    // the adjacent p-1/p-5.
    val got = searcher.searchQuery(Seq(Topic("1", "\"alpha the beta\"")), 10)
      .collect().map(_.docno).toSet
    assert(got == Set("p-4", "p-3"))
  }

  test("phrase composes with loose terms (OR) and with AND mode") {
    val or = searcher.searchQuery(Seq(Topic("1", "\"alpha beta\" gamma")), 10)
      .collect()
    val orDocs = or.map(_.docno).toSet
    assert(orDocs == Set("p-1", "p-2", "p-3", "p-5")) // phrase hits ∪ gamma hits
    // phrase+gamma docs outrank gamma-only docs
    val byRank = or.sortBy(_.rank).map(_.docno).toSeq
    assert(byRank.indexOf("p-2") > byRank.indexOf("p-1"))

    val and = searcher.searchQuery(Seq(Topic("1", "\"alpha beta\" + gamma")), 10)
      .collect().map(_.docno).toSet
    assert(and == Set("p-1", "p-3")) // must have BOTH the phrase and gamma
  }

  test("single-word phrase rewrites to a plain term clause") {
    val a = searcher.searchQuery(Seq(Topic("1", "\"gamma\"")), 10)
      .collect().sortBy(_.rank).map(r => (r.docno, r.score)).toSeq
    val b = searcher.searchQuery(Seq(Topic("1", "gamma")), 10)
      .collect().sortBy(_.rank).map(r => (r.docno, r.score)).toSeq
    assert(a == b)
  }

  test("phrase weight is the reference's accumulate-from-1.0 multi-term idf") {
    import graft.search.{Bm25Scorer, CollStats}
    val stats = CollStats(5, 19)
    val w = Bm25Scorer.phraseWeight(Seq((4L, 0L), (4L, 0L)), stats)
    assert(w == 1.0f + Bm25Scorer.termWeight(4L, 0L, stats) * 2)
  }

  test("sloppy phrase ~N: window matching, reordering, and freq counting") {
    // slop 0 rejects the gapped p-4 and reversed p-2; slop 2's ±2 window
    // admits the stop gap (beta two positions late) AND the p-2 reorder
    // (beta two positions early: |0 − (1+1)| = 2)
    val s0 = searcher.searchQuery(Seq(Topic("1", "\"alpha beta\"~0")), 10)
      .collect().map(_.docno).toSet
    assert(s0 == Set("p-1", "p-3", "p-5")) // identical to the exact phrase
    val s2 = searcher.searchQuery(Seq(Topic("1", "\"alpha beta\"~2")), 10)
      .collect().map(_.docno).toSet
    assert(s2 == Set("p-1", "p-2", "p-3", "p-4", "p-5"))
    // freq = matching ANCHOR (first-slot) positions: p-5 "alpha beta alpha
    // beta" has 2 anchors with beta in ±1 → freq 2 still tops the ranking
    val r1 = searcher.searchQuery(Seq(Topic("1", "\"alpha beta\"~1")), 10)
      .collect().sortBy(_.rank)
    assert(r1.head.docno == "p-5")
    // slop composes with loose terms and keeps per-query disjoint clauses
    val mixed = searcher.searchQuery(Seq(Topic("1", "\"alpha beta\"~1 gamma")), 10)
      .collect().map(_.docno).toSet
    assert(mixed.contains("p-2")) // gamma hit even where the phrase misses
  }

  test("SloppyPhrase ≡ independent 2-cursor merge walk (random battery)") {
    import graft.search.SloppyPhrase
    // Cross-check the general priority-queue implementation against an
    // independently-structured 2-cursor merge simulation — the SAME state
    // machine the q_phrase_slop_topk oracle replays as a recursive CTE, so
    // this battery is what keeps engine and oracle in lock-step for the
    // gate's 2-term sloppy topics.
    def mergeWalk(aRaw: Array[Int], bRaw: Array[Int], slop: Int): Double = {
      val a = aRaw // slot 0: adjusted = raw
      val b = bRaw.map(_ - 1) // slot 1: adjusted = raw − offset
      var ia = 0; var ib = 0
      // the popped cursor is STICKY: it keeps advancing through ties with
      // the other (only a strict overshoot hands the walk over), so the
      // side is state, not a per-step min — init tie → lower slot offset
      var sideA = a(0) <= b(0)
      var ml = math.abs(a(0) - b(0))
      var freq = 0.0
      var done = false
      while (!done) {
        val fin = if (sideA) ia + 1 >= a.length else ib + 1 >= b.length
        if (fin) {
          if (ml <= slop) freq += 1.0 / (ml + 1)
          done = true
        } else if (sideA) {
          ia += 1
          if (a(ia) > b(ib)) { // overshoot: close the event, hand over
            if (ml <= slop) freq += 1.0 / (ml + 1)
            ml = a(ia) - b(ib)
            sideA = false
          } else ml = math.min(ml, b(ib) - a(ia))
        } else {
          ib += 1
          if (b(ib) > a(ia)) {
            if (ml <= slop) freq += 1.0 / (ml + 1)
            ml = b(ib) - a(ia)
            sideA = true
          } else ml = math.min(ml, a(ia) - b(ib))
        }
      }
      freq
    }
    val rnd = new scala.util.Random(7)
    def randPos(n: Int): Array[Int] =
      rnd.shuffle((0 until 40).toList).take(n).sorted.toArray
    for (trial <- 0 until 2000) {
      val a = randPos(1 + rnd.nextInt(8))
      val b = randPos(1 + rnd.nextInt(8))
      val slop = rnd.nextInt(7)
      val want = mergeWalk(a, b, slop)
      val got = SloppyPhrase.freq(Array("x", "y"), Array(a, b),
        Array(0, 1), slop)
      assert(math.abs(got - want) < 1e-5,
        s"trial $trial a=${a.toSeq} b=${b.toSeq} slop=$slop " +
          s"got=$got want=$want")
    }
    // the documented r3 divergence: per-slot-nearest let three anchors
    // each borrow the single partner occurrence (freq 1/6+1/4+1/2), the
    // faithful walk minimizes ONE window to width 1 (freq 1/2)
    assert(SloppyPhrase.freq(Array("x", "y"),
      Array(Array(19, 21, 23), Array(25)), Array(0, 1), 6) == 0.5f)
  }

  test("SloppyPhrase: repeated terms are pinned to distinct occurrences") {
    import graft.search.SloppyPhrase
    // "a a b" over doc "a b": one 'a' occurrence cannot fill both slots —
    // the r3 per-slot-nearest approximation matched here (both slots
    // borrowing the same occurrence for 1/3); the faithful walk does not
    assert(SloppyPhrase.freq(Array("a", "a", "b"),
      Array(Array(0), Array(0), Array(1)), Array(0, 1, 2), 4) == 0.0f)
    // over doc "a a b": the two slots take the 1st and 2nd occurrence,
    // zero-width window even at slop 0
    assert(SloppyPhrase.freq(Array("a", "a", "b"),
      Array(Array(0, 1), Array(0, 1), Array(2)), Array(0, 1, 2), 0) == 1.0f)
    // "a a" over doc "a a": exactly one event (not one per anchor)
    assert(SloppyPhrase.freq(Array("a", "a"),
      Array(Array(0, 1), Array(0, 1)), Array(0, 1), 0) == 1.0f)
    // reordering costs window width: "x y"~2 over doc "y x" → 1/(2+1)
    assert(SloppyPhrase.freq(Array("x", "y"),
      Array(Array(1), Array(0)), Array(0, 1), 2) == 1.0f / 3)
    // and is rejected once the slop cannot cover the displacement
    assert(SloppyPhrase.freq(Array("x", "y"),
      Array(Array(1), Array(0)), Array(0, 1), 1) == 0.0f)
  }
}
