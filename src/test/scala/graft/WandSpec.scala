package graft

import graft.analysis.AnalyzerConfig
import graft.codec.{DecodedPosting, PostingCodec}
import graft.index.{IndexBuilder, IndexConfig}
import graft.search._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

class WandSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a block decoded from its stored offsets matches sequential decode at any block index") {
    val rnd = new Random(3)
    var id = 1L << 45
    val ps = (0 until 1000).map { _ =>
      id += 1 + rnd.nextInt(5000)
      DecodedPosting(id, 1 + rnd.nextInt(50), 1 + rnd.nextInt(2000))
    }
    val run = PostingCodec.encode(ps)
    val b = PostingCodec.BlockSize
    val seq = PostingCodec.decode(run).toVector
    for (bi <- 0 until run.blockLastDocid.length) {
      assert(CodecSpec.blockAt(run, bi) == seq.slice(bi * b, (bi + 1) * b), s"block $bi")
    }
  }

  /** 600 docs, a hot term in every doc (varying tf) and a rare term in a
    * handful — the WAND sweet spot: the rare clause seeds a high θ and most
    * hot-term blocks prune.
    */
  private def wandCorpus: Seq[(String, String)] = {
    val rnd = new Random(9)
    (0 until 600).map { i =>
      val hotTf = 1 + rnd.nextInt(3)
      val filler = (0 until 5 + rnd.nextInt(10)).map(j => s"w${rnd.nextInt(500)}")
      val rare = if (i % 97 == 0) Seq("needle", "needle") else Nil
      val toks = Seq.fill(hotTf)("hot") ++ rare ++ filler
      f"wd$i%04d" -> rnd.shuffle(toks).mkString(" ")
    }
  }

  test("pruned search is rank- and score-identical to exhaustive, and prunes") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("wand")
    val idx = IndexBuilder.build(wandCorpus.toDF("docno", "content"), dir,
      IndexConfig(analyzer = AnalyzerConfig(), groupShift = 4, mergeShift = 1,
        rangePartitions = 2))
    val s = new Searcher(idx)
    val topics = Seq(Topic("q1", "needle hot"), Topic("q2", "hot"), Topic("q3", "needle"))
    for (k <- Seq(3, 10)) {
      val exhaustive = s.search(topics, k).collect().toSeq
      val pruned = s.search(topics, k, pruning = true).collect().toSeq
      assert(pruned == exhaustive, s"k=$k")
    }
    // pruning actually skipped blocks for the small-k selective query
    s.search(Seq(Topic("q1", "needle hot")), 3, pruning = true).count()
    val (decoded, prunedN) = s.lastPruning
    assert(prunedN > 0, s"expected pruned blocks, got decoded=$decoded pruned=$prunedN")
  }

  test("job count: a memo-warm pruned single-topic search runs 1 job, and prunes") {
    import spark.implicits._
    val idx = IndexBuilder.build(wandCorpus.toDF("docno", "content"), TestSpark.tmpDir("wandj"),
      IndexConfig(analyzer = AnalyzerConfig(), groupShift = 4, mergeShift = 1,
        rangePartitions = 2))
    val s = new Searcher(idx)
    val topic = Seq(Topic("q1", "needle hot"))
    val exhaustive = s.search(topic, 3).collect().toSeq // warms the memos
    var lines = Array.empty[RunLine]
    val jobs = TestSpark.jobsOf { lines = s.search(topic, 3, pruning = true).collect() }
    assert(lines.toSeq == exhaustive)
    // one range task (no seed job, no bounds job); docnos from the memo
    assert(jobs == 1, s"jobs=$jobs")
    val (decoded, prunedN) = s.lastPruning
    assert(prunedN > 0, s"expected pruned blocks, got decoded=$decoded pruned=$prunedN")
  }

  test("tree-mode pruning: SHOULD-only trees rank-identical with real skips") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("wandt")
    val idx = IndexBuilder.build(wandCorpus.toDF("docno", "content"), dir,
      IndexConfig(analyzer = AnalyzerConfig(), groupShift = 4, mergeShift = 1,
        rangePartitions = 2))
    val s = new Searcher(idx)
    // nested SHOULD-only groups: prunable shape (the flat OR in disguise)
    val topics = Seq(
      Topic("t1", "needle | (hot | w1)"),
      Topic("t2", "(needle | hot)"))
    for (k <- Seq(3, 10)) {
      val exhaustive = s.searchQuery(topics, k).collect().toSeq
      val pruned = s.searchQuery(topics, k, pruning = true).collect().toSeq
      assert(pruned == exhaustive, s"k=$k")
    }
    // and blocks actually skip for the selective small-k tree query: once
    // t2's heap holds k needle docs, later blocks that cannot reach its
    // kth score are skipped
    s.searchQuery(Seq(Topic("t2", "(needle | hot)")), 3,
      pruning = true).count()
    val (decoded, prunedN) = s.lastPruning
    assert(prunedN > 0, s"expected pruned blocks, got decoded=$decoded pruned=$prunedN")
  }

  test("tree-mode pruning auto-disables per-query for non-SHOULD-only trees") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("wandm")
    val idx = IndexBuilder.build(wandCorpus.toDF("docno", "content"), dir,
      IndexConfig(analyzer = AnalyzerConfig(), groupShift = 4, mergeShift = 1,
        rangePartitions = 2))
    val s = new Searcher(idx)
    // MUST tree, negation (match-all wrap), and a prunable sibling in one
    // batch: the sibling prunes, the others must stay exact
    val topics = Seq(
      Topic("m1", "needle + hot"),
      Topic("m2", "hot -needle"),
      Topic("m3", "needle | (hot | w2)"))
    val a = s.searchQuery(topics, 5).collect().toSeq
    val b = s.searchQuery(topics, 5, pruning = true).collect().toSeq
    assert(a == b)
  }

  test("pruning is a no-op for scorers that do not support it (coord)") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("wandc")
    val idx = IndexBuilder.build(wandCorpus.take(50).toDF("docno", "content"), dir,
      IndexConfig(analyzer = AnalyzerConfig(), groupShift = 4, mergeShift = 1))
    val s = new Searcher(idx)
    val t = Seq(Topic("q", "needle hot"))
    val a = s.search(t, 10, scorerName = "defaultL").collect().toSeq
    val b = s.search(t, 10, scorerName = "defaultL", pruning = true).collect().toSeq
    assert(a == b)
  }
}
