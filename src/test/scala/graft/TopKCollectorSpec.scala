package graft

import graft.analysis.{Analyzer, AnalyzerConfig}
import graft.index._
import graft.search._
import graft.streaming.StreamFixtures
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The search collector ([[TopK]]) and the flat-mode pipeline it closes:
  * docid-partitioned sorted combine → per-partition heap → driver merge.
  *
  *   - collector units: (score desc, docid asc) across partitions, k past
  *     the match count, empty partitions, keys without rows;
  *   - engine ≡ brute force (docno, rank and score bits) for OR, AND,
  *     minShouldMatch, a repeated topic term, a delete overlay, and one
  *     batch under 1 and 4 shuffle partitions;
  *   - job-count pins for a memo-warm single-topic search and for a batch
  *     whose hits take the broadcast docno lookup (> 4,096 ids).
  */
class TopKCollectorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def better(a: (Long, Float), b: (Long, Float)): Boolean =
    a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)

  private def rowsDs(rows: Seq[(String, Long, Float)], parts: Int)
      : Dataset[(String, Long, Float)] = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(rows, parts))
  }

  private def expected(rows: Seq[(String, Long, Float)], k: Int)
      : Map[String, Seq[(Long, Float)]] =
    rows.groupBy(_._1).map { case (key, rs) =>
      key -> rs.map(r => (r._2, r._3)).sortWith(better).take(k)
    }

  private def bitsOf(hits: Seq[(Long, Float)]): Seq[(Long, Int)] =
    hits.map(h => (h._1, java.lang.Float.floatToIntBits(h._2)))

  test("collector: score ties break by docid asc across partitions") {
    val r = new scala.util.Random(3)
    // three score levels, so most rows tie with rows in other partitions
    val rows = (0 until 400).map { i =>
      (s"q${i % 3}", r.nextInt(100000).toLong * 7 + i, (r.nextInt(3) + 1).toFloat)
    }
    val want = expected(rows, 25)
    for (parts <- Seq(1, 4, 7)) {
      val got = TopK.toDriver(rowsDs(rows, parts), 25).toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (key, hits) =>
        assert(bitsOf(got(key).toSeq) == bitsOf(hits), s"key=$key parts=$parts")
      }
      val dist = TopK.distributed(rowsDs(rows, parts), 25).collect().toSeq
      want.foreach { case (key, hits) =>
        assert(bitsOf(dist.filter(_._1 == key).map(r => (r._2, r._3))) == bitsOf(hits))
      }
    }
    // the in-memory heap against a full sort, on many tie-heavy draws
    (1 to 200).foreach { trial =>
      val n = r.nextInt(60)
      val k = 1 + r.nextInt(20)
      val rs = Seq.fill(n)(("q", r.nextInt(40).toLong, r.nextInt(4).toFloat))
      val got = TopK.byKey(k, rs.iterator).toMap.get("q").map(_.toSeq).getOrElse(Nil)
      assert(got == expected(rs, k).getOrElse("q", Nil), s"trial $trial")
    }
  }

  test("collector: k larger than the match count keeps every row, in order") {
    val rows = Seq(("a", 5L, 1.5f), ("a", 2L, 3.0f), ("a", 9L, 1.5f), ("b", 1L, 0.25f))
    val got = TopK.toDriver(rowsDs(rows, 3), 100).toMap
    assert(got("a").toSeq == Seq((2L, 3.0f), (5L, 1.5f), (9L, 1.5f)))
    assert(got("b").toSeq == Seq((1L, 0.25f)))
  }

  test("collector: empty partitions and an empty input") {
    val rows = Seq(("a", 3L, 2.0f), ("a", 1L, 2.0f), ("c", 4L, 1.0f))
    // eight partitions for three rows: at least five are empty
    val got = TopK.toDriver(rowsDs(rows, 8), 2).toMap
    assert(got.keySet == Set("a", "c"))
    assert(got("a").toSeq == Seq((1L, 2.0f), (3L, 2.0f)))
    assert(got("c").toSeq == Seq((4L, 1.0f)))
    assert(TopK.toDriver(rowsDs(Nil, 4), 10).isEmpty)
    assert(TopK.distributed(rowsDs(Nil, 4), 10).collect().isEmpty)
    assert(TopK.byKey(0, rows.iterator).isEmpty)
  }

  // ---- engine vs brute force ------------------------------------------

  private val cfg = IndexConfig(analyzer = AnalyzerConfig(), buckets = 8)

  /** 5,000 docs in five disjoint groups of 1,000 (a `grpN` word each), plus
    * 1–8 skewed draws from a 30-word vocabulary; every 50th doc repeats
    * its predecessor's words, so cross-group score ties exist.
    */
  private lazy val corpus: Seq[(String, String)] = {
    val r = new scala.util.Random(11)
    var prev = ""
    (0 until 5000).map { i =>
      val words =
        if (i % 50 == 1) prev
        else Seq.fill(1 + r.nextInt(8))(s"v${(math.pow(r.nextDouble(), 2) * 30).toInt}")
          .mkString(" ")
      prev = words
      (f"d$i%05d", s"grp${i % 5} $words")
    }
  }
  private val deleted: Set[String] = (0 until 5000).filter(_ % 7 == 3).map(i => f"d$i%05d").toSet

  private lazy val (fullIdx, overlayIdx): (BuiltIndex, BuiltIndex) = {
    import spark.implicits._
    val idx = IndexBuilder.build(corpus.toDF("docno", "content"),
      TestSpark.tmpDir("topk"), cfg)
    val ov = TestSpark.tmpDir("topkdel") + "/ovl"
    Deletes.writeDeletes(idx, deleted.toSeq.toDF("docno"), ov)
    (idx, idx.withDeletes(ov))
  }

  private val topics = Seq(
    Topic("1", "v0 v3"),
    Topic("2", "v5 v5 v9"), // a repeated term: two clauses, summed in order
    Topic("3", "v12 v20 v27"),
    Topic("4", "v1"),
    Topic("5", "v29 zzznotindexed"),
    Topic("6", "zzznotindexed"), // no hits: absent from every run
    Topic("7", "v2 v7 v2 v11"))

  /** Brute force: the analyzer, the bm25 formulas, N = maxDoc and
    * pre-delete statistics over the whole corpus, clause-order Float sums,
    * ties by docno (docids follow docno order, asserted below).
    */
  private def brute(k: Int, mode: String = "or", msm: Int = 0,
                    dead: Set[String] = Set.empty)
      : Map[String, Seq[(String, Int, Int)]] = {
    val an = new Analyzer(cfg.analyzer)
    val docs = corpus.map { case (d, t) => (d, an.analyze(t).toSeq) }
    val stats = CollStats(docs.size, docs.map(_._2.size.toLong).sum)
    val df: Map[String, Long] = docs.flatMap(_._2.distinct)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    topics.flatMap { t =>
      val clauses = an.analyze(t.text).toSeq
      val needed = if (mode == "and") clauses.size else msm
      val hits = docs.filterNot(d => dead(d._1)).flatMap { case (docno, ts) =>
        val tf = ts.groupBy(identity).view.mapValues(_.size).toMap
        val partials = clauses.flatMap(c => tf.get(c).map(f =>
          Bm25Scorer.score(f.toFloat, ts.size, Bm25Scorer.termWeight(df(c), 0L, stats), stats)))
        if (partials.isEmpty || partials.size < needed) None
        else {
          var s = 0.0f
          partials.foreach(s += _)
          Some((docno, s))
        }
      }.sortWith((x, y) => x._2 > y._2 || (x._2 == y._2 && x._1 < y._1)).take(k)
      if (hits.isEmpty) None
      else Some(t.qid -> hits.zipWithIndex.map { case ((d, s), i) =>
        (d, i, java.lang.Float.floatToIntBits(s))
      })
    }.toMap
  }

  private def runOf(ds: Dataset[RunLine]): Map[String, Seq[(String, Int, Int)]] =
    ds.collect().toSeq.groupBy(_.qid).view.mapValues(_.sortBy(_.rank)
      .map(l => (l.docno, l.rank, java.lang.Float.floatToIntBits(l.score))).toSeq).toMap

  test("engine ≡ brute force: OR, AND, minShouldMatch = 2, repeated term (score bits)") {
    import spark.implicits._
    val byDocid = fullIdx.docs.select("docid", "docno").as[(Long, String)]
      .collect().sortBy(_._1).map(_._2).toSeq
    assert(byDocid == byDocid.sorted, "docids must follow docno order for the brute tie-break")
    val s = new Searcher(fullIdx)
    val or = runOf(s.search(topics, k = 50))
    assert(or == brute(50))
    assert(!or.contains("6"))
    assert(or("2").nonEmpty && or("7").nonEmpty)
    assert(runOf(s.searchAnd(topics, k = 50)) == brute(50, mode = "and"))
    assert(runOf(s.search(topics, k = 50, minShouldMatch = 2)) == brute(50, msm = 2))
    // k far past every topic's match count returns every match, in order
    assert(runOf(s.search(topics, k = 6000)) == brute(6000))
  }

  test("engine ≡ brute force: delete overlay drops tombstones, keeps score bits") {
    val got = runOf(new Searcher(overlayIdx).search(topics, k = 50))
    assert(got == brute(50, dead = deleted))
    assert(runOf(new Searcher(fullIdx).search(topics, k = 50)).values.flatten
      .exists(h => deleted(h._1)), "the full run must contain deleted docs")
  }

  test("engine ≡ brute force under 1 and 4 shuffle partitions") {
    val want = brute(50)
    def under(n: Int) = StreamFixtures.withShufflePartitions(spark, n)(
      runOf(new Searcher(fullIdx).search(topics, k = 50)))
    val (one, four) = (under(1), under(4))
    assert(one == want)
    assert(four == want)
  }

  // ---- job-count pins --------------------------------------------------

  /** Spark jobs `body` starts on this thread. A sentinel job in a second
    * group follows it; the listener bus delivers in order, so once the
    * sentinel's start arrives every measured job has been counted.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"topk-pin-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == group => jobs.incrementAndGet()
          case Some(g) if g == group + "-end" => sentinel.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      body
      sc.setJobGroup(group + "-end", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("job count: memo-warm single-topic OR search at k=10 runs 3 jobs") {
    val s = new Searcher(fullIdx)
    val topic = Seq(Topic("w", "v3 v8"))
    s.search(topic, k = 10).collect() // warms the term-stats memo
    var lines = Array.empty[RunLine]
    val jobs = jobsOf { lines = s.search(topic, k = 10).collect() }
    assert(lines.length == 10)
    // scoring: the docid-partitioned shuffle's map stage + the combine/heap
    // result stage; then one docno point lookup
    assert(jobs == 3, s"jobs=$jobs")
  }

  test("job count: a batch past 4,096 hits takes the one-job broadcast docno lookup") {
    val s = new Searcher(fullIdx)
    // each topic matches exactly its own group's 1,000 docs: 5,000 ids
    val batch = (0 until 5).map(g => Topic(s"g$g", s"grp$g"))
    s.search(batch, k = 1000).collect()
    var lines = Array.empty[RunLine]
    val jobs = jobsOf { lines = s.search(batch, k = 1000).collect() }
    assert(lines.map(_.docno).distinct.length > 4096)
    assert(jobs == 3, s"jobs=$jobs")
  }
}
