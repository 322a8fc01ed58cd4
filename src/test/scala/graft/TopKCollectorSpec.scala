package graft

import graft.analysis.AnalyzerConfig
import graft.index._
import graft.search._
import graft.streaming.StreamFixtures
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The search collector ([[TopK]]) and the flat-mode pipeline it closes:
  * range tasks → per-partition heap → driver merge.
  *
  *   - collector units: (score desc, docid asc) across partitions, k past
  *     the match count, empty partitions, keys without rows;
  *   - engine ≡ brute force (docno, rank and score bits) for OR, AND,
  *     minShouldMatch, a repeated topic term, a delete overlay, and one
  *     batch under 1 and 4 shuffle partitions;
  *   - job-count pins for a fresh and a memo-warm single-topic search, for
  *     a search with one cold memo and for a warm batch past 4,096 hits.
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

  /** [[TopK.ranked]] in the collector ordering, each key's rows by rank;
    * the ranks must be 0 until the key's row count.
    */
  private def ranked(ds: Dataset[(String, Long, Float)], k: Int): Map[String, Seq[(Long, Float)]] = {
    import spark.implicits._
    val rows = TopK.ranked(ds.toDF("key", "docid", "score"), Seq("key"),
        Seq($"score".desc, $"docid".asc), k)
      .select($"key", $"docid", $"score", $"rank").as[(String, Long, Float, Long)].collect()
    rows.groupBy(_._1).map { case (key, rs) =>
      val byRank = rs.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == byRank.indices.map(_.toLong), s"ranks of key=$key")
      key -> byRank.map(r => (r._2, r._3)).toSeq
    }
  }

  private def bitsOf(hits: Seq[(Long, Float)]): Seq[(Long, Int)] =
    hits.map(h => (h._1, java.lang.Float.floatToIntBits(h._2)))

  private def pairs(h: TopK.Hits): Seq[(Long, Float)] = {
    assert(h.docids.length == h.scores.length, s"key=${h.key}")
    h.docids.toSeq.zip(h.scores.toSeq)
  }

  /** [[TopK.toDriver]] by key; its keys must come in ascending order. */
  private def toDriver(ds: Dataset[(String, Long, Float)], k: Int): Map[String, Seq[(Long, Float)]] = {
    val hits = TopK.toDriver(ds, k)
    val keys = hits.map(_.key.toString)
    assert(keys == keys.sorted && keys.distinct == keys, s"keys $keys")
    hits.map(h => h.key.toString -> pairs(h)).toMap
  }

  /** The partition pass ([[TopK.collect]]) over in-memory rows, by key. */
  private def collected(k: Int, rows: Seq[(String, Long, Float)]): Map[String, Seq[(Long, Float)]] = {
    val hits = TopK.collect(k, rows.iterator.map { case (key, d, sc) =>
      InternalRow(UTF8String.fromString(key), d, sc)
    })
    assert(hits.map(_.key).distinct.length == hits.length)
    hits.map(h => h.key.toString -> pairs(h)).toMap
  }

  test("collector: score ties break by docid asc across partitions") {
    val r = new scala.util.Random(3)
    // three score levels, so most rows tie with rows in other partitions
    val rows = (0 until 400).map { i =>
      (s"q${i % 3}", r.nextInt(100000).toLong * 7 + i, (r.nextInt(3) + 1).toFloat)
    }
    val want = expected(rows, 25)
    for (parts <- Seq(1, 4, 7)) {
      val got = toDriver(rowsDs(rows, parts), 25)
      assert(got.keySet == want.keySet)
      want.foreach { case (key, hits) =>
        assert(bitsOf(got(key)) == bitsOf(hits), s"key=$key parts=$parts")
      }
      val dist = ranked(rowsDs(rows, parts), 25)
      assert(dist.keySet == want.keySet)
      want.foreach { case (key, hits) =>
        assert(bitsOf(dist(key)) == bitsOf(hits), s"ranked key=$key parts=$parts")
      }
    }
    // the partition pass against a full sort, on many tie-heavy draws
    (1 to 200).foreach { trial =>
      val n = r.nextInt(60)
      val k = 1 + r.nextInt(20)
      val rs = Seq.fill(n)((s"q${r.nextInt(2)}", r.nextInt(40).toLong, r.nextInt(4).toFloat))
      assert(collected(k, rs) == expected(rs, k), s"trial $trial")
    }
  }

  test("collector: k larger than the match count keeps every row, in order") {
    val rows = Seq(("a", 5L, 1.5f), ("a", 2L, 3.0f), ("a", 9L, 1.5f), ("b", 1L, 0.25f))
    val got = toDriver(rowsDs(rows, 3), 100)
    assert(got("a") == Seq((2L, 3.0f), (5L, 1.5f), (9L, 1.5f)))
    assert(got("b") == Seq((1L, 0.25f)))
  }

  test("collector: empty partitions and an empty input") {
    val rows = Seq(("a", 3L, 2.0f), ("a", 1L, 2.0f), ("c", 4L, 1.0f))
    // eight partitions for three rows: at least five are empty
    val got = toDriver(rowsDs(rows, 8), 2)
    assert(got.keySet == Set("a", "c"))
    assert(got("a") == Seq((1L, 2.0f), (3L, 2.0f)))
    assert(got("c") == Seq((4L, 1.0f)))
    assert(TopK.toDriver(rowsDs(Nil, 4), 10).isEmpty)
    assert(ranked(rowsDs(Nil, 4), 10).isEmpty)
    assert(collected(0, rows).isEmpty)
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

  private lazy val bruteCorpus = new BruteForce.Corpus(corpus, cfg.analyzer)

  /** [[BruteForce]] over the whole corpus, (docno, rank, score bits). */
  private def brute(k: Int, mode: String = "or", msm: Int = 0,
                    dead: Set[String] = Set.empty): Map[String, Seq[(String, Int, Int)]] =
    BruteForce.ranked(BruteForce.search(bruteCorpus, BruteForce.topics(bruteCorpus, topics), k,
      mode = mode, msm = msm, dead = dead))

  private def runOf(ds: Dataset[RunLine]): Map[String, Seq[(String, Int, Int)]] =
    BruteForce.ranked(ds.collect().toSeq)

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

  test("job count: memo-warm single-topic OR search at k=10 runs 1 job") {
    val s = new Searcher(fullIdx)
    val topic = Seq(Topic("w", "v3 v8"))
    s.search(topic, k = 10).collect() // warms the term-stats and docno memos
    var lines = Array.empty[RunLine]
    val jobs = TestSpark.jobsOf { lines = s.search(topic, k = 10).collect() }
    assert(lines.length == 10)
    // scoring: one range task with no exchange, the heap in its stage;
    // term stats and docnos come from the memos
    assert(jobs == 1, s"jobs=$jobs")
  }

  test("job count: a fresh single-topic OR search at k=10 runs 3 jobs") {
    val s = new Searcher(fullIdx)
    TestSpark.coldTermStats(); TestSpark.coldDocnos()
    var lines = Array.empty[RunLine]
    val jobs = TestSpark.jobsOf { lines = s.search(Seq(Topic("f", "v6 v10")), k = 10).collect() }
    assert(lines.length == 10)
    // one term-stats bucket load, one range task, one docno page load
    assert(jobs == 3, s"jobs=$jobs")
  }

  test("job count: a cold search runs one extra job per cold memo, never more") {
    val s = new Searcher(fullIdx)
    val topic = Seq(Topic("c", "v4 v17"))
    val batch = (0 until 5).map(g => Topic(s"g$g", s"grp$g v$g v${g + 11}"))
    assert(batch.flatMap(_.text.split(" ")).map(IndexLayout.bucketOf(_, cfg.buckets)).distinct.size > 1)
    def jobs(ts: Seq[Topic]): Int = TestSpark.jobsOf { s.search(ts, k = 1000).collect() }
    jobs(topic)
    assert(jobs(topic) == 1)
    // cold term stats: one bucket load and the range task
    TestSpark.coldTermStats()
    assert(jobs(topic) == 2)
    // cold docno pages: the range task and one page load
    TestSpark.coldDocnos()
    assert(jobs(topic) == 2)
    // both cold, a batch over several buckets and every page: one job each
    TestSpark.coldTermStats(); TestSpark.coldDocnos()
    assert(jobs(batch) == 3)
    assert(jobs(batch) == 1)
  }

  test("codegen: fresh single-topic searches compile no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val s = new Searcher(fullIdx)
    // the warm-up compiles the plan shapes of a two-term search; fresh
    // terms, a longer term list and fresh docids must not compile again
    s.search(Seq(Topic("c0", "v3 v8")), k = 10).collect()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val a = s.search(Seq(Topic("c1", "v1 v26")), k = 10).collect()
    val b = s.search(Seq(Topic("c2", "v12 v20")), k = 10).collect()
    val c = s.search(Seq(Topic("c3", "v4 v15 v22")), k = 10).collect()
    assert(a.nonEmpty && b.nonEmpty && c.nonEmpty && a.map(_.docno).toSet != b.map(_.docno).toSet)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"$compiled classes compiled by three fresh searches")
  }

  test("job count: a warm batch past 4,096 hits runs 1 job") {
    val s = new Searcher(fullIdx)
    // each topic matches exactly its own group's 1,000 docs: 5,000 ids
    val batch = (0 until 5).map(g => Topic(s"g$g", s"grp$g"))
    s.search(batch, k = 1000).collect()
    var lines = Array.empty[RunLine]
    val jobs = TestSpark.jobsOf { lines = s.search(batch, k = 1000).collect() }
    assert(lines.map(_.docno).distinct.length > 4096)
    // one scoring job (5,000 postings: one range, no exchange); the
    // docnos of every page come from the memo
    assert(jobs == 1, s"jobs=$jobs")
  }
}
