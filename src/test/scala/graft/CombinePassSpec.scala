package graft

import graft.analysis.AnalyzerConfig
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{BlendedClause, Bm25Scorer, CollStats, PhraseClause, RunLine, Searcher,
  SynonymClause, Topic, WeightedClause}
import org.apache.spark.sql.execution.{AppendColumnsExec, AppendColumnsWithObjectExec,
  FileSourceScanExec, MapGroupsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** The plan shape and job counts of the query kinds that share the
  * searcher's range tasks: dismax, boolean-tree, fuzzy (blended),
  * span-near, phrase and synonym queries combine without a typed
  * `groupByKey`. A fuzzy clause's expansions fold into one clause score in
  * expansion-rank order, bit for bit.
  */
class CombinePassSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val corpus = Seq(
    "p-1" -> "apple apple pear",
    "p-2" -> "apple x pear plum",
    "p-3" -> "pear apple",
    "p-4" -> "plum pear x x apple",
    "p-5" -> "apple")

  private lazy val searcher: Searcher = {
    import spark.implicits._
    new Searcher(IndexBuilder.build(corpus.toDF("docno", "content"),
      TestSpark.tmpDir("combinepass"),
      IndexConfig(analyzer = AnalyzerConfig(), indexPositions = true)))
  }

  // fuzzy fixture: "lin~1" expands to lin, line, link, lint (distance,
  // then term order), and most docs hold two or more of them
  private val fuzzyCorpus = Seq(
    "f-1" -> "line link window",
    "f-2" -> "lint line line x",
    "f-3" -> "link",
    "f-4" -> "window lin x x x",
    "f-5" -> "line lint link window window lin",
    "f-6" -> "x window")

  private lazy val fuzzyIndex = {
    import spark.implicits._
    IndexBuilder.build(fuzzyCorpus.toDF("docno", "content"), TestSpark.tmpDir("combinepass-fuzzy"),
      IndexConfig(analyzer = AnalyzerConfig()))
  }

  private val helper = new AdaptiveSparkPlanHelper {}

  /** (postings scans, MapGroups nodes, AppendColumns nodes) across `plans`. */
  private def shape(plans: Seq[SparkPlan]): (Int, Int, Int) = {
    def count(pf: PartialFunction[SparkPlan, Unit]): Int =
      plans.map(p => helper.collect(p)(pf).size).sum
    (count { case s: FileSourceScanExec if s.relation.location.rootPaths
        .exists(_.toString.contains("/postings")) => },
      count { case _: MapGroupsExec => },
      count { case _: AppendColumnsExec => case _: AppendColumnsWithObjectExec => })
  }

  test("plan: dismax and a term-only boolean tree combine without groupByKey") {
    val topic = Topic("t", "apple pear plum")
    searcher.searchDisMax(Seq(topic), 10, 0.3f).collect() // warm the memo
    val (scans, groups, appends) =
      shape(TestSpark.plansOf(searcher.searchDisMax(Seq(topic), 10, 0.3f).collect()))
    assert(scans >= 1, "the scoring plan was not captured")
    assert(groups == 0 && appends == 0, s"dismax: $groups MapGroups, $appends AppendColumns")

    val tree = Topic("q", "apple +pear -plum")
    assert(searcher.searchQuery(Seq(tree), 10).collect().nonEmpty)
    val (tScans, tGroups, tAppends) =
      shape(TestSpark.plansOf(searcher.searchQuery(Seq(tree), 10).collect()))
    assert(tScans >= 1, "the scoring plan was not captured")
    assert(tGroups == 0 && tAppends == 0, s"tree: $tGroups MapGroups, $tAppends AppendColumns")
  }

  test("plan: a fuzzy searchQuery combines without groupByKey") {
    val fuzzy = new Searcher(fuzzyIndex)
    val topic = Seq(Topic("f", "lin~2 window"))
    assert(fuzzy.searchQuery(topic, 10).collect().nonEmpty)
    val (scans, groups, appends) = shape(TestSpark.plansOf(fuzzy.searchQuery(topic, 10).collect()))
    assert(scans >= 1, "the scoring plan was not captured")
    assert(groups == 0 && appends == 0, s"fuzzy: $groups MapGroups, $appends AppendColumns")
  }

  test("fuzzy: expansions sum in rank order, bit for bit, tree and flat, 1 and 4 partitions") {
    val fuzzy = new Searcher(fuzzyIndex)
    val exps = fuzzy.expandFuzzy("lin", 1)
    assert(exps.map(_._1) == Seq("lin", "line", "link", "lint"))
    val boosted = exps.map { case (t, d) =>
      (t, if (d == 0) 1.0f else 1.0f - d.toFloat / math.min(3, t.length).toFloat)
    }
    // brute force over the raw corpus
    val docs = fuzzyCorpus.map { case (dn, text) => dn -> text.split(" ").toSeq }
    val stats = CollStats(fuzzyIndex.stats.max_doc, fuzzyIndex.stats.sum_total_term_freq)
    def dfCf(t: String) = (docs.count(_._2.contains(t)).toLong, docs.map(_._2.count(_ == t)).sum.toLong)
    val present = boosted.map(e => dfCf(e._1))
    val blendW = Bm25Scorer.termWeight(present.map(_._1).max, present.map(_._2).max, stats)
    val windowW = { val (df, cf) = dfCf("window"); Bm25Scorer.termWeight(df, cf, stats) }
    val want: Map[String, Int] = docs.flatMap { case (dn, ts) =>
      val hits = boosted.filter(e => ts.contains(e._1))
      var fz = 0.0f // the fuzzy clause: expansions in rank order from 0
      hits.foreach { case (t, fb) => fz += Bm25Scorer.score(ts.count(_ == t).toFloat, ts.size, blendW, stats) * fb }
      val tfW = ts.count(_ == "window")
      var s = 0.0f // then the clauses in qidx order
      if (hits.nonEmpty) s += fz
      if (tfW > 0) s += Bm25Scorer.score(tfW.toFloat, ts.size, windowW, stats)
      if (hits.isEmpty && tfW == 0) None else Some(dn -> java.lang.Float.floatToIntBits(s))
    }.toMap
    assert(docs.count(d => boosted.count(e => d._2.contains(e._1)) >= 2) >= 3,
      "the fixture needs docs matching several expansions")
    def got(rows: Array[graft.search.RunLine]): Map[String, Int] =
      rows.map(r => r.docno -> java.lang.Float.floatToIntBits(r.score)).toMap
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try Seq("1", "4").foreach { parts =>
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val tree = fuzzy.searchQuery(Seq(Topic("f", "lin~1 window")), 100).collect()
      assert(got(tree) == want, s"tree, $parts partitions")
      val flat = fuzzy.searchClauses(Seq(WeightedClause("f", 1, "window", 1.0f)), 100,
        blendedClauses = Seq(BlendedClause("f", 0, boosted, 1.0f))).collect()
      assert(got(flat) == want, s"flat, $parts partitions")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  private def phraseAndSynonym = Seq[(String, () => Array[RunLine])](
    "phrase" -> (() => searcher.searchClauses(Nil, 10,
      phraseClauses = Seq(PhraseClause("p", 0, Seq(("apple", 0), ("pear", 1)), 1.0f))).collect()),
    "synonym" -> (() => searcher.searchClauses(Nil, 10,
      synonymClauses = Seq(SynonymClause("y", 0, Seq("apple", "plum"), 1.0f))).collect()))

  test("plan: span-near, phrase, synonym combine without groupByKey") {
    val spans = Seq(("s", "apple", "pear", 2))
    val searches = Seq[(String, () => Array[RunLine])](
      "span-near ordered" -> (() => searcher.searchSpanNear(spans, 10).collect()),
      "span-near unordered" -> (() => searcher.searchSpanNear(spans, 10, ordered = false).collect())
    ) ++ phraseAndSynonym
    searches.foreach { case (what, run) =>
      assert(run().nonEmpty, what)
      val (scans, groups, appends) = shape(TestSpark.plansOf(run()))
      assert(scans >= 1, s"$what: the scoring plan was not captured")
      assert(groups == 0 && appends == 0, s"$what: $groups MapGroups, $appends AppendColumns")
    }
  }

  test("job count: memo-warm span-near and pure-term boolean-tree searches") {
    val spans = Seq(("s", "apple", "pear", 1))
    searcher.searchSpanNear(spans, 10).collect() // warms the memo
    var near = Array.empty[graft.search.RunLine]
    val nearJobs = TestSpark.jobsOf { near = searcher.searchSpanNear(spans, 10).collect() }
    assert(near.nonEmpty)
    // one range task with the collector in its stage
    assert(nearJobs == 1, s"span-near jobs=$nearJobs")

    val topics = Seq(Topic("q", "apple pear plum"))
    searcher.searchQuery(topics, 10).collect()
    var tree = Array.empty[graft.search.RunLine]
    val treeJobs = TestSpark.jobsOf { tree = searcher.searchQuery(topics, 10).collect() }
    assert(tree.nonEmpty)
    // one range task with the collector in its stage
    assert(treeJobs == 1, s"searchQuery jobs=$treeJobs")
  }

  test("job count: memo-warm phrase and synonym searches run 1 job") {
    phraseAndSynonym.foreach { case (what, run) =>
      run() // warms the memo
      var hits = Array.empty[RunLine]
      val jobs = TestSpark.jobsOf { hits = run() }
      assert(hits.nonEmpty, what)
      // one range task with the collector in its stage
      assert(jobs == 1, s"$what jobs=$jobs")
    }
  }
}
