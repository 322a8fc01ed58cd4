package graft

import graft.analysis.AnalyzerConfig
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Searcher, Topic}
import org.apache.spark.sql.execution.{AppendColumnsExec, AppendColumnsWithObjectExec,
  FileSourceScanExec, MapGroupsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The plan shape and job counts of the query kinds that share the
  * searcher's one sorted, docid-partitioned combine pass and its two
  * partial producers: dismax and boolean-tree queries combine without a
  * typed `groupByKey`, and span-near runs through the positional co-group
  * alone.
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

  /** Executed plans of every query `body` runs on this thread. The listener
    * bus delivers in order, so the sentinel query's arrival means every
    * plan of `body` has been seen.
    */
  private def plansOf(body: => Unit): Seq[SparkPlan] = {
    val sentinel = "combine_pass_sentinel"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == sentinel)) done.countDown()
        else plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(sentinel).collect()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain")
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
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
      shape(plansOf(searcher.searchDisMax(Seq(topic), 10, 0.3f).collect()))
    assert(scans >= 1, "the scoring plan was not captured")
    assert(groups == 0 && appends == 0, s"dismax: $groups MapGroups, $appends AppendColumns")

    val tree = Topic("q", "apple +pear -plum")
    assert(searcher.searchQuery(Seq(tree), 10).collect().nonEmpty)
    val (tScans, tGroups, tAppends) =
      shape(plansOf(searcher.searchQuery(Seq(tree), 10).collect()))
    assert(tScans >= 1, "the scoring plan was not captured")
    assert(tGroups == 0 && tAppends == 0, s"tree: $tGroups MapGroups, $tAppends AppendColumns")
  }

  test("plan: span-near runs one MapGroups node, the positional co-group's") {
    val spans = Seq(("s", "apple", "pear", 2))
    Seq(true, false).foreach { ordered =>
      searcher.searchSpanNear(spans, 10, ordered = ordered).collect()
      val (scans, groups, _) =
        shape(plansOf(searcher.searchSpanNear(spans, 10, ordered = ordered).collect()))
      assert(scans >= 1, "the scoring plan was not captured")
      assert(groups == 1, s"ordered=$ordered: $groups MapGroups")
    }
  }

  test("job count: memo-warm span-near and pure-term boolean-tree searches") {
    val spans = Seq(("s", "apple", "pear", 1))
    searcher.searchSpanNear(spans, 10).collect() // warms the memo
    var near = Array.empty[graft.search.RunLine]
    val nearJobs = TestSpark.jobsOf { near = searcher.searchSpanNear(spans, 10).collect() }
    assert(near.nonEmpty)
    // the co-group shuffle's map stage, the co-group + collector stage and
    // the docno lookup
    assert(nearJobs == 3, s"span-near jobs=$nearJobs")

    val topics = Seq(Topic("q", "apple pear plum"))
    searcher.searchQuery(topics, 10).collect()
    var tree = Array.empty[graft.search.RunLine]
    val treeJobs = TestSpark.jobsOf { tree = searcher.searchQuery(topics, 10).collect() }
    assert(tree.nonEmpty)
    // the combine shuffle's map stage, the combine + collector stage and
    // the docno lookup
    assert(treeJobs == 3, s"searchQuery jobs=$treeJobs")
  }
}
