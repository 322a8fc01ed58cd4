package graft

import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Searcher, Topic, TopK}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The plan of the per-group top-k, [[TopK.ranked]]: a Partial
  * `WindowGroupLimit` below the shuffle exchange bounds each map
  * partition's rows per group, up to Spark's
  * `spark.sql.optimizer.windowGroupLimitThreshold` (default 1000), and
  * the sites that rank through it keep that node.
  */
class RankedPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val helper = new AdaptiveSparkPlanHelper {}

  /** Partial `WindowGroupLimit` nodes below a shuffle exchange of `plan`. */
  private def partialsBelowExchange(plan: SparkPlan): Int =
    helper.collect(plan) { case e: ShuffleExchangeExec => e }
      .map(e => helper.collect(e.child) { case w: WindowGroupLimitExec if w.mode == Partial => w }.size)
      .sum

  private def limits(plan: SparkPlan): Int =
    helper.collect(plan) { case w: WindowGroupLimitExec => w }.size

  // 2,000 rows in 7 groups over 4 partitions: the window needs an exchange
  private def rows: DataFrame =
    spark.range(0, 2000, 1, 4).select((col("id") % 7).as("g"), col("id"),
      (col("id") * 31 % 101).as("s"))

  private def ranked(k: Int): DataFrame =
    TopK.ranked(rows, Seq("g"), Seq(col("s").desc, col("id").asc), k)

  test("ranked: a Partial WindowGroupLimit below the exchange up to k = 1000, none above") {
    for (k <- Seq(10, 1000)) {
      val plan = ranked(k).queryExecution.executedPlan
      assert(partialsBelowExchange(plan) == 1, s"k=$k:\n$plan")
    }
    // Spark's threshold (default 1000): past it the full window is planned
    val over = ranked(1001).queryExecution.executedPlan
    assert(limits(over) == 0, s"k=1001:\n$over")
    // the same rows either way: k = 1001 keeps every group whole
    val want = rows.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).values.flatMap(_.sortBy(r => (-r._3, r._2)).zipWithIndex
        .map { case (r, i) => (r._1, r._2, i.toLong) }).toSet
    val got = ranked(1001).select("g", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(ranked(10).select("g", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want.filter(_._3 < 10))
  }

  test("searchSorted and Knn.bruteForceTopK plan the Partial limit") {
    import spark.implicits._
    val docs = (0 until 40).map(i => (f"d$i%03d", s"r${i % 5}", s"hot w${i % 3}"))
    val idx = IndexBuilder.build(docs.map(d => (d._1, d._3)).toDF("docno", "content"),
      TestSpark.tmpDir("rankedplan"), IndexConfig())
    val s = new Searcher(idx)
    val keys = s.collapseKeyTable(docs.map(d => (d._1, d._2)).toDF("docno", "repo"), "repo")
    var rows: Array[org.apache.spark.sql.Row] = Array.empty
    val plans = TestSpark.plansOf { rows = s.searchSorted(Seq(Topic("1", "hot")), keys, k = 10).collect() }
    assert(plans.map(partialsBelowExchange).sum == 1, plans.mkString("\n"))
    assert(rows.map(r => (r.getLong(2), r.getString(3), r.getString(1))).sorted.toSeq ==
      docs.sortBy(d => (d._2, d._1)).take(10).zipWithIndex
        .map { case (d, i) => (i.toLong, d._2, d._1) })

    val vecs = (1 to 30).map(i => (i.toLong, Seq(i.toFloat, (i % 4).toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
    val qs = Seq((100L, Seq(1.0f, 0.0f, 0.0f)), (101L, Seq(0.0f, 1.0f, 0.0f))).toDF("qid", "qv")
    val knn = ops.Knn.bruteForceTopK(vecs, qs, 5)
    assert(partialsBelowExchange(knn.queryExecution.executedPlan) == 1,
      knn.queryExecution.executedPlan.toString)
    assert(knn.as[(Long, Long, Int)].collect().groupBy(_._1).values.forall(_.map(_._3).sorted.toSeq == (0 until 5)))
  }
}
