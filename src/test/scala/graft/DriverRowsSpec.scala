package graft

import graft.analysis.AnalyzerConfig
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{RunLine, Searcher, Topic}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** [[DriverRows]], the leaf every driver-built search result sits on: a
  * returned batch's analyzed plan holds the leaf and no `LocalRelation`,
  * and the Dataset behaves like `spark.createDataset` of the same lines
  * under collect, select, filter, orderBy, count, union, joins, cache and a
  * parquet round trip.
  */
class DriverRowsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // every doc holds "all", so each topic below returns k = 1,000 lines
  private lazy val searcher: Searcher = {
    import spark.implicits._
    val docs = (0 until 2000).map(i => (f"d$i%05d", s"all w${i % 7} w${i % 11} r${i % 3}"))
    new Searcher(IndexBuilder.build(docs.toDF("docno", "content"), TestSpark.tmpDir("driverrows"),
      IndexConfig(analyzer = AnalyzerConfig(), buckets = 4)))
  }

  private val topics = (0 until 21).map(i => Topic(s"t$i", s"all w${i % 7} r${i % 3}"))

  private lazy val batch: Dataset[RunLine] = searcher.search(topics, k = 1000)

  private def leaves(plan: LogicalPlan): (Int, Int) =
    (plan.collect { case r: DriverRowsRelation => r }.size, plan.collect { case r: LocalRelation => r }.size)

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a returned batch: the driver-rows leaf, no LocalRelation, no rows in the plan string") {
    import spark.implicits._
    val plan = batch.queryExecution.analyzed
    assert(leaves(plan) == (1, 0), plan.toString)
    val lines = batch.collect()
    assert(lines.length >= 20000)
    assert(!plan.toString.contains(lines.head.docno) && plan.toString.length < 1000, plan.toString)
    assert(batch.queryExecution.optimizedPlan.maxRows.contains(lines.length.toLong))
    assert(batch.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    // LocalRelation's size estimate for the same rows
    val ref = spark.createDataset(lines.toSeq)
    assert(batch.queryExecution.optimizedPlan.stats.sizeInBytes ==
      ref.queryExecution.optimizedPlan.stats.sizeInBytes)
  }

  test("the batch ≡ createDataset of its lines: collect and downstream operators") {
    import spark.implicits._
    val lines = batch.collect().toSeq
    val ref = spark.createDataset(lines)
    assert(batch.schema == ref.schema)
    assert(ref.collect().toSeq == lines)
    assert(batch.count() == lines.length)
    def same(f: Dataset[RunLine] => DataFrame): Unit = assert(sortedRows(f(batch)) == sortedRows(f(ref)))
    same(_.select($"qid", ($"score" * 2).as("s2"), $"docno"))
    same(_.filter($"rank" < 10 && $"qid" =!= "t3").toDF())
    same(_.union(batch).toDF())
    same(_.join(searcher.index.docs.select("docno", "docid"), "docno"))
    same(_.groupBy("qid").count())
    assert(batch.orderBy($"score".desc, $"qid", $"rank").collect().toSeq ==
      ref.orderBy($"score".desc, $"qid", $"rank").collect().toSeq)
    // a self-join: each (qid, rank) is one line
    val a = batch.alias("a")
    val b = batch.alias("b")
    val self = a.join(b, col("a.qid") === col("b.qid") && col("a.rank") === col("b.rank"))
      .select(col("a.docno"), col("b.docno"))
    val pairs = self.collect()
    assert(pairs.length == lines.length && pairs.forall(r => r.getString(0) == r.getString(1)))
  }

  test("cache and a parquet write → read round trip") {
    import spark.implicits._
    val lines = batch.collect().toSeq.sortBy(l => (l.qid, l.rank))
    val cached = searcher.search(topics.take(3), k = 1000).cache()
    try {
      assert(cached.count() == 3000)
      assert(cached.queryExecution.withCachedData.collect { case m: InMemoryRelation => m }.nonEmpty)
      assert(cached.collect().toSeq.sortBy(l => (l.qid, l.rank)) == lines.filter(l => Set("t0", "t1", "t2")(l.qid)))
    } finally cached.unpersist()
    val dir = TestSpark.tmpDir("driverrows-pq") + "/run"
    batch.write.parquet(dir)
    val back = spark.read.parquet(dir).as[RunLine]
    assert(back.collect().toSeq.sortBy(l => (l.qid, l.rank)) == lines)
  }

  test("empty results, searchSorted and topHits sit on the leaf too") {
    import spark.implicits._
    val none = searcher.search(Seq(Topic("z", "zzznotindexed")), k = 10)
    assert(none.collect().isEmpty && none.count() == 0)
    assert(leaves(none.queryExecution.analyzed) == (1, 0))
    assert(none.schema == spark.emptyDataset[RunLine].schema)
    val empty = DriverRows.dataset(spark, newProductEncoder[RunLine], Array.empty)
    assert(empty.collect().isEmpty && empty.union(empty).count() == 0)
    val keys = searcher.index.docs.select($"docid", ($"docid" % 5).cast("string").as("ckey"))
    val sorted = searcher.searchSorted(topics.take(2), keys, k = 50)
    assert(leaves(sorted.queryExecution.analyzed) == (1, 0))
    assert(sorted.count() == 100 && sorted.columns.toSeq == Seq("qid", "docno", "rank", "ckey"))
    val hits = searcher.topHits(topics.take(2), keys, 3)
    assert(leaves(hits.queryExecution.analyzed) == (1, 0))
    assert(hits.count() == 30 && hits.columns.toSeq == Seq("qid", "ckey", "docno", "hit_rank"))
    assert(leaves(searcher.searchSorted(Seq(Topic("z", "zzznotindexed")), keys).queryExecution.analyzed) == (1, 0))
  }

  test("the strategy is installed once per session, and sessions sharing its extensions plan the leaf") {
    val rows = Array.fill(3)(org.apache.spark.sql.catalyst.InternalRow(1L))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType, nullable = false)))
    (1 to 3).foreach(_ => DriverRows.frame(spark, schema, rows))
    def installs(s: org.apache.spark.sql.SparkSession): Int = s match {
      case c: org.apache.spark.sql.classic.SparkSession => c.sessionState.planner.strategies.count(_ == DriverRowsStrategy)
    }
    assert(installs(spark) == 1)
    assert(DriverRows.frame(spark, schema, rows).collect().toSeq == Seq.fill(3)(Row(1L)))
    val other = spark.newSession()
    assert(DriverRows.frame(other, schema, rows).count() == 3)
    assert(installs(other) == 1 && installs(spark) == 1)
  }

  test("a search result read from a second session") {
    import spark.implicits._
    val lines = searcher.search(topics.take(2), k = 50)
    lines.createOrReplaceGlobalTempView("driverrows_lines")
    try {
      val read = spark.newSession().table("global_temp.driverrows_lines").as[RunLine]
      assert(read.collect().toSeq.sortBy(l => (l.qid, l.rank)) == lines.collect().toSeq.sortBy(l => (l.qid, l.rank)))
      assert(read.count() == 100)
    } finally spark.catalog.dropGlobalTempView("driverrows_lines")
  }
}
