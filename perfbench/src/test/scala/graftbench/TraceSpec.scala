package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Listener attribution is exact: a span closes only after the events of
  * every job it started have arrived, with no fixed sleep.
  */
class TraceSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "3")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def shuffleJob(): Unit =
    spark.range(0, 20000, 1, 5).groupBy((col("id") % 7).as("k")).count().collect()

  test("task counts equal the summed numTasks of the stages that ran") {
    val t = new Tracer(spark.sparkContext, enabled = true)
    (1 to 5).foreach(_ => t.span("search.plan", t.request())(shuffleJob()))
    t.close()
    val spans = t.spans
    assert(spans.size == 5)
    spans.foreach { s =>
      val w = s.work
      assert(w.jobs >= 1 && w.stages >= 2)
      assert(w.openJobs == 0 && w.openStages == 0)
      assert(w.tasks > 0 && w.tasks == w.stageTasks)
      assert(w.jobIntervals.size == w.jobs)
    }
  }

  test("jobs are attributed to the innermost open span") {
    val t = new Tracer(spark.sparkContext, enabled = true)
    t.span("client.query", t.request()) {
      t.span("search.plan")(shuffleJob())
      spark.range(10).collect()
    }
    t.close()
    val byName = t.spans.map(s => s.name -> s).toMap
    val (outer, inner) = (byName("client.query"), byName("search.plan"))
    assert(inner.parent == outer.id && inner.req == outer.req)
    assert(inner.work.stages >= 2)
    assert(outer.work.jobs >= 1 && outer.work.tasks == outer.work.stageTasks)
    val self = Tracer.selfSeconds(t.spans)
    assert(self(outer.id) <= outer.seconds - inner.seconds + 1e-6)
  }

  test("a disabled tracer records nothing and leaves no job group") {
    val t = new Tracer(spark.sparkContext, enabled = false)
    assert(t.span("search.plan", t.request()) { shuffleJob(); 42 } == 42)
    assert(t.spans.isEmpty)
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
  }
}
