package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Shared local session for specs (one JVM-wide session; sbt forks tests). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A fresh directory under the running checkout's `target/` (sbt forks
    * the test JVM in the build's base directory).
    */
  def tmpDir(prefix: String): String = {
    val target = java.nio.file.Paths.get(System.getProperty("user.dir"), "target")
    java.nio.file.Files.createDirectories(target)
    java.nio.file.Files.createTempDirectory(target, prefix).toString
  }

  /** Makes every snapshot's term-stats memo cold: the memos of as many
    * fresh synthetic snapshots as the memo holds evict every other.
    */
  def coldTermStats(): Unit =
    (1 to graft.index.BuiltIndex.MemoSnapshots).foreach(i =>
      graft.index.BuiltIndex.statsMemo(s"cold-${System.nanoTime()}-$i"))

  /** Makes every docno page cold: one synthetic page as large as the
    * page memo's bound evicts every other.
    */
  def coldDocnos(): Unit = {
    import graft.search.Searcher
    val n = Searcher.MemoDocnos
    Searcher.docnoPages.getAll(Seq((s"cold-${System.nanoTime()}", 0L)))(ks =>
      ks.map(_ -> new Searcher.Docnos(Array.tabulate(n)(_.toLong), new Array(n))).toMap)
  }

  /** Spark jobs `body` starts on this thread. A sentinel job in a second
    * group follows it; the listener bus delivers in order, so once the
    * sentinel's start arrives every measured job has been counted.
    */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-pin-${System.nanoTime()}"
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

  /** Executed plans of every query `body` runs on this thread: those of
    * the driver collects through [[PlanRunner]], which reports them, and
    * the listener's. The listener bus delivers in order, so the sentinel
    * query's arrival means every plan of `body` has been seen.
    */
  def plansOf(body: => Unit): Seq[SparkPlan] = {
    val sentinel = "plans_of_sentinel"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val done = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == sentinel)) done.countDown()
        else plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      PlanRunner.observing(qe => plans.add(qe.executedPlan))(body)
      spark.range(1).toDF(sentinel).collect()
      assert(done.await(60, TimeUnit.SECONDS),
        "listener bus did not drain")
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }
}
