package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler._

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit, TimeoutException}
import scala.collection.mutable

/** Spark work attributed to one span: every job whose job group is the
  * span's, the stages those jobs ran and their tasks.
  */
final class SparkWork {
  var jobs = 0
  var stages = 0
  var stageTasks = 0L // Σ numTasks of the completed stages
  var tasks = 0L      // task end events seen
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var openJobs = 0
  var openStages = 0
  /** (start, end) wall-clock ms of each job, for the span time no job covers. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private[graftbench] val jobStartMs = mutable.HashMap.empty[Int, Long]
}

/** One timed call into a layer. `req` is shared by the spans of one
  * request (one query, one build, one ingest cycle).
  */
final class Span(val id: Long, val name: String, val parent: Long, val req: Long,
                 val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  val work = new SparkWork
  val counts = mutable.LinkedHashMap.empty[String, Double]
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
  /** Wall time of the span that no Spark job covers (driver-side work). */
  def uncoveredSeconds: Double = {
    val endMs = startMs + (endNs - startNs) / 1000000L
    val iv = work.jobIntervals.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, seconds - covered / 1000.0)
  }
}

/** A marker the tracer posts on the listener bus (see [[Bus]]). */
final case class Marker(id: Long) extends SparkListenerEvent

/** In-memory spans around the benchmark's calls into the engine. Disabled,
  * it runs each body bare: no listener, no job groups, no barrier.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val BarrierTimeoutMs = 60000L
  private val spansById = new ConcurrentHashMap[Long, Span]()
  private val closed = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 1L
  private var nextReq = 1L
  private var markerId = 0L
  private val markers = new ConcurrentHashMap[Long, CountDownLatch]()
  private val GroupPrefix = "perfbench-span-"

  private val listener = new SparkListener {
    private val jobSpan = new ConcurrentHashMap[Int, Span]()
    private val stageSpan = new ConcurrentHashMap[(Int, Int), Span]()
    private def spanOf(props: java.util.Properties): Option[Span] =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix))
        .flatMap(g => Option(spansById.get(g.stripPrefix(GroupPrefix).toLong)))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        s.synchronized {
          s.work.jobs += 1; s.work.openJobs += 1
          s.work.jobStartMs(e.jobId) = e.time
        }
        jobSpan.put(e.jobId, s)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { s =>
        s.synchronized {
          s.work.openJobs -= 1
          s.work.jobStartMs.remove(e.jobId).foreach(t => s.work.jobIntervals += ((t, e.time)))
        }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { s =>
        s.synchronized { s.work.stages += 1; s.work.openStages += 1 }
        stageSpan.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), s)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))).foreach { s =>
        s.synchronized {
          s.work.openStages -= 1
          s.work.stageTasks += e.stageInfo.numTasks
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get((e.stageId, e.stageAttemptId))).foreach { s =>
        val m = e.taskMetrics
        s.synchronized {
          val w = s.work
          w.tasks += 1
          if (m != null) {
            w.taskRunMs += m.executorRunTime
            w.taskCpuNs += m.executorCpuTime
            w.gcMs += m.jvmGCTime
            w.inputBytes += m.inputMetrics.bytesRead
            w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            w.resultBytes += m.resultSize
          }
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case Marker(id) => Option(markers.remove(id)).foreach(_.countDown())
      case _ =>
    }
  }

  if (enabled) sc.addSparkListener(listener)

  def spans: Seq[Span] = closed.toSeq

  private var suspended = false
  /** True while spans are being recorded. */
  def active: Boolean = enabled && !suspended

  /** Runs `body` with no spans recorded: the output checks' own searches. */
  def bare[A](body: => A): A = {
    val was = suspended
    suspended = true
    try body finally suspended = was
  }

  /** A request id for the spans of one request. */
  def request(): Long = { val r = nextReq; nextReq += 1; r }

  /** Runs `body` inside a span. The span closes only after the listener
    * has seen the end of every job and stage started inside it; a barrier
    * that times out throws, so the calling operation counts as failed.
    */
  def span[A](name: String, req: Long = -1L)(body: => A): A =
    if (!active) body
    else {
      val parent = stack.headOption
      val s = new Span(nextId, name, parent.map(_.id).getOrElse(0L),
        if (req >= 0) req else parent.map(_.req).getOrElse(0L),
        System.nanoTime(), System.currentTimeMillis())
      nextId += 1
      spansById.put(s.id, s)
      stack.push(s)
      sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        parent match {
          case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        closed += s
        settle(s)
      }
    }

  /** Adds `v` to counter `key` of the innermost open span. */
  def note(key: String, v: Double): Unit =
    if (active) stack.headOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  /** Waits until every job and stage of `s` has reported its end. */
  private def settle(s: Span): Unit = {
    val deadline = System.nanoTime() + BarrierTimeoutMs * 1000000L
    def open: Boolean = s.synchronized(s.work.openJobs > 0 || s.work.openStages > 0)
    barrier(deadline)
    while (open) {
      if (System.nanoTime() > deadline)
        throw new TimeoutException(s"span ${s.name}: Spark events did not drain")
      barrier(deadline)
    }
  }

  /** Returns once the listener has received every event posted before now. */
  private def barrier(deadlineNs: Long): Unit =
    if (enabled) {
      markerId += 1
      val latch = new CountDownLatch(1)
      markers.put(markerId, latch)
      Bus.post(sc, Marker(markerId))
      val waitNs = math.max(1L, deadlineNs - System.nanoTime())
      if (!latch.await(waitNs, TimeUnit.NANOSECONDS))
        throw new TimeoutException("listener bus barrier timed out")
    }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  /** Self time of each span: its duration minus the part of it that its
    * child spans cover.
    */
  def selfSeconds(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var curA = 0L
      var curB = 0L
      iv.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += curB - curA
      s.id -> math.max(0.0, (s.endNs - s.startNs - covered) / 1e9)
    }.toMap
  }

  /** Spans as JSON lines (written when the run ends). */
  def toJson(spans: Seq[Span]): Iterator[String] = {
    val self = selfSeconds(spans)
    spans.iterator.map { s =>
      val w = s.work
      val counts = s.counts.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${Json.num(self(s.id))},""" +
        s""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},""" +
        s""""task_cpu_s":${Json.num(w.taskCpuNs / 1e9)},"gc_s":${Json.num(w.gcMs / 1e3)},""" +
        s""""counts":{$counts}}"""
    }
  }
}
