package graft.tools

import graft.Engine
import graft.corpus.Corpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Searcher, Topic}
import org.apache.spark.sql.SparkSession

/** Strong-scaling measurement in the PER-EXECUTOR-JVM regime: the same
  * index build + query batch on `local-cluster[1,8,m]` (N = 1 executor × 8
  * cores) vs `local-cluster[4,8,m]` (4N), i.e. real separate executor JVM
  * processes with netty shuffle between them — the closest this sandbox
  * gets to the north rule's "N and 4N executor clusters" (a single-JVM
  * `local[n]` master shares one heap/GC/allocator across all task threads
  * and under-reports scaling; BENCH.md r1 measured the ladder
  * 0.81 separate-process / 0.69 one-JVM-threads / 0.47 full-Spark-local).
  *
  * One LEG per JVM invocation (standalone Master/Worker restarts within a
  * JVM proved flaky: stale worker state → "requires more resource"
  * warnings and stray slow legs). `scripts/scaling_cluster` interleaves
  * legs best-of-N — the VM's deliverable CPU fluctuates up to 3.5×.
  *
  * Launcher MUST export: SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13
  * SPARK_LOCAL_DIRS=/dev/shm/graft-shuffle (standalone ignores
  * spark.local.dir — shuffle on the single virtual disk serializes I/O).
  *
  * Run one leg:
  *   sbt "runMain graft.tools.ScalingCluster <workers> [sfDir] [mult] [coresPerWorker]"
  *
  * `coresPerWorker` (default 8) exists for the capacity-bounded pair:
  * 1×4 vs 4×4 keeps even the 4N leg (16 threads) inside the deliverable
  * capacity this VM holds during its "degraded" phases (~16-20 effective
  * cores, BENCH.md r4), separating engine scaling from socket-bandwidth
  * saturation that the 32-thread legs measure.
  */
object ScalingCluster {
  /** Cross-leg task-metric totals. Wall-clock alone cannot separate "the
    * engine scales poorly" from "the VM delivers fewer cycles to the 4N
    * leg" (BENCH.md documents up to 3.5× deliverable-CPU swings). Summing
    * executor task metrics disambiguates: if total task CPU seconds for a
    * phase is ~equal on the 1× and 4× legs, the engine did the same work
    * with no added contention/serial overhead, and any wall-clock
    * efficiency shortfall is cycle delivery + scheduling — the box, not
    * the plan. GC time and shuffle bytes catch the two ways a wider leg
    * could genuinely do MORE work (memory pressure, extra exchange).
    */
  private final class TaskTotals extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val cpuNs, runMs, gcMs, shufReadB, shufWriteB, tasks = new AtomicLong
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        tasks.incrementAndGet()
        ()
      }
    }
    def snap(): Array[Long] =
      Array(cpuNs.get, runMs.get, gcMs.get, shufReadB.get, shufWriteB.get, tasks.get)
  }

  def main(args: Array[String]): Unit = {
    val workers = args.headOption.map(_.toInt).getOrElse(1)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(2).map(_.toInt).getOrElse(8)
    val coresPer = args.lift(3).map(_.toInt).getOrElse(8)
    val cores = workers * coresPer
    // GRAFT_SHUFFLE_PARTITIONS pins BOTH legs of a strong-scaling pair to
    // one decomposition (fixed task count; the narrow leg just queues
    // deeper). Without it, cores×4 gives each leg its natural width —
    // which at slice scale makes the wide leg pay 2-3× the per-task fixed
    // overhead and understates scaling (pair2 quad #1: task CPU 101→155 s
    // for identical work at 8 vs 32 partitions).
    val shufParts = sys.env.get("GRAFT_SHUFFLE_PARTITIONS")
      .map(_.toInt).getOrElse(cores * 4)
    val classesDir = sys.env.getOrElse("GRAFT_CLASSES", java.nio.file.Paths
      .get(System.getProperty("user.dir"), "target", "scala-2.13", "classes").toString)
    val spark = SparkSession.builder()
      .master(s"local-cluster[$workers,$coresPer,16384]")
      .appName(s"graft-cluster-w$workers")
      .config("spark.executor.memory", "12g")
      .config("spark.executor.extraClassPath", classesDir)
      .config("spark.sql.shuffle.partitions", shufParts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.locality.wait", "0s")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // verify the leg actually got its executors before measuring
    val deadline = System.currentTimeMillis() + 60000
    def executors(): Int =
      spark.sparkContext.getExecutorMemoryStatus.size - 1 // minus driver
    while (executors() < workers && System.currentTimeMillis() < deadline)
      Thread.sleep(500)
    require(executors() == workers,
      s"leg invalid: got ${executors()} executors, wanted $workers")

    val totals = new TaskTotals
    spark.sparkContext.addSparkListener(totals)
    var mark = totals.snap()
    def cpuLine(phase: String): Unit = {
      // listener-bus delivery is async; give the queue a moment to drain
      // before snapshotting (attribution tool, not a timing-critical path)
      Thread.sleep(1000)
      val now = totals.snap()
      val d = now.zip(mark).map { case (a, b) => a - b }
      mark = now
      println(f"SCALING-CPU workers=$workers phase=$phase " +
        f"cpu=${d(0) / 1e9}%.1fs run=${d(1) / 1e3}%.1fs gc=${d(2) / 1e3}%.1fs " +
        f"shuf_read_mb=${d(3) / 1e6}%.1f shuf_write_mb=${d(4) / 1e6}%.1f tasks=${d(5)}")
    }

    // grp granularity must track corpus size: at bench scale one range
    // partition holds ~1 grp at the 2^18 default, collapsing hot terms to
    // a handful of (term, mgrp) reducer keys — the very skew the key is
    // meant to prevent (at 10^12 docs the default yields millions of grps).
    val gShift = sys.env.getOrElse("GRAFT_GROUP_SHIFT", "15").toInt
    val mShift = sys.env.getOrElse("GRAFT_MERGE_SHIFT", "2").toInt
    val dir = s"${Engine.workDir}/cluster_w$workers"
    deleteRecursively(spark, dir)
    // repartition BEFORE persist: the explode-replicated corpus otherwise
    // sits in ~6 AQE-coalesced fat blocks, capping every input-reading
    // stage (range sample, count, tokenize map side) at 6-way parallelism
    // regardless of cores — a real 100 TB corpus arrives in thousands of
    // files, so the spread models reality, not a benchmark cheat
    val corpus = Corpus.replicated(Corpus.fromLineitem(spark, sfDir), mult)
      .repartition(cores * 4)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val n = corpus.count()
    cpuLine("prep")
    val t0 = System.nanoTime()
    val idx = IndexBuilder.build(corpus, dir,
      IndexConfig(analyzer = Engine.OracleAnalyzer, fingerprint = "none",
        groupShift = gShift, mergeShift = mShift),
      verifySha = false)
    val buildSec = (System.nanoTime() - t0) / 1e9
    cpuLine("build")
    corpus.unpersist()
    val searcher = new Searcher(idx)
    val topics = Corpus.LineitemTopics.map { case (q, t) => Topic(q, t) }
    searcher.search(topics, 1000).count() // warm
    val tq0 = System.nanoTime()
    searcher.search(topics, 1000).count()
    val batchSec = (System.nanoTime() - tq0) / 1e9
    cpuLine("query")
    val tput = n / buildSec
    // r4: the round-3 wide operators join the scaling leg — LSH banding,
    // bucket-capped candidate pairs, exact Jaccard verify, and the
    // connected-components fixpoint (checkpointed label propagation). A
    // 4×-replicated base corpus gives every doc a 4-clique of near-dups:
    // bounded pair fan-out, guaranteed non-trivial CC merges.
    import org.apache.spark.sql.functions.{col, crc32, lit, pmod}
    val an = new graft.analysis.Analyzer(Engine.OracleAnalyzer)
    // 1/8 docno-hash slice of the base corpus, then 4 replicas: the
    // lineitem text is densely self-similar (low-cardinality token space),
    // so the FULL corpus under LSH banding yields a pair graph ~100× the
    // gate's dedup workload and swamps the leg — the slice keeps the
    // banding/verify/CC machinery under measurement at a bounded scale
    val ddCorpus = Corpus.replicated(
        Corpus.fromLineitem(spark, sfDir)
          .where(pmod(crc32(col("docno")), lit(8)) === 0), 4)
      .repartition(cores * 4)
    val nDd = ddCorpus.count() // before the timer: correctness input, not work
    val td0 = System.nanoTime()
    val sh = graft.ops.Dedup.shingles(ddCorpus, an, 3)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val pairs = graft.ops.Dedup.verifyJaccard(
        graft.ops.Dedup.minHashCandidatesFrom(sh, 12, 2, maxBucketSize = 64), sh)
      .where(col("inter") * 2 >= col("uni"))
    val nKeep = graft.ops.Dedup.dupClusters(ddCorpus, pairs)
      .where(col("keep")).count()
    val dedupSec = (System.nanoTime() - td0) / 1e9
    cpuLine("dedup")
    sh.unpersist()
    // the leg is only valid if the CC result is right: exactly one kept
    // representative per 4-replica clique
    require(nKeep * 4 == nDd,
      s"dedup/CC regression: kept $nKeep of $nDd docs (expected one per 4-clique)")
    require(executors() == workers,
      s"leg invalid: executor count changed to ${executors()} mid-leg")
    println(f"SCALING-CLUSTER workers=$workers cores=$cores n=$n " +
      f"build=${buildSec}%.1fs docs_per_sec=${tput}%.0f " +
      f"query_batch=${batchSec}%.2fs dedup_cc=${dedupSec}%.1fs keep=$nKeep")
    // per-stage attribution from the checkpoint manifests
    val conf = spark.sparkContext.hadoopConfiguration
    for (st <- Seq(graft.index.IndexLayout.TokenizedDir, graft.index.IndexLayout.DocsDir,
        graft.index.IndexLayout.StatsDir, graft.index.IndexLayout.PostingsDir,
        graft.index.IndexLayout.TermStatsDir)) {
      graft.index.Checkpoint.readManifest(s"$dir/$st", conf).foreach(m =>
        println(s"SCALING-STAGE workers=$workers $st ${m.wallMs}ms"))
    }
    deleteRecursively(spark, dir)
    spark.stop()
  }

  private def deleteRecursively(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}
