package graftbench

import graft.Engine
import graft.codec.{DecodedPosting, PostingCodec}
import graft.index.{BuiltIndex, Checkpoint, IndexBuilder, IndexConfig, IndexLayout}
import graft.search.{RunLine, Searcher, Topic}
import graft.streaming.StreamingIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Input sizes of every workload (documented in perfbench/README.md). */
object Sizes {
  val Docs = 6000             // corpus documents
  val PoolTopics = 200        // ad hoc topic pool (Zipf-repeated)
  val AdhocK = 10             // SearchFiles page size
  val BatchTopics = 50        // topics per batch call
  val BatchK = 1000           // the reference's returnedResultCount
  val WarmupTopics = 8        // ad hoc warm-up topics, each sent twice
  val MinBlocks = 3           // ad hoc: at least this many blocks of five
  val MinBatches = 8          // trec_batch: at least this many batches
  val WarmupBatchTopics = 50  // topics of the one warm-up batch
  val BatchBruteChecks = 4    // brute-force-checked topics per batch
  val BatchSingleChecks = 2   // batch-vs-single topics (first batch)
  val CompactChecks = 4       // union-vs-compacted topics of the traced sweep
  val SweepDeltas = 2         // deltas ingested by the traced sweep
  val SweepDocs = 40          // docs per delta of the traced sweep
}

object Workloads {
  val names: Seq[String] = Seq("adhoc", "trec_batch")
}

/** The workloads. Each is a closed loop with one client thread that drives
  * the engine only through its public API and waits for every reply.
  * Timed operations stop their clock before any output check runs; checks,
  * index clean-up and the traced sweep run with the measurement clock paused.
  */
final class Workloads(spark: SparkSession, a: Args, cpus: Int, sinceJvmStart: () => Double) {
  import spark.implicits._

  private val tracer = new Tracer(spark.sparkContext, a.trace)
  private val cfg = IndexConfig(analyzer = Engine.OracleAnalyzer, fingerprint = "none")
  private val work = a.work
  private val hconf = spark.sparkContext.hadoopConfiguration

  // ---- outcome accounting ----------------------------------------------------
  private var attempted = 0L
  private var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  private def fail(msg: String): Unit = {
    failed += 1
    if (problems.size < 20) problems += msg
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  // ---- measurement clock: runs only while the workload is measured ---------
  private var measuredNs = 0L
  private var runningSince = -1L
  private def clockOn(): Unit = runningSince = System.nanoTime()
  private def clockOff(): Unit = if (runningSince >= 0) {
    measuredNs += System.nanoTime() - runningSince; runningSince = -1L
  }
  private def measured: Double =
    (measuredNs + (if (runningSince >= 0) System.nanoTime() - runningSince else 0L)) / 1e9
  private def paused[A](body: => A): A = {
    val was = runningSince >= 0
    clockOff()
    try body finally if (was) clockOn()
  }

  // ---- samples ------------------------------------------------------------------
  private val phase = mutable.HashMap.empty[Long, String] // request → setup | measure | sweep
  private var curPhase = "setup"
  /** latency of each successful measured operation, in seconds */
  private val ops = mutable.ArrayBuffer.empty[Double]
  private val named = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def sample(name: String, v: Double): Unit = named.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Runs one timed operation. A thrown exception counts as a failure and
    * records no sample; None is returned.
    */
  private def op[A](kind: String)(body: => A): Option[(A, Double)] = {
    attempted += 1
    val req = tracer.request()
    phase(req) = curPhase
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(s"client.$kind", req)(body)
      val s = (System.nanoTime() - t0) / 1e9
      if (curPhase == "measure") ops += s
      Some((r, s))
    } catch {
      case NonFatal(e) =>
        fail(s"$kind: $e")
        None
    }
  }

  // ---- corpus -----------------------------------------------------------------------
  private lazy val docs: Vector[Gen.Doc] = Gen.corpus(a.seed, Sizes.Docs)
  private def contentBytes(ds: Seq[Gen.Doc]): Long =
    ds.iterator.map(_.content.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
  /** A corpus table (docno, content), cached in memory. */
  private def table(ds: Seq[Gen.Doc]): DataFrame = {
    val df = ds.toDF().repartition(cpus).cache()
    df.count()
    df
  }
  private lazy val brute = new Brute(docs, cfg.analyzer)

  // ---- engine calls, each inside its layer's span ----------------------------------
  private def build(corpus: DataFrame, dir: String): BuiltIndex = {
    val idx = tracer.span("index.build")(IndexBuilder.build(corpus, dir, cfg))
    if (tracer.active) {
      noteStages(dir)
      tracer.note("index.files", Disk.indexFiles(Paths.get(dir)).size.toDouble)
      tracer.note("index.bytes", Disk.indexBytes(Paths.get(dir)).toDouble)
    }
    idx
  }

  private val Stages = Seq(
    "tokenized" -> IndexLayout.TokenizedDir, "docs" -> IndexLayout.DocsDir,
    "stats" -> IndexLayout.StatsDir, "postings" -> IndexLayout.PostingsDir,
    "term_stats" -> IndexLayout.TermStatsDir, "vocab" -> IndexLayout.VocabDir)

  /** Per-stage wall time and rows (from each stage's manifest) and bytes. */
  private def noteStages(dir: String): Unit = Stages.foreach { case (stage, sub) =>
    val m = tracer.span("index.manifest")(Checkpoint.readManifest(s"$dir/$sub", hconf))
    m.foreach { mf =>
      tracer.note(s"index.$stage.wall_s", mf.wallMs / 1e3)
      tracer.note(s"index.$stage.rows", mf.rowsOut.toDouble)
    }
    tracer.note(s"index.$stage.bytes", Disk.bytes(Paths.get(s"$dir/$sub")).toDouble)
  }

  /** One search request: the Searcher call (plan), the collect (exec) and
    * trec_eval formatting, as a user consumes it.
    */
  private def query(s: Searcher, topics: Seq[Topic], k: Int, mode: Gen.Mode): Seq[RunLine] = {
    val ds = tracer.span("search.plan") {
      mode match {
        case Gen.Or => s.search(topics, k)
        case Gen.Wand => s.search(topics, k, pruning = true)
        case Gen.And => s.searchAnd(topics, k)
      }
    }
    val lines = tracer.span("search.exec")(ds.collect().toSeq)
    if (mode == Gen.Wand && tracer.active) {
      val (decoded, skipped) = s.lastPruning
      tracer.note("search.wand_blocks_decoded", decoded.toDouble)
      tracer.note("search.wand_blocks_skipped", skipped.toDouble)
    }
    tracer.note("search.rows_returned", lines.size.toDouble)
    val run = s.formatRun(lines)
    require(run.size == lines.size, "formatRun dropped lines")
    lines
  }

  // ---- checks -------------------------------------------------------------------------
  private def check(what: String)(problem: => Option[String]): Unit = paused {
    val p = try problem catch { case NonFatal(e) => Some(s"$what: $e") }
    p.foreach(fail)
  }

  private def byQid(lines: Seq[RunLine]): Map[String, Seq[RunLine]] = lines.groupBy(_.qid)

  private def bruteCheck(what: String, t: Topic, got: Seq[RunLine], k: Int, mode: Gen.Mode): Unit =
    check(what) {
      val want = brute.topK(t.text, k, conjunctive = mode == Gen.And)
      Brute.diff(s"$what ${mode.name} '${t.text}' vs brute force", Brute.key(got), Brute.keyOf(want))
    }

  private def checkBuild(idx: BuiltIndex): Unit = check("build") {
    val dir = idx.dir
    val docsRows = spark.read.parquet(s"$dir/${IndexLayout.DocsDir}").count()
    val st = idx.stats
    val sumDf = spark.read.parquet(s"$dir/${IndexLayout.TermStatsDir}").agg(sum($"df")).as[Long].head()
    val bad = Seq(
      ("docs rows", docsRows, docs.size.toLong), ("maxDoc", st.max_doc, brute.maxDoc),
      ("sum df", sumDf, brute.sumDf), ("sum dl", st.sum_total_term_freq, brute.sumDl))
      .filter { case (_, got, want) => got != want }
    if (bad.isEmpty) None
    else Some("build: " + bad.map { case (n, g, w) => s"$n $g != $w" }.mkString(", "))
  }

  // ---- workloads ------------------------------------------------------------------------
  private var setupS = 0.0
  private var indexBytes = 0L
  private var inputBytes = 0L
  private var index: BuiltIndex = _

  def run(): String = {
    val corpus = tracer.span("corpus.prepare")(table(docs))
    inputBytes = contentBytes(docs)
    a.workload match {
      case "adhoc" => adhocWorkload(corpus)
      case "trec_batch" => batchWorkload(corpus)
    }
    clockOff()
    checkBuild(index)
    if (a.trace) sweep()
    tracer.close()
    result()
  }

  private def startMeasuring(): Unit = {
    setupS = sinceJvmStart()
    curPhase = "measure"
    clockOn()
  }

  /** The fresh index both workloads search, built in set-up. */
  private def prebuilt(corpus: DataFrame): Searcher = {
    val dir = s"$work/idx"
    val t0 = System.nanoTime()
    val idx = tracer.span("client.build", tracer.request())(build(corpus, dir))
    sample("build_docs_per_s", docs.size / ((System.nanoTime() - t0) / 1e9))
    index = idx
    indexBytes = Disk.indexBytes(Paths.get(dir))
    new Searcher(idx)
  }

  private def warmup(s: Searcher): Unit = {
    // the second pass over the topics hits the term-stats memo
    val topics = Gen.warmupTopics(a.seed, Sizes.WarmupTopics)
    val modes = Iterator.continually(Seq(Gen.Wand, Gen.Or, Gen.Or, Gen.And)).flatten
    (topics ++ topics).zip(modes).foreach { case (t, m) =>
      tracer.span("client.warmup", tracer.request())(query(s, Seq(t), Sizes.AdhocK, m))
    }
  }

  private def adhocWorkload(corpus: DataFrame): Unit = {
    val s = prebuilt(corpus)
    warmup(s)
    val pool = Gen.topicPool(a.seed, Sizes.PoolTopics)
    val stream = Gen.adhocStream(a.seed, pool)
    val checked = mutable.LinkedHashSet.empty[String] // request kinds checked so far
    startMeasuring()
    var i = 0
    // whole blocks of five requests, so every run has the same operator mix
    while (measured < a.seconds || i % 5 != 0 || i < 5 * Sizes.MinBlocks) {
      val q = stream.next()
      val t = q.topic
      op("query")(query(s, Seq(t), Sizes.AdhocK, q.mode)).foreach { case (lines, sec) =>
        sample("query_s", sec)
        sample(s"query_${q.mode.name}_s", sec)
        // the first successful request of each kind is checked
        if (checked.add(q.kind)) paused {
          bruteCheck(s"adhoc ${q.kind}", t, lines, Sizes.AdhocK, q.mode)
          if (q.mode == Gen.Wand) check("wand") {
            val exhaustive = tracer.bare(s.search(Seq(t), Sizes.AdhocK).collect().toSeq)
            Brute.diff(s"WAND vs exhaustive '${t.text}'", Brute.key(lines), Brute.key(exhaustive))
          }
        }
      }
      i += 1
    }
    val unchecked = Seq("or", "wand", "and", "repeat").filterNot(checked)
    if (unchecked.nonEmpty) fail(s"adhoc: no checked ${unchecked.mkString(", ")} request")
  }

  private def batchWorkload(corpus: DataFrame): Unit = {
    val s = prebuilt(corpus)
    val warm = Gen.warmupTopics(a.seed, Sizes.WarmupBatchTopics)
    tracer.span("client.warmup", tracer.request())(query(s, warm, Sizes.BatchK, Gen.Or))
    val batches = Gen.batches(a.seed, Sizes.BatchTopics)
    startMeasuring()
    var b = 0
    while (measured < a.seconds || b < Sizes.MinBatches) {
      val topics = batches.next()
      op("batch")(query(s, topics, Sizes.BatchK, Gen.Or)).foreach { case (lines, sec) =>
        sample("batch_topics_per_s", topics.size / sec)
        paused {
          val got = byQid(lines)
          Gen.sample(a.seed, b, topics.size, Sizes.BatchBruteChecks).foreach { j =>
            val t = topics(j)
            bruteCheck("batch", t, got.getOrElse(t.qid, Nil), Sizes.BatchK, Gen.Or)
          }
          if (b == 0) Gen.sample(a.seed, -1, topics.size, Sizes.BatchSingleChecks).foreach { j =>
            val t = topics(j)
            check("batch vs single") {
              val single = tracer.bare(s.search(Seq(t), Sizes.BatchK).collect().toSeq)
              Brute.diff(s"batch vs single '${t.text}'", Brute.key(got.getOrElse(t.qid, Nil)), Brute.key(single))
            }
          }
        }
      }
      b += 1
    }
  }

  /** One `StreamingIngest.compact` of the delta set under `root`; the
    * union's answers before it and the compacted index's after it must
    * agree for a few seeded topics.
    */
  private def compactAndCheck(root: String, ingested: Seq[Gen.Doc]): Unit = {
    val topics = Gen.sample(a.seed, 5, ingested.size, Sizes.CompactChecks).zipWithIndex.map {
      case (d, i) => Topic(s"c$i", ingested(d).content.split(' ').slice(2, 4).mkString(" "))
    }
    def answers(): Map[String, Seq[RunLine]] = byQid(tracer.bare(
      new Searcher(StreamingIngest.openUnion(spark, root)).search(topics, Sizes.AdhocK).collect().toSeq))
    val before = paused(answers())
    op("compact") {
      tracer.span("streaming.compact")(StreamingIngest.compact(spark, root))
    }.foreach { _ =>
      check("compaction") {
        val after = answers()
        topics.iterator.flatMap { t =>
          Brute.diff(s"union vs compacted '${t.text}'", Brute.key(before.getOrElse(t.qid, Nil)),
            Brute.key(after.getOrElse(t.qid, Nil)))
        }.nextOption()
      }
    }
  }

  // ---- traced sweep: every layer reports on every workload ------------------------------
  private def sweep(): Unit = {
    curPhase = "sweep"
    op("analysis")(analysisProbe())
    op("codec")(codecProbe(index))
    if (a.workload == "trec_batch") {
      // per-query search spans; the ad hoc run has them already
      val s = new Searcher(index)
      Gen.warmupTopics(a.seed + 1, 6).zipWithIndex.foreach { case (t, i) =>
        op("query")(query(s, Seq(t), Sizes.AdhocK, Gen.Modes(i % 3)))
      }
    }
    // streaming: ingest cycles (ingest, reopen the union, first query), then a compaction
    val root = s"$work/sweep-stream"
    val deltas = Gen.deltas(a.seed, docs, Sizes.SweepDeltas, Sizes.SweepDocs)
    deltas.zipWithIndex.foreach { case (ds, i) =>
      val df = table(ds)
      op("cycle") {
        tracer.span("streaming.ingest")(StreamingIngest.ingestBatch(df, i.toLong, root, cfg))
        val s = tracer.span("streaming.open_union") {
          val u = StreamingIngest.openUnion(spark, root)
          tracer.note("streaming.union_dirs", u.dirs.size.toDouble)
          new Searcher(u)
        }
        tracer.span("streaming.first_query")(
          query(s, Gen.warmupTopics(a.seed + 2, 1), Sizes.AdhocK, Gen.Or))
      }
    }
    compactAndCheck(root, deltas.flatten)
  }

  /** `Analyzer.termFreqs` on this thread over a seeded sample of contents. */
  private def analysisProbe(): Unit = {
    val analyzer = new graft.analysis.Analyzer(cfg.analyzer)
    val sample = Gen.sample(a.seed, 7, docs.size, 2000).map(i => docs(i).content)
    tracer.span("analysis.termfreqs") {
      var n = 0L
      var tokens = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 300000000L) {
        sample.foreach { c => tokens += analyzer.termFreqs(c)._2; n += 1 }
      }
      tracer.note("analysis.docs", n.toDouble)
      tracer.note("analysis.tokens", tokens.toDouble)
    }
  }

  /** `PostingCodec` decode and encode on this thread over seeded runs of
    * the built postings table.
    */
  private def codecProbe(idx: BuiltIndex): Unit = {
    val runs = tracer.span("codec.sample") {
      idx.postings.select($"ndocs", $"doc_blob", $"tf_blob", $"dl_blob")
        .orderBy(xxhash64($"term", $"grp", lit(a.seed)))
        .limit(2000)
        .as[(Int, Array[Byte], Array[Byte], Array[Byte])].collect().toVector
    }
    val postings = runs.iterator.map(_._1.toLong).sum
    val bytes = runs.iterator.map(r => (r._2.length + r._3.length + r._4.length).toLong).sum
    val decoded: Vector[Vector[DecodedPosting]] = runs.map { case (n, d, t, l) =>
      PostingCodec.decodeBlobs(n, d, t, l).toVector
    }
    def timed(name: String, counter: String)(pass: => Long): Unit = tracer.span(name) {
      var n = 0L
      var sink = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 300000000L) { sink += pass; n += postings }
      tracer.note(counter, n.toDouble)
      if (sink == 42L) System.err.print("")
    }
    timed("codec.decode", "codec.decoded") {
      var s = 0L
      runs.foreach { case (n, d, t, l) => PostingCodec.decodeBlobs(n, d, t, l).foreach(p => s += p.docid) }
      s
    }
    timed("codec.encode", "codec.encoded") {
      var s = 0L
      decoded.foreach(ps => s += PostingCodec.encode(ps).docBlob.length)
      s
    }
    tracer.note("codec.postings", postings.toDouble)
    tracer.note("codec.bytes", bytes.toDouble)
  }

  // ---- result -------------------------------------------------------------------------------
  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def result(): String = {
    val lat = ops.toSeq
    val e2e: Seq[(String, Double, String)] =
      if (lat.isEmpty) Nil
      else Seq(
        ("setup_s", setupS, "s"),
        ("request_p50_s", Stat.median(lat), "s"),
        ("index_bytes_per_input_byte", indexBytes.toDouble / inputBytes, "B/B"),
        ("peak_rss_mb", peakRssMb, "MB"))
    val layers: Seq[(String, Double, String)] =
      if (a.trace) Layers.metrics(tracer.spans, phase.toMap, cpus,
        if (a.workload == "trec_batch") Sizes.BatchTopics else 1)
      else Nil
    val report = mutable.ArrayBuffer.empty[String]
    report += f"workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${a.trace} cpus=$cpus docs=${docs.size} input_bytes=$inputBytes"
    e2e.foreach { case (n, v, u) => report += f"  $n%-28s ${Json.num(v)}%s $u" }
    named.foreach { case (n, xs) =>
      val base = n.stripSuffix("_s")
      if (n.endsWith("_per_s")) report += f"  ${n}%-28s ${Json.num(Stat.median(xs.toSeq))} 1/s (median of ${xs.size})"
      else {
        report += f"  ${base + "_p50_s"}%-28s ${Json.num(Stat.median(xs.toSeq))} s (n=${xs.size})"
        if (xs.size >= 10) report += f"  ${base + "_p90_s"}%-28s ${Json.num(Stat.quantile(xs.toSeq, 0.9))} s (n=${xs.size})"
      }
    }
    report += f"  error_rate                   ${Json.num(if (attempted == 0) 0.0 else failed.toDouble / attempted)} ($failed of $attempted)"
    problems.foreach(p => report += s"  problem: $p")
    if (a.trace) {
      layers.foreach { case (n, v, u) => report += f"  $n%-36s ${Json.num(v)} $u" }
      val out = Paths.get(s"$work/trace.jsonl")
      Files.write(out, Tracer.toJson(tracer.spans).toSeq.asJava)
    }
    val metrics = (if (a.trace) layers else e2e).map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    Json.obj(Seq(
      "correct" -> (failed == 0 && lat.nonEmpty).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics),
      "e2e" -> Json.obj(e2e.map { case (n, v, _) => n -> Json.num(v) }),
      "report" -> Json.arr(report.toSeq.map(Json.str)),
      "context" -> Json.obj(Seq(
        "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
        "cpus" -> cpus.toString, "docs" -> docs.size.toString,
        "input_bytes" -> inputBytes.toString, "ops" -> lat.size.toString,
        "measured_s" -> Json.num(measured)))))
  }

}

/** Bytes on disk. */
object Disk {
  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
    }
  def bytes(p: Path): Long = files(p).iterator.map(Files.size).sum
  /** The published index: everything but the `stage_*` checkpoint dirs. */
  def indexFiles(dir: Path): Seq[Path] =
    files(dir).filterNot(f => dir.relativize(f).getName(0).toString.startsWith("stage_"))
  def indexBytes(dir: Path): Long = indexFiles(dir).iterator.map(Files.size).sum
}
