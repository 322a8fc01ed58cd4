package graftbench

/** Per-layer metrics of a traced run, computed from its spans.
  *
  * A layer's metrics come from the requests of the run that call into it,
  * preferring the measured phase, then set-up, then the traced sweep (which
  * exists so that every layer reports on every workload). Per-call values
  * are medians over those requests; search values are per topic.
  */
object Layers {
  val Stages: Seq[String] = Seq("tokenized", "docs", "stats", "postings", "term_stats", "vocab")

  /** Every per-layer metric with its unit, in report order. */
  val all: Seq[(String, String)] =
    Seq("corpus.prepare_s" -> "s", "corpus.self_s" -> "s",
      "analysis.docs_per_s" -> "1/s", "analysis.tokens_per_s" -> "1/s", "analysis.self_s" -> "s",
      "index.build_s" -> "s", "index.jobs" -> "count", "index.task_cpu_s" -> "s", "index.gc_s" -> "s",
      "index.shuffle_write_bytes" -> "B", "index.spill_bytes" -> "B", "index.slot_idle_frac" -> "frac",
      "index.files" -> "count", "index.bytes" -> "B", "index.self_s" -> "s") ++
      Stages.flatMap(s => Seq(s"index.$s.wall_s" -> "s", s"index.$s.rows" -> "count", s"index.$s.bytes" -> "B")) ++
      Seq("codec.decode_postings_per_s" -> "1/s", "codec.encode_postings_per_s" -> "1/s",
        "codec.bytes_per_posting" -> "B", "codec.self_s" -> "s",
        "search.plan_s" -> "s", "search.exec_s" -> "s", "search.driver_s" -> "s",
        "search.jobs" -> "count", "search.stages" -> "count", "search.tasks" -> "count",
        "search.task_cpu_s" -> "s", "search.gc_s" -> "s", "search.input_bytes" -> "B",
        "search.shuffle_bytes" -> "B", "search.result_bytes" -> "B", "search.slot_idle_frac" -> "frac",
        "search.rows_returned" -> "count", "search.wand_blocks_decoded" -> "count",
        "search.wand_blocks_skipped" -> "count", "search.self_s" -> "s",
        "streaming.ingest_s" -> "s", "streaming.ingest_task_cpu_s" -> "s", "streaming.open_union_s" -> "s",
        "streaming.union_dirs" -> "count", "streaming.first_query_s" -> "s", "streaming.compact_s" -> "s",
        "streaming.compact_task_cpu_s" -> "s", "streaming.self_s" -> "s")

  private final case class Req(id: Long, spans: Seq[Span]) {
    def root: Option[Span] = spans.find(_.parent == 0L)
    def of(name: String): Seq[Span] = spans.filter(_.name == name)
    def layer(l: String): Seq[Span] = spans.filter(_.layer == l)
    def note(key: String): Option[Double] = {
      val vs = spans.flatMap(_.counts.get(key))
      if (vs.isEmpty) None else Some(vs.sum)
    }
  }

  /** Every metric of [[all]]; `topicsPerBatch` divides the search values
    * of batch requests.
    */
  def metrics(spans: Seq[Span], phase: Map[Long, String], cpus: Int,
              topicsPerBatch: Int): Seq[(String, Double, String)] = {
    val self = Tracer.selfSeconds(spans)
    val reqs = spans.groupBy(_.req).map { case (r, ss) => Req(r, ss) }.toSeq
    def phaseOf(r: Req): String = phase.getOrElse(r.id, "setup")
    /** requests with a span matching `p`, from the most preferred phase */
    def pick(p: Span => Boolean): Seq[Req] = {
      val hit = reqs.filter(_.spans.exists(p))
      Seq("measure", "setup", "sweep").iterator.map(ph => hit.filter(phaseOf(_) == ph))
        .find(_.nonEmpty).getOrElse(Nil)
    }
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stat.median(xs)
    def secs(ss: Seq[Span]): Double = ss.iterator.map(_.seconds).sum
    def selfOf(ss: Seq[Span]): Double = ss.iterator.map(s => self(s.id)).sum
    def idle(ss: Seq[Span]): Double = {
      val wall = secs(ss)
      if (wall <= 0) 0.0 else 1.0 - ss.iterator.map(_.work.taskRunMs).sum / 1e3 / (wall * cpus)
    }
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // corpus: the whole run's preparation
    val corpus = spans.filter(_.layer == "corpus")
    out("corpus.prepare_s") = secs(corpus.filter(_.name == "corpus.prepare"))
    out("corpus.self_s") = selfOf(corpus)

    // analysis: the single-thread probe
    val an = spans.filter(_.name == "analysis.termfreqs")
    out("analysis.docs_per_s") = an.flatMap(_.counts.get("analysis.docs")).sum / math.max(secs(an), 1e-9)
    out("analysis.tokens_per_s") = an.flatMap(_.counts.get("analysis.tokens")).sum / math.max(secs(an), 1e-9)
    out("analysis.self_s") = selfOf(spans.filter(_.layer == "analysis"))

    // index: per IndexBuilder.build call
    val builds = pick(_.name == "index.build")
    def perBuild(f: (Req, Seq[Span]) => Double): Double = med(builds.map(r => f(r, r.of("index.build"))))
    out("index.build_s") = perBuild((_, b) => secs(b))
    out("index.jobs") = perBuild((_, b) => b.map(_.work.jobs).sum.toDouble)
    out("index.task_cpu_s") = perBuild((_, b) => b.map(_.work.taskCpuNs).sum / 1e9)
    out("index.gc_s") = perBuild((_, b) => b.map(_.work.gcMs).sum / 1e3)
    out("index.shuffle_write_bytes") = perBuild((_, b) => b.map(_.work.shuffleWriteBytes).sum.toDouble)
    out("index.spill_bytes") = perBuild((_, b) => b.map(_.work.spillBytes).sum.toDouble)
    out("index.slot_idle_frac") = perBuild((_, b) => idle(b))
    out("index.files") = perBuild((r, _) => r.note("index.files").getOrElse(0.0))
    out("index.bytes") = perBuild((r, _) => r.note("index.bytes").getOrElse(0.0))
    out("index.self_s") = perBuild((r, _) => selfOf(r.layer("index")))
    for (st <- Stages; m <- Seq("wall_s", "rows", "bytes"))
      out(s"index.$st.$m") = perBuild((r, _) => r.note(s"index.$st.$m").getOrElse(0.0))

    // codec: the single-thread probe
    val codec = pick(_.name == "codec.decode")
    def rate(r: Req, span: String, key: String): Double =
      r.note(key).getOrElse(0.0) / math.max(secs(r.of(span)), 1e-9)
    out("codec.decode_postings_per_s") = med(codec.map(rate(_, "codec.decode", "codec.decoded")))
    out("codec.encode_postings_per_s") = med(codec.map(rate(_, "codec.encode", "codec.encoded")))
    out("codec.bytes_per_posting") = med(codec.map(r =>
      r.note("codec.bytes").getOrElse(0.0) / math.max(r.note("codec.postings").getOrElse(1.0), 1.0)))
    out("codec.self_s") = med(codec.map(r => selfOf(r.layer("codec"))))

    // search: per query, or per topic of a batch
    val searches = pick(_.name == "search.plan")
    def topics(r: Req): Int = if (r.root.exists(_.name == "client.batch")) topicsPerBatch else 1
    def perTopic(f: Seq[Span] => Double): Double = med(searches.map(r => f(r.layer("search")) / topics(r)))
    def plan(ss: Seq[Span]) = ss.filter(_.name == "search.plan")
    out("search.plan_s") = perTopic(ss => secs(plan(ss)))
    out("search.exec_s") = perTopic(ss => secs(ss.filter(_.name == "search.exec")))
    out("search.driver_s") = perTopic(_.map(_.uncoveredSeconds).sum)
    out("search.jobs") = perTopic(_.map(_.work.jobs).sum.toDouble)
    out("search.stages") = perTopic(_.map(_.work.stages).sum.toDouble)
    out("search.tasks") = perTopic(_.map(_.work.tasks).sum.toDouble)
    out("search.task_cpu_s") = perTopic(_.map(_.work.taskCpuNs).sum / 1e9)
    // a mean, not a median: GC pauses hit few requests, so most read 0
    out("search.gc_s") = searches.map(_.layer("search").map(_.work.gcMs).sum / 1e3).sum /
      math.max(1, searches.map(topics).sum)
    out("search.input_bytes") = perTopic(_.map(_.work.inputBytes).sum.toDouble)
    out("search.shuffle_bytes") = perTopic(_.map(w => w.work.shuffleReadBytes + w.work.shuffleWriteBytes).sum.toDouble)
    out("search.result_bytes") = perTopic(_.map(_.work.resultBytes).sum.toDouble)
    out("search.slot_idle_frac") = med(searches.map(r => idle(r.layer("search"))))
    out("search.rows_returned") = med(searches.map(r => r.note("search.rows_returned").getOrElse(0.0) / topics(r)))
    val wand = pick(_.counts.contains("search.wand_blocks_decoded"))
    out("search.wand_blocks_decoded") = med(wand.map(_.note("search.wand_blocks_decoded").getOrElse(0.0)))
    out("search.wand_blocks_skipped") = med(wand.map(_.note("search.wand_blocks_skipped").getOrElse(0.0)))
    out("search.self_s") = perTopic(selfOf)

    // streaming: per call
    def perCall(name: String)(f: Span => Double): Double =
      med(pick(_.name == name).flatMap(_.of(name)).map(f))
    out("streaming.ingest_s") = perCall("streaming.ingest")(_.seconds)
    out("streaming.ingest_task_cpu_s") = perCall("streaming.ingest")(_.work.taskCpuNs / 1e9)
    out("streaming.open_union_s") = perCall("streaming.open_union")(_.seconds)
    out("streaming.union_dirs") = perCall("streaming.open_union")(_.counts.getOrElse("streaming.union_dirs", 0.0))
    out("streaming.first_query_s") = perCall("streaming.first_query")(_.seconds)
    out("streaming.compact_s") = perCall("streaming.compact")(_.seconds)
    out("streaming.compact_task_cpu_s") = perCall("streaming.compact")(_.work.taskCpuNs / 1e9)
    out("streaming.self_s") = med(pick(_.layer == "streaming").map(r => selfOf(r.layer("streaming"))))

    val unit = all.toMap
    out.toSeq.map { case (k, v) => (k, v, unit(k)) }
  }
}
