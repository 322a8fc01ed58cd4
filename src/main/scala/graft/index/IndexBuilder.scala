package graft.index

import graft.analysis.Analyzer
import graft.codec.{DecodedPosting, PostingCodec}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

import java.security.MessageDigest

/** Corpus → inverted index: the Spark-native reimplementation of the
  * reference's `IndexTREC` lifecycle (`IndexTREC.java:94-141` +
  * `TrecAnalyzer` + Lucene's opaque segment write; SURVEY.md §3.1):
  *
  *   scan corpus table
  *     → deterministic docid assignment (exact-ntile group of the docno's
  *       global rank, found via a narrow docno-only boundary pass; ids
  *       packed (group << 40 | rankWithinGroup) so no global count barrier
  *       is needed, docid order ≡ docno order, and the packing is a pure
  *       function of (docno order, rangePartitions) — reproducible across
  *       rebuilds and replayable by a SQL oracle)
  *     → tokenize/tf/dl in one narrow pass (analyzer chain ≙ TrecAnalyzer)
  *     → checkpointed `stage_tokenized` (content dropped)
  *     → docs + stats tables
  *     → explode → one shuffle on (term bucket, merged docid-range group)
  *       — the per-group docid bound keeps hot stop-like terms from skewing
  *       any reducer — → sorted, delta+varbyte-encoded posting runs
  *       ("segments"), merged to their final granularity inside the shuffle
  *       sort (≙ Lucene's flush + background segment merges)
  *     → per-term global stats and the vocabulary projection.
  *
  * Every table is written through [[IndexWriter]], which [[SegmentMerger]]
  * compaction and [[Deletes.purge]] share.
  *
  * Every stage is atomic-published with a manifest ([[Checkpoint]]), so an
  * interrupted build resumes at the first incomplete stage instead of
  * recomputing (north rule).
  */
object IndexBuilder {
  import IndexLayout._

  /** Build (or resume building) an index at `dir` from `corpus`, which must
    * expose `docno` (unique string key) and `content` columns — north-rule
    * corpus rows map 1:1 to reference documents (`FileParser.java:157-164`).
    */
  def build(corpus: DataFrame, dir: String, cfg0: IndexConfig,
            verifySha: Boolean = false): BuiltIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // Resolve the docid fan-out BEFORE anything records cfg.id: with
    // rangePartitions = 0 the ntile packing depends on the session's
    // shuffle-partition conf, so the id must carry the RESOLVED value —
    // a stage built under a different session conf then never passes for
    // complete, and the "rebuilds mint byte-identical docids" contract
    // holds per resolved fan-out (pin rangePartitions to make it hold
    // across arbitrary sessions, as Engine.oracleIndex does).
    val cfg =
      if (cfg0.rangePartitions > 0) cfg0
      else cfg0.copy(
        rangePartitions = spark.sessionState.conf.numShufflePartitions)
    val conf = spark.sparkContext.hadoopConfiguration
    val fp = fingerprint(corpus, cfg)
    val analyzer = new Analyzer(cfg.analyzer)
    var force = false

    // ---- stage: tokenized ------------------------------------------------
    val tokDir = s"$dir/$TokenizedDir"
    // Σdl per physical partition, accumulated alongside the row metrics so
    // the stats stage needs no table re-read (deduped by pid like the
    // manifest — task retries re-add and the last report wins).
    var freshDl: Option[Long] = None
    if (!Checkpoint.isComplete(tokDir, fp, cfg.id, conf)) {
      force = true
      val t0 = System.nanoTime()
      val acc = spark.sparkContext.collectionAccumulator[(Int, Long, Long)]("tokenized_parts")
      val dlAcc = spark.sparkContext.collectionAccumulator[(Int, Long)]("tokenized_dl")
      val parts = cfg.rangePartitions // resolved at build entry
      // epoch-namespaced docids (streaming deltas) reserve bits 52+ for the
      // epoch, leaving 12 bits for the docno-range group id — a larger build
      // must fail loudly, never silently collide docids across batches
      require(cfg.docidEpoch == 0 || parts <= (1 << 12),
        s"docidEpoch > 0 limits range partitions to 4096 (got $parts)")
      // Deterministic docid assignment: group g of a doc = exact ntile of
      // its docno's global sorted rank (floor(rank*parts/N)) computed from
      // boundary docnos found by one narrow docno-only pass — NOT Spark's
      // sampled range boundaries. docid = (g << 40 | rank-within-g), a pure
      // function of (docno order, parts): rebuilt, resumed, or re-planned
      // builds always mint byte-identical docids, and a SQL oracle can
      // replay the packing with a row_number() window (q_postings_meta).
      val bounds = ntileBoundaries(
        corpus.select($"docno".cast("string")).as[String], parts)
      // boundary strings pre-encoded to UTF-8 once — grpOf probes them
      // O(log parts) times per corpus row in the hottest build stage
      val bBounds = spark.sparkContext.broadcast(
        bounds.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      val grpU = udf((d: String) => grpOfBytes(bBounds.value, d))
      // one exchange, one group per task: equal g must land in one task
      // (idx needs no cross-task offset), and the groups should spread one
      // per partition. r6: the range partitioner that used to do this ran
      // an EXTRA full pass over the corpus projection just to sample the
      // already-uniform g — instead map g through a driver-computed salt
      // whose murmur3 partition id is exactly g and hash-repartition:
      // same balance (group g alone on partition g), same atomicity
      // (equal keys hash together), one corpus scan less per build.
      // Docids depend only on (docno order, parts), never on the physical
      // partitioning, so the packing contract is untouched.
      val salts: Array[Int] = saltsFor(parts)
      val sorted = corpus.select($"docno".cast("string"), $"content".cast("string"))
        .withColumn("g", grpU($"docno"))
        .repartition(parts, element_at(typedLit(salts.toSeq), $"g" + 1))
        .sortWithinPartitions($"g", $"docno")
        .as[(String, String, Int)]
      val tokenized = sorted.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val md = MessageDigest.getInstance("SHA-256")
        val epochBase = cfg.docidEpoch.toLong << 52
        // row metrics keyed by GROUP id (not task id): the manifest's
        // (pid, rows) lineage is what derives the grp universe downstream,
        // and groups are task-atomic so groupBy(pid).last still dedupes
        // task retries
        var curGrp = -1
        var idx = 0L
        var gRows = 0L
        var gBytes = 0L
        var dlLocal = 0L
        var reported = false
        def closeGrp(): Unit = if (curGrp >= 0) acc.add((curGrp, gRows, gBytes))
        new Iterator[TokenizedDoc] {
          def hasNext: Boolean = {
            val h = it.hasNext
            if (!h && !reported) {
              closeGrp(); dlAcc.add((pid, dlLocal)); reported = true
            }
            h
          }
          private var prevDocno: String = null
          def next(): TokenizedDoc = {
            val (docno, content, g) = it.next()
            // docno is the unique corpus key (class scaladoc): duplicates
            // would make the rank-based docid packing oracle-ambiguous.
            // The deterministic grouping puts equal docnos in ONE group
            // (grp is a pure function of docno) and the sort makes them
            // adjacent — this O(1) check is therefore complete.
            require(docno != prevDocno,
              s"duplicate docno in corpus: $docno")
            prevDocno = docno
            if (g != curGrp) {
              closeGrp(); curGrp = g; idx = 0L; gRows = 0L; gBytes = 0L
            }
            val text = if (content == null) "" else content
            val docid = epochBase | (g.toLong << 40) | idx
            idx += 1
            val terms =
              if (cfg.indexPositions) {
                val (tfs, d) = analyzer.termFreqsWithPositions(text)
                (tfs.map { case (t, f, ps) => TermTF(t, f, ps) }, d)
              } else {
                val (tfs, d) = analyzer.termFreqs(text)
                (tfs.map { case (t, f) => TermTF(t, f) }, d)
              }
            dlLocal += terms._2
            gRows += 1
            gBytes += text.length.toLong
            md.reset()
            val sha = hex(md.digest(text.getBytes("UTF-8")))
            TokenizedDoc(docid, docno, sha, terms._2, terms._1)
          }
        }
      }
      Checkpoint.atomically(tokDir, conf) { tmp =>
        tokenized.write.mode("overwrite").parquet(tmp)
      }
      publishManifest(tokDir, "tokenized", fp, cfg.id, acc, t0, conf)
      import scala.jdk.CollectionConverters._
      freshDl = Some(dlAcc.value.asScala.groupBy(_._1)
        .map { case (_, xs) => xs.last._2 }.sum)
      bBounds.destroy()
    }
    val tokenized = spark.read.parquet(tokDir)
    // (grp, rows) lineage of the tokenize stage — docids are (grp<<40 | idx),
    // so downstream counts and the grp universe derive from it with no jobs
    val tokManifest = Checkpoint.readManifest(tokDir, conf)

    // ---- stage: docs -----------------------------------------------------
    val docsDir = s"$dir/$DocsDir"
    if (force || !Checkpoint.isComplete(docsDir, fp, cfg.id, conf)) {
      force = true
      val t0 = System.nanoTime()
      Checkpoint.atomically(docsDir, conf) { tmp =>
        IndexWriter.writeDocs(tokenized.select($"docid", $"docno", $"sha", $"dl"), tmp, cfg)
      }
      // row count = tokenize manifest rowsOut (1 row in = 1 row out): no
      // count() job over the just-written table
      val n = tokManifest.map(_.rowsOut)
        .getOrElse(spark.read.parquet(docsDir).count())
      Checkpoint.writeManifest(docsDir,
        Checkpoint.Manifest("docs", fp, cfg.id, n, msSince(t0), Nil), conf)
    }

    // ---- stage: stats ----------------------------------------------------
    val statsDir = s"$dir/$StatsDir"
    if (force || !Checkpoint.isComplete(statsDir, fp, cfg.id, conf)) {
      force = true
      val t0 = System.nanoTime()
      // N and Σdl accumulated during tokenize — no scan; the resume path
      // (tokenize skipped) derives them from docs
      val st = (freshDl, tokManifest) match {
        case (Some(sumDl), Some(m)) => StatsRow(m.rowsOut, sumDl)
        case _ => IndexWriter.statsOf(spark.read.parquet(docsDir))
      }
      Checkpoint.atomically(statsDir, conf)(IndexWriter.writeStats(spark, _, st))
      Checkpoint.writeManifest(statsDir,
        Checkpoint.Manifest("stats", fp, cfg.id, 1L, msSince(t0), Nil), conf)
    }

    // ---- docid-range group → merged-group rank map -------------------------
    // grp values embed the ntile group id in their high bits (docid
    // packing), so merged groups come from the global SORTED grp rank —
    // bit-shifting grp could never merge across ntile groups. The map
    // is tiny (one entry per 2^groupShift docids) and broadcast. Docids are
    // (g << 40 | idx), so each group's grp set is the contiguous
    // range [(g<<40)>>shift, ((g<<40)|(rows-1))>>shift] — the whole
    // universe derives from the tokenize manifest's (grp, rows) lineage
    // with NO Spark job (fallback: distinct scan when lineage is absent).
    val postDir = s"$dir/$PostingsDir"
    lazy val mgrpMapDF = {
      val fromLineage: Option[Seq[Long]] = tokManifest
        .filter(_.partitions.nonEmpty)
        .map(_.partitions.flatMap { pm =>
          if (pm.rows <= 0) Nil
          else {
            val base = (cfg.docidEpoch.toLong << 52) | (pm.pid.toLong << 40)
            (base >> cfg.groupShift) to ((base | (pm.rows - 1)) >> cfg.groupShift)
          }
        }.distinct.sorted)
      val grps: Seq[Long] = fromLineage.getOrElse {
        tokenized
          .select(shiftright($"docid", cfg.groupShift).as("grp"))
          .distinct().orderBy("grp").as[Long].collect().toSeq
      }
      val mShift = cfg.mergeShift
      grps.zipWithIndex
        .map { case (g, i) => (g, (i >> mShift).toLong) }
        .toDF("grp", "mgrp")
    }
    val buckets = cfg.buckets

    // ---- stage: postings (single shuffle, final merged granularity) ------
    if (force || !Checkpoint.isComplete(postDir, fp, cfg.id, conf)) {
      force = true
      val t0 = System.nanoTime()
      val acc = spark.sparkContext.collectionAccumulator[(Int, Long, Long)]("postings_parts")
      // r6: shuffle on (bucket, mgrp) instead of (term, mgrp). Equal
      // terms still land together (bucket is a function of term) and the
      // in-task sort below gives each (term, mgrp) chunk its docid
      // contiguity, so the emitted runs are identical — but the
      // partitionBy("bucket") writer now sees each task hold a FEW
      // buckets instead of a random slice of all 64, collapsing the
      // (writer task × bucket dir) small-file product (2,432 → ~250
      // files on the bench build; every later postings read pays
      // listing + footer + open-cost per file). Scale: keys = buckets ×
      // mgrps, and mgrp count grows with the corpus (one per 2^22
      // docids), so reducer parallelism keeps scaling and a hot term
      // still splits across its mgrps; per-key load coarsens only by
      // the bucket's term mix, which the 64-way term hash keeps uniform.
      val bucketU = udf((t: String) => bucketOf(t, buckets))
      val sorted = tokenized
        .select($"docid", $"dl", explode($"terms").as("t"))
        .select($"t.term".as("term"), $"docid", $"t.tf".as("tf"), $"dl",
          $"t.pos".as("pos"))
        .withColumn("grp", shiftright($"docid", cfg.groupShift))
        .join(broadcast(mgrpMapDF), Seq("grp"))
        .repartition(bucketU($"term"), $"mgrp")
        .sortWithinPartitions($"term", $"mgrp", $"docid")
        .select($"term", $"docid", $"tf", $"dl", $"mgrp", $"pos")
        .as[(String, Long, Int, Int, Long, Array[Int])]
      val runs = sorted.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val rows = it.buffered
        val rawRuns = new Iterator[PostingRun] {
          def hasNext: Boolean = rows.hasNext
          def next(): PostingRun = {
            val head = rows.head
            val term = head._1
            val grp = head._5
            val chunk = new Iterator[DecodedPosting] {
              def hasNext: Boolean =
                rows.hasNext && rows.head._1 == term && rows.head._5 == grp
              def next(): DecodedPosting = {
                val r = rows.next()
                DecodedPosting(r._2, r._3, r._4,
                  if (r._6 == null || r._6.isEmpty) PostingCodec.NoPositions else r._6)
              }
            }
            IndexWriter.postingRun(term, bucketOf(term, buckets), grp, PostingCodec.encode(chunk))
          }
        }
        metered(rawRuns, acc, pid)(r =>
          (r, r.doc_blob.length.toLong + r.tf_blob.length + r.dl_blob.length
            + r.pos_blob.length))
      }
      Checkpoint.atomically(postDir, conf)(IndexWriter.writePostings(runs, _))
      publishManifest(postDir, "postings", fp, cfg.id, acc, t0, conf)
    }

    // ---- stage: term stats -------------------------------------------------
    val tsDir = s"$dir/$TermStatsDir"
    if (force || !Checkpoint.isComplete(tsDir, fp, cfg.id, conf)) {
      val t0 = System.nanoTime()
      // rowsOut (= |vocabulary|) rides the write as an observed metric —
      // lineage stays complete with NO count job over the published table
      var tsRows = 0L
      Checkpoint.atomically(tsDir, conf) { tmp =>
        tsRows = IndexWriter.writeTermStats(spark, postDir, tmp)
      }
      Checkpoint.writeManifest(tsDir,
        Checkpoint.Manifest("term_stats", fp, cfg.id, tsRows, msSince(t0), Nil), conf)
    }

    // ---- stage: vocabulary projection (prefix/fuzzy expansion pruning) -----
    val vocabDir = s"$dir/$VocabDir"
    if (force || !Checkpoint.isComplete(vocabDir, fp, cfg.id, conf)) {
      val t0 = System.nanoTime()
      Checkpoint.atomically(vocabDir, conf)(IndexWriter.writeVocab(spark, tsDir, _))
      // 1 term_stats row in = 1 vocab row out: rowsOut from upstream lineage
      val vRows = Checkpoint.readManifest(tsDir, conf).map(_.rowsOut)
        .filter(_ >= 0).getOrElse(spark.read.parquet(vocabDir).count())
      Checkpoint.writeManifest(vocabDir,
        Checkpoint.Manifest("vocab", fp, cfg.id, vRows, msSince(t0), Nil), conf)
    }

    BuiltIndex.writeProps(spark, dir, cfg)
    val idx = new BuiltIndex(spark, dir, cfg)
    if (verifySha && !shaDigestsMatch(corpus, idx)) {
      // digests disagree: fall back to the exact row-level diff so the
      // failure names a count, exactly as before
      val bad = shaMismatches(corpus, idx)
      require(bad == 0L, s"sha256 invariant violated for $bad rows (source vs indexed)")
    }
    idx
  }

  /** Fast whole-table equality probe for the sha256 invariant (r6): both
    * sides reduce to (row count, XOR of xxhash64(docno, sha)) — two narrow
    * single-row aggregation jobs instead of the full-outer join + count
    * the exact [[shaMismatches]] diff pays. XOR is order-independent and a
    * mismatch in any row flips the digest unless a 64-bit collision hides
    * it — vanishing for an internal invariant probe, and the exact join
    * still runs (and still fails loudly with a count) whenever the digests
    * disagree, so the pass/fail contract is unchanged.
    */
  private[index] def shaDigestsMatch(corpus: DataFrame, idx: BuiltIndex): Boolean = {
    def digest(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("docno"), col("sha"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val src = digest(corpus.select(col("docno"),
      sha2(coalesce(col("content").cast("string"), lit("")), 256).as("sha")))
    val dst = digest(idx.docs.select(col("docno"), col("sha")))
    src == dst
  }

  /** Per-row content sha256 equality, source vs indexed (input_hint
    * invariant). Returns the number of mismatching/missing rows.
    */
  def shaMismatches(corpus: DataFrame, idx: BuiltIndex): Long = {
    val src = corpus.select(col("docno"),
      sha2(coalesce(col("content").cast("string"), lit("")), 256).as("src_sha"))
    src.join(idx.docs, Seq("docno"), "full_outer")
      .where(col("src_sha").isNull || col("sha").isNull || col("src_sha") =!= col("sha"))
      .count()
  }

  // -- helpers ---------------------------------------------------------------

  private[index] def hex(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(bytes.length * 2)
    bytes.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  private def msSince(t0: Long): Long = (System.nanoTime() - t0) / 1000000L

  private def fingerprint(corpus: DataFrame, cfg: IndexConfig): String =
    cfg.fingerprint match {
      case "none" => "static"
      case _ =>
        // order-independent XOR of 64-bit hashes: unlike a summed crc32 it
        // cannot overflow ANSI arithmetic at 10^12 rows and row-swap
        // collisions need a full 64-bit collision
        val row = corpus
          .agg(count(lit(1)),
            coalesce(bit_xor(xxhash64(col("docno"))), lit(0L))).head()
        s"n=${row.getLong(0)};h=${java.lang.Long.toHexString(row.getLong(1))}"
    }

  /** Exact ntile boundary keys over `keys`' global ascending order:
    * result(g-1) = the key at 0-based rank ceil(g*N/parts), g ∈
    * [1, parts-1], so that `grpOf(result, k)` = floor(rank(k)*parts/N) —
    * the deterministic group of every key, balanced to ±1 row with no
    * dependence on Spark's boundary sampling. Cost: one narrow key-only
    * shuffle and two jobs over it (the second job's shuffle map stages are
    * skipped — same RDD lineage), comparable to the fingerprint() pass the
    * build already pays; the wide corpus is never read here. Keys are
    * ranked in UTF-8 byte order (Spark's UTF8String sort order, and
    * DuckDB's binary collation — the oracle replays ranks with a
    * row_number() window).
    */
  private[index] def ntileBoundaries(keys: Dataset[String],
                                     parts: Int): Array[String] = {
    if (parts <= 1) return Array.empty
    val spark = keys.sparkSession
    val sorted = keys.toDF("k")
      .repartitionByRange(parts, col("k"))
      .sortWithinPartitions("k")
      .as[String](keys.encoder)
      .rdd
    val cm = sorted
      .mapPartitionsWithIndex((p, it) => Iterator((p, it.size.toLong)))
      .collect().toMap
    val nPhys = sorted.getNumPartitions
    val offsets = (0 until nPhys).map(p => cm.getOrElse(p, 0L))
      .scanLeft(0L)(_ + _).toArray
    val n = offsets.last
    if (n == 0) return Array.empty
    // global ranks wanted (with multiplicity when N < parts — trailing
    // groups whose start rank would be >= N stay empty and mint no bound),
    // bucketed by the physical partition that owns each rank
    val targets: Seq[Long] = (1 until parts)
      .map(g => (g * n + parts - 1) / parts)
      .filter(_ < n)
    // owner(r) = last p with offsets(p) <= r (upper-bound search; empty
    // partitions share an offset with their successor and are skipped)
    def owner(r: Long): Int = {
      var lo = 0
      var hi = offsets.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (offsets(mid) <= r) lo = mid + 1 else hi = mid
      }
      lo - 1
    }
    val wantByPart: Map[Int, Seq[Long]] = targets.distinct
      .groupBy(owner)
      .map { case (p, rs) => p -> rs.map(_ - offsets(p)).sorted }
    val bWant = spark.sparkContext.broadcast(wantByPart)
    val offs = offsets
    val picked: Map[Long, String] = sorted.mapPartitionsWithIndex { (p, it) =>
      val want = bWant.value.getOrElse(p, Nil)
      if (want.isEmpty) Iterator.empty
      else {
        val out = Seq.newBuilder[(Long, String)]
        var i = 0L
        val wi = want.iterator
        var nextWant = wi.next()
        var more = true
        while (more && it.hasNext) {
          val k = it.next()
          if (i == nextWant) {
            out += ((offs(p) + i, k))
            if (wi.hasNext) nextWant = wi.next() else more = false
          }
          i += 1
        }
        out.result().iterator
      }
    }.collect().toMap
    bWant.destroy()
    targets.map(picked).toArray
  }

  /** For each partition id p in [0, parts), the smallest non-negative int
    * salt whose Spark shuffle partition id — pmod(murmur3(salt, seed 42),
    * parts), exactly [[org.apache.spark.sql.catalyst.plans.physical
    * .HashPartitioning]]'s partitionIdExpression — equals p. Mapping the
    * uniform ntile group id g through `salts(g)` makes a plain hash
    * repartition land each group alone on its own partition (the balance
    * the range partitioner bought with an extra sampling pass).
    */
  private[graft] def saltsFor(parts: Int): Array[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    val m = Array.fill(parts)(-1)
    var found = 0
    var s = 0
    while (found < parts) {
      require(s < 100000000,
        s"saltsFor($parts) exhausted the search space at $s — murmur3 " +
          "cannot be this degenerate; partitioning logic changed?")
      val pid = Pmod(new Murmur3Hash(Seq(Literal(s))), Literal(parts))
        .eval(null).asInstanceOf[Int]
      if (m(pid) < 0) { m(pid) = s; found += 1 }
      s += 1
    }
    m
  }

  /** Count of boundary keys <= k in UTF-8 byte order (rightmost binary
    * search) — the deterministic ntile group of `k` given boundaries from
    * [[ntileBoundaries]].
    */
  private[index] def grpOf(bounds: Array[String], k: String): Int =
    grpOfBytes(
      bounds.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)), k)

  /** [[grpOf]] over pre-encoded boundaries (the hot-path form: the build
    * encodes the broadcast bounds once, not per probe per row).
    */
  private[index] def grpOfBytes(bounds: Array[Array[Byte]], k: String): Int = {
    val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (java.util.Arrays.compareUnsigned(bounds(mid), kb) <= 0) lo = mid + 1
      else hi = mid
    }
    lo
  }

  /** Wrap an iterator so the enclosing task reports (pid, rows, bytes) into
    * `acc` once exhausted; retried tasks re-add, so manifest writers dedupe
    * by pid.
    */
  private def metered[A, B](it: Iterator[A],
                            acc: CollectionAccumulator[(Int, Long, Long)],
                            pid: Int)(f: A => (B, Long)): Iterator[B] =
    new Iterator[B] {
      private var rows = 0L
      private var bytes = 0L
      private var reported = false
      def hasNext: Boolean = {
        val h = it.hasNext
        if (!h && !reported) { acc.add((pid, rows, bytes)); reported = true }
        h
      }
      def next(): B = {
        val (b, sz) = f(it.next())
        rows += 1; bytes += sz
        b
      }
    }

  private def publishManifest(dir: String, stage: String, fp: String, cfgId: String,
                              acc: CollectionAccumulator[(Int, Long, Long)],
                              t0: Long, conf: org.apache.hadoop.conf.Configuration): Unit = {
    import scala.jdk.CollectionConverters._
    val parts = acc.value.asScala.groupBy(_._1).map { case (pid, xs) =>
      val x = xs.last
      Checkpoint.PartitionMetric(pid, x._2, x._3)
    }.toSeq.sortBy(_.pid)
    Checkpoint.writeManifest(dir,
      Checkpoint.Manifest(stage, fp, cfgId, parts.map(_.rows).sum, msSince(t0), parts),
      conf)
  }
}
