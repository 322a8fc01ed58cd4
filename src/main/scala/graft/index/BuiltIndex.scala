package graft.index

import graft.analysis.AnalyzerConfig
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.util.Properties

/** Handle on a persisted index directory — the engine-side analog of
  * `DirectoryReader.open(FSDirectory)` (`BatchSearch.java:181-184`). The
  * index config (analyzer chain, bucket fan-out) is persisted alongside the
  * tables so the query path reconstructs the exact same analyzer by
  * construction — the reference allows an analyzer mismatch between index
  * and query time (`SearchFiles.java:76-89` hardcodes a different analyzer),
  * a failure mode this design rules out.
  */
class BuiltIndex(val spark: SparkSession, val dir: String, val cfg: IndexConfig) {
  import IndexLayout._

  /** Fingerprint of the snapshot's immutable tables, the key of the
    * JVM-wide memos ([[termStatsOf]]'s buckets, the searcher's docno
    * pages): a digest of the term_stats and docs file names under
    * [[snapshotDirs]] plus `cfg.id`, listed once per handle (no Spark job).
    * Spark's part-file names carry each write's UUID, so an index rebuilt
    * at the same path gets a new key. Delete overlays keep their parent's
    * key: df/cf keep their pre-delete values by contract, and the docs
    * table is the parent's.
    */
  lazy val snapshotKey: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val conf = spark.sparkContext.hadoopConfiguration
    val files = for (d <- snapshotDirs; t <- Seq(TermStatsDir, DocsDir)) yield {
      val it = new Path(s"$d/$t").getFileSystem(conf).listFiles(new Path(s"$d/$t"), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSeq
    }
    files.flatten.sorted.foreach { f => md.update(f.getBytes(StandardCharsets.UTF_8)); md.update(0: Byte) }
    java.util.HexFormat.of().formatHex(md.digest()) + "|" + cfg.id
  }

  /** The index directories whose tables this handle reads. */
  protected def snapshotDirs: Seq[String] = Seq(dir)

  // Table handles memoized per handle (r6 optimization): an index snapshot
  // directory is immutable (mutation mints a new snapshot/overlay handle —
  // see withDeletes/purge), so re-running spark.read.parquet on every
  // access only repeated the file listing + footer schema read. A search
  // touches postings/termStats/docs several times; entries run hundreds of
  // searches per session. Plans built from one cached DataFrame are
  // unchanged — this removes driver-side metadata work only.
  private lazy val docsDF = spark.read.parquet(s"$dir/$DocsDir")
  private lazy val postingsDF = spark.read.parquet(s"$dir/$PostingsDir")
  private lazy val termStatsDF = spark.read.parquet(s"$dir/$TermStatsDir")

  def docs: DataFrame = docsDF
  def postings: DataFrame = postingsDF
  def termStats: DataFrame = termStatsDF

  /** The rows of a term-keyed table — any postings view or [[termStats]] —
    * for `terms`: the `bucket = hash(term) % buckets` partition filter
    * prunes parquet directories and the term set is pushed into the scan;
    * both are [[BuiltIndex.inSet]] predicates, so no term list compiles a
    * class. With [[bucketsOf]] and [[termStatsOf]], the read side's only
    * user of [[IndexLayout.bucketOf]]. An empty term set is an empty
    * relation: no scan runs.
    */
  def forTerms(table: DataFrame, terms: Iterable[String]): DataFrame = {
    val ts = terms.toSeq.distinct
    // a term pad holds two spaces in a row, which no analyzed term does
    // (tokenizers split on whitespace, a shingle joins its terms with one
    // space); it sorts right after the smallest term, so the min/max range
    // parquet reads a long IN as stays the terms' own
    if (ts.isEmpty) table.where(lit(false))
    else table.where(BuiltIndex.inSet(spark, "bucket", ts.map(bucketOf(_, cfg.buckets)), -_) &&
      BuiltIndex.inSet(spark, "term", ts, ts.min + "  " + _))
  }

  /** Bucket partitions a [[forTerms]] read of `terms` touches. */
  def bucketsOf(terms: Iterable[String]): Int =
    terms.iterator.map(bucketOf(_, cfg.buckets)).toSet.size

  /** Per-term (docFreq, collectionFreq) of the indexed `terms` (≙ Lucene's
    * `TermStatistics`, consumed at `BM25.java:61`); absent terms have no
    * entry. Answered from a memo per [[snapshotKey]] (bounded:
    * [[BuiltIndex.MemoSnapshots]], [[BuiltIndex.MemoTerms]]) whose parts
    * load in one job. When the whole vocabulary fits the memo
    * ([[wholeBuckets]]) a part is a `bucket` partition of term_stats, so
    * any later term of a loaded bucket, an absent one included, costs no
    * job (≙ a terms-dictionary block read); otherwise a part is one term,
    * read with a pushed-down term predicate (≙ a per-term seek).
    */
  def termStatsOf(terms: Iterable[String]): Map[String, (Long, Long)] = {
    val ts = terms.toSeq.distinct
    val parts = BuiltIndex.statsMemo(snapshotKey).getAll(ts.map(statsPart).distinct)(loadStats)
    ts.flatMap(t => parts(statsPart(t)).get(t).map(t -> _)).toMap
  }

  /** Whether [[termStatsOf]]'s memo parts are whole buckets: only when the
    * vocabulary the term_stats manifests record, summed over
    * [[snapshotDirs]], fits one snapshot's memo, so every bucket a search
    * touches stays held. A larger vocabulary, or one no manifest records,
    * is memoized a term at a time: whole buckets of it would evict each
    * other, each miss reading thousands of rows.
    */
  private lazy val wholeBuckets: Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = snapshotDirs.map(d => Checkpoint.readManifest(s"$d/$TermStatsDir", conf).map(_.rowsOut))
    rows.forall(_.exists(_ >= 0)) && rows.flatten.sum <= BuiltIndex.MemoTerms
  }

  /** The memo part of `term`: its bucket, or the term itself. */
  private[graft] def statsPart(term: String): String =
    if (wholeBuckets) bucketOf(term, cfg.buckets).toString else term

  /** The (bucket, term, df, cf) rows of the memo `parts` ([[statsPart]]):
    * a bucket partition filter and, for single terms, the pushed term
    * set, both [[BuiltIndex.inSet]] predicates, so no part list compiles
    * a class. A union's filter pushes below its re-aggregation.
    */
  private[graft] def statsRows(parts: Seq[String]): DataFrame =
    (if (wholeBuckets) termStats.where(BuiltIndex.inSet(spark, "bucket", parts.map(_.toInt), -_))
     else forTerms(termStats, parts))
      .select(col("bucket").cast("int"), col("term"), col("df"), col("cf"))

  /** Every term_stats row of the memo `parts`, an empty part included, in
    * one job.
    */
  private def loadStats(parts: Seq[String]): Map[String, BuiltIndex.TermRows] = {
    val byPart = graft.PlanRunner.rows(statsRows(parts))(r =>
      (r.getInt(0), r.getUTF8String(1).toString, r.getLong(2), r.getLong(3)))
      .groupBy(r => if (wholeBuckets) r._1.toString else r._2)
    parts.map(p => p -> BuiltIndex.TermRows(byPart.getOrElse(p, Array.empty))).toMap
  }

  /** Postings view for paths that never read positions (scoring, WAND,
    * counting, negation): the position columns are replaced by empty
    * literals ABOVE the scan, so Catalyst prunes `pos_blob` /
    * `block_pos_off` out of the parquet read entirely. On a
    * positions-enabled index `pos_blob` is the largest column (~one
    * varint per TOKEN vs ~one per POSTING for doc/tf/dl), so a pure BM25
    * query would otherwise pay the whole positions column in scan bytes.
    * Field order matches [[PostingRun]], so `.as[PostingRun]` binds
    * unchanged; defined via [[postings]] so [[graft.streaming.UnionIndex]]'s
    * override flows through.
    */
  lazy val postingsScoring: DataFrame = {
    import org.apache.spark.sql.functions.typedLit
    postings.withColumns(Map(
      "pos_blob" -> typedLit(Array.empty[Byte]),
      "block_pos_off" -> typedLit(Array.empty[Int])))
  }

  /** Narrower still: also blanks the per-run extrema and the block
    * metadata arrays for paths that sequentially decode whole runs
    * (plain scoring, expansion, blended, negation, WAND seed, match
    * counting) — they touch only term/ndocs and the doc/tf/dl blobs.
    * The WAND main pass keeps [[postingsScoring]]: block metadata is
    * exactly what it skips on. Worth a further ~28% of the
    * post-[[postingsScoring]] scan bytes on the sf0.01 oracle index
    * (17.4 points of the full-schema total, parquet column metadata).
    */
  lazy val postingsDecode: DataFrame = {
    import org.apache.spark.sql.functions.typedLit
    postingsScoring.withColumns(Map(
      "first_docid" -> typedLit(0L),
      "last_docid" -> typedLit(0L),
      "max_tf" -> typedLit(0),
      "sum_tf" -> typedLit(0L),
      "block_last_docid" -> typedLit(Array.empty[Long]),
      "block_max_tf" -> typedLit(Array.empty[Int]),
      "block_min_dl" -> typedLit(Array.empty[Int]),
      "block_doc_off" -> typedLit(Array.empty[Int]),
      "block_tf_off" -> typedLit(Array.empty[Int]),
      "block_dl_off" -> typedLit(Array.empty[Int])))
  }

  /** Narrowest postings view: docid runs only — match-counting paths
    * (facet counts, attribute-filter membership) blank the tf/dl blobs on
    * top of [[postingsDecode]], so the parquet scan reads term/ndocs and
    * `doc_blob` alone.
    */
  lazy val postingsMatch: DataFrame = {
    import org.apache.spark.sql.functions.typedLit
    postingsDecode.withColumns(Map(
      "tf_blob" -> typedLit(Array.empty[Byte]),
      "dl_blob" -> typedLit(Array.empty[Byte])))
  }

  /** Sorted (term, len) vocabulary projection for prunable prefix/fuzzy
    * expansion; indexes written before the projection existed fall back to
    * a derived (unprunable) view so they stay openable.
    */
  private lazy val vocabDF: DataFrame = {
    val p = new Path(s"$dir/$VocabDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(s"$dir/$VocabDir")
    else IndexWriter.vocabOf(termStats)
  }

  def vocab: DataFrame = vocabDF

  lazy val stats: StatsRow = IndexWriter.readStats(spark, Seq(dir))

  /** Equality-delete dirs applied to this index at query time: the
    * index's own `deletes/` subdir when present (in-place deletes, ≙
    * Lucene `.del` generations) plus any overlays attached via
    * [[withDeletes]] (deletes over a shared immutable snapshot, ≙
    * Iceberg-v2 delete files referenced by a newer snapshot).
    */
  def deleteDirs: Seq[String] = {
    val own = new Path(s"$dir/$DeletesDir")
    val fs = own.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(own)) Seq(own.toString) else Nil
  }

  /** Sorted tombstoned docids from [[deleteDirs]]; empty = no deletes.
    * Loaded once per handle — an index snapshot is immutable, and a new
    * delete batch is a new snapshot ([[withDeletes]] returns a fresh
    * handle).
    */
  lazy val tombstones: Array[Long] = Deletes.load(spark, deleteDirs)

  /** This index with an external equality-delete overlay attached — the
    * underlying snapshot (and any sibling handles) stay delete-free.
    */
  def withDeletes(overlayDir: String): BuiltIndex =
    new DeleteOverlayIndex(this, Seq(overlayDir))

  /** Ascending grp partition values of the docs table, read from the
    * directory listing alone (driver-side metadata, no Spark job). grp is
    * the docid's high bits (`docid >> (groupShift + mergeShift)` — the
    * same derivation the docno-attach join prunes on), so ascending grp
    * values are disjoint ascending docid ranges: the invariant the
    * searcher's k-bounded match-all complement scan terminates on.
    */
  def docGrps: Seq[Long] = BuiltIndex.listGrps(spark, s"$dir/$DocsDir")
}

object BuiltIndex {
  private val PropsFile = IndexLayout.PropsFile

  /** Most snapshots ([[BuiltIndex.snapshotKey]]) holding a term-stat memo,
    * and most term_stats rows, an empty part counted as one, per memo:
    * least recently used first out, a whole part (bucket or term) at a
    * time. Constants, not settings: they bound the driver heap a
    * long-lived session (streaming snapshots, many distinct queries)
    * spends on the memo, about 25 MB at most (a one-term part takes about
    * 200 bytes, a bucket about 70 bytes a row).
    */
  private[graft] val MemoSnapshots = 8
  private[graft] val MemoTerms = 1 << 14

  /** Term-stat memos of [[BuiltIndex.termStatsOf]], one per
    * [[BuiltIndex.snapshotKey]]: every handle on the same snapshot (fresh
    * searchers, delete overlays) shares one.
    */
  private val statsMemos = lru[String, PartMemo[String, TermRows]](MemoSnapshots)

  private[graft] def statsMemo(key: String): PartMemo[String, TermRows] =
    statsMemos.computeIfAbsent(key, _ => new PartMemo[String, TermRows](MemoTerms, _.size max 1))

  /** One memo part's term_stats rows (a bucket's, or one term's), sorted
    * by term.
    */
  private[graft] final class TermRows private (terms: Array[String], df: Array[Long], cf: Array[Long]) {
    def size: Int = terms.length

    /** (df, cf) of `term`; None when the part does not hold it. */
    def get(term: String): Option[(Long, Long)] = {
      val at = java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], term)
      if (at >= 0) Some((df(at), cf(at))) else None
    }
  }

  private[graft] object TermRows {
    private val Empty = new TermRows(Array.empty, Array.empty, Array.empty)

    /** From (bucket, term, df, cf) rows of one part. */
    def apply(rows: Array[(Int, String, Long, Long)]): TermRows = if (rows.isEmpty) Empty else {
      val s = rows.sortBy(_._2)
      new TermRows(s.map(_._2), s.map(_._3), s.map(_._4))
    }
  }

  /** A memo of whole partitions of an index table (a term_stats bucket or
    * term, a docid page of docs), bounded by the rows it holds: keeping a
    * partition evicts the least recently used ones until the rows fit, and
    * a partition larger than the bound is not kept. Thread-safe.
    */
  private[graft] final class PartMemo[K, V](maxRows: Int, rows: V => Int) {
    private val parts = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
    private var held = 0L

    /** Rows held. */
    def heldRows: Long = synchronized(held)

    /** The partitions of `keys` the memo holds, each now most recently
      * used.
      */
    def get(keys: Seq[K]): Map[K, V] = synchronized(keys.flatMap(k => Option(parts.get(k)).map(k -> _))).toMap

    /** The partitions `keys` (distinct) name: those held from the memo,
      * the rest from one `load`, which returns every key it is given and
      * whose partitions are kept. The answer is complete even where the
      * memo cannot keep all of it.
      */
    def getAll(keys: Seq[K])(load: Seq[K] => Map[K, V]): Map[K, V] = {
      val hits = get(keys)
      val missing = keys.filterNot(hits.contains)
      if (missing.isEmpty) hits
      else {
        val loaded = load(missing)
        missing.foreach(k => put(k, loaded(k)))
        hits ++ loaded
      }
    }

    /** Keeps partition `k`, evicting least recently used ones until its
      * rows fit; one larger than the bound is not kept.
      */
    def put(k: K, v: V): Unit = synchronized {
      val old = parts.remove(k)
      if (old != null) held -= rows(old)
      val n = rows(v)
      if (n <= maxRows) {
        val lru = parts.values.iterator
        while (held + n > maxRows) { held -= rows(lru.next()); lru.remove() }
        parts.put(k, v)
        held += n
      }
    }
  }

  /** A synchronized access-ordered map evicting past `cap` entries, least
    * recently used first.
    */
  private[graft] def lru[K, V](cap: Int): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size > cap
    })

  /** `c IN values` as a set-valued predicate: the optimizer turns an IN
    * list longer than `spark.sql.optimizer.inSetConversionThreshold` into
    * `InSet`, which is pushed into the parquet scan like a literal list, but
    * which generated code references instead of inlining one literal per
    * value. A shorter list is padded with `pad(1)`, `pad(2)`, …: values
    * the column never holds.
    */
  def inSet[T](spark: SparkSession, c: String, values: Seq[T], pad: Int => T): Column = {
    val vs = values.distinct
    val min = spark.conf.get("spark.sql.optimizer.inSetConversionThreshold").toInt + 1
    col(c).isInCollection(vs ++ (1 to min - vs.size).map(pad))
  }

  /** grp partition values under one docs directory, sorted ascending. */
  private[graft] def listGrps(spark: SparkSession, docsDir: String): Seq[Long] = {
    val p = new Path(docsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).iterator
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("grp="))
      .map(_.stripPrefix("grp=").toLong)
      .toSeq.sorted
  }

  def writeProps(spark: SparkSession, dir: String, cfg: IndexConfig): Unit = {
    val p = new Properties()
    p.setProperty("tokenizer", cfg.analyzer.tokenizer)
    p.setProperty("stemmer", cfg.analyzer.stemmer)
    p.setProperty("stopWords", cfg.analyzer.stopWords.toSeq.sorted.mkString(" "))
    p.setProperty("foldAscii", cfg.analyzer.foldAscii.toString)
    p.setProperty("shingleSize", cfg.analyzer.shingleSize.toString)
    p.setProperty("buckets", cfg.buckets.toString)
    p.setProperty("groupShift", cfg.groupShift.toString)
    p.setProperty("mergeShift", cfg.mergeShift.toString)
    p.setProperty("rangePartitions", cfg.rangePartitions.toString)
    p.setProperty("indexPositions", cfg.indexPositions.toString)
    p.setProperty("docidEpoch", cfg.docidEpoch.toString)
    val out = new ByteArrayOutputStream()
    p.store(out, "graft index config")
    val path = new Path(dir, PropsFile)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = fs.create(path, true)
    try o.write(out.toByteArray)
    finally o.close()
  }

  /** Open an existing index, reconstructing its config from disk. A key
    * absent from an older props file reads as the config default; keys of
    * removed options are ignored (the two-phase build's postings have the
    * same layout as today's).
    */
  def open(spark: SparkSession, dir: String): BuiltIndex = {
    val path = new Path(dir, PropsFile)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    val bytes = try in.readAllBytes() finally in.close()
    val p = new Properties()
    p.load(new ByteArrayInputStream(bytes))
    val stop = Option(p.getProperty("stopWords")).getOrElse("").trim
    val cfg = IndexConfig(
      analyzer = AnalyzerConfig(
        tokenizer = p.getProperty("tokenizer", "whitespace"),
        stopWords = if (stop.isEmpty) Set.empty else stop.split("\\s+").toSet,
        stemmer = p.getProperty("stemmer", "none"),
        foldAscii = p.getProperty("foldAscii", "false").toBoolean,
        shingleSize = p.getProperty("shingleSize", "1").toInt),
      buckets = p.getProperty("buckets", "64").toInt,
      groupShift = p.getProperty("groupShift", "18").toInt,
      mergeShift = p.getProperty("mergeShift", "4").toInt,
      rangePartitions = p.getProperty("rangePartitions", "0").toInt,
      indexPositions = p.getProperty("indexPositions", "false").toBoolean,
      docidEpoch = p.getProperty("docidEpoch", "0").toInt)
    new BuiltIndex(spark, dir, cfg)
  }
}
