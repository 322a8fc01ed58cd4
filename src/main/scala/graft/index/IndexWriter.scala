package graft.index

import graft.codec.{EncodedRun, PostingCodec}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The one writer of index tables (≙ the single Lucene `IndexWriter` the
  * reference hands every segment write and merge to, `IndexTREC.java:94-141`).
  * The build's stages, [[SegmentMerger.compactIndexes]] and [[Deletes.purge]]
  * all write through here, so each table's partitioning and sort order — what
  * makes it prunable — is decided once, and every derived table (stats row,
  * term_stats, vocab) comes from the same derivation.
  *
  * A hive-partitioned write of zero rows leaves no file to infer a schema
  * from, so an empty table lands as one empty unpartitioned file instead:
  * an index with no postings (a stopword-only corpus, a purge of every doc)
  * still opens and answers every search with no hits.
  */
private[graft] object IndexWriter {
  import IndexLayout._

  /** The one [[PostingRun]] constructor. */
  def postingRun(term: String, bucket: Int, grp: Long, e: EncodedRun): PostingRun =
    PostingRun(term, bucket, grp, e.ndocs, e.firstDocid, e.lastDocid,
      e.maxTf, e.sumTf, e.docBlob, e.tfBlob, e.dlBlob, e.posBlob,
      e.blockLastDocid, e.blockMaxTf, e.blockMinDl,
      e.blockDocOff, e.blockTfOff, e.blockDlOff, e.blockPosOff)

  /** Decode → drop dead docids → re-encode one term's docid-ordered,
    * disjoint `runs` as a single run under (term, bucket, grp) — the step
    * compaction and purge share. None when no posting survives (the runs
    * are drained either way).
    */
  def reencode(term: String, bucket: Int, grp: Long, runs: Iterator[PostingRun],
               live: Long => Boolean): Option[PostingRun] = {
    val ps = runs.flatMap(SegmentMerger.decode).filter(p => live(p.docid))
    if (ps.hasNext) Some(postingRun(term, bucket, grp, PostingCodec.encode(ps))) else None
  }

  /** `df` hive-partitioned by column `by`; an empty `df` writes unpartitioned
    * (see the object doc).
    */
  private def writePartitioned(df: DataFrame, path: String, by: String): Unit = {
    df.write.mode("overwrite").partitionBy(by).parquet(path)
    val p = new Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (!fs.listStatus(p).exists(_.isDirectory))
      df.limit(0).write.mode("overwrite").parquet(path)
  }

  /** Postings: bucket-partitioned, so a term lookup prunes to its buckets'
    * directories.
    */
  def writePostings(runs: Dataset[PostingRun], path: String): Unit =
    writePartitioned(runs.toDF(), path, "bucket")

  /** Docs: partitioned by the coarse docid-range group so the query path's
    * docno-attach join on (docid, grp) prunes partitions, docid-sorted within
    * files for parquet min/max row-group skipping. `docs` carries
    * (docid, docno, sha, dl); grp derives from `cfg` here.
    */
  def writeDocs(docs: DataFrame, path: String, cfg: IndexConfig): Unit =
    writePartitioned(docs
      .withColumn("grp", shiftright(col("docid"), cfg.groupShift + cfg.mergeShift))
      .sortWithinPartitions("grp", "docid"), path, "grp")

  /** Collection statistics (N, Σdl) of a docs table. */
  def statsOf(docs: DataFrame): StatsRow = {
    val r = docs.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
    StatsRow(r.getLong(0), r.getLong(1))
  }

  def writeStats(spark: SparkSession, path: String, s: StatsRow): Unit = {
    import spark.implicits._
    Seq(s).toDF().coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The stats rows of the indexes at `dirs`, summed (collection stats are
    * additive over docid-disjoint indexes).
    */
  def readStats(spark: SparkSession, dirs: Seq[String]): StatsRow = {
    import spark.implicits._
    dirs.map(d => spark.read.parquet(s"$d/$StatsDir").as[StatsRow].head())
      .reduce((a, b) => StatsRow(a.max_doc + b.max_doc,
        a.sum_total_term_freq + b.sum_total_term_freq))
  }

  /** term_stats derived from the postings at `postingsDir`: one row per
    * term (df = Σ ndocs, max_tf, cf = Σ sum_tf), bucket-partitioned like the
    * postings. Returns the row count (|vocabulary|), observed during the
    * write so no count job runs over the published table.
    */
  def writeTermStats(spark: SparkSession, postingsDir: String, path: String): Long = {
    val obs = Observation()
    writePartitioned(spark.read.parquet(postingsDir)
      .groupBy(col("term"), col("bucket"))
      .agg(sum(col("ndocs")).cast("long").as("df"),
        max(col("max_tf")).as("max_tf"),
        sum(col("sum_tf")).cast("long").as("cf"))
      .select(col("term"), col("bucket"), col("df"), col("max_tf"), col("cf"))
      .observe(obs, count(lit(1)).as("rows")), path, "bucket")
    try scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(30, "s")).getAs[Long]("rows")
    catch { // metric lost (never for a completed local write): one scan
      case scala.util.control.NonFatal(_) => spark.read.parquet(path).count()
    }
  }

  /** The (term, len) vocabulary projection of a term_stats table. */
  def vocabOf(termStats: DataFrame): DataFrame =
    termStats.select(col("term"), length(col("term")).as("len"))

  /** Vocab derived from the term_stats at `termStatsDir`: range-partitioned
    * on (len, term), sorted by (len, term), then directory-partitioned by
    * len — a prefix scan is a pushed-down StringStartsWith over term-sorted
    * row groups and a fuzzy scan partition-prunes to the ±maxEdits length
    * band. The sort leads with len because the partitioned writer needs
    * its rows ordered by len: a term-only sort fails that requirement, and
    * the writer's own len sort would replace it.
    */
  def writeVocab(spark: SparkSession, termStatsDir: String, path: String): Unit =
    writePartitioned(vocabOf(spark.read.parquet(termStatsDir))
      .repartitionByRange(col("len"), col("term"))
      .sortWithinPartitions(col("len"), col("term")), path, "len")

  /** Publish a rewritten index at `outDir` (compaction, purge): `runs`, the
    * `docs` minus `tombstones`, and every derived table. `stats` None
    * recomputes N and Σdl over the surviving docs. Atomic: props are
    * written last inside the temp dir.
    */
  def rewrite(spark: SparkSession, outDir: String, cfg: IndexConfig,
              runs: Dataset[PostingRun], docs: DataFrame,
              tombstones: Array[Long], stats: Option[StatsRow]): BuiltIndex = {
    import spark.implicits._
    Checkpoint.atomically(outDir, spark.sparkContext.hadoopConfiguration) { tmp =>
      writePostings(runs, s"$tmp/$PostingsDir")
      val live = if (tombstones.isEmpty) docs
        else docs.join(broadcast(tombstones.toSeq.toDF("docid")), Seq("docid"), "left_anti")
      writeDocs(live.select("docid", "docno", "sha", "dl"), s"$tmp/$DocsDir", cfg)
      writeStats(spark, s"$tmp/$StatsDir",
        stats.getOrElse(statsOf(spark.read.parquet(s"$tmp/$DocsDir"))))
      writeTermStats(spark, s"$tmp/$PostingsDir", s"$tmp/$TermStatsDir")
      writeVocab(spark, s"$tmp/$TermStatsDir", s"$tmp/$VocabDir")
      BuiltIndex.writeProps(spark, tmp, cfg)
    }
    new BuiltIndex(spark, outDir, cfg)
  }
}
