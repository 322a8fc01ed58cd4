package graft.streaming

import graft.index.{BuiltIndex, IndexBuilder, IndexConfig, IndexLayout, IndexWriter, StatsRow}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Structured-Streaming ingest: continuous corpus arrival → an append-only
  * sequence of immutable delta indexes, searchable as one.
  *
  * The reference is batch-only (`OpenMode.CREATE` full rebuilds,
  * `IndexTREC.java:94-101`); at 100 TB a rebuild per arrival is untenable,
  * so this module adds the Lucene-segment-like growth path Spark-natively:
  *
  *   readStream (file source) → foreachBatch →
  *     IndexBuilder.build(batch, …/batches/batch_<id>, epoch = id + 1)
  *
  * Each micro-batch becomes a full mini-index (checkpointed stages, atomic
  * publish — a killed batch resumes via the same manifests), with its
  * docids namespaced by an epoch in bits 52+ so ids never collide across
  * batches. [[UnionIndex]] presents the batch set as ONE index: postings
  * and docs are unioned scans, per-term stats re-aggregate additively at
  * lookup time, and collection stats sum — BM25 over the union is
  * float-identical to a monolithic build of the same rows
  * (StreamingSpec locks this). Re-ingested docnos behave like Lucene
  * addDocument without deletes: both postings exist; the searcher's
  * docno-dedup keeps the best-ranked surrogate.
  */
object StreamingIngest {

  /** The north-rule corpus schema for the file stream. */
  val corpusSchema: StructType = StructType(Seq(
    StructField("docno", StringType, nullable = false),
    StructField("content", StringType, nullable = true)))

  private def batchesDir(rootDir: String) = s"$rootDir/batches"
  private def compactedRoot(rootDir: String) = s"$rootDir/compacted"

  /** Completed (id, dir) children of `dir` named `<prefix><id>` (an index is
    * complete iff its props file — written last — exists).
    */
  private def completedIds(spark: SparkSession, dir: String,
                           prefix: String): Seq[(Long, String)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d, IndexLayout.PropsFile)))
      .flatMap { d =>
        val n = d.getName
        if (n.startsWith(prefix)) n.stripPrefix(prefix).toLongOption.map(_ -> d.toString)
        else None
      }.sortBy(_._1)
  }

  /** The current searchable set: the newest compaction (if any) plus every
    * completed batch delta it does not cover.
    */
  def searchableDirs(spark: SparkSession, rootDir: String): Seq[String] = {
    val batches = completedIds(spark, batchesDir(rootDir), "batch_")
    completedIds(spark, compactedRoot(rootDir), "upto_").lastOption match {
      case Some((upto, dir)) => dir +: batches.collect { case (id, d) if id > upto => d }
      case None => batches.map(_._2)
    }
  }

  /** Compact the current searchable delta set into one index (see
    * [[graft.index.SegmentMerger.compactIndexes]]) under
    * `rootDir/compacted/upto_<lastBatchId>`. No-op (None) with fewer than
    * `minDirs` searchable dirs. Old batch dirs are left in place (they stop
    * being opened once covered), so a reader holding the previous set is
    * never broken mid-query.
    */
  def compact(spark: SparkSession, rootDir: String,
              minDirs: Int = 2): Option[BuiltIndex] = {
    // ONE directory snapshot: `upto` must name exactly the batch ids inside
    // this compaction — a batch completing after the listing stays > upto
    // and remains searchable next to the new compaction (a second listing
    // could mark it covered without including it, silently dropping docs).
    val prev = completedIds(spark, compactedRoot(rootDir), "upto_").lastOption
    val newBatches = prev match {
      case Some((upto, _)) =>
        completedIds(spark, batchesDir(rootDir), "batch_").filter(_._1 > upto)
      case None => completedIds(spark, batchesDir(rootDir), "batch_")
    }
    val dirs = prev.map(_._2).toSeq ++ newBatches.map(_._2)
    if (dirs.size < minDirs) return None
    val upto = (prev.map(_._1).toSeq ++ newBatches.map(_._1)).max
    val out = s"${compactedRoot(rootDir)}/upto_$upto"
    val cfg = BuiltIndex.open(spark, dirs.head).cfg.copy(docidEpoch = 0)
    val built = graft.index.SegmentMerger.compactIndexes(spark, dirs, out, cfg)
    // the searchable set changed: publish the post-compaction snapshot
    // (recomputed from a fresh listing, so a batch that completed while the
    // compaction ran is included next to it, never dropped)
    SnapshotManifest.publish(spark, rootDir, searchableDirs(spark, rootDir))
    Some(built)
  }

  /** Build one micro-batch's delta index (also usable directly for testing
    * or manual backfill). Epoch = batchId + 1 keeps epoch 0 = batch builds.
    * Publishes the next snapshot manifest version once the delta is live
    * ([[SnapshotManifest]] — the searchable set changed).
    */
  def ingestBatch(batch: DataFrame, batchId: Long, rootDir: String,
                  cfg: IndexConfig): BuiltIndex = {
    require(batchId + 1 < (1 << 11), "batch id exceeds the docid epoch space")
    val built = IndexBuilder.build(batch, s"${batchesDir(rootDir)}/batch_$batchId",
      cfg.copy(docidEpoch = (batchId + 1).toInt))
    SnapshotManifest.publish(batch.sparkSession, rootDir,
      searchableDirs(batch.sparkSession, rootDir))
    built
  }

  /** Start the stream: every arriving parquet file under `sourceDir`
    * becomes (part of) a micro-batch delta index under `rootDir/batches`.
    * Streaming checkpoint lives inside `rootDir`, so a restarted query
    * resumes at the first unprocessed file and a killed mid-batch build
    * resumes from its stage manifests.
    */
  def start(spark: SparkSession, sourceDir: String, rootDir: String,
            cfg: IndexConfig,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Int = 1,
            compactEvery: Int = 0): StreamingQuery = {
    spark.readStream
      .schema(corpusSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", s"$rootDir/_stream_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, rootDir, cfg)
        // periodic epoch compaction (≙ Lucene's background segment merges):
        // bounds the per-query delta fan-in of an unbounded stream
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compact(batch.sparkSession, rootDir)
        ()
      }
      .start()
  }

  /** Open the union of the searchable delta set under `rootDir` — resolved
    * ONCE from the latest snapshot manifest ([[SnapshotManifest]]), so the
    * returned handle is PINNED: a concurrent compaction (which only adds
    * dirs and manifest versions) cannot change or break it, and it stays
    * valid until [[SnapshotManifest.gc]]'s grace period expires. Roots
    * that predate manifests fall back to the directory-listing resolution
    * (the newest compaction plus the batch deltas it does not cover).
    */
  def openUnion(spark: SparkSession, rootDir: String): UnionIndex = {
    val dirs = SnapshotManifest.latest(spark, rootDir).map(_.dirs)
      .getOrElse(searchableDirs(spark, rootDir))
    require(dirs.nonEmpty, s"no completed batches under $rootDir")
    val first = BuiltIndex.open(spark, dirs.head)
    new UnionIndex(spark, dirs, first.cfg.copy(docidEpoch = 0))
  }
}

/** One searchable handle over many delta indexes. Scans union; per-term
  * stats re-aggregate (sum df/cf, max max_tf) inside the pruned lookup, so
  * the searcher sees exactly one row per (term, bucket); collection stats
  * sum. Dynamic-partition pruning of the docno-attach join applies per
  * union branch.
  */
final class UnionIndex(spark0: SparkSession, val dirs: Seq[String], cfg0: IndexConfig)
    extends BuiltIndex(spark0, dirs.head, cfg0) {
  import IndexLayout._

  // memoized like the base class's table handles (delta dirs are immutable
  // snapshots): one listing + schema read per table per handle
  private val unionedCache =
    new scala.collection.concurrent.TrieMap[String, DataFrame]()
  private def unioned(sub: String): DataFrame =
    unionedCache.getOrElseUpdate(sub,
      dirs.map(d => spark.read.parquet(s"$d/$sub")).reduce(_ unionByName _))

  override protected def snapshotDirs: Seq[String] = dirs
  override def docs: DataFrame = unioned(DocsDir)
  // deltas mint docids in disjoint epochs, but distinct guards the case of
  // two deltas sharing a grp high-bits value: the batched complement scan
  // only needs each grp listed once (its range predicate reads every
  // branch's partitions inside the batch either way)
  override def docGrps: Seq[Long] =
    dirs.flatMap(d => BuiltIndex.listGrps(spark, s"$d/$DocsDir"))
      .distinct.sorted
  override def postings: DataFrame = unioned(PostingsDir)
  // each delta may carry its own equality-delete generations
  override def deleteDirs: Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.map(d => new org.apache.hadoop.fs.Path(s"$d/$DeletesDir"))
      .filter(p => p.getFileSystem(conf).exists(p))
      .map(_.toString)
  }
  override def vocab: DataFrame = unioned(VocabDir)
  override def termStats: DataFrame =
    unioned(TermStatsDir)
      .groupBy(col("term"), col("bucket"))
      .agg(sum(col("df")).cast("long").as("df"),
        max(col("max_tf")).as("max_tf"),
        sum(col("cf")).cast("long").as("cf"))

  override lazy val stats: StatsRow = IndexWriter.readStats(spark, dirs)
}
