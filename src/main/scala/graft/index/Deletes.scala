package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deletion over immutable indexes, in the two Lucene-shaped
  * stages (the reference delegates both to Lucene — `IndexWriter
  * .deleteDocuments` and the merges of `IndexTREC.java:98-101`):
  *
  *   1. '''logical deletes''' — equality-delete files (Iceberg-v2 delete
  *      semantics ≙ Lucene's per-segment `.del` bitsets): a batch of
  *      docnos resolves to docids and persists as a tombstone table next
  *      to (or overlaid on) the index. Queries skip tombstoned docs at
  *      posting-decode time while COLLECTION STATS AND DF KEEP THEIR
  *      PRE-DELETE VALUES — exactly Lucene's behavior until a merge
  *      reclaims the deletes (`IndexSearcher` scores with segment stats
  *      that still count deleted docs).
  *   2. '''purge''' — the physical rewrite a merge performs: drop
  *      tombstoned docs from every table and recompute df/cf/stats/vocab.
  *      Unlike Lucene, surviving docids are PRESERVED (no renumbering):
  *      docids are minted monotone in docno order, a property every subset
  *      keeps, so `purge(build(C), D)` is rank- AND float-score-identical
  *      to `build(C \ D)` (DeletesSpec locks the equivalence).
  */
object Deletes {

  /** Tombstone cardinality cap for the query-time overlay: the sorted
    * docid array is broadcast once per searcher (8 bytes/entry → 80 MB at
    * the cap). Lucene bounds the same state by merging segments whose
    * delete ratio grows; callers over the cap must [[purge]].
    */
  val MaxTombstones = 10_000_000L

  private def fs(p: Path, spark: SparkSession) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Persist one equality-delete batch under `deleteDir`: `docnos` (a
    * one-column docno table) resolves against the index's doc table and
    * the resulting docids land in a content-addressed `batch-<fp>`
    * subdirectory — re-running the same logical delete is a no-op, and
    * distinct batches accumulate (Lucene's per-commit .del generations).
    * Point `deleteDir` inside the index (`<dir>/deletes`) for in-place
    * deletes, or at an external path used with [[BuiltIndex.withDeletes]]
    * to overlay deletes on a shared immutable snapshot.
    */
  def writeDeletes(index: BuiltIndex, docnos: DataFrame, deleteDir: String): Unit = {
    val spark = index.spark
    val ids = index.docs
      .join(broadcast(docnos.select(col("docno")).distinct()), Seq("docno"))
      .select(col("docid"))
    // content address = (count, hash-XOR) of the resolved docid set
    val fpRow = ids.agg(count(lit(1)), expr("bit_xor(xxhash64(docid))")).head()
    val fp = s"${fpRow.getLong(0)}_${java.lang.Long.toHexString(if (fpRow.isNullAt(1)) 0L else fpRow.getLong(1))}"
    val batch = new Path(s"$deleteDir/batch-$fp")
    if (fs(batch, spark).exists(batch)) return
    Checkpoint.atomically(batch.toString,
        spark.sparkContext.hadoopConfiguration) { tmp =>
      ids.coalesce(1).write.mode("overwrite").parquet(tmp)
    }
  }

  /** All tombstoned docids under `dirs`, distinct and sorted — the shape
    * [[graft.search.Searcher]] binary-searches per decoded posting. `cap`
    * fails loudly instead of silently degrading the broadcast path.
    */
  def load(spark: SparkSession, dirs: Seq[String],
           cap: Long = MaxTombstones): Array[Long] = {
    val existing = dirs.filter(d => fs(new Path(d), spark).exists(new Path(d)))
    if (existing.isEmpty) return Array.emptyLongArray
    import spark.implicits._
    val ids = existing.map(d => spark.read.parquet(s"$d/batch-*"))
      .reduce(_ unionByName _)
      .select(col("docid")).distinct()
      .as[Long].collect()
    require(ids.length <= cap,
      s"${ids.length} tombstones exceed the query-time overlay cap ($cap): " +
        "purge the deletes into a rewritten index (Deletes.purge)")
    java.util.Arrays.sort(ids)
    ids
  }

  /** True iff docid survives the (sorted) tombstone array. */
  @inline def live(tombstones: Array[Long], docid: Long): Boolean =
    tombstones.length == 0 ||
      java.util.Arrays.binarySearch(tombstones, docid) < 0

  /** Physically rewrite `index` without its tombstoned docs — the merge
    * that reclaims deletes. Runs that contain no tombstoned docid copy
    * their encoded blobs verbatim (at scale only the runs overlapping the
    * delete set pay the decode→re-encode); no stage shuffles: run identity
    * (term, grp) and the docs table's grp partitioning are both stable
    * under taking a docid subset. df/cf/collection stats/vocab are
    * recomputed over survivors, so scores downstream match a fresh build
    * of the surviving corpus exactly. Idempotent: a completed purge at
    * `outDir` (its props file exists) is opened, not rebuilt.
    */
  def purge(index: BuiltIndex, outDir: String): BuiltIndex = {
    val spark = index.spark
    import spark.implicits._
    val done = new Path(outDir, IndexLayout.PropsFile)
    if (fs(done, spark).exists(done)) return BuiltIndex.open(spark, outDir)
    val tomb = index.tombstones
    require(tomb.nonEmpty, "purge called on an index with no tombstones")
    val bc = spark.sparkContext.broadcast(tomb)
    val purgedRuns = index.postings.as[PostingRun].flatMap { r =>
      val t = bc.value
      // does any tombstone fall in this run's [first, last] docid range?
      var i = java.util.Arrays.binarySearch(t, r.first_docid)
      if (i < 0) i = -i - 1
      if (i >= t.length || t(i) > r.last_docid) Iterator.single(r) // untouched
      else IndexWriter.reencode(r.term, r.bucket, r.grp, Iterator.single(r),
        Deletes.live(t, _)).iterator
    }
    IndexWriter.rewrite(spark, outDir, index.cfg, purgedRuns, index.docs, tomb, None)
  }
}

/** A delete overlay on an immutable index snapshot: identical tables,
  * extra tombstones. Delegates every table accessor so a wrapped
  * [[graft.streaming.UnionIndex]] keeps its union/pruning overrides.
  */
final class DeleteOverlayIndex(val parent: BuiltIndex, overlays: Seq[String])
    extends BuiltIndex(parent.spark, parent.dir, parent.cfg) {
  // term stats keep their pre-delete values by contract, and the docs are
  // the parent's: share its memos
  override lazy val snapshotKey: String = parent.snapshotKey
  override def docs: DataFrame = parent.docs
  override def postings: DataFrame = parent.postings
  override def termStats: DataFrame = parent.termStats
  override def vocab: DataFrame = parent.vocab
  override lazy val stats: StatsRow = parent.stats
  override def docGrps: Seq[Long] = parent.docGrps
  override def deleteDirs: Seq[String] = parent.deleteDirs ++ overlays
}
