package graft.index

import graft.codec.{DecodedPosting, PostingCodec}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Merge adjacent posting runs of the same term into compacted runs — the
  * segment-merge analog of Lucene's background merges + final commit
  * (`IndexTREC.java:98-101`). Because initial runs are keyed by
  * docid-range group, runs of one term arrive docid-disjoint and ordered,
  * so merging is a streaming concatenation (decode → re-encode to restore
  * delta continuity), never a re-sort.
  */
object SegmentMerger {

  /** Input: (run, mergedGroup) pairs sorted by (term, mergedGroup,
    * first_docid) within the partition, with all runs of a
    * (term, mergedGroup) co-located (guaranteed by the repartition in
    * [[compactIndexes]]). Output: one run per (term, merged group), `grp`
    * rewritten to the merged id, bucket preserved. `live` drops tombstoned
    * docids during the re-encode (merges RECLAIM deletes, like Lucene's);
    * a (term, merged group) whose postings all die vanishes from the output.
    */
  def mergeSorted(it: Iterator[(PostingRun, Long)],
                  live: Long => Boolean): Iterator[PostingRun] = {
    val rows = it.buffered
    new Iterator[Option[PostingRun]] {
      def hasNext: Boolean = rows.hasNext
      def next(): Option[PostingRun] = {
        val (head, mgrp) = rows.head
        val chunk = new Iterator[PostingRun] {
          def hasNext: Boolean =
            rows.hasNext && rows.head._1.term == head.term && rows.head._2 == mgrp
          def next(): PostingRun = rows.next()._1
        }
        IndexWriter.reencode(head.term, head.bucket, mgrp, chunk, live)
      }
    }.flatten
  }

  /** Decode one run's postings (streaming; positions carried when stored). */
  def decode(r: PostingRun): Iterator[DecodedPosting] =
    PostingCodec.decodeBlobs(r.ndocs, r.doc_blob, r.tf_blob, r.dl_blob, r.pos_blob)

  /** Compact several docid-DISJOINT indexes (streaming delta indexes and/or
    * a prior compaction — docids carry the epoch in bits 52+, so ranges
    * never overlap) into ONE index at `outDir` — the cross-epoch analog of
    * Lucene's background segment merges (`IndexTREC.java:98-101`) that keeps
    * an unbounded stream from accumulating unbounded per-query delta scans.
    *
    * Merged groups re-key from the global sorted rank of the run-start
    * docid groups (`g0 = first_docid >> groupShift`): per-delta mgrp ids
    * collide across deltas, docid ranges never do, and rank adjacency spans
    * epochs so small deltas genuinely merge into fewer runs. The rank map
    * is one tiny metadata-column scan (one entry per 2^groupShift docids),
    * exactly like the build's grp map. Decoded postings re-encode in docid
    * order (runs are disjoint), so scores stay FLOAT-IDENTICAL: same
    * (tf, dl, df, stats) reach the scorer, same docids break ties. The
    * whole output publishes atomically (props written last inside the temp
    * dir); a killed compaction leaves the delta set untouched.
    */
  def compactIndexes(spark: SparkSession, srcDirs: Seq[String], outDir: String,
                     cfg: IndexConfig): BuiltIndex = {
    import spark.implicits._
    import IndexLayout._
    require(srcDirs.nonEmpty, "nothing to compact")
    // 4× coarser than the build's final run granularity — tiered merging
    // toward fewer, larger runs (delta builds are small, so their rank
    // universe is dominated by epoch gaps). Postings run granularity is NOT
    // coupled to the persisted cfg: mgrp only has to keep a term's runs
    // docid-disjoint and ordered.
    val ms = cfg.mergeShift + 2
    // merges RECLAIM deletes (≙ Lucene dropping per-segment .del sets on
    // merge): union each source's own equality-delete generations; the
    // compacted output carries none of them
    val tomb: Array[Long] =
      Deletes.load(spark, srcDirs.map(d => s"$d/$DeletesDir"))
    val tombBc = if (tomb.isEmpty) None
      else Some(spark.sparkContext.broadcast(tomb))
    val runs = srcDirs.map(d => spark.read.parquet(s"$d/$PostingsDir"))
      .reduce(_ unionByName _)
    val g0s: Seq[Long] = runs
      .select(shiftright(col("first_docid"), cfg.groupShift).as("g0"))
      .distinct().orderBy("g0").as[Long].collect().toSeq
    val mgrpMap = g0s.zipWithIndex
      .map { case (g, i) => (g, (i >> ms).toLong) }
      .toDF("g0", "mgrp")
    val runCols = Encoders.product[PostingRun].schema.fieldNames.toSeq
    val merged = runs
      .withColumn("g0", shiftright(col("first_docid"), cfg.groupShift))
      .join(broadcast(mgrpMap), Seq("g0"))
      .repartition(col("term"), col("mgrp"))
      .sortWithinPartitions(col("term"), col("mgrp"), col("first_docid"))
      .select(struct(runCols.map(col): _*).as("_1"), col("mgrp").as("_2"))
      .as[(PostingRun, Long)]
      .mapPartitions { it =>
        val live: Long => Boolean = tombBc match {
          case None => _ => true
          case Some(b) => d => Deletes.live(b.value, d)
        }
        mergeSorted(it, live)
      }
    // docids (and their grp partition values) are globally unique across
    // epochs → docs are a plain union; collection stats are additive across
    // disjoint delta sets unless deletes are reclaimed
    IndexWriter.rewrite(spark, outDir, cfg, merged,
      srcDirs.map(d => spark.read.parquet(s"$d/$DocsDir")).reduce(_ unionByName _),
      tomb, if (tomb.isEmpty) Some(IndexWriter.readStats(spark, srcDirs)) else None)
  }
}
