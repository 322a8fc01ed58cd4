package graft.index

import graft.analysis.AnalyzerConfig

/** One tokenized corpus row — the heavyweight intermediate the build
  * checkpoints (content is dropped here; terms carry per-doc tf computed
  * without any shuffle).
  */
final case class TokenizedDoc(
    docid: Long,
    docno: String,
    sha: String,
    dl: Int,
    terms: Array[TermTF]
)
/** Per-(doc, term): tf and, when `IndexConfig.indexPositions`, the in-doc
  * token positions of the tf occurrences (Lucene positionIncrement
  * semantics: stopped tokens consume a position); empty otherwise.
  */
final case class TermTF(term: String, tf: Int, pos: Array[Int] = Array.emptyIntArray)

/** Doc-length table row (≙ Lucene norms + stored docno: the reference
  * persists dl as a per-doc norm via `Similarity.computeNorm`,
  * `BM25.java:146-149`, and docno as a stored field). `sha` carries the
  * per-row content sha256 for the source-equality invariant.
  */
final case class DocRow(docid: Long, docno: String, sha: String, dl: Int)

/** Collection statistics (≙ `CollectionStatistics.maxDoc` /
  * `sumTotalTermFreq`, consumed at `BM25.java:58,71`).
  */
final case class StatsRow(max_doc: Long, sum_total_term_freq: Long)

/** One encoded posting run for (term, docid-range group) — the Spark-native
  * "segment" (reference analog: Lucene RAM-buffer flush segments,
  * `IndexTREC.java:98-101`). A term's full posting list is the docid-ordered
  * concatenation of its runs (grp ascending); queries union runs without
  * needing a single global row, which is what keeps hot (stop-like) terms
  * from skewing any single shuffle key.
  */
final case class PostingRun(
    term: String,
    bucket: Int, // hash(term) % buckets — the partition column queries prune on
    grp: Long,   // docid >> groupShift
    ndocs: Int,
    first_docid: Long,
    last_docid: Long,
    max_tf: Int,
    sum_tf: Long,
    doc_blob: Array[Byte],
    tf_blob: Array[Byte],
    dl_blob: Array[Byte],
    pos_blob: Array[Byte], // empty unless IndexConfig.indexPositions
    block_last_docid: Array[Long],
    block_max_tf: Array[Int],
    block_min_dl: Array[Int],
    block_doc_off: Array[Int],
    block_tf_off: Array[Int],
    block_dl_off: Array[Int],
    block_pos_off: Array[Int]
)

/** Per-term global statistics (≙ `TermStatistics.docFreq`, consumed at
  * `BM25.java:61,66`; cf = collection frequency).
  */
final case class TermStatsRow(term: String, bucket: Int, df: Long, max_tf: Int, cf: Long)

/** Index build configuration. The build writes posting runs directly at
  * merged granularity (2^mergeShift docid-range groups per run) — one
  * shuffle, with the segment merge happening inside the shuffle sort (the
  * Spark-native equivalent of Lucene's flush + merge); compaction
  * ([[SegmentMerger.compactIndexes]]) merges across indexes later.
  */
final case class IndexConfig(
    analyzer: AnalyzerConfig = AnalyzerConfig(),
    buckets: Int = 64,          // postings hash-partition fan-out (term pruning)
    groupShift: Int = 18,       // docid-range group = 2^18 docids
    mergeShift: Int = 4,        // 2^4 adjacent groups per final (merged) run
    rangePartitions: Int = 0,   // 0 = spark.sql.shuffle.partitions
    fingerprint: String = "keys", // "keys" | "none" — resume-safety fingerprint
    indexPositions: Boolean = false, // store in-doc positions (phrase queries)
    docidEpoch: Int = 0 // high docid bits (bit 52+): streaming batch isolation
) {
  require(docidEpoch >= 0 && docidEpoch < (1 << 11), "docidEpoch must fit 11 bits")
  // v5: deterministic ntile docid packing — rangePartitions now shapes the
  // docid layout, so it joins the id and a bump forces stale-stage rebuilds
  def id: String =
    s"v5;${analyzer.id};b=$buckets;g=$groupShift;m=$mergeShift;r=$rangePartitions;pos=$indexPositions;e=$docidEpoch"
}

object IndexLayout {
  /** Marker + config file of a completed index dir (written last). */
  val PropsFile = "_graft_index.properties"
  val TokenizedDir = "stage_tokenized"
  val DocsDir = "docs"
  val StatsDir = "stats"
  val PostingsDir = "postings"
  val TermStatsDir = "term_stats"
  /** Sorted-by-term vocabulary projection (term, len), len-partitioned:
    * prefix expansion becomes a pushed-down range scan over term-sorted row
    * groups and fuzzy expansion a length-banded partition-pruned scan —
    * never a full term_stats pass (whose hash buckets can't prune a
    * startsWith/levenshtein predicate).
    */
  val VocabDir = "vocab"
  /** Equality-delete batches ([[Deletes]]) living inside the index dir. */
  val DeletesDir = "deletes"

  /** Deterministic bucket for a term — must match between build and query.
    * Plain JVM string hash, made non-negative.
    */
  def bucketOf(term: String, buckets: Int): Int =
    math.floorMod(term.hashCode, buckets)
}
