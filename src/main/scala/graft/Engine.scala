package graft

import graft.analysis.AnalyzerConfig
import graft.corpus.Corpus
import graft.index.{BuiltIndex, IndexBuilder, IndexConfig}
import graft.search.Searcher
import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

/** Process-level facade: builds (or resumes) indexes under a work directory
  * and caches open handles, so the Verify/Bench drivers — which call many
  * [[SparkEntry.queries]] entries in one JVM — pay the build cost once per
  * (corpus, config). A second process pointed at the same work dir resumes
  * from the on-disk checkpoints instead of rebuilding ([[index.Checkpoint]]).
  */
object Engine {
  /** Analyzer used for the DuckDB-oracle-matched queries: whitespace
    * tokenize → lowercase → stop {a, the} — every step SQL-expressible.
    * Stemmed configs are exercised by ScalaTest goldens instead
    * (no stemmer exists in the oracle, SURVEY.md §5).
    */
  val OracleAnalyzer: AnalyzerConfig =
    AnalyzerConfig(tokenizer = "whitespace", stopWords = Set("a", "the"), stemmer = "none")

  val PorterAnalyzer: AnalyzerConfig =
    AnalyzerConfig(tokenizer = "whitespace", stopWords = Set("a", "the"), stemmer = "porter")

  /** `GRAFT_WORK_DIR`, else `target/graft-work` under the working directory
    * (the checkout a main such as `graft.Verify` runs from).
    */
  def workDir: String = sys.env.getOrElse("GRAFT_WORK_DIR",
    java.nio.file.Paths.get(System.getProperty("user.dir"), "target", "graft-work").toString)

  private val cache = TrieMap[String, BuiltIndex]()

  private def safeSf(sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9.]+", "_")

  /** Index of the documents-derived corpus at `sfDir` under `cfg`. */
  def indexFor(spark: SparkSession, sfDir: String, cfg: IndexConfig,
               tag: String): BuiltIndex = {
    val key = s"$sfDir|$tag|${cfg.id}"
    cache.getOrElseUpdate(key, {
      val dir = s"$workDir/idx_${safeSf(sfDir)}_$tag"
      IndexBuilder.build(Corpus.fromDocuments(spark, sfDir), dir, cfg, verifySha = true)
    })
  }

  /** Docnos the delete/purge gate entries tombstone: last docno digit 7
    * (⟺ `doc_id % 10 = 7` — docnos are zero-padded doc_ids, so the DuckDB
    * oracle replays the same set on the documents table directly).
    */
  def deleteSet(spark: SparkSession, sfDir: String) =
    Corpus.fromDocuments(spark, sfDir)
      .where(org.apache.spark.sql.functions.col("docno").endsWith("7"))
      .select("docno")

  /** The oracle index with the [[deleteSet]] tombstoned via an EXTERNAL
    * equality-delete overlay — the shared on-disk snapshot (and every
    * other entry reading it) stays delete-free. Idempotent across
    * sessions: the overlay batch is content-addressed.
    */
  def deletedOracleIndex(spark: SparkSession, sfDir: String): BuiltIndex =
    cache.getOrElseUpdate(s"$sfDir|deleted-oracle", {
      // memoized (r6): the overlay batch is content-addressed and the
      // handle immutable, so repeated entries share one handle — and with
      // it the lazily-loaded tombstone array — instead of re-reading the
      // delete parquet per entry
      val idx = oracleIndex(spark, sfDir)
      val overlay = s"$workDir/deletes_${safeSf(sfDir)}_oracle"
      graft.index.Deletes.writeDeletes(idx, deleteSet(spark, sfDir), overlay)
      idx.withDeletes(overlay)
    })

  /** The [[deletedOracleIndex]] physically purged — stats/df/cf recomputed
    * over survivors (the post-merge Lucene state). Resumes from a
    * completed purge on disk.
    */
  def purgedIndex(spark: SparkSession, sfDir: String): BuiltIndex =
    cache.getOrElseUpdate(s"$sfDir|purged", {
      graft.index.Deletes.purge(deletedOracleIndex(spark, sfDir),
        s"$workDir/idx_${safeSf(sfDir)}_purged")
    })

  /** Positions on: the oracle index also serves the phrase-query gate entry
    * (pos blobs are only decoded by phrase clauses; every other entry reads
    * the same columns as before). rangePartitions is PINNED (not inherited
    * from spark.sql.shuffle.partitions) because the deterministic docid
    * packing — and with it the q_postings_meta oracle's row_number replay —
    * is a function of the ntile fan-out: Verify (32 shuffle partitions) and
    * Bench (128) must mint byte-identical docids over the same corpus.
    */
  val OracleRangePartitions = 32

  def oracleIndex(spark: SparkSession, sfDir: String): BuiltIndex =
    indexFor(spark, sfDir,
      IndexConfig(analyzer = OracleAnalyzer, indexPositions = true,
        rangePartitions = OracleRangePartitions), "oracle")

  def porterIndex(spark: SparkSession, sfDir: String): BuiltIndex =
    indexFor(spark, sfDir, IndexConfig(analyzer = PorterAnalyzer,
      rangePartitions = OracleRangePartitions), "porter")

  /** Identifier-split analysis for the code-search gate entry. docids pin
    * to the oracle fan-out so checkpointed indexes are byte-identical
    * between Verify and Bench sessions.
    */
  val CodeAnalyzer: AnalyzerConfig =
    AnalyzerConfig(tokenizer = "code", stopWords = Set("a", "the"), stemmer = "none")

  def codeIndex(spark: SparkSession, sfDir: String): BuiltIndex =
    indexFor(spark, sfDir,
      IndexConfig(analyzer = CodeAnalyzer,
        rangePartitions = OracleRangePartitions), "code")

  /** 2-shingle analysis (≙ Elasticsearch `index_phrases` / a ShingleFilter
    * field): unigrams + word bigrams in one postings space — exact phrase
    * lookups become single-term reads.
    */
  val ShingleAnalyzer: AnalyzerConfig =
    AnalyzerConfig(stopWords = Set("a", "the"), shingleSize = 2)

  def shingleIndex(spark: SparkSession, sfDir: String): BuiltIndex =
    indexFor(spark, sfDir,
      IndexConfig(analyzer = ShingleAnalyzer,
        rangePartitions = OracleRangePartitions), "shingle")

  /** Trigram substring index ([[graft.index.TrigramIndex]], Zoekt-style)
    * over the raw corpus content — built once per corpus under the work
    * dir, resumed from its checkpoint manifest afterwards like every
    * other index surface.
    *
    * CACHING CONTRACT (ADVICE r5): like every Engine-level memo (index
    * handles, searchers, [[sortedDocs]]) this in-JVM cache checks the
    * corpus fingerprint only on FIRST access per JVM — fixture dirs are
    * immutable for the life of a driver/bench/test process. A workflow
    * that regenerates a fixture at the same path mid-JVM must start a new
    * process (exactly what the external driver does); the on-disk
    * checkpoint's fingerprint still protects every cross-process reuse.
    */
  private val trigramCache = TrieMap[String, org.apache.spark.sql.DataFrame]()

  def trigramIndex(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame =
    trigramCache.getOrElseUpdate(sfDir,
      graft.index.TrigramIndex.build(Corpus.fromDocuments(spark, sfDir),
        s"$workDir/trigram_${safeSf(sfDir)}"))

  /** Index-time sort projection on `path` ([[graft.index.SortedDocs]],
    * ≙ Lucene index sorting / ES index.sort.field) — built once per
    * corpus under the work dir, resumed from its checkpoint manifest.
    */
  private val sortedDocsCache = TrieMap[String, graft.index.SortedDocs.Table]()

  def sortedDocs(spark: SparkSession, sfDir: String): graft.index.SortedDocs.Table =
    sortedDocsCache.getOrElseUpdate(sfDir,
      graft.index.SortedDocs.build(Corpus.fromDocuments(spark, sfDir), "path",
        s"$workDir/sorted_path_${safeSf(sfDir)}"))

  /** The PATH field indexed as its own field index (code-tokenized path
    * segments), for multi-field retrieval: same corpus + same range
    * fan-out as [[codeIndex]], so the deterministic docid packing (a
    * function of the docno set alone) coincides and
    * [[graft.search.MultiField]] can combine the two on docid.
    */
  def pathIndex(spark: SparkSession, sfDir: String): BuiltIndex =
    cache.getOrElseUpdate(s"$sfDir|path", {
      import org.apache.spark.sql.functions.col
      val pathCorpus = Corpus.fromDocuments(spark, sfDir)
        .withColumn("content", col("path"))
      IndexBuilder.build(pathCorpus, s"$workDir/idx_${safeSf(sfDir)}_path",
        IndexConfig(analyzer = CodeAnalyzer,
          rangePartitions = OracleRangePartitions), verifySha = true)
    })

  /** ASCII-folding analyzer + the accented enrichment the fold gate entry
    * appends to every doc (uppercase accents exercise lowercase→fold
    * ordering, ß/œ/ĳ/þ the multi-char folds, Łódź Latin Extended-A, and
    * "thé" folds INTO the stop set — proving the fold runs before
    * stopping). Constant lives here so the index dir can be
    * content-addressed on it (the resume fingerprint is keys-only).
    */
  val FoldAnalyzer: AnalyzerConfig =
    AnalyzerConfig(tokenizer = "whitespace", stopWords = Set("a", "the"),
      stemmer = "none", foldAscii = true)

  val FoldEnrich: String =
    " Café NAÏVE Łódź cœur Straße Ĳsselmeer ñandú øre þorn thé"

  def foldIndex(spark: SparkSession, sfDir: String): BuiltIndex =
    cache.getOrElseUpdate(s"$sfDir|fold", {
      import org.apache.spark.sql.functions.{col, concat, lit}
      val enriched = Corpus.fromDocuments(spark, sfDir)
        .withColumn("content", concat(col("content"), lit(FoldEnrich)))
      val tag = s"fold_${java.lang.Integer.toHexString(FoldEnrich.hashCode)}"
      IndexBuilder.build(enriched,
        s"$workDir/idx_${safeSf(sfDir)}_$tag",
        IndexConfig(analyzer = FoldAnalyzer,
          rangePartitions = OracleRangePartitions), verifySha = true)
    })

  val MinStemAnalyzer: AnalyzerConfig =
    AnalyzerConfig(tokenizer = "whitespace", stopWords = Set("a", "the"),
      stemmer = "minimal")

  def minStemIndex(spark: SparkSession, sfDir: String): BuiltIndex =
    indexFor(spark, sfDir, IndexConfig(analyzer = MinStemAnalyzer,
      rangePartitions = OracleRangePartitions), "minstem")

  val SnowballAnalyzer: AnalyzerConfig =
    AnalyzerConfig(tokenizer = "whitespace", stopWords = Set("a", "the"),
      stemmer = "snowball")

  def snowballIndex(spark: SparkSession, sfDir: String): BuiltIndex =
    indexFor(spark, sfDir, IndexConfig(analyzer = SnowballAnalyzer,
      rangePartitions = OracleRangePartitions), "snowball")

  val KStemAnalyzer: AnalyzerConfig =
    AnalyzerConfig(tokenizer = "whitespace", stopWords = Set("a", "the"),
      stemmer = "kstem")

  def kstemIndex(spark: SparkSession, sfDir: String): BuiltIndex =
    indexFor(spark, sfDir, IndexConfig(analyzer = KStemAnalyzer,
      rangePartitions = OracleRangePartitions), "kstem")

  /** Tokenizer AND stemmer selected by fully-qualified class name — drives
    * the reflective plugin seam (≙ `TrecAnalyzer.java:63-70,78-103`
    * Class.forName) through a real index build rather than just a unit
    * test. The `$` suffix addresses the Scala object's singleton class.
    */
  val FqcnAnalyzer: AnalyzerConfig =
    AnalyzerConfig(tokenizer = "graft.analysis.ClassicLikeTokenizer",
      stopWords = Set("a", "the"), stemmer = "graft.analysis.PorterStemmer$")

  def fqcnIndex(spark: SparkSession, sfDir: String): BuiltIndex =
    indexFor(spark, sfDir, IndexConfig(analyzer = FqcnAnalyzer,
      rangePartitions = OracleRangePartitions), "fqcn")

  /** Searcher over the oracle index, memoized per corpus dir (r6
    * optimization): a Searcher carries only immutable per-index state —
    * the analyzer and the term→(df, cf) stats memo — so sharing one
    * instance across entries lets repeated topics skip the tiny
    * term_stats lookup job instead of paying it once per entry. Indexes
    * with overlays/deltas (delete, update, union) still construct their
    * own Searcher on their own handle.
    */
  private val searcherCache = TrieMap[(SparkSession, String), Searcher]()

  def searcher(spark: SparkSession, sfDir: String): Searcher =
    searcherCache.getOrElseUpdate((spark, sfDir),
      new Searcher(oracleIndex(spark, sfDir)))
}
