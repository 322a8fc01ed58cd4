package graft.index

import graft.search.TopK
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trigram substring index — the Zoekt / Google-Code-Search design
  * (R. Cox, "Regular Expression Matching with a Trigram Index", 2012):
  * every document posts its DISTINCT character 3-grams, and a literal
  * substring query intersects the posting lists of the needle's trigrams
  * to get a candidate set that is then verified against the raw content.
  *
  * This is the one retrieval shape the token inverted index cannot serve:
  * a literal needle that crosses token boundaries ("merge slow") or starts
  * mid-identifier ("w qu") never equals an analyzed term, so term postings
  * can't prune for it — grep-style code search at 10^12 files needs its
  * own index. The reference has no analog (its Lucene stack is term-only);
  * the design here is the published trigram-index algorithm re-expressed
  * as a Dataset pipeline.
  *
  * Scale shape:
  *  - the gram table is (bucket, gram, docno), bucketed by
  *    [[IndexLayout.bucketOf]] exactly like term postings, written
  *    partitioned by bucket and sorted by gram within files — a needle's
  *    lookup prunes to its grams' bucket partitions with the gram
  *    predicate pushed to the parquet row groups;
  *  - per-doc gram sets are built in one narrow flatMap (no shuffle);
  *    the only build shuffle is the bucket clustering write;
  *  - candidates per query are bounded by the needle's rarest trigram's
  *    document frequency (the Zoekt bound); only those docs' content is
  *    ever read for verification, via a docno equi-join the optimizer
  *    broadcasts when the candidate set is small;
  *  - verification + occurrence counting is `replace`-based (codegen'd
  *    string ops, non-overlapping count — the same semantics as the
  *    DuckDB oracle's `replace`), never a regex.
  */
object TrigramIndex {

  /** Bucket fan-out; matches the term-postings layout so the same
    * mental model (and the same pruning assertions) apply.
    */
  val Buckets = 32

  /** Distinct character trigrams of `s`, first-occurrence order. */
  def grams(s: String): Array[String] = {
    if (s == null || s.length < 3) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + 3 <= s.length) {
      seen.add(s.substring(i, i + 3))
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  private val Stage = "trigram"

  /** Build (or resume from) the gram table at `dir` from a corpus exposing
    * `docno` + `content`. Resumable like every index stage: a completed
    * build with a matching corpus fingerprint is reused as-is; publication
    * is atomic (tmp + rename) so a killed build never leaves a
    * half-written table that passes for complete.
    */
  def build(corpus: DataFrame, dir: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val row = corpus
      .agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("docno"))), lit(0L)))
      .head()
    val fp = s"n=${row.getLong(0)};h=${java.lang.Long.toHexString(row.getLong(1))}"
    if (!Checkpoint.isComplete(dir, fp, Stage, conf)) {
      val t0 = System.nanoTime()
      val pairs = corpus.select("docno", "content").as[(String, String)]
        .flatMap { case (docno, content) =>
          grams(content).iterator.map(g =>
            (IndexLayout.bucketOf(g, Buckets), g, docno))
        }
        .toDF("bucket", "gram", "docno")
      Checkpoint.atomically(dir, conf) { tmp =>
        pairs
          .repartition(Buckets, col("bucket"))
          .sortWithinPartitions("gram", "docno")
          .write.partitionBy("bucket").parquet(tmp)
      }
      val n = spark.read.parquet(dir).count()
      Checkpoint.writeManifest(dir,
        Checkpoint.Manifest(Stage, fp, Stage, n,
          (System.nanoTime() - t0) / 1000000L, Nil), conf)
    }
    read(spark, dir)
  }

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Gram document frequencies straight off the gram table — the
    * index-certifying surface (≙ term_stats for term postings).
    */
  def gramDf(gramTable: DataFrame): DataFrame =
    gramTable.groupBy("gram")
      .agg(count(lit(1)).cast("long").as("ndocs"))
      .orderBy("gram")

  /** Literal substring top-k over the gram table: for each (qid, needle)
    * — needle length ≥ 3, no analysis, exact bytes — rank verified
    * documents by non-overlapping occurrence count (desc, docno asc) and
    * keep the first `k`. Rank is 0-based like every other collector here.
    *
    * Candidate generation reads ONLY the needle grams' buckets with the
    * gram predicate pushed down; a doc is a candidate iff it posts every
    * distinct gram of the needle (count equality — the gram table is
    * distinct per (gram, docno) by construction). False positives (all
    * grams present but never contiguous) die in the verify join.
    */
  def substringTopK(corpus: DataFrame, gramTable: DataFrame,
                    needles: Seq[(String, String)], k: Int): DataFrame =
    TopK.ranked(verifiedHits(corpus, gramTable, needles),
        Seq("qid"), Seq(desc("hits"), asc("docno")), k)
      .select(col("qid"), col("docno"), col("hits"), col("rank"))

  /** The shared candidate + verify stage behind [[substringTopK]] and
    * [[grepSearch]]: (qid, docno, hits > 0) for each needle.
    */
  private def verifiedHits(corpus: DataFrame, gramTable: DataFrame,
                           needles: Seq[(String, String)]): DataFrame = {
    require(needles.nonEmpty, "substring search needs at least one needle")
    needles.foreach { case (qid, n) =>
      require(n.length >= 3, s"needle for qid=$qid is shorter than a trigram: '$n'")
    }
    require(needles.map(_._1).distinct.size == needles.size,
      "duplicate qids in one substring batch")
    val spark = corpus.sparkSession
    import spark.implicits._

    val qgramRows = needles.flatMap { case (qid, n) =>
      grams(n).map(g => (qid, g))
    }
    val allGrams = qgramRows.map(_._2).distinct
    val buckets = allGrams.map(IndexLayout.bucketOf(_, Buckets)).distinct
    val qgrams = qgramRows.toDF("qid", "gram")
    val needs = needles.map { case (qid, n) => (qid, n, grams(n).length) }
      .toDF("qid", "needle", "need")

    val cands = gramTable
      .where(col("bucket").isin(buckets: _*) && col("gram").isin(allGrams: _*))
      .join(broadcast(qgrams), Seq("gram"))
      .groupBy("qid", "docno").agg(count(lit(1)).as("ng"))
      .join(broadcast(needs), Seq("qid"))
      .where(col("ng") === col("need"))
      .select("qid", "docno", "needle")

    cands
      .join(corpus.select("docno", "content"), Seq("docno"))
      .withColumn("hits",
        ((length(col("content")) -
          length(replace(col("content"), col("needle"), lit("")))) /
          length(col("needle"))).cast("long"))
      .where(col("hits") > 0)
      .select("qid", "docno", "hits")
  }

  /** The code-search grep flagship: literal substring search composed
    * with an attribute filter and per-repo collapse — "grep the corpus
    * for this string, only `lang` files, one best file per repo" (the
    * Zoekt result shape). Winner per (qid, repo) = hits desc, docno asc;
    * final rank over winners the same way. The filter and collapse run on
    * the candidate-bounded verified stream, never the corpus.
    */
  def grepSearch(corpus: DataFrame, gramTable: DataFrame,
                 needles: Seq[(String, String)], k: Int,
                 lang: Option[String] = None): DataFrame = {
    val hits = verifiedHits(corpus, gramTable, needles)
    val attrs = corpus.select(col("docno"), col("repo"), col("lang"))
    val filtered = lang match {
      case Some(l) => hits.join(attrs.where(col("lang") === l), Seq("docno"))
      case None => hits.join(attrs, Seq("docno"))
    }
    val order = Seq(desc("hits"), asc("docno"))
    TopK.ranked(TopK.ranked(filtered, Seq("qid", "repo"), order, 1), Seq("qid"), order, k)
      .select(col("qid"), col("docno"), col("repo"), col("hits"), col("rank"))
  }

  /** Expand a restricted regex — literal text with non-nested `(a|b|c)`
    * alternation groups — into its full set of literal strings, pattern
    * order (left group varies slowest, like RE2's alternation preference
    * order at each position). The grammar is exactly the fragment the
    * trigram query planner can serve losslessly (Cox §"Regular Expression
    * Matching with a Trigram Index": alternation → OR of the branches'
    * AND-gram queries); stars/classes would need gram-query weakening,
    * which this engine refuses rather than approximates.
    */
  def expandAlternation(pattern: String, maxLiterals: Int = 64): Seq[String] = {
    var parts = List("")
    var i = 0
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '(' =>
          val close = pattern.indexOf(')', i)
          require(close > i, s"unclosed group in pattern: $pattern")
          val branches = pattern.substring(i + 1, close).split("\\|", -1).toSeq
          require(branches.forall(b => !b.contains("(")),
            s"nested groups unsupported: $pattern")
          parts = parts.flatMap(p => branches.map(p + _))
          require(parts.size <= maxLiterals,
            s"alternation expands past $maxLiterals literals: $pattern")
          i = close + 1
        case '|' | ')' =>
          throw new IllegalArgumentException(s"stray '${pattern.charAt(i)}' in: $pattern")
        case c =>
          parts = parts.map(_ + c)
          i += 1
      }
    }
    parts
  }

  /** Count the leftmost-first non-overlapping matches of an ordered
    * literal alternation in `content` — at each scan position the
    * earliest-starting match wins, ties broken by pattern order, and the
    * scan resumes after the match (exactly RE2/Java alternation-of-
    * literals semantics, and DuckDB's `regexp_extract_all` count).
    */
  def alternationHits(content: String, literals: Array[String]): Long = {
    var from = 0
    var hits = 0L
    while (from <= content.length) {
      var best = -1
      var bestLit: String = null
      var j = 0
      while (j < literals.length) {
        val p = content.indexOf(literals(j), from)
        if (p >= 0 && (best < 0 || p < best)) { best = p; bestLit = literals(j) }
        j += 1
      }
      if (best < 0) return hits
      hits += 1
      from = best + bestLit.length
    }
    hits
  }

  /** Regex top-k through the trigram index — the full Cox plan for the
    * supported grammar: each pattern expands to literal branches
    * ([[expandAlternation]]), a doc is a candidate iff it posts every
    * trigram of AT LEAST ONE branch (OR over branches of AND-gram
    * intersections, evaluated in one grouped pass over the needle grams'
    * bucket-pruned postings), and candidates are verified + counted with
    * [[alternationHits]]. Rank: hits desc, docno asc, 0-based.
    */
  def regexTopK(corpus: DataFrame, gramTable: DataFrame,
                patterns: Seq[(String, String)], k: Int): DataFrame = {
    require(patterns.nonEmpty, "regexTopK needs at least one pattern")
    require(patterns.map(_._1).distinct.size == patterns.size,
      "duplicate qids in one regex batch")
    val spark = corpus.sparkSession
    import spark.implicits._

    // (qid, branch index, literal) — every branch must carry a trigram
    val branches: Seq[(String, Int, String)] = patterns.flatMap { case (qid, p) =>
      val ls = expandAlternation(p)
      ls.foreach(l => require(l.length >= 3,
        s"branch '$l' of qid=$qid is shorter than a trigram"))
      ls.zipWithIndex.map { case (l, bi) => (qid, bi, l) }
    }
    val litsByQid: Map[String, Array[String]] =
      branches.groupBy(_._1).map { case (q, bs) =>
        q -> bs.sortBy(_._2).map(_._3).toArray
      }
    val bgrams = branches.flatMap { case (qid, bi, l) =>
      grams(l).map(g => (qid, bi, g))
    }
    val needs = branches.map { case (qid, bi, l) => (qid, bi, grams(l).length) }
      .toDF("qid", "branch", "need")
    val allGrams = bgrams.map(_._3).distinct
    val buckets = allGrams.map(IndexLayout.bucketOf(_, Buckets)).distinct

    // one grouped pass: docs × matched (qid, branch) gram counts; a doc
    // is a candidate for qid iff some branch reaches its full gram count
    val cands = gramTable
      .where(col("bucket").isin(buckets: _*) && col("gram").isin(allGrams: _*))
      .join(broadcast(bgrams.toDF("qid", "branch", "gram")), Seq("gram"))
      .groupBy("qid", "branch", "docno").agg(count(lit(1)).as("ng"))
      .join(broadcast(needs), Seq("qid", "branch"))
      .where(col("ng") === col("need"))
      .select("qid", "docno").distinct()

    val litsBc = spark.sparkContext.broadcast(litsByQid)
    val verified = cands
      .join(corpus.select("docno", "content"), Seq("docno"))
      .select("qid", "docno", "content").as[(String, String, String)]
      .map { case (qid, docno, content) =>
        (qid, docno, alternationHits(content, litsBc.value(qid)))
      }
      .toDF("qid", "docno", "hits")
      .where(col("hits") > 0)

    TopK.ranked(verified, Seq("qid"), Seq(desc("hits"), asc("docno")), k)
      .select(col("qid"), col("docno"), col("hits").cast("long").as("hits"), col("rank"))
  }
}
