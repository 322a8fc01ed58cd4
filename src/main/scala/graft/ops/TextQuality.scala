package graft.ops

import graft.search.TopK
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-document text-quality signals for training-data filtering. All
  * outputs are integer counts (ratios are trivially derived downstream) so
  * correctness checks and oracles stay float-free. Pure column expressions
  * — whole-stage-codegen-friendly, no UDFs.
  */
object TextQuality {

  /** (docno, n_raw_tokens, n_stop_tokens, n_wordish_tokens, sum_token_chars)
    * over whitespace tokens of the lowercased content; `stop` is the
    * engine's stop set.
    */
  def qualitySignals(corpus: DataFrame, stop: Set[String]): DataFrame = {
    val toks = filter(split(lower(col("content")), "\\s+"), t => t =!= "")
    val stopArr = array(stop.toSeq.sorted.map(lit): _*)
    corpus.select(
      col("docno"),
      size(toks).cast("long").as("n_raw_tokens"),
      size(filter(toks, t => array_contains(stopArr, t))).cast("long").as("n_stop_tokens"),
      size(regexp_extract_all(lower(col("content")), lit("[a-z]+"), lit(0)))
        .cast("long").as("n_wordish_tokens"),
      aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
        .cast("long").as("sum_token_chars"))
  }

  /** Language-model quality score (the CCNet / Gopher pipeline signal):
    * per-doc cross-entropy in bits under an interpolated BIGRAM model
    * trained on the corpus itself —
    * P(w₂|w₁) = λ·C(w₁w₂)/C(w₁) + (1−λ)·C(w₂)/T over the analyzed token
    * stream. Self-training means no OOV mass is needed (every token has
    * C(w) ≥ 1) and the whole computation is deterministic from the corpus
    * alone; low avg_bits flags repetitive/templated text, high avg_bits
    * flags gibberish — the two tails a quality filter trims.
    *
    * Scale shape: one analyzed pass emits in-row bigrams; unigram and
    * bigram counts are two hash-partitioned aggs; the probability attach
    * is three co-partitioned equi-joins (bigram table ⋈ C(w₁w₂) ⋈ C(w₁)
    * ⋈ C(w₂)); the per-doc reduce is one more hash agg. Never a driver
    * collect, never a cross join; count tables are corpus-vocabulary-sized
    * (shuffle keys are the terms themselves, same fan-out as the index
    * build's df agg). avg_bits rounds to 6 decimals so the double SUM's
    * order noise (±1e-15 relative, vs genuine inter-doc gaps ≥1e-3)
    * cannot flip an oracle compare — same margin argument as the
    * stock-model rank oracles.
    */
  def lmScore(corpus: DataFrame, analyzer: graft.analysis.Analyzer,
              lambda: Double = 0.9): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bigrams = corpus
      .select(col("docno").cast("string"), col("content").cast("string"))
      .as[(String, String)]
      .flatMap { case (docno, content) =>
        val toks = analyzer.analyze(if (content == null) "" else content)
        toks.iterator.sliding(2).withPartial(false)
          .map(w => (docno, w.head, w(1)))
      }.toDF("docno", "w1", "w2")
    val toks = corpus
      .select(col("docno").cast("string"), col("content").cast("string"))
      .as[(String, String)]
      .flatMap { case (docno, content) =>
        analyzer.analyze(if (content == null) "" else content)
          .iterator.map((docno, _))
      }.toDF("docno", "term")
    // vocabulary-sized; materialized once (typed lineage defeats exchange
    // reuse, and uni feeds BOTH probability joins plus the total) — the
    // token-sized bigram stream, by contrast, is recomputed for its two
    // consumers rather than materialized
    val uni = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val total = uni.agg(sum(col("c"))).as[Long].head()
    val big = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val c1 = uni.select(col("term").as("w1"), col("c").as("c1"))
    val c2 = uni.select(col("term").as("w2"), col("c").as("c2"))
    bigrams
      .join(big, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .join(c2, Seq("w2"))
      .select(col("docno"),
        (-log2(lit(lambda) * col("c12") / col("c1") +
          lit(1.0 - lambda) * col("c2") / lit(total.toDouble))).as("bits"))
      .groupBy(col("docno"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("sum_bits"))
      .select(col("docno"), col("n_bigrams").cast("long").as("n_bigrams"),
        round(col("sum_bits") / col("n_bigrams"), 6).as("avg_bits"))
  }

  /** BPE-ish pre-tokenizer segmentation (letter runs | digit runs | single
    * non-alphanumeric marks — the shape of a byte-pair pre-tokenizer's
    * coarse split), valid in both Java regex and RE2 so the DuckDB oracle
    * replays it verbatim.
    */
  val BpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Term co-occurrence pair document frequency (the query-expansion /
    * related-terms table). `docTerms` is (docno, ts: array<string>) with
    * per-doc DISTINCT terms (the index's tokenized stage emits exactly
    * that). Unordered pairs (a < b) are generated IN-ROW by a pure column
    * expression — no doc-level self-join ever materializes; the fan-out is
    * bounded by each doc's type count squared, and at web scale the
    * pairing vocabulary gets a df band exactly like the MinHash shingle
    * filter.
    */
  def coocPairs(docTerms: DataFrame, minCoDf: Long = 2): DataFrame = {
    val u = array_sort(col("ts"))
    val pairs = flatten(transform(u, (a, i) =>
      transform(slice(u, i + lit(2), size(u)),
        b => struct(a.as("term_a"), b.as("term_b")))))
    docTerms.select(explode(pairs).as("p"))
      .select(col("p.term_a"), col("p.term_b"))
      .groupBy("term_a", "term_b")
      .agg(count(lit(1)).cast("long").as("co_df"))
      .where(col("co_df") >= minCoDf)
  }

  /** Per-doc token budgeting counts for an LLM-data pipeline: whitespace
    * tokens (from [[qualitySignals]]) plus BPE-ish segment counts over the
    * content AND the path (paths exercise the digit/punctuation branches),
    * and digit-run counts. Integer-only, pure codegen expressions.
    */
  def tokenCounts(corpus: DataFrame): DataFrame =
    corpus.select(
      col("docno"),
      size(regexp_extract_all(lower(col("content")), lit(BpeishPattern), lit(0)))
        .cast("long").as("n_bpeish"),
      size(regexp_extract_all(lower(col("path")), lit(BpeishPattern), lit(0)))
        .cast("long").as("n_path_bpeish"),
      size(regexp_extract_all(lower(col("content")), lit("[0-9]+"), lit(0)))
        .cast("long").as("n_digit_runs"))

  /** EXACT discrete percentiles of a bounded-domain Long column — the
    * token-count distribution report a training-data pipeline publishes
    * (and the partition-sizing input: p99 doc length drives
    * maxPartitionBytes/seq-pack choices). percentile_disc semantics with
    * integer-exact rank arithmetic: for percent p (an INTEGER 1..100),
    * the smallest value whose cumulative count ≥ ⌈p·n/100⌉ — no floating
    * ceil, so a replay in any engine lands on the same row (0.9·n in
    * binary floating point can fall either side of the integer).
    *
    * Scale shape: ONE count-by-value aggregation shuffle (map-side
    * partial), then a driver-side cumulative walk over the DISTINCT
    * values — correct for bounded domains (doc lengths, quality scores,
    * year buckets: distinct values ≤ ~10⁶ regardless of row count; at
    * 10¹² docs the distinct-dl set is still ≤ max doc length). NOT for
    * unbounded/continuous domains — that wants iterative rank selection,
    * which no gate column needs.
    */
  def exactPercentiles(values: DataFrame, valueCol: String,
                       pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"percents must be integers in 1..100, got $pcts")
    val spark = values.sparkSession
    import spark.implicits._
    val counts: Array[(Long, Long)] = values
      .groupBy(col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
      .orderBy("v").as[(Long, Long)].collect()
    val n = counts.iterator.map(_._2).sum
    require(n > 0, "exactPercentiles over an empty input")
    val rows = pcts.sorted.map { p =>
      val rank = (p.toLong * n + 99L) / 100L // ⌈p·n/100⌉, integer-exact
      var cum = 0L
      var picked = counts.last._1
      val it = counts.iterator
      var found = false
      while (it.hasNext && !found) {
        val (v, c) = it.next()
        cum += c
        if (cum >= rank) { picked = v; found = true }
      }
      (p.toLong, picked)
    }
    rows.toDF("pct", valueCol)
  }

  /** Default marker profiles for [[langMarkers]]/[[classifyLang]] — a
    * real n-gram model slots into the same shape.
    */
  val DefaultProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"))

  /** Language classification by marker-count argmax: (docno, lang,
    * n_markers); ties keep the EARLIEST profile in `profiles` order (the
    * fold below uses strict >), zero evidence → "und". Pure column
    * expressions (no UDF).
    */
  def classifyLang(corpus: DataFrame,
                   profiles: Seq[(String, Seq[String])] = DefaultProfiles): DataFrame = {
    val toks = filter(split(lower(col("content")), "\\s+"), t => t =!= "")
    val scored = profiles.map { case (lang, words) =>
      val arr = array(words.map(lit): _*)
      struct(size(filter(toks, t => array_contains(arr, t))).cast("long").as("n"),
        lit(lang).as("lang"))
    }
    val best = scored.reduceLeft { (a, b) =>
      when(b.getField("n") > a.getField("n"), b).otherwise(a)
    }
    corpus.select(col("docno"),
      when(best.getField("n") > 0, best.getField("lang")).otherwise(lit("und")).as("lang"),
      best.getField("n").as("n_markers"))
  }

  /** Per-document keyword extraction: the top-k most distinctive terms by
    * tf·idf with idf = ln(N/df) — the classic corpus-analysis op a
    * training pipeline uses for topic tagging/weighting. Deterministic
    * rank: (score desc, term asc), with the score rounded to 10 decimals
    * before ranking so mathematically-equal scores from DISTINCT (tf, df)
    * pairs (e.g. 2·ln2 vs ln4) tie identically in every engine — ln() is
    * only ~1-ulp accurate and not identically rounded across libms, while
    * genuine tf·idf gaps are orders of magnitude above 1e-10 (same
    * collapse the stock-scorer oracles use). The per-docno top-k is
    * [[graft.search.TopK.ranked]] (fine-grained keys — no global sort).
    */
  def topKeywords(tf: DataFrame, df: DataFrame, nDocs: Long,
                  k: Int): DataFrame = {
    val scored = tf.join(df, "term")
      .select(col("docno"), col("term"),
        round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 10).as("s"))
    TopK.ranked(scored, Seq("docno"), Seq(desc("s"), asc("term")), k)
      .select(col("docno"), col("term"), col("rank").as("kw_rank"))
  }

  /** Crude language-evidence counts: occurrences of a few high-frequency
    * marker words per language family (a real n-gram model would slot in
    * here; the synthetic corpus shares one vocabulary, so this op's value
    * is its shape: pure-expression scoring over marker arrays).
    */
  def langMarkers(corpus: DataFrame): DataFrame = {
    val toks = filter(split(lower(col("content")), "\\s+"), t => t =!= "")
    def markers(name: String, words: Seq[String]) = {
      val arr = array(words.map(lit): _*)
      size(filter(toks, t => array_contains(arr, t))).cast("long").as(name)
    }
    corpus.select(
      col("docno"),
      markers("n_en_markers", Seq("the", "a", "and", "of", "is")),
      markers("n_de_markers", Seq("der", "die", "das", "und", "ist")),
      markers("n_es_markers", Seq("el", "la", "los", "y", "es")))
  }
}
