package graft.search

import graft.codec.SmallFloat315

/** Collection-level statistics used by all similarity models — the engine
  * analog of Lucene's `CollectionStatistics` as the reference consumes it
  * (`BM25.java:54-74`). Rank-identity hazards (SURVEY.md §7.5) are encoded
  * here: N is maxDoc as a Float, and adl is the long sumTotalTermFreq
  * divided by float N in FLOAT arithmetic, exactly `BM25.java:58,71`.
  */
final case class CollStats(maxDoc: Long, sumTotalTermFreq: Long) {
  val N: Float = maxDoc.toFloat
  val adl: Float = sumTotalTermFreq / N
}

/** Pluggable similarity — the engine analog of the reference's
  * reflectively-loaded `Similarity` classes (`BatchSearch.java:117-160`,
  * name map in `models:1-9`). A scorer is a pure function of
  * (tf, dl, docFreq, collection stats): `termWeight` is computed once per
  * query term (≙ `computeWeight`), `score` once per matched posting
  * (≙ `SimScorer.score`). All arithmetic is Float — rank identity requires
  * Float, not Double (SURVEY.md §7.5).
  */
trait Scorer extends Serializable {
  def name: String
  /** Per-term constant (≙ SimWeight.idf — `BM25.java:54-74`). `cf` is the
    * collection frequency (totalTermFreq), used by LM models.
    */
  def termWeight(docFreq: Long, cf: Long, stats: CollStats): Float
  /** Per-posting score (≙ SimScorer.score — `BM25.java:98-107`). `tf` is a
    * Float exactly like Lucene's `SimScorer.score(doc, freq)`: sloppy
    * phrase matching feeds fractional phrase frequencies
    * (Σ 1/(matchLength+1), the reference's `computeSlopFactor`,
    * `BM25.java:110-114`); integer term frequencies widen exactly.
    */
  def score(tf: Float, dl: Int, weight: Float, stats: CollStats): Float
  /** Combined weight for a multi-term clause (a PhraseQuery hands the
    * similarity ONE TermStatistics per phrase term). The reference's
    * multi-stats branch ACCUMULATES from 1.0f (`BM25.java:57,64-68`:
    * `idf = 1.0f; ... idf += log(...)` per term — including duplicated
    * phrase terms), a quirk preserved here; scoring then uses phraseFreq
    * as tf against this weight (`BM25.java:98-107` via ExactPhraseScorer).
    */
  def phraseWeight(termStats: Seq[(Long, Long)], stats: CollStats): Float = {
    var w = 1.0f
    termStats.foreach { case (df, cf) => w += termWeight(df, cf, stats) }
    w
  }
  /** Query-level normalization from the clause weights (≙ Similarity
    * .queryNorm over sumOfSquaredWeights). The reference's own models
    * override this to 1 (`BM25.java:44-47`); classic TF-IDF does not.
    */
  def queryNorm(clauseWeights: Seq[Float]): Float = 1.0f
  /** Coordination factor from matched/total clauses (≙ Similarity.coord;
    * reference models force 1, `BM25.java:39-42`).
    */
  def coord(overlap: Int, maxOverlap: Int): Float = 1.0f
  /** Whether block-max pruning is sound for this model: requires score
    * monotone increasing in tf, decreasing in dl, and coord ≡ 1 (a coord
    * < 1 makes the score of a doc depend on its missing clauses, so a
    * block bound would no longer bound it).
    */
  def supportsPruning: Boolean = true
}

object Scorer {
  /** Base-2 log in float — the reference's deliberate deviation from stock
    * Lucene's natural log (`BM25.java:35-38`: `log(x)/log(2)` cast to
    * float). The argument is a Float expression promoted to double exactly
    * as Java does at the `log(...)` call site.
    */
  @inline def log2(x: Float): Float =
    (math.log(x.toDouble) / math.log(2.0)).toFloat

  /** Registry keyed like the reference's `models` file (`models:1-9`). */
  def byName(name: String): Scorer = name.toLowerCase match {
    case "bm25"         => Bm25Scorer
    case "bm25e"        => Bm25eScorer
    case "tmpl"         => TmplScorer
    case "tmple"        => TmpleScorer
    case "bm25l"        => Bm25LuceneScorer
    case "defaultl"     => ClassicScorer
    case "lmdirichletl" => LmDirichletScorer
    case "dfrl"         => DfrScorer
    case "ibl"          => IbScorer
    // reflective FQCN fallback ≙ BatchSearch.java:155-158 Class.forName
    case _ => graft.analysis.Reflective.instance[Scorer](name, "scorer")
  }
}

/** Okapi BM25 with exact doc lengths — `BM25.java:20-107`. k1/b are fixed
  * constants: the reference's custom ctor is a self-assignment no-op and
  * the fields are static (`BM25.java:29-33`).
  */
object Bm25Scorer extends Scorer {
  val name = "bm25"
  val k1 = 1.2f
  val b = 0.75f

  /** idf = log2(1 + (N − n + 0.5)/(n + 0.5)), n and N as floats —
    * `BM25.java:60-63` (single-term branch; the multi-term accumulator is
    * dead code under boolean rewrite, SURVEY.md §2.6).
    */
  def termWeight(docFreq: Long, cf: Long, s: CollStats): Float = {
    val n: Float = docFreq.toFloat
    Scorer.log2(1.0f + (s.N - n + 0.5f) / (n + 0.5f))
  }

  /** K = k1·(1 − b + b·dl/adl); w = (k1+1)·tf / (K + tf) · idf —
    * `BM25.java:98-107` with dl = exact token count (`BM25.java:146-149`).
    */
  def score(tf: Float, dl: Int, idf: Float, s: CollStats): Float = {
    val tff = tf.toFloat
    val dlf = dl.toFloat
    val K = k1 * (1.0f - b + b * (dlf / s.adl))
    ((k1 + 1.0f) * tff) / (K + tff) * idf
  }
}

/** BM25 scoring through the lossy 1-byte SmallFloat315 doc length — the
  * reference's `BM25e` (`BM25e.java:104-113,151-165`; rationale
  * `NOTES.txt:182-245`). Our index stores exact dl; the encode→decode round
  * trip reproduces the lossy value the reference reads from its byte norm.
  */
object Bm25eScorer extends Scorer {
  val name = "bm25e"
  def termWeight(docFreq: Long, cf: Long, s: CollStats): Float =
    Bm25Scorer.termWeight(docFreq, cf, s)
  def score(tf: Float, dl: Int, idf: Float, s: CollStats): Float = {
    val dlf = SmallFloat315.NORM(SmallFloat315.floatToByte315(dl.toFloat) & 0xff)
    val tff = tf.toFloat
    val K = Bm25Scorer.k1 * (1.0f - Bm25Scorer.b + Bm25Scorer.b * (dlf / s.adl))
    ((Bm25Scorer.k1 + 1.0f) * tff) / (K + tff) * idf
  }
}

/** TF-IDF scaffold: idf = log2(N/n) but score ≡ 1.0 — the reference's
  * similarity template (`TMPL.java:37-58,80-90`); ranking degenerates to
  * the docid tie-break, which makes it a useful determinism probe.
  */
object TmplScorer extends Scorer {
  val name = "tmpl"
  def termWeight(docFreq: Long, cf: Long, s: CollStats): Float =
    Scorer.log2(s.N / docFreq.toFloat)
  def score(tf: Float, dl: Int, w: Float, s: CollStats): Float = 1.0f
}

/** Template with byte-encoded norms (`TMPLe.java:43-96`) — scores ≡ 1.0. */
object TmpleScorer extends Scorer {
  val name = "tmple"
  def termWeight(docFreq: Long, cf: Long, s: CollStats): Float =
    TmplScorer.termWeight(docFreq, cf, s)
  def score(tf: Float, dl: Int, w: Float, s: CollStats): Float = 1.0f
}
