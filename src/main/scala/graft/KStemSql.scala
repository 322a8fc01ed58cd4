package graft

import graft.analysis.KStemmer

/** Generates a DuckDB SQL replay of [[analysis.KStemmer]] — so the
  * KStem-stemmed gate entry (q_kstem_df) gets a real independent oracle,
  * completing the stemmer set next to [[PorterSql]] and [[SnowballSql]].
  *
  * The direct-conflation exception table and the embedded head-word
  * lexicon become VALUES relations (the SQL replays THIS repo's documented
  * KStem variant — the deviation from Lucene's 30k-dictionary KStemFilter
  * is documented on [[analysis.KStemmer]] and unchanged by this oracle).
  * Lexicon membership tests are correlated EXISTS probes; the three
  * inflectional steps (plural, past tense, aspect) are one CTE each with
  * the freeze-on-lexicon-hit semantics of the Scala early returns carried
  * in a `frz` flag.
  *
  * Cross-validated word-for-word against the Scala stemmer by
  * `tools.StemSqlCheck kstem` + scripts/kstem_sql_check.
  */
object KStemSql {

  private def inLex(expr: String): String =
    s"EXISTS (SELECT 1 FROM klex WHERE kw = ($expr))"

  private def vowelAt(w: String, pos1: String): String =
    s"substr($w, $pos1, 1) IN ('a', 'e', 'i', 'o', 'u', 'y')"

  /** undoDouble applies? final two chars equal and in the doubling set. */
  private def isDouble(w: String, lt: String): String =
    s"(($lt) >= 2 AND substr($w, $lt, 1) = substr($w, ($lt) - 1, 1) " +
      s"AND substr($w, $lt, 1) IN ('b','d','f','g','m','n','p','r','t'))"

  /** maybeRestoreE over the prefix of length `lt` of `w`: lexicon hit,
    * lexicon hit with 'e', else the CVC-with-softening-final heuristic.
    */
  private def restoreE(w: String, lt: String): String = {
    val t = s"substr($w, 1, $lt)"
    s"""CASE WHEN ${inLex(t)} THEN $t
       |  WHEN ${inLex(s"$t || 'e'")} THEN $t || 'e'
       |  WHEN ($lt) >= 3 AND NOT ${vowelAt(w, lt)}
       |       AND ${vowelAt(w, s"($lt) - 1")}
       |       AND NOT ${vowelAt(w, s"($lt) - 2")}
       |       AND substr($w, $lt, 1) NOT IN ('w', 'x', 'y')
       |       AND substr($w, $lt, 1) IN ('v', 'c', 'g', 's', 'z', 'u')
       |    THEN $t || 'e'
       |  ELSE $t END""".stripMargin
  }

  /** ed/ing step body for suffix length `s`: doubled consonant → undouble
    * (provably no dropped e), else e-restoration.
    */
  private def stripFix(s: Int): String = {
    val lt = s"len(w) - $s"
    s"""CASE WHEN ${isDouble("w", lt)} THEN substr(w, 1, ($lt) - 1)
       |  ELSE ${restoreE("w", lt)} END""".stripMargin
  }

  /** CTE chain from `kwords(term)` (lowercase tokens) to
    * `kstem(term, stem)`. The caller embeds this after its own CTEs.
    */
  def ctes: String = {
    val directVals = KStemmer.DirectConflations.toSeq.sorted
      .map { case (a, b) => s"('$a','$b')" }.mkString(", ")
    val lexVals = KStemmer.Lexicon.toSeq.sorted
      .map(wd => s"('$wd')").mkString(", ")

    val pre =
      s"""kdirect(dw, dhead) AS (VALUES $directVals),
         |klex(kw) AS (VALUES $lexVals),
         |k0 AS (
         |  SELECT term,
         |    CASE WHEN len(term) <= 2 THEN term
         |         WHEN dhead IS NOT NULL THEN dhead
         |         ELSE term END AS w,
         |    (len(term) <= 2 OR dhead IS NOT NULL
         |     OR ${inLex("term")}) AS frz
         |  FROM kwords LEFT JOIN kdirect ON dw = term)""".stripMargin

    // plural step + freeze on lexicon hit
    val plural =
      s"""k1a AS (
         |  SELECT term, frz, CASE WHEN frz THEN w
         |    WHEN ends_with(w, 'ies') AND len(w) > 4
         |      THEN substr(w, 1, len(w) - 3) || 'y'
         |    WHEN ends_with(w, 'sses') THEN substr(w, 1, len(w) - 2)
         |    WHEN ends_with(w, 'xes') OR ends_with(w, 'ches')
         |         OR ends_with(w, 'shes') OR ends_with(w, 'zes')
         |      THEN substr(w, 1, len(w) - 2)
         |    WHEN ends_with(w, 'ves') AND len(w) > 4
         |         AND (${inLex("substr(w, 1, len(w) - 3) || 'f'")}
         |              OR ${inLex("substr(w, 1, len(w) - 3) || 'fe'")}) THEN
         |      CASE WHEN ${inLex("substr(w, 1, len(w) - 3) || 'f'")}
         |           THEN substr(w, 1, len(w) - 3) || 'f'
         |           ELSE substr(w, 1, len(w) - 3) || 'fe' END
         |    WHEN ends_with(w, 's') AND NOT ends_with(w, 'ss')
         |         AND NOT ends_with(w, 'us') AND len(w) > 3
         |      THEN substr(w, 1, len(w) - 1)
         |    ELSE w END AS w
         |  FROM k0),
         |k1 AS (SELECT term, w, (frz OR ${inLex("w")}) AS frz FROM k1a)""".stripMargin

    // past-tense step + freeze
    val past =
      s"""k2a AS (
         |  SELECT term, frz, CASE WHEN frz THEN w
         |    WHEN ends_with(w, 'ied') AND len(w) > 4
         |      THEN substr(w, 1, len(w) - 3) || 'y'
         |    WHEN ends_with(w, 'ed') AND len(w) > 4 THEN ${stripFix(2)}
         |    ELSE w END AS w
         |  FROM k1),
         |k2 AS (SELECT term, w, (frz OR ${inLex("w")}) AS frz FROM k2a)""".stripMargin

    // aspect step (requires a vowel in the stripped stem)
    val aspect =
      s"""k3 AS (
         |  SELECT term, CASE WHEN frz THEN w
         |    WHEN ends_with(w, 'ing') AND len(w) > 5
         |         AND regexp_matches(substr(w, 1, len(w) - 3), '[aeiouy]')
         |      THEN ${stripFix(3)}
         |    ELSE w END AS w
         |  FROM k2)""".stripMargin

    val fin = "kstem AS (SELECT term, w AS stem FROM k3)"

    Seq(pre, plural, past, aspect, fin).mkString(",\n")
  }
}
