package graft

/** Generates a DuckDB SQL replay of [[analysis.SnowballStemmer]] (English /
  * Porter2) — so the Snowball-stemmed gate entry (q_snowball_df) gets a
  * real independent oracle, like [[PorterSql]] does for Porter 1.
  *
  * Strategy mirrors PorterSql: one CTE per algorithm step over a
  * `swords(term)` relation (lowercase tokens), each step re-deriving what
  * it needs from the current word:
  *
  *  - consonant-y MARKING is done once up front exactly like the Scala
  *    left-to-right scan: `^y → Y`, then one GLOBAL `([aeiouy])y → \\1Y`
  *    pass — a marked `Y` can never enable a later vowel-y context, and
  *    regex scanning resumes after each non-overlapping match just like
  *    the char scan resumes after marking, so one pass is exact;
  *  - the cv map is then two plain regexp passes (`[aeiou] → v`, rest →
  *    `c`; marked `Y` falls out as a consonant with no iteration);
  *  - R1 = the special gener/commun/arsen prefixes or the position after
  *    the first `vc` transition (`instr(cv, 'vc')`); R2 = the same scan
  *    restarted at R1; both recomputed per step against the current word;
  *  - exception words and the ≤2-length guards FREEZE the row via a `frz`
  *    flag carried through every CTE (Exception1 + length guards up
  *    front, Exception2 after step 1a), matching the Scala early returns;
  *  - the final select unmarks `Y → y`.
  *
  * Cross-validated word-for-word against the Scala stemmer by
  * `tools.StemSqlCheck snowball` + scripts/snowball_sql_check (suffix battery +
  * y-edge cases).
  */
object SnowballSql {

  /** cv map of an already-Y-marked word: vowels = aeiou + UNMARKED y
    * (marked `Y` is a consonant). Consonants map first so a literal `v`
    * in the word cannot collide with the placeholder.
    */
  private def cvOf(col: String): String =
    s"regexp_replace(regexp_replace($col, '[^aeiouy]', 'c', 'g'), '[aeiouy]', 'v', 'g')"

  /** 0-based region start after the first `vc` transition at/after
    * 0-based `from`, else word length. `cvCol` may be a prefix substring.
    */
  private def vcPos(cvCol: String, from: String): String =
    s"(CASE WHEN instr(substr($cvCol, ($from) + 1), 'vc') > 0 " +
      s"THEN ($from) + instr(substr($cvCol, ($from) + 1), 'vc') + 1 " +
      s"ELSE len($cvCol) END)"

  /** R1 of the word `w` whose (possibly prefix-truncated) cv map is
    * `cvCol`: the three special prefixes, else the vc scan.
    */
  private def r1Of(w: String, cvCol: String): String =
    s"(CASE WHEN starts_with($w, 'gener') THEN 5 " +
      s"WHEN starts_with($w, 'commun') THEN 6 " +
      s"WHEN starts_with($w, 'arsen') THEN 5 " +
      s"ELSE ${vcPos(cvCol, "0")} END)"

  /** endsShortSyllable over the first `lt` chars of the marked word `w`
    * (whose full cv map is `cv`): length-2 `vc`, or `cvc` with a final
    * consonant that is not w/x/Y.
    */
  private def ess(w: String, cv: String, lt: String): String =
    s"((($lt) = 2 AND substr($cv, 1, 2) = 'vc') OR " +
      s"(($lt) >= 3 AND substr($cv, ($lt) - 2, 3) = 'cvc' " +
      s"AND substr($w, $lt, 1) NOT IN ('w', 'x', 'Y')))"

  /** Step-1b ed/ing removal + fixups for suffix length `s`: requires a
    * vowel in the stem, then at/bl/iz → +e, double → undouble,
    * short word → +e.
    */
  private def edFix(s: Int): String = {
    val lt = s"len(w) - $s"
    val t = s"substr(w, 1, $lt)"
    val shortWord =
      s"(${ess("w", "cv", lt)} AND ${r1Of(t, s"substr(cv, 1, $lt)")} >= ($lt))"
    s"""CASE WHEN NOT contains(substr(cv, 1, $lt), 'v') THEN w
       |  WHEN ($lt) >= 2 AND substr(w, ($lt) - 1, 2) IN ('at', 'bl', 'iz')
       |    THEN $t || 'e'
       |  WHEN ($lt) >= 2 AND substr(w, ($lt) - 1, 2) IN
       |       ('bb', 'dd', 'ff', 'gg', 'mm', 'nn', 'pp', 'rr', 'tt')
       |    THEN substr(w, 1, ($lt) - 1)
       |  WHEN $shortWord THEN $t || 'e'
       |  ELSE $t END""".stripMargin
  }

  /** Ordered replace rules with the R1 condition (a matched suffix whose
    * R1 test fails leaves the word unchanged — no shorter rule is tried).
    */
  private def r1Rules(rules: Seq[(String, String)]): Seq[String] =
    rules.map { case (s, r) =>
      val stemLen = s"len(w) - ${s.length}"
      s"""WHEN ends_with(w, '$s') THEN
         |  CASE WHEN ($stemLen) >= r1
         |       THEN substr(w, 1, $stemLen) || '$r' ELSE w END""".stripMargin
    }

  // Rule tables come straight from the engine's stemmer (private[graft])
  // — one source of truth, so a rule edit there can never silently diverge
  // the oracle (same sharing scheme as KStemSql). Exception1/2 are
  // unordered lookups; the step rules keep the stemmer's longest-match
  // order, which the generated CASE chain relies on.
  private val Exception1: Seq[(String, String)] =
    analysis.SnowballStemmer.Exception1.toSeq.sortBy(_._1)
  private val Exception2: Seq[String] =
    analysis.SnowballStemmer.Exception2.toSeq.sorted
  private val Step2Rules = analysis.SnowballStemmer.Step2Rules
  private val Step3Rules = analysis.SnowballStemmer.Step3Rules
  private val Step4Sufs = analysis.SnowballStemmer.Step4Sufs

  /** CTE chain from `swords(term)` (lowercase tokens) to
    * `snowball(term, stem)`. The caller embeds this after its own CTEs.
    */
  def ctes: String = {
    val exc1Vals = Exception1
      .map { case (a, b) => s"('$a','$b')" }.mkString(", ")
    val exc2Vals = Exception2.map(w => s"'$w'").mkString(", ")

    val pre =
      s"""sb0 AS (
         |  SELECT term,
         |    CASE WHEN starts_with(term, '''') THEN substr(term, 2)
         |         ELSE term END AS w0
         |  FROM swords),
         |sbexc1(ew, es) AS (VALUES $exc1Vals),
         |sb1 AS (
         |  SELECT term,
         |    CASE WHEN len(term) <= 2 THEN term
         |         WHEN es IS NOT NULL THEN es
         |         WHEN len(w0) <= 2 THEN w0
         |         ELSE regexp_replace(regexp_replace(w0, '^y', 'Y'),
         |                             '([aeiouy])y', '\\1Y', 'g') END AS w,
         |    (len(term) <= 2 OR es IS NOT NULL OR len(w0) <= 2) AS frz
         |  FROM sb0 LEFT JOIN sbexc1 ON ew = w0)""".stripMargin

    // step 0: longest of 's' / 's / '
    val s0 =
      s"""sb2 AS (
         |  SELECT term, frz, CASE WHEN frz THEN w
         |    WHEN ends_with(w, '''s''') THEN substr(w, 1, len(w) - 3)
         |    WHEN ends_with(w, '''s') THEN substr(w, 1, len(w) - 2)
         |    WHEN ends_with(w, '''') THEN substr(w, 1, len(w) - 1)
         |    ELSE w END AS w
         |  FROM sb1)""".stripMargin

    // step 1a + the Exception2 freeze after it
    val s1a =
      s"""sb3a AS (SELECT term, frz, w, ${cvOf("w")} AS cv FROM sb2),
         |sb3 AS (
         |  SELECT term, frz, CASE WHEN frz THEN w
         |    WHEN ends_with(w, 'sses') THEN substr(w, 1, len(w) - 2)
         |    WHEN ends_with(w, 'ied') OR ends_with(w, 'ies') THEN
         |      CASE WHEN len(w) - 3 > 1 THEN substr(w, 1, len(w) - 2)
         |           ELSE substr(w, 1, len(w) - 1) END
         |    WHEN ends_with(w, 'us') OR ends_with(w, 'ss') THEN w
         |    WHEN ends_with(w, 's') THEN
         |      CASE WHEN contains(substr(cv, 1, len(w) - 2), 'v')
         |           THEN substr(w, 1, len(w) - 1) ELSE w END
         |    ELSE w END AS w
         |  FROM sb3a),
         |sb4 AS (
         |  SELECT term, w, (frz OR w IN ($exc2Vals)) AS frz FROM sb3)""".stripMargin

    // step 1b
    val s1b =
      s"""sb5a AS (
         |  SELECT term, frz, w, ${cvOf("w")} AS cv,
         |         ${r1Of("w", "cv")} AS r1
         |  FROM sb4),
         |sb5 AS (
         |  SELECT term, frz, CASE WHEN frz THEN w
         |    WHEN ends_with(w, 'eedly') THEN
         |      CASE WHEN len(w) - 5 >= r1 THEN substr(w, 1, len(w) - 3) ELSE w END
         |    WHEN ends_with(w, 'eed') THEN
         |      CASE WHEN len(w) - 3 >= r1 THEN substr(w, 1, len(w) - 1) ELSE w END
         |    WHEN ends_with(w, 'ingly') THEN ${edFix(5)}
         |    WHEN ends_with(w, 'edly') THEN ${edFix(4)}
         |    WHEN ends_with(w, 'ing') THEN ${edFix(3)}
         |    WHEN ends_with(w, 'ed') THEN ${edFix(2)}
         |    ELSE w END AS w
         |  FROM sb5a)""".stripMargin

    // step 1c: terminal y/Y → i after a non-vowel that is not the first char
    val s1c =
      s"""sb6a AS (SELECT term, frz, w, ${cvOf("w")} AS cv FROM sb5),
         |sb6 AS (
         |  SELECT term, frz, CASE WHEN frz THEN w
         |    WHEN len(w) > 2 AND substr(w, len(w), 1) IN ('y', 'Y')
         |         AND substr(cv, len(w) - 1, 1) = 'c'
         |      THEN substr(w, 1, len(w) - 1) || 'i'
         |    ELSE w END AS w
         |  FROM sb6a)""".stripMargin

    // step 2: ordered rules in R1 + the ogi/li specials
    val s2Whens = r1Rules(Step2Rules) ++ Seq(
      s"""WHEN ends_with(w, 'ogi') THEN
         |  CASE WHEN len(w) - 3 >= r1 AND len(w) > 3
         |            AND substr(w, len(w) - 3, 1) = 'l'
         |       THEN substr(w, 1, len(w) - 1) ELSE w END""".stripMargin,
      s"""WHEN ends_with(w, 'li') THEN
         |  CASE WHEN len(w) - 2 >= r1 AND len(w) > 2
         |            AND substr(w, len(w) - 2, 1) IN
         |                ('c','d','e','g','h','k','m','n','r','t')
         |       THEN substr(w, 1, len(w) - 2) ELSE w END""".stripMargin)
    val s2 =
      s"""sb7a AS (
         |  SELECT term, frz, w, ${cvOf("w")} AS cv,
         |         ${r1Of("w", "cv")} AS r1
         |  FROM sb6),
         |sb7 AS (
         |  SELECT term, frz, CASE WHEN frz THEN w
         |${s2Whens.mkString("\n")}
         |    ELSE w END AS w
         |  FROM sb7a)""".stripMargin

    // step 3: ative needs R1 ∧ R2; the rest R1
    val s3 =
      s"""sb8a AS (
         |  SELECT term, frz, w, ${cvOf("w")} AS cv,
         |         ${r1Of("w", "cv")} AS r1, ${vcPos("cv", "r1")} AS r2
         |  FROM sb7),
         |sb8 AS (
         |  SELECT term, frz, CASE WHEN frz THEN w
         |    WHEN ends_with(w, 'ative') THEN
         |      CASE WHEN len(w) - 5 >= r1 AND len(w) - 5 >= r2
         |           THEN substr(w, 1, len(w) - 5) ELSE w END
         |${r1Rules(Step3Rules).mkString("\n")}
         |    ELSE w END AS w
         |  FROM sb8a)""".stripMargin

    // step 4: delete in R2; ion needs s/t before it
    val s4Whens =
      s"""WHEN ends_with(w, 'ion') THEN
         |  CASE WHEN len(w) - 3 >= r2 AND len(w) > 3
         |            AND substr(w, len(w) - 3, 1) IN ('s', 't')
         |       THEN substr(w, 1, len(w) - 3) ELSE w END""".stripMargin +:
      Step4Sufs.map { s =>
        val stemLen = s"len(w) - ${s.length}"
        s"""WHEN ends_with(w, '$s') THEN
           |  CASE WHEN ($stemLen) >= r2
           |       THEN substr(w, 1, $stemLen) ELSE w END""".stripMargin
      }
    val s4 =
      s"""sb9a AS (
         |  SELECT term, frz, w, ${cvOf("w")} AS cv,
         |         ${r1Of("w", "cv")} AS r1, ${vcPos("cv", "r1")} AS r2
         |  FROM sb8),
         |sb9 AS (
         |  SELECT term, frz, CASE WHEN frz THEN w
         |${s4Whens.mkString("\n")}
         |    ELSE w END AS w
         |  FROM sb9a)""".stripMargin

    // step 5: final e (R2, or R1 and no short syllable before it); final ll
    val s5 =
      s"""sb10a AS (
         |  SELECT term, frz, w, ${cvOf("w")} AS cv,
         |         ${r1Of("w", "cv")} AS r1, ${vcPos("cv", "r1")} AS r2
         |  FROM sb9),
         |sb10 AS (
         |  SELECT term, frz, CASE WHEN frz THEN w
         |    WHEN ends_with(w, 'e') THEN
         |      CASE WHEN len(w) - 1 >= r2 THEN substr(w, 1, len(w) - 1)
         |           WHEN len(w) - 1 >= r1
         |                AND NOT ${ess("w", "cv", "len(w) - 1")}
         |             THEN substr(w, 1, len(w) - 1)
         |           ELSE w END
         |    WHEN ends_with(w, 'l') THEN
         |      CASE WHEN len(w) - 1 >= r2 AND len(w) > 1
         |                AND substr(w, len(w) - 1, 1) = 'l'
         |           THEN substr(w, 1, len(w) - 1) ELSE w END
         |    ELSE w END AS w
         |  FROM sb10a)""".stripMargin

    val fin =
      """snowball AS (
        |  SELECT term, replace(w, 'Y', 'y') AS stem FROM sb10)""".stripMargin

    Seq(pre, s0, s1a, s1b, s1c, s2, s3, s4, s5, fin).mkString(",\n")
  }
}
