package graft

/** Generates a DuckDB SQL replay of [[analysis.PorterStemmer]] — so the
  * stemmed-index gate entry (q_porter_df) gets a real independent oracle
  * (DuckDB's own `stem()` lives in the FTS extension, which cannot be
  * installed in this zero-egress sandbox).
  *
  * Strategy: one CTE per Porter step over a `words(term)` relation. Each
  * step that needs measure/vowel conditions first materializes the word's
  * consonant-vowel map `cv` (a string over {c, v}), built by mapping
  * non-y consonants → c, aeiou → v, then resolving `y` left-to-right with
  * iterated regexp passes (`y` is a consonant at position 0 or after a
  * vowel — Porter's recursive cons() rule). Conditions then become string
  * ops: m(stem) = count of `v+c` runs in the cv prefix, vowel-in-stem =
  * cv prefix contains `v`, cvc/doublec = fixed-offset substrings.
  *
  * Equivalence notes (mirrors PorterStemmer.scala exactly):
  * - the Scala dispatch on the word's penultimate (step 2/4) / last
  *   (step 3) character is dropped: every suffix of length ≥ 2 that
  *   matches a word shares the word's penultimate character, so all
  *   candidate suffixes fall in ONE dispatch branch and a flat ordered
  *   CASE (within-branch order preserved) selects the same rule;
  * - a matched suffix whose m-condition fails leaves the word unchanged
  *   (no shorter suffix is tried) — encoded as a nested CASE;
  * - step 5b's m() runs over the word after the 5a e-drop; the Scala code
  *   includes the dropped trailing e in b[0..j], but a trailing vowel
  *   never completes a VC pair, so m is identical.
  *
  * Cross-validated word-for-word against the Scala stemmer by
  * `tools.StemSqlCheck porter` + scripts/porter_sql_check (suffix battery +
  * corpus vocabulary).
  */
object PorterSql {

  /** cv-map expression for a lowercase word column. `passes` bounds the
    * resolvable y-run length (≈2 per pass; 16 passes ≫ any real word).
    */
  private def cvExpr(col: String, passes: Int = 16): String = {
    val base =
      s"regexp_replace(regexp_replace($col, '[^aeiouy]', 'c', 'g'), '[aeiou]', 'v', 'g')"
    (1 to passes).foldLeft(base) { (e, _) =>
      s"regexp_replace(regexp_replace(regexp_replace($e, '^y', 'c'), 'vy', 'vc', 'g'), 'cy', 'cv', 'g')"
    }
  }

  /** m(stem) where stem = first `lenExpr` chars of the word whose cv map is
    * in column `cv`.
    */
  private def m(cv: String, lenExpr: String): String =
    s"len(regexp_extract_all(substr($cv, 1, $lenExpr), 'v+c'))"

  private def hasVowel(cv: String, lenExpr: String): String =
    s"contains(substr($cv, 1, $lenExpr), 'v')"

  /** cvc at 0-based position `len(w)-1+off` of word `w` (off ≤ 0):
    * cv[p-2..p] = 'cvc' and w[p] ∉ {w,x,y}, p ≥ 2.
    */
  private def cvc(w: String, cv: String, off: Int): String = {
    val p1 = s"len($w) + ${off}" // 1-based position of the checked char
    s"(($p1) >= 3 AND substr($cv, ($p1) - 2, 3) = 'cvc' " +
      s"AND substr($w, $p1, 1) NOT IN ('w', 'x', 'y'))"
  }

  /** Flat ordered replacement CASE for steps 2/3: suffix → replacement
    * when m(stem) > 0, word unchanged when the matched suffix's condition
    * fails.
    */
  private def replaceStep(w: String, cv: String, rules: Seq[(String, String)]): String = {
    val whens = rules.map { case (s, r) =>
      val stemLen = s"len($w) - ${s.length}"
      s"""WHEN ends_with($w, '$s') THEN
         |  CASE WHEN ${m(cv, stemLen)} > 0
         |       THEN substr($w, 1, $stemLen) || '$r' ELSE $w END""".stripMargin
    }
    s"CASE\n${whens.mkString("\n")}\nELSE $w END"
  }

  private val Step2Rules = Seq(
    "ational" -> "ate", "tional" -> "tion",
    "enci" -> "ence", "anci" -> "ance",
    "izer" -> "ize",
    "bli" -> "ble", "alli" -> "al", "entli" -> "ent", "eli" -> "e", "ousli" -> "ous",
    "ization" -> "ize", "ation" -> "ate", "ator" -> "ate",
    "alism" -> "al", "iveness" -> "ive", "fulness" -> "ful", "ousness" -> "ous",
    "aliti" -> "al", "iviti" -> "ive", "biliti" -> "ble",
    "logi" -> "log")

  private val Step3Rules = Seq(
    "icate" -> "ic", "ative" -> "", "alize" -> "al",
    "iciti" -> "ic", "ical" -> "ic", "ful" -> "", "ness" -> "")

  private val Step4Plain = Seq(
    "al", "ance", "ence", "er", "ic", "able", "ible",
    "ant", "ement", "ment", "ent", "ou", "ism", "ate",
    "iti", "ous", "ive", "ize")

  /** CTE chain from `words(term)` (lowercase tokens) to
    * `porter(term, stem)`. The caller embeds this after its own CTEs.
    */
  def ctes: String = {
    // ---- step 1a: plurals (no cv needed)
    val s1a =
      s"""p1a AS (
         |  SELECT term, CASE
         |    WHEN NOT ends_with(term, 's') THEN term
         |    WHEN ends_with(term, 'sses') THEN substr(term, 1, len(term) - 2)
         |    WHEN ends_with(term, 'ies')  THEN substr(term, 1, len(term) - 2)
         |    WHEN NOT ends_with(term, 'ss') THEN substr(term, 1, len(term) - 1)
         |    ELSE term END AS w
         |  FROM pwords)""".stripMargin

    // ---- step 1b: eed / ed / ing (+ fixups on the truncated stem)
    def fix(t: String): String = {
      val lt = s"len($t)"
      s"""CASE
         |  WHEN ends_with($t, 'at') THEN $t || 'e'
         |  WHEN ends_with($t, 'bl') THEN $t || 'e'
         |  WHEN ends_with($t, 'iz') THEN $t || 'e'
         |  WHEN $lt >= 2 AND substr($t, $lt, 1) = substr($t, $lt - 1, 1)
         |       AND substr(cv, $lt, 1) = 'c'
         |       AND substr($t, $lt, 1) NOT IN ('l', 's', 'z')
         |    THEN substr($t, 1, $lt - 1)
         |  WHEN ${m("cv", lt)} = 1 AND ${cvc(t, "cv", 0)} THEN $t || 'e'
         |  ELSE $t END""".stripMargin
    }
    val tEd = "substr(w, 1, len(w) - 2)"
    val tIng = "substr(w, 1, len(w) - 3)"
    val s1b =
      s"""p1b0 AS (SELECT term, w, ${cvExpr("w")} AS cv FROM p1a),
         |p1b AS (
         |  SELECT term, CASE
         |    WHEN ends_with(w, 'eed') THEN
         |      CASE WHEN ${m("cv", "len(w) - 3")} > 0
         |           THEN substr(w, 1, len(w) - 1) ELSE w END
         |    WHEN ends_with(w, 'ed') AND ${hasVowel("cv", "len(w) - 2")} THEN ${fix(tEd)}
         |    WHEN ends_with(w, 'ing') AND ${hasVowel("cv", "len(w) - 3")} THEN ${fix(tIng)}
         |    ELSE w END AS w
         |  FROM p1b0)""".stripMargin

    // ---- step 1c: terminal y → i when the stem has a vowel
    val s1c =
      s"""p1c0 AS (SELECT term, w, ${cvExpr("w")} AS cv FROM p1b),
         |p1c AS (
         |  SELECT term, CASE
         |    WHEN ends_with(w, 'y') AND ${hasVowel("cv", "len(w) - 1")}
         |      THEN substr(w, 1, len(w) - 1) || 'i'
         |    ELSE w END AS w
         |  FROM p1c0)""".stripMargin

    val s2 =
      s"""p20 AS (SELECT term, w, ${cvExpr("w")} AS cv FROM p1c),
         |p2 AS (SELECT term, ${replaceStep("w", "cv", Step2Rules)} AS w FROM p20)""".stripMargin

    val s3 =
      s"""p30 AS (SELECT term, w, ${cvExpr("w")} AS cv FROM p2),
         |p3 AS (SELECT term, ${replaceStep("w", "cv", Step3Rules)} AS w FROM p30)""".stripMargin

    // ---- step 4: delete when m(stem) > 1; ion needs s/t before it
    val ionStemLen = "len(w) - 3"
    val step4Whens =
      s"""WHEN ends_with(w, 'ion') THEN
         |  CASE WHEN substr(w, $ionStemLen, 1) IN ('s', 't')
         |            AND ${m("cv", ionStemLen)} > 1
         |       THEN substr(w, 1, $ionStemLen) ELSE w END""".stripMargin +:
      Step4Plain.map { s =>
        val stemLen = s"len(w) - ${s.length}"
        s"""WHEN ends_with(w, '$s') THEN
           |  CASE WHEN ${m("cv", stemLen)} > 1
           |       THEN substr(w, 1, $stemLen) ELSE w END""".stripMargin
      }
    val s4 =
      s"""p40 AS (SELECT term, w, ${cvExpr("w")} AS cv FROM p3),
         |p4 AS (SELECT term, CASE\n${step4Whens.mkString("\n")}\nELSE w END AS w FROM p40)""".stripMargin

    // ---- step 5a: drop final e when m > 1, or m = 1 and not cvc(k-1)
    val s5a =
      s"""p5a0 AS (SELECT term, w, ${cvExpr("w")} AS cv FROM p4),
         |p5a AS (
         |  SELECT term, CASE
         |    WHEN ends_with(w, 'e') AND
         |         (${m("cv", "len(w)")} > 1 OR
         |          (${m("cv", "len(w)")} = 1 AND NOT ${cvc("w", "cv", -1)}))
         |      THEN substr(w, 1, len(w) - 1)
         |    ELSE w END AS w
         |  FROM p5a0)""".stripMargin

    // ---- step 5b: drop one l of a final double l when m > 1
    val s5b =
      s"""p5b0 AS (SELECT term, w, ${cvExpr("w")} AS cv FROM p5a),
         |p5b AS (
         |  SELECT term, CASE
         |    WHEN ends_with(w, 'll') AND ${m("cv", "len(w)")} > 1
         |      THEN substr(w, 1, len(w) - 1)
         |    ELSE w END AS w
         |  FROM p5b0)""".stripMargin

    val fin =
      """porter AS (
        |  SELECT term, CASE WHEN length(term) <= 2 THEN term ELSE w END AS stem
        |  FROM p5b)""".stripMargin

    Seq(s1a, s1b, s1c, s2, s3, s4, s5a, s5b, fin).mkString(",\n")
  }
}
