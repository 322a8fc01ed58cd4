package graft.tools

import graft.{KStemSql, PorterSql, SnowballSql}
import graft.analysis.{KStemmer, PorterStemmer, SnowballStemmer}

/** Dumps a word-for-word validation corpus for one generated SQL stemmer
  * replay — [[graft.KStemSql]], [[graft.PorterSql]] or
  * [[graft.SnowballSql]]: a word battery with the Scala stemmer's output
  * (`words.tsv`) plus the SQL DuckDB runs to reproduce the stems
  * (`<stemmer>.sql`). `scripts/{kstem,porter,snowball}_sql_check` run it
  * and execute the compare.
  *
  * Usage: StemSqlCheck <kstem|porter|snowball> [outDir, default /tmp/<stemmer>_check]
  */
object StemSqlCheck {
  /** One stemmer under check: its battery, the Scala stemmer, the SQL
    * replay's CTEs and the word table those CTEs read.
    */
  private final case class Check(words: Seq[String], stem: String => String,
                                 ctes: String, wordTable: String)

  private def battery(bases: Seq[String], suffixes: Seq[String]): Seq[String] =
    (bases ++ (for (b <- bases; s <- suffixes) yield b + s)).filter(_.nonEmpty).distinct.sorted

  /** Every direct-conflation and lexicon word plus inflected forms over a
    * rule-edge battery.
    */
  private def kstem: Check = {
    val bases =
      KStemmer.DirectConflations.keys.toSeq ++
      KStemmer.DirectConflations.values.toSeq ++
      KStemmer.Lexicon.toSeq ++ Seq(
        // rule-edge shapes outside both tables
        "hop", "hopped", "hopping", "hoping", "hoped", "moved", "moving",
        "taped", "tapped", "tapping", "sized", "sizing", "merged",
        "merging", "queried", "queries", "babies", "boxes", "churches",
        "wishes", "quizzes", "fizzes", "buses", "gases", "classes",
        "glasses", "caresses", "cats", "dogs", "runs", "plans", "scans",
        "joins", "sorts", "rows", "keys", "areas", "ideas", "seas",
        "yes", "its", "letters", "winning", "winged", "stringed",
        "needing", "feeding", "seeded", "reddened", "bedded", "foxes",
        "axes", "mixes", "fixes", "pushes", "rushes", "watches",
        "patches", "leaves", "loaves", "wolves", "shelves", "scarves",
        "waves", "caves", "gives", "lives", "drives", "moves", "groves",
        "solves", "serves", "curves", "carves")
    val suffixes = Seq("", "s", "es", "ies", "ied", "ed", "ing", "ves",
      "sses", "xes", "ches", "shes", "zes")
    Check(battery(bases, suffixes).filterNot(_.contains("'")), KStemmer.stem,
      KStemSql.ctes, "kwords")
  }

  /** Suffix forms over classic Porter test stems and y-edge cases. */
  private def porter: Check = {
    val bases = Seq(
      "relate", "conflate", "troubl", "siz", "hopp", "hop", "tann", "fall",
      "fail", "fil", "feed", "agree", "plaster", "bled", "motor", "sing",
      "controll", "roll", "happy", "sky", "cry", "say", "enjoy", "syzygy",
      "relational", "conditional", "rational", "valenci", "hesitanci",
      "digitizer", "conformabli", "radicalli", "differentli", "vileli",
      "analogousli", "vietnamization", "predication", "operator",
      "feudalism", "decisiveness", "hopefulness", "callousness",
      "formaliti", "sensitiviti", "sensibiliti", "triplicate", "formative",
      "formalize", "electriciti", "electrical", "hopeful", "goodness",
      "revival", "allowance", "inference", "airliner", "gyroscopic",
      "adjustable", "defensible", "irritant", "replacement", "adjustment",
      "dependent", "adoption", "homologou", "communism", "activate",
      "angulariti", "homologous", "effective", "bowdlerize", "probate",
      "rate", "cease", "control", "roll", "oscillate", "generalization",
      "organization", "organize", "doom", "boom", "room", "need", "ski",
      "die", "lie", "tie", "index", "matrix", "query", "tables", "archive",
      "archives", "caresses", "ponies", "ties", "caress", "cats", "feed",
      "agreed", "plastered", "motoring", "sings", "conflated", "troubled",
      "sized", "hopping", "tanned", "falling", "hissing", "fizzed",
      "failing", "filing", "happy", "abilli", "yyyy", "vy", "cyyyyyyyyyyyyy")
    val suffixes = Seq(
      "", "s", "es", "ies", "sses", "ss", "ed", "eed", "ing", "y",
      "ational", "tional", "enci", "anci", "izer", "bli", "alli", "entli",
      "eli", "ousli", "ization", "ation", "ator", "alism", "iveness",
      "fulness", "ousness", "aliti", "iviti", "biliti", "logi",
      "icate", "ative", "alize", "iciti", "ical", "ful", "ness",
      "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
      "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive",
      "ize", "e", "ll", "l")
    Check(battery(bases, suffixes), PorterStemmer.stem, PorterSql.ctes, "pwords")
  }

  /** Suffix forms plus the algorithm's exception words, y-marking edge
    * cases and apostrophe forms.
    */
  private def snowball: Check = {
    val bases = Seq(
      // exception words + near-misses
      "skis", "skies", "dying", "lying", "tying", "idly", "gently", "ugly",
      "early", "only", "singly", "sky", "news", "howe", "atlas", "cosmos",
      "bias", "andes", "skiing", "newsy", "biases",
      "inning", "outing", "canning", "herring", "earring", "proceed",
      "exceed", "succeed", "innings", "proceeding", "exceeded",
      // special R1 prefixes
      "generate", "generates", "generalization", "generous", "communism",
      "communities", "communal", "arsenal", "arsenic",
      // y-marking shapes
      "yyy", "yoyo", "syzygy", "sprayed", "crying", "flying", "saying",
      "enjoying", "say", "cry", "by", "trying", "gypsy", "gray", "ayy",
      "byya", "vy", "yes", "youth",
      // short-word / double / at-bl-iz fixups
      "hop", "hopped", "hopping", "hoping", "hope", "hoped", "sized",
      "sizing", "tanned", "falling", "failing", "filing", "conflated",
      "troubled", "disabled", "matting", "mating", "meeting", "meetings",
      "milling", "messing", "luxuriated", "luxuriating",
      // eed / eedly / ingly / edly
      "agreed", "agreedly", "feed", "freed", "need", "needly", "speed",
      "interestingly", "reportedly", "markedly", "supposedly",
      // plural forms
      "caresses", "ponies", "ties", "tied", "cries", "gas", "gaps",
      "kiwis", "dress", "focus", "analysis", "crises",
      // step 2/3/4 batteries
      "relational", "conditional", "rational", "valency", "hesitancy",
      "digitizer", "comfortably", "radically", "differently", "vilely",
      "analogously", "vietnamization", "predication", "operator",
      "feudalism", "decisiveness", "hopefulness", "callousness",
      "formality", "sensitivity", "sensibility", "triplicate", "formative",
      "formalize", "electricity", "electrical", "hopeful", "goodness",
      "revival", "allowance", "inference", "airliner", "gyroscopic",
      "adjustable", "defensible", "irritant", "replacement", "adjustment",
      "dependent", "adoption", "communication", "activate", "angularity",
      "homologous", "effective", "bowdlerize", "probate", "rate", "cease",
      "control", "roll", "controlling", "rolled", "fully", "blessedly",
      "mercilessly", "seriously", "usefully", "lastly", "biology",
      "geology", "archaeology", "tautology", "neatly", "apply", "supply",
      // step 5
      "create", "debate", "bake", "bathe", "breathe", "excite", "plane",
      "plain", "gene", "care", "core", "die", "lie", "tie", "tree", "free",
      // apostrophes
      "dog's", "dogs'", "o'clock", "'twas", "james'", "children's")
    val suffixes = Seq(
      "", "s", "es", "ies", "ied", "sses", "ss", "us", "ed", "eed", "ing",
      "eedly", "ingly", "edly", "y", "'s", "'s'", "'",
      "ization", "ational", "fulness", "ousness", "iveness", "tional",
      "biliti", "lessli", "entli", "ation", "alism", "aliti", "ousli",
      "iviti", "fulli", "enci", "anci", "abli", "izer", "ator", "alli",
      "bli", "ogi", "li",
      "alize", "icate", "iciti", "ical", "ness", "ful", "ative",
      "ement", "ance", "ence", "able", "ible", "ment", "ant", "ent",
      "ism", "ate", "iti", "ous", "ive", "ize", "ion", "al", "er", "ic",
      "e", "l", "ll")
    Check(battery(bases, suffixes), SnowballStemmer.stem, SnowballSql.ctes, "swords")
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("")
    val check = name match {
      case "kstem" => kstem
      case "porter" => porter
      case "snowball" => snowball
      case other => throw new IllegalArgumentException(
        s"unknown stemmer '$other': use kstem, porter or snowball")
    }
    val outDir = args.lift(1).getOrElse(s"/tmp/${name}_check")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val tsv = check.words.map(w => s"$w\t${check.stem(w)}").mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/words.tsv"), tsv)
    val sql =
      s"""WITH raw AS (
         |  SELECT column0 AS term FROM read_csv('$outDir/words.tsv',
         |    delim = '\t', header = false, columns = {'column0': 'VARCHAR', 'column1': 'VARCHAR'})
         |),
         |${check.wordTable} AS (SELECT DISTINCT term FROM raw),
         |${check.ctes}
         |SELECT term, stem FROM $name ORDER BY term""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/$name.sql"), sql)
    println(s"wrote ${check.words.size} words to $outDir")
  }
}
