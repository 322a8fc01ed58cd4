package graft

import graft.analysis.AnalyzerConfig
import graft.index.{IndexBuilder, IndexConfig, IndexLayout}
import graft.search.Searcher
import org.scalatest.funsuite.AnyFunSuite

/** The sorted vocabulary projection behind prefix/fuzzy expansion: the scan
  * must be PRUNED — prefix pushes a StringStartsWith predicate into the
  * parquet scan over term-sorted row groups (plus a len partition bound),
  * and fuzzy partition-prunes to the ±maxEdits length band — never a full
  * vocabulary pass (the round-2 scale-killer this replaces).
  */
class VocabSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val searcher: Searcher = {
    import spark.implicits._
    val corpus = Seq(
      "v-1" -> "alpha alpine albatross beta",
      "v-2" -> "alpha beta gamma delta",
      "v-3" -> "epsilon zeta eta alpine").toDF("docno", "content")
    val idx = IndexBuilder.build(corpus, TestSpark.tmpDir("vocab"),
      IndexConfig(analyzer = AnalyzerConfig()))
    new Searcher(idx)
  }

  test("vocab projection is persisted len-partitioned and term-sorted") {
    val dir = searcher.index.dir
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/${IndexLayout.VocabDir}")))
    val lens = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$dir/${IndexLayout.VocabDir}"))
      .map(_.getPath.getName).filter(_.startsWith("len=")).toSeq
    assert(lens.nonEmpty) // directory-partitioned by term length
  }

  test("vocab files hold their terms in ascending order") {
    import spark.implicits._
    // 400 seeded six-letter words: many terms per len= partition
    val rnd = new scala.util.Random(17)
    val words = Seq.fill(400)(Seq.fill(6)(('a' + rnd.nextInt(26)).toChar).mkString)
    val corpus = words.grouped(8).zipWithIndex
      .map { case (ws, i) => f"vs-$i%03d" -> ws.mkString(" ") }.toSeq
    val dir = IndexBuilder.build(corpus.toDF("docno", "content"), TestSpark.tmpDir("vocabsort"),
      IndexConfig(analyzer = AnalyzerConfig())).dir
    val root = new org.apache.hadoop.fs.Path(s"$dir/${IndexLayout.VocabDir}")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(root).filter(_.getPath.getName.startsWith("len="))
      .flatMap(d => fs.listStatus(d.getPath)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).toSeq
    val perFile = files.map(f => f -> spark.read.parquet(f).select("term").as[String].collect().toSeq)
    assert(perFile.map(_._2.size).sum == words.distinct.size)
    assert(perFile.exists(_._2.size > 100), "the fixture needs a large len= file")
    perFile.foreach { case (f, terms) => assert(terms == terms.sorted, s"unsorted terms in $f") }
  }

  test("prefix expansion pushes StringStartsWith + a len partition bound") {
    val plan = searcher.prefixScan("al").queryExecution.executedPlan.toString()
    assert(plan.contains("StringStartsWith(term,al)"),
      s"prefix predicate not pushed to the scan:\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("len"),
      s"len partition bound missing:\n$plan")
    assert(searcher.expandPrefix("al").toSet ==
      Set("alpha", "alpine", "albatross"))
  }

  test("expansion memo: bounded, least recently used first out") {
    val memo = searcher.prefixCache
    memo.clear()
    // a planted answer shows whether a call is served from the memo
    memo.put(("al", 4096), Seq("planted"))
    assert(searcher.expandPrefix("al") == Seq("planted"))
    (1 until Searcher.MemoPatterns).foreach(i => memo.put((s"p$i", 4096), Nil))
    assert(memo.size == Searcher.MemoPatterns)
    assert(searcher.expandPrefix("al") == Seq("planted"), "a full memo keeps its entries")
    memo.put(("p0", 4096), Nil) // one past the bound: the least recently used goes
    assert(memo.size == Searcher.MemoPatterns)
    assert(!memo.containsKey(("p1", 4096)))
    assert(memo.containsKey(("al", 4096)), "a recent read keeps an entry")
    (2 until Searcher.MemoPatterns).foreach(i => memo.get((s"p$i", 4096)))
    memo.put(("p1", 4096), Nil)
    assert(searcher.expandPrefix("al").toSet == Set("alpha", "alpine", "albatross"),
      "an evicted entry is scanned again")
  }

  test("regex expansion: anchored full match, pruned scan, quantifier-safe " +
    "literal prefix, loud cap") {
    // full-term anchoring: 'eta' must not match inside beta/zeta
    assert(searcher.expandRegex("eta") == Seq("eta"))
    assert(searcher.expandRegex("al(pha|batross)").toSet ==
      Set("alpha", "albatross"))
    // group-leading pattern: no literal prefix, falls back to the projection
    assert(searcher.expandRegex("(be|ze)ta").toSet == Set("beta", "zeta"))
    // literal-prefixed pattern pushes the same StringStartsWith as prefix
    val plan = searcher.regexScan("alp.*").queryExecution.executedPlan.toString()
    assert(plan.contains("StringStartsWith(term,alp)"),
      s"regex literal prefix not pushed to the scan:\n$plan")
    // a quantifier surrenders its literal: be?t+a must still reach bta,
    // so the prefix bound backs off to 'b'
    import spark.implicits._
    val c2 = Seq("r-1" -> "beta bta betta").toDF("docno", "content")
    val sr2 = new Searcher(IndexBuilder.build(c2, TestSpark.tmpDir("vocab_rx"),
      IndexConfig(analyzer = AnalyzerConfig())))
    assert(sr2.expandRegex("be?t+a").toSet == Set("beta", "bta", "betta"))
    // degenerate patterns fail loudly instead of OOMing the driver
    intercept[IllegalArgumentException](searcher.expandRegex(".*", cap = 2))
  }

  test("fuzzy expansion partition-prunes to the length band") {
    // eta (drop b) and zeta (sub) are 1 edit away; ties order term asc
    assert(searcher.expandFuzzy("beta", 1) ==
      Seq(("beta", 0), ("eta", 1), ("zeta", 1)))
    import org.apache.spark.sql.functions._
    val banded = searcher.index.vocab
      .where(col("len") >= 3 && col("len") <= 5)
    val plan = banded.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("len"),
      s"length band not a partition filter:\n$plan")
    // the band reads strictly fewer rows than the vocabulary
    assert(banded.count() < searcher.index.vocab.count())
  }

  test("spell suggestion: DirectSpellChecker order, known-word gate, topN") {
    // corpus dfs: alpha 2, alpine 2, beta 2, albatross/gamma/delta/
    // epsilon/zeta/eta 1. 'bета'-like input: 1 edit from beta/eta/zeta
    val rows = searcher.suggest(Seq("betaa", "alpin", "gamma"), maxEdits = 2)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    val byQ = rows.groupBy(_._1)
    // 'gamma' is a corpus word (df>0) → gated out entirely
    assert(!byQ.contains("gamma"))
    // distance ascends first, then df desc, then term asc
    val betaa = byQ("betaa").sortBy(_._5).toSeq
    assert(betaa.head._2 == "beta" && betaa.head._3 == 1)
    assert(betaa.map(_._3).sorted == betaa.map(_._3))
    val alpin = byQ("alpin").sortBy(_._5).toSeq
    assert(alpin.head._2 == "alpine" && alpin.head._3 == 1)
    // df tie-break: alpha (df 2) must outrank eta-like df-1 terms at
    // equal distance; both 'alpha' (d2) and 'alpine' (d1) appear
    assert(alpin.map(_._2).contains("alpha"))
    // topN truncates
    assert(searcher.suggest(Seq("betaa"), maxEdits = 2, topN = 1)
      .count() == 1)
  }

  test("wildcard expansion: * and ? translate, prefix prunes, rest literal") {
    assert(searcher.expandWildcard("al*").toSet ==
      Set("alpha", "alpine", "albatross"))
    assert(searcher.expandWildcard("?eta").toSet == Set("beta", "zeta"))
    assert(searcher.expandWildcard("alp??").toSet == Set("alpha"))
    // full-term anchoring: no substring matches
    assert(searcher.expandWildcard("eta") == Seq("eta"))
    intercept[IllegalArgumentException] {
      searcher.expandWildcard("al.*") // dots are not wildcard syntax
    }
    // the leading literal run prefix-prunes like the prefix scan
    val plan = searcher.regexScan("al.*").queryExecution.executedPlan.toString()
    assert(plan.contains("StringStartsWith(term,al)"))
  }

  test("range expansion: inclusive binary-order vocabulary slice") {
    assert(searcher.expandRange("alpha", "beta").toSet ==
      Set("alpha", "alpine", "beta")) // albatross < alpha, gamma > beta
    assert(searcher.expandRange("a", "az").toSet ==
      Set("alpha", "alpine", "albatross"))
    assert(searcher.expandRange("eta", "eta") == Seq("eta")) // degenerate
    intercept[IllegalArgumentException] {
      searcher.expandRange("zeta", "alpha") // empty range is a bug upstream
    }
  }
}
