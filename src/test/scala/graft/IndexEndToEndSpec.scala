package graft

import graft.analysis.{Analyzer, AnalyzerConfig}
import graft.codec.PostingCodec
import graft.index._
import graft.search._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end build + search over a hand-written unit corpus, checked
  * against an independent brute-force in-memory implementation (no Spark,
  * no codec, no shuffle) — the SURVEY.md §5 strategy.
  */
class IndexEndToEndSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cfg = IndexConfig(
    analyzer = AnalyzerConfig(stopWords = Set("a", "the")),
    groupShift = 1, mergeShift = 1, buckets = 8)

  private val unitDocs: Seq[(String, String)] = Seq(
    "u01" -> "the cat sat on the mat",
    "u02" -> "Cat cat CAT dog",
    "u03" -> "dog runs fast and runs far",
    "u04" -> "",
    "u05" -> "the a THE A",
    "u06" -> "identical twin content",
    "u07" -> "identical twin content",
    "u08" -> "hot hot hot hot term cat",
    "u09" -> "ZzZ MixedCase Tokens.",
    "u10" -> "solo"
  )

  private val unitTopics = Seq(
    Topic("1", "cat dog"),
    Topic("2", "identical twin content"),
    Topic("3", "The CAT"),
    Topic("4", "unknownterm"),
    Topic("5", ""),
    Topic("6", "cat cat"))

  private def corpusDF(docs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("docno", "content")
  }

  /** [[BruteForce]] over `docs`: (docno, score) per topic, top `k`. */
  private def brute(docs: Seq[(String, String)], acfg: AnalyzerConfig,
                    topics: Seq[Topic], k: Int,
                    scorer: Scorer = Bm25Scorer): Map[String, Seq[(String, Float)]] = {
    val c = new BruteForce.Corpus(docs, acfg)
    BruteForce.search(c, BruteForce.topics(c, topics), k, scorer)
  }

  private def collectRun(ds: org.apache.spark.sql.Dataset[RunLine]): Map[String, Seq[(String, Float)]] =
    ds.collect().toSeq.groupBy(_.qid).view
      .mapValues(_.sortBy(_.rank).map(l => (l.docno, l.score)).toSeq).toMap

  test("build + search matches the brute-force oracle exactly (float bits)") {
    val dir = TestSpark.tmpDir("e2e")
    val idx = IndexBuilder.build(corpusDF(unitDocs), dir, cfg, verifySha = true)
    val got = collectRun(new Searcher(idx).search(unitTopics, k = 1000))
    val want = brute(unitDocs, cfg.analyzer, unitTopics, k = 1000)
    // queries with no hits are absent from both
    assert(got.keySet == want.filter(_._2.nonEmpty).keySet)
    for ((qid, hits) <- want if hits.nonEmpty) {
      assert(got(qid) == hits, s"qid=$qid got=${got(qid)} want=$hits")
    }
    // tie-break: u06/u07 have identical content → equal scores, docno order
    val q2 = got("2")
    assert(q2.map(_._1).take(2) == Seq("u06", "u07"))
    assert(q2(0)._2 == q2(1)._2)
    // duplicate query term doubles the score exactly (x + x in float)
    val q1 = got("1").toMap
    val q6 = got("6").toMap
    assert(q6.keySet.subsetOf(q1.keySet))
    // stopword-only difference: "The CAT" ≡ "cat"
    assert(got("3").forall { case (d, _) => Set("u01", "u02", "u08")(d) })
  }

  test("index invariants: stats, dl, df, ascending decoded docids") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("inv")
    val idx = IndexBuilder.build(corpusDF(unitDocs), dir, cfg)
    val an = new Analyzer(cfg.analyzer)
    val wantDl = unitDocs.map { case (d, t) => d -> an.analyze(t).length }.toMap

    // stats: N = all docs (incl. empty), Σdl
    assert(idx.stats.max_doc == unitDocs.size.toLong)
    assert(idx.stats.sum_total_term_freq == wantDl.values.map(_.toLong).sum)

    // docs: one row per doc, dl exact, docids distinct and docno-ordered
    val docRows = idx.docs.as[DocRow].collect().sortBy(_.docno)
    assert(docRows.length == unitDocs.size)
    docRows.foreach(r => assert(r.dl == wantDl(r.docno), r.docno))
    assert(docRows.map(_.docid).distinct.length == docRows.length)
    assert(docRows.sortBy(_.docid).map(_.docno).toSeq == docRows.map(_.docno).toSeq)

    // df from term_stats == brute df; Σdf = distinct (term, doc) pairs
    val wantDf = unitDocs.flatMap { case (_, t) => an.analyze(t).distinct }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val gotDf = idx.termStats.select("term", "df").as[(String, Long)].collect().toMap
    assert(gotDf == wantDf)

    // decoded postings: strictly ascending docids per term, tf matches
    val byDocid = docRows.map(r => r.docid -> r.docno).toMap
    val runs = idx.postings.as[PostingRun].collect()
    val decoded = runs.groupBy(_.term).map { case (term, rs) =>
      val ps = rs.sortBy(_.grp).flatMap(r =>
        PostingCodec.decodeBlobs(r.ndocs, r.doc_blob, r.tf_blob, r.dl_blob))
      assert(ps.map(_.docid).toSeq == ps.map(_.docid).sorted.toSeq, s"term=$term")
      assert(ps.map(_.docid).distinct.length == ps.length, s"term=$term dup docid")
      term -> ps.map(p => (byDocid(p.docid), p.tf, p.dl)).toSeq
    }
    val wantTf = unitDocs.flatMap { case (d, t) =>
      val terms = an.analyze(t)
      terms.groupBy(identity).map { case (term, g) => (term, d, g.length, terms.length) }
    }
    wantTf.foreach { case (term, d, tf, dl) =>
      assert(decoded(term).contains((d, tf, dl)), s"($term,$d)")
    }
    assert(decoded.values.map(_.size).sum == wantTf.size)
    // run-level stats consistent
    runs.foreach { r =>
      assert(r.ndocs > 0 && r.first_docid <= r.last_docid)
      assert(r.bucket == IndexLayout.bucketOf(r.term, cfg.buckets))
    }
  }

  test("compaction merges runs across source epochs, same postings minus tombstones") {
    import spark.implicits._
    // groupShift=1 → tiny per-group runs; mergeShift=1 → pairs of adjacent
    // groups merge; 2 range partitions → each build's merge must cross
    // partitions (merged groups come from the global sorted grp rank, not
    // bit masks). Every doc carries a shared term, so every source holds
    // runs of it; each source is its own docid epoch (bits 52+).
    val srcDirs = (1 to 3).map { e =>
      val docs = (1 to 10).map(i => f"e$e-v$i%02d" -> s"common uniq$e-$i filler$i")
      val d = TestSpark.tmpDir(s"mrg$e")
      IndexBuilder.build(corpusDF(docs), d, cfg.copy(rangePartitions = 2, docidEpoch = e))
      d
    }
    // an in-place delete generation in one source: compaction reclaims it
    Deletes.writeDeletes(BuiltIndex.open(spark, srcDirs(1)),
      Seq("e2-v03", "e2-v08").toDF("docno"), s"${srcDirs(1)}/${IndexLayout.DeletesDir}")
    val tomb = BuiltIndex.open(spark, srcDirs(1)).tombstones.toSet
    assert(tomb.size == 2)
    val srcRuns = srcDirs.flatMap(d =>
      BuiltIndex.open(spark, d).postings.as[PostingRun].collect())
    // the build merged across its range partitions: some source run spans
    // docids of both (the partition is bit 40+ of the packed docid)
    assert(srcRuns.exists(r => (r.first_docid >> 40) != (r.last_docid >> 40)),
      "no built run crosses a range partition")

    val compacted = SegmentMerger.compactIndexes(spark, srcDirs,
      TestSpark.tmpDir("mrgout") + "/out", cfg).postings.as[PostingRun].collect()
    assert(compacted.length < srcRuns.length, s"${compacted.length} !< ${srcRuns.length}")
    assert(compacted.exists(r => (r.first_docid >> 52) != (r.last_docid >> 52)),
      "no compacted run spans two source epochs")
    // compacted blobs decode to exactly the source postings minus
    // tombstones, per term, in docid order
    def postingsOf(runs: Seq[PostingRun], term: String) =
      runs.filter(_.term == term).sortBy(_.first_docid)
        .flatMap(SegmentMerger.decode).map(p => (p.docid, p.tf, p.dl))
    for (term <- (srcRuns ++ compacted).map(_.term).distinct)
      assert(postingsOf(compacted.toSeq, term) ==
        postingsOf(srcRuns, term).filterNot(p => tomb(p._1)), term)
    // a term whose only doc was deleted vanishes
    assert(!compacted.exists(_.term == "uniq2-3"))
  }

  test("deterministic rebuild: same input → identical tables and results") {
    import spark.implicits._
    val dir1 = TestSpark.tmpDir("det1")
    val dir2 = TestSpark.tmpDir("det2")
    val i1 = IndexBuilder.build(corpusDF(unitDocs), dir1, cfg)
    val i2 = IndexBuilder.build(corpusDF(unitDocs), dir2, cfg)
    val d1 = i1.docs.as[DocRow].collect().sortBy(_.docno).toSeq
    val d2 = i2.docs.as[DocRow].collect().sortBy(_.docno).toSeq
    assert(d1 == d2)
    val p1 = i1.postings.as[PostingRun].collect()
      .sortBy(r => (r.term, r.grp)).map(r => (r.term, r.grp, r.doc_blob.toSeq, r.tf_blob.toSeq, r.dl_blob.toSeq)).toSeq
    val p2 = i2.postings.as[PostingRun].collect()
      .sortBy(r => (r.term, r.grp)).map(r => (r.term, r.grp, r.doc_blob.toSeq, r.tf_blob.toSeq, r.dl_blob.toSeq)).toSeq
    assert(p1 == p2)
    val r1 = collectRun(new Searcher(i1).search(unitTopics, 10))
    val r2 = collectRun(new Searcher(i2).search(unitTopics, 10))
    assert(r1 == r2)
  }

  test("resume: interrupted build restarts at the first incomplete stage") {
    val dir = TestSpark.tmpDir("res")
    val corpus = corpusDF(unitDocs)
    IndexBuilder.build(corpus, dir, cfg)
    val tokManifest = java.nio.file.Paths.get(dir, IndexLayout.TokenizedDir, "_graft_manifest.json")
    val mtimeBefore = java.nio.file.Files.getLastModifiedTime(tokManifest)

    // simulate a crash after the runs stage: postings + term_stats lost
    def rmr(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rmr(_))
      java.nio.file.Files.deleteIfExists(p)
    }
    rmr(java.nio.file.Paths.get(dir, IndexLayout.PostingsDir))
    rmr(java.nio.file.Paths.get(dir, IndexLayout.TermStatsDir))

    val idx = IndexBuilder.build(corpus, dir, cfg)
    // upstream stage was NOT recomputed
    assert(java.nio.file.Files.getLastModifiedTime(tokManifest) == mtimeBefore)
    // rebuilt stages publish real lineage metrics: term_stats rowsOut is
    // |vocabulary| (observed during the write), vocab inherits it 1:1
    val hconf = TestSpark.spark.sparkContext.hadoopConfiguration
    val nTerms = idx.termStats.count()
    for (sub <- Seq(IndexLayout.TermStatsDir, IndexLayout.VocabDir)) {
      val m = graft.index.Checkpoint.readManifest(s"$dir/$sub", hconf).get
      assert(m.rowsOut == nTerms, sub)
    }
    // and the resumed index answers identically to the brute force
    val got = collectRun(new Searcher(idx).search(unitTopics, 1000))
    val want = brute(unitDocs, cfg.analyzer, unitTopics, 1000)
    for ((qid, hits) <- want if hits.nonEmpty) assert(got(qid) == hits, qid)

    // a config change invalidates everything (different fingerprint id)
    val idx2 = IndexBuilder.build(corpus, dir, cfg.copy(groupShift = 2))
    assert(java.nio.file.Files.getLastModifiedTime(tokManifest) != mtimeBefore)
    assert(idx2.stats.max_doc == unitDocs.size.toLong)
  }

  test("sha256 invariant: detects source-vs-indexed divergence") {
    val dir = TestSpark.tmpDir("sha")
    val corpus = corpusDF(unitDocs)
    val idx = IndexBuilder.build(corpus, dir, cfg, verifySha = true)
    assert(IndexBuilder.shaMismatches(corpus, idx) == 0L)
    val tampered = corpusDF(unitDocs.updated(0, "u01" -> "tampered content"))
    assert(IndexBuilder.shaMismatches(tampered, idx) >= 1L)
  }

  test("top-k bounding and bm25e/tmpl scorer variants") {
    val dir = TestSpark.tmpDir("topk")
    val idx = IndexBuilder.build(corpusDF(unitDocs), dir, cfg)
    val s = new Searcher(idx)
    val top2 = collectRun(s.search(Seq(Topic("1", "cat dog")), k = 2))
    val all = brute(unitDocs, cfg.analyzer, Seq(Topic("1", "cat dog")), 2)
    assert(top2("1") == all("1"))
    assert(top2("1").size == 2)

    val e = collectRun(s.search(unitTopics, 1000, scorerName = "bm25e"))
    val wantE = brute(unitDocs, cfg.analyzer, unitTopics, 1000, Bm25eScorer)
    for ((qid, hits) <- wantE if hits.nonEmpty) assert(e(qid) == hits, s"bm25e $qid")

    // tmpl: constant scores; ranking = docid (≡ docno) order
    val t = collectRun(s.search(Seq(Topic("1", "cat dog")), 1000, scorerName = "tmpl"))
    assert(t("1").forall(_._2 == 1.0f) || t("1").forall(_._2 == 2.0f) ||
      t("1").map(_._2).forall(v => v == 1.0f || v == 2.0f))
    assert(t("1").map(_._1) ==
      brute(unitDocs, cfg.analyzer, Seq(Topic("1", "cat dog")), 1000, TmplScorer)("1").map(_._1))
  }

  test("conjunctive (AND) mode keeps only docs matching every clause") {
    val dir = TestSpark.tmpDir("and")
    val idx = IndexBuilder.build(corpusDF(unitDocs), dir, cfg)
    val s = new Searcher(idx)
    val orRun = collectRun(s.search(Seq(Topic("1", "cat dog")), 100))
    val andRun = collectRun(s.searchAnd(Seq(Topic("1", "cat dog")), 100))
    // only u02 contains both cat and dog
    assert(andRun("1").map(_._1) == Seq("u02"))
    // the surviving doc's score equals its OR score (same clause sum)
    assert(andRun("1").head._2 == orRun("1").toMap.apply("u02"))
    // a clause term missing from the index ⇒ empty AND result
    val none = s.searchAnd(Seq(Topic("2", "cat unknownterm")), 100).collect()
    assert(none.isEmpty)
  }

  test("paged search slices the prefetched ranking like the demo tool") {
    val dir = TestSpark.tmpDir("page")
    val idx = IndexBuilder.build(corpusDF(unitDocs), dir, cfg)
    val s = new Searcher(idx)
    val all = s.search(Seq(Topic("1", "cat dog")), 1000).collect().toSeq
    val p0 = s.searchPaged(Topic("1", "cat dog"), page = 0, hitsPerPage = 2)
    val p1 = s.searchPaged(Topic("1", "cat dog"), page = 1, hitsPerPage = 2)
    assert(p0 == all.take(2))
    assert(p1 == all.slice(2, 4))
    assert(s.searchPaged(Topic("1", "cat dog"), page = 50, hitsPerPage = 2).isEmpty)
  }

  test("open() reconstructs the analyzer config from disk") {
    val dir = TestSpark.tmpDir("open")
    val built = IndexBuilder.build(corpusDF(unitDocs), dir,
      cfg.copy(analyzer = cfg.analyzer.copy(stemmer = "porter", foldAscii = true,
        shingleSize = 2), rangePartitions = 3))
    val reopened = BuiltIndex.open(spark, dir)
    assert(reopened.cfg.analyzer.stemmer == "porter")
    assert(reopened.cfg.analyzer.stopWords == Set("a", "the"))
    assert(reopened.cfg.analyzer.foldAscii && reopened.cfg.analyzer.shingleSize == 2)
    assert(reopened.cfg.buckets == cfg.buckets)
    assert(reopened.cfg.rangePartitions == 3)
    // the same id, hence the same statsKey and term-stats memo
    assert(reopened.cfg.id == built.cfg.id)
  }
}
