package graft

import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Searcher, Topic}
import org.scalatest.funsuite.AnyFunSuite

/** Field-collapsed top-k (Searcher.searchCollapsed): per query each
  * collapse key keeps only its best document by the collector ordering
  * (score desc, docid asc), and the top-k ranks the collapsed winners —
  * including winners that sit OUTSIDE the global top-k, which is what
  * distinguishes a true pre-collector collapse from post-filtering the
  * plain ranking.
  */
class CollapseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // repo A monopolizes the global top ranks on "hot"; repo B's only match
  // is weaker than every A doc, so it never enters a global top-2
  private val docs = Seq(
    ("a-1", "ra", "hot hot hot hot"),
    ("a-2", "ra", "hot hot hot"),
    ("a-3", "ra", "hot hot"),
    ("b-1", "rb", "hot cold filler words here"),
    ("b-2", "rb", "cold only"),
    ("c-1", "rc", "warm warm"),
    ("c-2", "rc", "warm warm"))

  private lazy val fixture = {
    import spark.implicits._
    val dir = TestSpark.tmpDir("collapse")
    val corpus = docs.map(d => (d._1, d._3)).toDF("docno", "content")
    val idx = IndexBuilder.build(corpus, dir, IndexConfig())
    val s = new Searcher(idx)
    val keys = s.collapseKeyTable(
      docs.map(d => (d._1, d._2)).toDF("docno", "repo"), "repo")
    (s, keys)
  }

  test("collapse surfaces each key's winner even outside the global top-k") {
    val (s, keys) = fixture
    val topic = Seq(Topic("1", "hot"))
    val plain = s.search(topic, 2).collect().sortBy(_.rank).map(_.docno).toSeq
    assert(plain == Seq("a-1", "a-2")) // repo A owns the global top-2
    val collapsed =
      s.searchCollapsed(topic, keys, 2).collect().sortBy(_.rank).map(_.docno).toSeq
    assert(collapsed == Seq("a-1", "b-1")) // one winner per repo
  }

  test("within-key winner is max score; exact ties break by docid ascending") {
    val (s, keys) = fixture
    // "cold": both rb docs match with tf=1 but different dl — the
    // shorter (higher-scoring) b-2 wins the key
    val cold = s.searchCollapsed(Seq(Topic("1", "cold")), keys, 5).collect()
    assert(cold.map(_.docno).toSeq == Seq("b-2"))
    // "warm": c-1 and c-2 have identical content, hence bit-equal scores —
    // the tie goes to the smaller docid (docnos pack in sorted order)
    val warm = s.searchCollapsed(Seq(Topic("1", "warm")), keys, 5).collect()
    assert(warm.map(_.docno).toSeq == Seq("c-1"))
  }

  test("attribute filter removes candidates pre-collector; ranks close up") {
    val (s, keys) = fixture
    val rb = keys.where(org.apache.spark.sql.functions.col("ckey") === "rb")
      .select("docid")
    val hits = s.searchFiltered(Seq(Topic("1", "hot")), rb, 5).collect()
      .sortBy(_.rank)
    // only rb docs remain; b-1 is rank 0 (ranks closed up, not rank 3)
    assert(hits.map(h => (h.docno, h.rank)).toSeq == Seq(("b-1", 0)))
  }

  test("filter composes with collapse (filter first, then one per key)") {
    val (s, keys) = fixture
    import graft.search.WeightedClause
    val notA = keys.where(org.apache.spark.sql.functions.col("ckey") =!= "ra")
      .select("docid")
    val hits = s.searchClauses(
      Seq(WeightedClause("1", 0, "hot", 1.0f), WeightedClause("1", 1, "cold", 1.0f)),
      5, filterDocids = Some(notA), collapseKeys = Some(keys))
      .collect().sortBy(_.rank)
    // ra filtered out entirely; rb collapses to its best remaining doc
    assert(hits.map(_.docno).forall(d => d.startsWith("b")))
    assert(hits.length == 1)
  }

  test("pruning is structurally rejected under collapse") {
    val (s, keys) = fixture
    import graft.search.WeightedClause
    intercept[IllegalArgumentException] {
      s.searchClauses(Seq(WeightedClause("1", 0, "hot", 1.0f)), 2,
        pruning = true, collapseKeys = Some(keys))
    }
  }

  test("sort-by-field: (key asc, docid asc) over the match set, bounded k") {
    val (s, keys) = fixture
    val rows = s.searchSorted(Seq(Topic("1", "hot cold")), keys, k = 100)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(_._2)
    // matches: a-1 a-2 a-3 (ra), b-1 b-2 (rb) — ordered by repo then docid
    assert(rows.map(_._1).toSeq == Seq("a-1", "a-2", "a-3", "b-1", "b-2"))
    assert(rows.map(_._3).toSeq == Seq("ra", "ra", "ra", "rb", "rb"))
    assert(rows.map(_._2).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    // k truncates in sort order, not match order
    val k2 = s.searchSorted(Seq(Topic("1", "hot cold")), keys, k = 2)
      .collect().map(_.getString(1)).toSeq.sorted
    assert(k2 == Seq("a-1", "a-2"))
    // docs without a key row are omitted (missing doc-values contract)
    val partial = keys.where(org.apache.spark.sql.functions.col("ckey") =!= "ra")
    val noRa = s.searchSorted(Seq(Topic("1", "hot")), partial, k = 10)
      .collect().map(_.getString(1)).toSeq
    assert(noRa == Seq("b-1"))
  }

  test("sort-by-field: string keys compare as UTF-8 bytes (code point order)") {
    import spark.implicits._
    val (s, _) = fixture
    // U+FF61 sorts before U+1F600 by code point (UTF-8 bytes EF < F0) but
    // after it in UTF-16 (FF61 > the surrogate D83D)
    val keys = s.collapseKeyTable(
      Seq("a-1" -> "\uD83D\uDE00", "b-1" -> "\uFF61").toDF("docno", "repo"), "repo")
    val rows = s.searchSorted(Seq(Topic("1", "hot")), keys, k = 10)
      .collect().map(r => (r.getLong(2), r.getString(1))).sorted.toSeq
    assert(rows == Seq((0L, "b-1"), (1L, "a-1")))
  }

  test("null collapse keys are omitted by sort-by-field and top hits") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val (s, keys) = fixture
    // a corpus attribute missing for repo B's docs: (docid, null) rows
    val nullB = keys.withColumn("ckey",
      when(col("ckey") === "rb", lit(null).cast("string")).otherwise(col("ckey")))
    val sorted = s.searchSorted(Seq(Topic("1", "hot cold")), nullB, k = 100)
      .collect().map(r => (r.getString(1), r.getString(3))).sortBy(_._1).toSeq
    assert(sorted == Seq(("a-1", "ra"), ("a-2", "ra"), ("a-3", "ra")))
    val hits = s.topHits(Seq(Topic("1", "hot cold")), nullB, 5)
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(hits == Set(("ra", "a-1"), ("ra", "a-2"), ("ra", "a-3")))
  }
}
