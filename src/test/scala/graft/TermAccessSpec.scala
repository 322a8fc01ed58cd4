package graft

import graft.analysis.AnalyzerConfig
import graft.index.{BuiltIndex, IndexBuilder, IndexConfig}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** The read side's one term-access seam on [[BuiltIndex]]: `forTerms`
  * (bucket partition filter + pushed term IN; no scan for an empty term
  * set) and `termStatsOf` (per-statsKey memo shared by every handle on the
  * same statistics surface, absent terms included).
  */
class TermAccessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val corpus = Seq(
    "t-1" -> "alpha beta beta",
    "t-2" -> "alpha gamma",
    "t-3" -> "delta")

  private lazy val (dir, idx) = {
    import spark.implicits._
    val d = TestSpark.tmpDir("termaccess")
    (d, IndexBuilder.build(corpus.toDF("docno", "content"), d,
      IndexConfig(analyzer = AnalyzerConfig(), buckets = 8)))
  }

  private def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }

  test("forTerms prunes on bucket, pushes the term IN; no terms means no scan") {
    val rows = idx.forTerms(idx.termStats, Seq("beta", "alpha", "beta"))
    val got = rows.select("term").collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("alpha", "beta"))
    val Seq(scan) = scans(rows)
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "bucket")))
    assert(scan.dataFilters.exists(_.references.exists(_.name == "term")))

    val empty = idx.forTerms(idx.postingsMatch, Nil)
    var n = -1
    assert(TestSpark.jobsOf { n = empty.collect().length } == 0)
    assert(n == 0 && scans(empty).isEmpty)
    assert(empty.schema == idx.postingsMatch.schema)
  }

  test("termStatsOf: one lookup per unseen term, shared by every handle on the index") {
    val terms = Seq("alpha", "beta", "nope")
    var first = Map.empty[String, (Long, Long)]
    val cold = TestSpark.jobsOf { first = idx.termStatsOf(terms) }
    assert(cold == 1, s"jobs=$cold")
    // absent terms have no entry; df/cf match the term_stats table
    assert(first == Map("alpha" -> (2L, 2L), "beta" -> (1L, 2L)))
    // a second handle on the same snapshot, the handle open() reads back
    // from disk and a delete overlay share the memo (same statsKey): hits
    // and the negative entry alike cost no job
    val again = new BuiltIndex(spark, dir, idx.cfg)
    Seq(idx, again, BuiltIndex.open(spark, dir),
        again.withDeletes(TestSpark.tmpDir("termaccess-del"))).foreach { h =>
      var got = Map.empty[String, (Long, Long)]
      assert(TestSpark.jobsOf { got = h.termStatsOf(terms) } == 0)
      assert(got == first)
    }
    assert(TestSpark.jobsOf { assert(idx.termStatsOf(Nil).isEmpty) } == 0)
  }

  test("termStatsOf: the memo is bounded, least recently used first out") {
    assert(idx.termStatsOf(Seq("alpha", "beta")).size == 2)
    // MemoTerms − 1 absent terms, "beta" read again halfway: every held
    // entry read before "beta" is evicted, the negative ones counted
    val fresh = (1 until BuiltIndex.MemoTerms).map(i => s"absent$i")
    val (h1, h2) = fresh.splitAt(fresh.size / 2)
    assert(idx.termStatsOf(h1).isEmpty)
    assert(idx.termStatsOf(Seq("beta")) == Map("beta" -> (1L, 2L)))
    assert(idx.termStatsOf(h2).isEmpty)
    assert(BuiltIndex.statsMemo(idx.statsKey).size == BuiltIndex.MemoTerms)
    var got = Map.empty[String, (Long, Long)]
    assert(TestSpark.jobsOf { got = idx.termStatsOf(Seq("beta")) } == 0)
    assert(TestSpark.jobsOf { got = idx.termStatsOf(Seq("alpha")) } == 1)
    assert(got == Map("alpha" -> (2L, 2L)))

    // past MemoSnapshots statistics surfaces, the least recent one's memo goes
    BuiltIndex.statsMemo("evict-0").put("alpha", None)
    (1 to BuiltIndex.MemoSnapshots).foreach(i => BuiltIndex.statsMemo(s"evict-$i"))
    assert(BuiltIndex.statsMemo("evict-0").isEmpty)
  }
}
