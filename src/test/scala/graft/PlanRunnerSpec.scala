package graft

import graft.analysis.AnalyzerConfig
import graft.index.{BuiltIndex, Deletes, IndexBuilder, IndexConfig}
import graft.search.Searcher
import graft.streaming.{StreamingIngest, UnionIndex}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** [[PlanRunner]], the search path's driver collect, returns exactly the
  * rows `Dataset.collect` does — for the term-stats lookup and the docno
  * lookup, cold (pages loaded) and warm (from the page memo), on a plain
  * index, a delete overlay and a [[UnionIndex]] — and runs no job for an
  * empty plan.
  */
class PlanRunnerSpec extends AnyFunSuite {
  import PlanRunnerSpec._
  private lazy val spark = TestSpark.spark

  private val cfg = IndexConfig(analyzer = AnalyzerConfig(), buckets = 8, groupShift = 8, mergeShift = 1)

  // over 4,096 docs per index, so a lookup of every docid spans
  // several docno pages
  private def corpus(prefix: String, n: Int): Seq[(String, String)] =
    (0 until n).map(i => (f"$prefix$i%05d", s"w${i % 7} w${i % 13} x${i % 101}"))

  private lazy val plain: BuiltIndex = {
    import spark.implicits._
    IndexBuilder.build(corpus("r", 4400).toDF("docno", "content"), TestSpark.tmpDir("runner"), cfg)
  }

  private lazy val overlay: BuiltIndex = {
    import spark.implicits._
    val ov = TestSpark.tmpDir("runnerdel") + "/ovl"
    Deletes.writeDeletes(plain, Seq("r00003", "r00100").toDF("docno"), ov)
    plain.withDeletes(ov)
  }

  private lazy val union: UnionIndex = {
    import spark.implicits._
    val root = TestSpark.tmpDir("runnerunion")
    val deltas = Seq(corpus("a", 2300), corpus("b", 2300)).zipWithIndex.map { case (docs, b) =>
      StreamingIngest.ingestBatch(docs.toDF("docno", "content"), b, root, cfg)
    }
    new UnionIndex(spark, deltas.map(_.dir), deltas.head.cfg)
  }

  private def indexes = Seq("plain" -> plain, "overlay" -> overlay, "union" -> union)

  test("term stats: runner rows ≡ Dataset.collect; termStatsOf agrees") {
    val terms = Seq("w0", "w3", "x7", "x100", "nope")
    for ((name, ix) <- indexes) {
      val plan = ix.forTerms(ix.termStats, terms).select("term", "df", "cf")
      val want = plan.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(want.size == 4, name)
      assert(PlanRunner.rows(plan)(stat).toSeq.sorted == want, name)
      assert(ix.termStatsOf(terms) == want.map(t => t._1 -> (t._2, t._3)).toMap, name)
    }
  }

  test("docno lookup: both paths ≡ Dataset.collect") {
    for ((name, ix) <- indexes) {
      val all = ix.docs.select("docid", "docno").collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(all.size > 4096, name)
      val s = new Searcher(ix)
      // the docnos aligned with the ids' sorted, distinct array, null
      // where no doc holds the id
      def lookup(ids: Seq[Long]): Seq[(Long, String)] = {
        val got = s.docnoLookup(ids.toArray)
        assert(got.ids.toSeq == ids.distinct.sorted && got.docnos.length == got.ids.length, name)
        got.ids.toSeq.zip(got.docnos.map(d => if (d == null) null else d.toString))
      }
      // the pages loaded, with an id no doc holds, unsorted and repeated
      val few = all.keys.toSeq.sorted.grouped(97).map(_.head).toSeq
      val missing = all.keys.max + 1
      assert(lookup(missing +: (few.reverse ++ few)) == few.map(d => d -> all(d)) :+ (missing -> null), name)
      val s0 = s.docnoLookup(few.toArray)
      assert(few.forall(d => s0(d).toString == all(d)) && s0(missing) == null, name)
      // every id (> 4,096), now from the page memo
      assert(lookup(all.keys.toSeq) == all.toSeq.sorted, name)
    }
  }

  test("multi-partition plans: every partition's rows, each partition's f applied once") {
    for ((name, ix) <- indexes) {
      val plan = ix.docs.select("docid", "docno").repartition(3, col("docno"))
      val want = plan.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      val parts = PlanRunner.partitions(plan)(it => Array(it.map(docno).toArray))
      assert(parts.length == 3 && parts.forall(_.length == 1), name)
      assert(parts.flatMap(_.head).toSeq.sorted == want, name)
      assert(PlanRunner.rows(plan)(docno).toSeq.sorted == want, name)
    }
    // the union's term_stats re-aggregates under an exchange
    val agg = union.termStats.select("term", "df", "cf")
    assert(PlanRunner.rows(agg)(stat).toSeq.sorted ==
      agg.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted)
  }

  test("empty input: no rows and no job") {
    for ((name, ix) <- indexes) {
      var got = Array.empty[(String, Long, Long)]
      var docnos = Array.empty[org.apache.spark.unsafe.types.UTF8String]
      val jobs = TestSpark.jobsOf {
        got = PlanRunner.rows(ix.forTerms(ix.termStats, Nil).select("term", "df", "cf"))(stat)
        docnos = new Searcher(ix).docnoLookup(Array.emptyLongArray).docnos
      }
      assert(got.isEmpty && docnos.isEmpty && jobs == 0, s"$name jobs=$jobs")
      // a scan that matches nothing still runs, and returns nothing
      assert(PlanRunner.rows(ix.docs.where(col("docid") < 0).select("docid", "docno"))(docno).isEmpty)
    }
  }
}

object PlanRunnerSpec {
  // readers live here, so the closures that use them capture no spec
  private val stat = (r: InternalRow) => (r.getUTF8String(0).toString, r.getLong(1), r.getLong(2))
  private val docno = (r: InternalRow) => (r.getLong(0), r.getUTF8String(1).toString)
}
