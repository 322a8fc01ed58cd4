package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The seeded generators: the same seed gives identical inputs, a different
  * seed gives different ones.
  */
class GenSpec extends AnyFunSuite {
  private def inputs(seed: Long) = {
    val docs = Gen.corpus(seed, 2000)
    val pool = Gen.topicPool(seed, 100)
    (docs, pool,
      Gen.adhocStream(seed, pool).take(200).toVector,
      Gen.batches(seed, 50).take(3).toVector,
      Gen.deltas(seed, docs, 3, 20),
      Gen.warmupTopics(seed, 10),
      Gen.sample(seed, 1, 2000, 20))
  }

  test("the same seed gives identical inputs") {
    assert(inputs(7) == inputs(7))
  }

  test("a different seed gives different inputs, part by part") {
    val a = inputs(7).productIterator.toVector
    val b = inputs(8).productIterator.toVector
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) => assert(x != y, s"part $i") }
  }

  test("docnos are unique and every document has 1 to 7 lines") {
    val docs = Gen.corpus(3, 5000)
    assert(docs.map(_.docno).distinct.size == docs.size)
    docs.foreach(d => assert((1 to 7).contains(d.content.split(' ').length / 7)))
  }

  test("every block of five ad hoc requests has the same mix") {
    val pool = Gen.topicPool(3, 600)
    val reqs = Gen.adhocStream(3, pool).take(500).toVector
    reqs.grouped(5).drop(1).foreach { b =>
      assert(b.count(_.mode == Gen.Or) == 3 && b.count(_.mode == Gen.Wand) == 1 && b.count(_.mode == Gen.And) == 1)
      assert(b.count(_.repeat) == 1 && b.filter(_.repeat).forall(_.mode == Gen.Or))
    }
    // one of every five requests repeats an earlier topic, popular ones most
    val counts = reqs.groupBy(_.topic.text).view.mapValues(_.size).toMap
    assert(counts.size >= 400 && counts.size <= 401)
    assert(counts(pool(0)) > counts.getOrElse(pool(100), 0) * 5)
  }

  test("the shortest ad hoc run sends every request kind, so each is checked") {
    (1L to 200L).foreach { seed =>
      val reqs = Gen.adhocStream(seed, Gen.topicPool(seed, Sizes.PoolTopics)).take(5 * Sizes.MinBlocks).toVector
      assert(reqs.map(_.kind).toSet == Set("or", "wand", "and", "repeat"), s"seed $seed")
      // a repeat is a topic sent before, a fresh topic is not
      val seen = scala.collection.mutable.HashSet.empty[String]
      reqs.foreach(q => assert(seen.add(q.topic.text) != q.repeat, s"seed $seed ${q.topic}"))
    }
  }

  test("batch topics never repeat within or across batches") {
    val bs = Gen.batches(3, 100).take(4).toVector
    val texts = bs.flatten.map(_.text)
    assert(texts.distinct.size == texts.size)
    assert(bs.flatten.map(_.qid).distinct.size == texts.size)
  }

  test("deltas are disjoint from each other") {
    val docs = Gen.corpus(3, 1000)
    val ds = Gen.deltas(3, docs, 5, 40)
    val all = ds.flatten
    assert(ds.forall(_.size == 40))
    assert(all.map(_.docno).distinct.size == all.size)
  }
}
