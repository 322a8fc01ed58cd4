package graftbench

import graft.search.Topic

import java.util.SplittableRandom

/** Seeded input generators. Every input the engine sees comes from here, and
  * each generator is a pure function of its arguments: the same seed gives
  * the same inputs, a different seed gives different ones.
  *
  * The corpus mimics the engine's lineitem-derived benchmark corpus (one
  * order = one document, one line = seven pseudo-words), so its document
  * frequencies are skewed the same way: `flag*`/`status*` are hot (in nearly
  * every document), `part*`/`supp*` are mid-frequency, and `qty*`, `price*`
  * and the month words are rare in combination.
  */
object Gen {
  final case class Doc(docno: String, content: String)

  // stream ids: each generator draws from its own stream of the run seed,
  // so adding draws to one never shifts the inputs of another
  private val CorpusStream = 1L
  private val PoolStream = 2L
  private val MixStream = 3L
  private val BatchStream = 4L
  private val DeltaStream = 5L
  private val SampleStream = 6L
  private val WarmupStream = 7L

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  private val Flags = Array("flagN", "flagN", "flagR", "flagA")
  private val Months: Array[String] =
    (for (y <- 1992 to 1998; m <- 1 to 12) yield f"m$y%04d$m%02d").toArray

  private def line(r: SplittableRandom): String = {
    val qty = 1 + r.nextInt(50)
    val price = qty * (900 + r.nextInt(1200)) / 100
    s"${Flags(r.nextInt(Flags.length))} status${if (r.nextBoolean()) "O" else "F"}" +
      s" part${r.nextInt(2000)} supp${r.nextInt(500)} qty$qty price$price" +
      s" ${Months(r.nextInt(Months.length))}"
  }

  /** `n` documents with 1–7 lines each, docnos unique and in random order. */
  def corpus(seed: Long, n: Int): Vector[Doc] = {
    val r = rng(seed, CorpusStream)
    // a seeded permutation of order keys, so docno order ≠ generation order
    val keys = Array.tabulate(n)(i => i.toLong * 4 + 1)
    shuffle(keys, r)
    Vector.tabulate(n) { i =>
      val lines = 1 + r.nextInt(7)
      Doc(f"o${keys(i)}%010d", Iterator.fill(lines)(line(r)).mkString(" "))
    }
  }

  private def shuffle[A](a: Array[A], r: SplittableRandom): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  // term classes of the topic generator (hot ≈ every doc, mid ≈ 0.1–1 %,
  // rare ≈ 0.01 % alone, rarer in combination)
  private def hot(r: SplittableRandom): String =
    if (r.nextBoolean()) Flags(r.nextInt(Flags.length))
    else s"status${if (r.nextBoolean()) "O" else "F"}"
  private def mid(r: SplittableRandom): String =
    if (r.nextInt(4) == 0) s"supp${r.nextInt(500)}" else s"part${r.nextInt(2000)}"
  private def rare(r: SplittableRandom): String = r.nextInt(3) match {
    case 0 => s"qty${1 + r.nextInt(50)}"
    case 1 => s"price${(1 + r.nextInt(50)) * (900 + r.nextInt(1200)) / 100}"
    case _ => Months(r.nextInt(Months.length))
  }

  /** One topic text of 1–4 terms, each hot with probability `hotShare` %,
    * else mid or rare. Hot terms match nearly every document, which is what
    * makes a k=1000 topic expensive.
    */
  private def topicText(r: SplittableRandom, hotShare: Int): String = {
    val n = 1 + r.nextInt(4)
    Iterator.fill(n) {
      val c = r.nextInt(100)
      if (c < hotShare) hot(r) else if (c < hotShare + (100 - hotShare) / 2) mid(r) else rare(r)
    }.mkString(" ")
  }

  /** A pool of `n` distinct ad hoc topics over the hot/mid/rare classes.
    * The shape of topic i is fixed — "hot mid", "mid" or "rare mid rare"
    * by i % 3 — and only the terms come from the seed, so runs with
    * different seeds send topics of the same shapes in the same order.
    */
  def topicPool(seed: Long, n: Int): Vector[String] = {
    val r = rng(seed, PoolStream)
    val shapes: Array[Seq[SplittableRandom => String]] =
      Array(Seq(hot, mid), Seq(mid), Seq(rare, mid, rare))
    val seen = scala.collection.mutable.HashSet.empty[String]
    Vector.tabulate(n) { i =>
      Iterator.continually(shapes(i % 3).map(_(r)).mkString(" ")).find(seen.add).get
    }
  }

  /** `n` distinct topics (qids w0, w1, …) for warm-up and sweeps, drawn
    * from a stream of their own so they never shift the measured inputs.
    */
  def warmupTopics(seed: Long, n: Int): Vector[Topic] = {
    val r = rng(seed, WarmupStream)
    distinct(n)(topicText(r, hotShare = 20)).zipWithIndex.map { case (t, i) => Topic(s"w$i", t) }
  }

  private def distinct(n: Int)(next: => String): Vector[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) seen += next
    seen.toVector
  }

  /** Query operator of an ad hoc search. */
  sealed abstract class Mode(val name: String)
  case object Or extends Mode("or")
  case object Wand extends Mode("wand")
  case object And extends Mode("and")
  val Modes: Seq[Mode] = Seq(Or, Wand, And)

  /** Zipf(s) sampler over ranks 0 until n: rank i has weight 1/(i+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** One ad hoc request. `repeat` marks a topic sent before in the stream. */
  final case class Request(topic: Topic, mode: Mode, repeat: Boolean) {
    /** "repeat", or the operator's name for a fresh topic */
    def kind: String = if (repeat) "repeat" else mode.name
  }

  /** The ad hoc request stream: an endless seeded sequence of requests.
    * Every block of five requests is a seeded order of four fresh topics
    * (two OR, one WAND, one AND, taken from `pool` in order) and one OR
    * repeat, drawn with Zipf(1.0) popularity over the topics already sent
    * (earliest first). Each run thus has the same operator mix and repeat
    * rate, the repeats exercise the engine's term-stats memo, and the
    * median request is a fresh OR or AND one.
    */
  def adhocStream(seed: Long, pool: Vector[String]): Iterator[Request] = {
    val r = rng(seed, MixStream)
    val sent = scala.collection.mutable.ArrayBuffer.empty[String]
    var fresh = 0
    def next(m: Mode): (String, Mode, Boolean) = {
      val t = pool(fresh % pool.size)
      fresh += 1
      sent += t
      (t, m, false)
    }
    Iterator.continually {
      val block: Array[Option[Mode]] = Array(Some(Or), Some(Or), Some(Wand), Some(And), None)
      shuffle(block, r)
      block.iterator.map {
        case Some(m) => next(m)
        case None if sent.isEmpty => next(Or)
        case None => (sent(new Zipf(sent.size, 1.0).sample(r)), Or, true)
      }
    }.flatten.zipWithIndex.map { case ((t, m, rep), i) => Request(Topic(s"q$i", t), m, rep) }
  }

  /** Batch number `b` of `n` distinct topics; no topic text repeats within a
    * batch or across the batches of one seed.
    */
  def batches(seed: Long, n: Int): Iterator[Vector[Topic]] = {
    val r = rng(seed, BatchStream)
    val seen = scala.collection.mutable.HashSet.empty[String]
    Iterator.from(0).map { b =>
      val texts = Vector.newBuilder[String]
      var got = 0
      while (got < n) {
        val t = topicText(r, hotShare = 15)
        if (seen.add(t)) { texts += t; got += 1 }
      }
      texts.result().zipWithIndex.map { case (t, i) => Topic(s"b$b-$i", t) }
    }
  }

  /** Seeded delta membership: `d` disjoint deltas of `n` of `docs` each. */
  def deltas(seed: Long, docs: Vector[Doc], d: Int, n: Int): Vector[Vector[Doc]] = {
    require(d * n <= docs.size, "deltas exceed the corpus")
    val r = rng(seed, DeltaStream)
    val order = Array.tabulate(docs.size)(identity)
    shuffle(order, r)
    Vector.tabulate(d)(i => order.slice(i * n, (i + 1) * n).sorted.map(docs).toVector)
  }

  /** `n` distinct indices of `0 until size`, seeded by (seed, salt). */
  def sample(seed: Long, salt: Long, size: Int, n: Int): Vector[Int] = {
    val r = rng(seed, SampleStream * 1000 + salt)
    val idx = Array.tabulate(size)(identity)
    shuffle(idx, r)
    idx.take(math.min(n, size)).toVector
  }
}
