package graft.ops

import graft.search.TopK
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for a training-data pipeline: deterministic
  * sampling, seeded global shuffle, and sequence packing. Beyond the
  * reference's own surface (its corpus ops stop at parsing/indexing,
  * `FileParser.java:77-303`) — these are the standard curation steps a
  * 100-TB pretraining pipeline runs downstream of dedup/quality filtering.
  *
  * All three are oracle-replayable: the only randomness is md5 of a salt
  * plus the stable docno, and the only global coordination is a two-pass
  * distributed prefix sum with driver state bounded by the partition count
  * (the classic parallel-scan shape), never a single-partition Window or an
  * unbounded collect.
  */
object Curation {

  /** Sliding token-window chunking (the passage/chunk step of RAG and
    * long-doc training pipelines, complementing [[packSequences]]'s
    * concat-and-cut): each document splits into windows of `size`
    * whitespace tokens starting every `stride` tokens, so consecutive
    * chunks overlap by `size - stride`. Window count is the closed form
    * `1 + ceil((n - size) / stride)` (one window when `n <= size`; empty
    * docs yield one empty chunk), so the rule replays in SQL with integer
    * math. Narrow per-doc flatMap — no shuffle, embarrassingly parallel.
    * Returns (docno, chunk_id, n_tokens, chunk_text).
    */
  def chunkWindows(corpus: DataFrame, size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select(col("docno"), col("content")).as[(String, String)]
      .flatMap { case (docno, content) =>
        val toks = content.split("\\s+").filter(_.nonEmpty)
        val n = toks.length
        val nw = if (n <= size) 1 else 1 + (n - size + stride - 1) / stride
        (0 until nw).iterator.map { i =>
          val start = i * stride
          val slice = toks.slice(start, math.min(start + size, n))
          (docno, i.toLong, slice.length.toLong, slice.mkString(" "))
        }
      }
      .toDF("docno", "chunk_id", "n_tokens", "chunk_text")
  }

  /** Deterministic hash-bucket sampling: keep documents whose
    * `md5(salt:docno)` bucket (first 8 hex chars mod `buckets`) falls below
    * `keep` — a `keep/buckets` sample that is stable across runs, executors
    * and engines (the standard holdout/sample split of corpus pipelines,
    * e.g. CCNet's hash sharding). Returns (docno, bucket). Pure codegen
    * expressions; embarrassingly parallel, no shuffle.
    */
  def hashSample(corpus: DataFrame, salt: String, buckets: Int,
                 keep: Int): DataFrame = {
    require(buckets > 0 && keep > 0 && keep <= buckets,
      s"need 0 < keep <= buckets, got keep=$keep buckets=$buckets")
    corpus.select(col("docno"),
        (conv(substring(md5(concat_ws(":", lit(salt), col("docno"))), 1, 8),
          16, 10).cast("long") % buckets).as("bucket"))
      .where(col("bucket") < keep)
  }

  /** Seeded deterministic global shuffle: every document gets a stable
    * 0-based position `pos` in the order of `md5(salt:docno)` (docno
    * tie-break, so the order is total even under a hash collision) — the
    * reproducible corpus permutation training runs need for epoch
    * shuffling. Equivalent to `row_number() over (order by md5, docno) - 1`
    * but computed scalably: range-repartition on the hash (uniform keys →
    * balanced partitions) + the distributed prefix sum of [[cumBefore]],
    * never a single-partition Window.
    */
  def seededShuffle(corpus: DataFrame, salt: String): DataFrame =
    cumBefore(corpus.select(
        md5(concat_ws(":", lit(salt), col("docno"))).as("skey"),
        col("docno"), lit(1L).as("w")))
      .select(col("docno"), col("cum_before").as("pos"))

  /** Concat-and-chunk sequence packing: documents are laid out end-to-end
    * in ascending `docno` order and cut into fixed `seqLen`-token training
    * sequences (the packing used by GPT-style pretraining dataloaders).
    * Returns (docno, n_tokens, chunk, chunk_offset): the doc's first token
    * lands in sequence `chunk` at offset `chunk_offset` (docs spanning a
    * boundary continue into the next chunk). `docTokens` is (docno,
    * n_tokens); feed it a shuffled position key upstream to pack in
    * shuffled order.
    */
  def packSequences(docTokens: DataFrame, seqLen: Int): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    cumBefore(docTokens.select(col("docno").as("skey"), col("docno"),
        col("n_tokens").cast("long").as("w")))
      .select(col("docno"), col("w").as("n_tokens"),
        floor(col("cum_before") / lit(seqLen.toLong)).cast("long").as("chunk"),
        (col("cum_before") % seqLen).as("chunk_offset"))
  }

  /** Deterministic weighted sampling without replacement (the
    * Efraimidis–Spirakis A-ES scheme — the standard one-pass distributed
    * weighted draw): each row draws u = md5-uniform(salt:docno) ∈ [0,1)
    * and keys ln(u)/w; the k LARGEST keys are exactly a weighted sample
    * without replacement (ln(u)/w orders like u^(1/w)). Heavier rows win
    * proportionally more often, the draw replays from (salt, docno, w)
    * alone, and the top-k plans as TakeOrderedAndProject — a distributed
    * bounded selection, never a global sort. Non-positive weights are
    * excluded (A-ES is undefined there). Output (docno, w, rank 0..k-1).
    */
  def weightedSample(corpus: DataFrame, weightCol: Column, salt: String,
                     k: Int): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    // 13 hex digits = 52 bits — exact in a double. Edge note (ADVICE r5):
    // u = 0 (all 52 md5 prefix bits zero, ~2^-52 per row) makes Spark's
    // log(0) NULL (sorts last under skey DESC) while DuckDB's ln(0) is
    // -inf — both LOSE the row, but the key values differ by dialect.
    // Left as documented-unreachable rather than guarded: a guard
    // (greatest(u, 2^-52)) would change the engine's key expression away
    // from the frozen oracle's for every row, to cover one that both
    // sides already drop.
    val u = (conv(substring(md5(concat_ws(":", lit(salt), col("docno"))),
      1, 13), 16, 10).cast("double") / lit(4503599627370496.0))
    val keyed = corpus
      .select(col("docno"), weightCol.cast("double").as("w"))
      .where(col("w") > 0) // on the projected alias: weightCol evaluates once
      .withColumn("skey", log(u) / col("w"))
      .orderBy(col("skey").desc, col("docno").asc)
      .limit(k)
    // rank over ≤ k rows — bounded by construction
    keyed.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("skey").desc, col("docno").asc)).cast("long") - 1)
      .select(col("docno"), col("w"), col("rank"))
  }

  /** Deterministic stratified sampling: per group (stratum), keep the `n`
    * documents with the smallest `md5(salt:docno)` (docno tie-break) —
    * the fixed-quota-per-stratum draw a training-mix builder takes per
    * language/source. The per-stratum draw is [[TopK.ranked]]:
    * the shuffle moves at most `n` rows per stratum per map partition,
    * never the stratum's row stream, and no stratum is ever sorted whole.
    * Output (strat, docno, rank) with rank 1..n in sample order.
    */
  def stratifiedSample(corpus: DataFrame, groupCol: String, salt: String,
                       n: Int): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    TopK.ranked(corpus.select(col(groupCol).cast("string").as("strat"),
        md5(concat_ws(":", lit(salt), col("docno"))).as("skey"),
        col("docno").cast("string").as("docno")),
      Seq("strat"), Seq(col("skey").asc, col("docno").asc), n)
      .select(col("strat"), col("docno"), (col("rank") + 1).as("rank"))
  }

  /** Distributed exclusive prefix sum. Input columns (skey, docno, w);
    * output (docno, w, cum_before) where `cum_before` = Σ w over all rows
    * strictly before this one in (skey, docno) order — which must be a
    * total order, i.e. (skey, docno) tuples unique (docno alone unique
    * suffices).
    *
    * Two-pass parallel scan: range-repartition + sort on the key (so
    * partition i holds keys strictly before partition i+1's), pass 1
    * collects ONE (pid, Σw) row per partition to the driver — bounded by
    * the partition count, not the data — pass 2 re-walks each partition
    * adding its broadcast exclusive offset. The range shuffle is
    * materialized once (localCheckpoint) so both passes share it and the
    * partition layout/order provably can't drift between them.
    */
  private[graft] def cumBefore(keyed: DataFrame): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    val sorted: Dataset[(String, String, Long)] = keyed
      .select(col("skey").cast("string"), col("docno").cast("string"),
        col("w").cast("long"))
      .as[(String, String, Long)]
      .repartitionByRange(col("skey"), col("docno"))
      .sortWithinPartitions("skey", "docno")
      .localCheckpoint()
    val partSums: Array[(Int, Long)] = sorted.mapPartitions { it =>
      var s = 0L
      it.foreach(s += _._3)
      Iterator.single((TaskContext.getPartitionId(), s))
    }.collect()
    val offsets: Map[Int, Long] = partSums.sortBy(_._1)
      .scanLeft((-1, 0L)) { case ((_, acc), (pid, s)) => (pid, acc + s) }
      .sliding(2).collect { case Array((_, acc), (pid, _)) => pid -> acc }
      .toMap
    val bc = spark.sparkContext.broadcast(offsets)
    sorted.mapPartitions { it =>
      var run = bc.value.getOrElse(TaskContext.getPartitionId(), 0L)
      it.map { case (_, docno, w) =>
        val before = run
        run += w
        (docno, w, before)
      }
    }.toDF("docno", "w", "cum_before")
  }
}
