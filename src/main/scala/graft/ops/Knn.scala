package graft.ops

import graft.search.TopK
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *   set against the full embedding table; one narrow pass + per-query
  *   top-k. At 10^12 rows this is a full scan but embarrassingly parallel
  *   and shuffle-free until the final tiny top-k aggregation.
  * - [[signLshBuckets]] / [[lshTopK]]: random-hyperplane (sign) LSH with
  *   deterministic md5-derived hyperplanes — the scale path: candidates
  *   come from matching `nProbe`-neighborhood buckets instead of scanning
  *   everything.
  *
  * The per-query top-k is the engine's one bounded ranking,
  * [[graft.search.TopK.ranked]] (cos desc, vec_id asc, Spark's order, so a
  * NaN cosine ranks first): each map partition keeps ≤ k rows per query
  * below the exchange, so no reducer ever holds — let alone sorts — a
  * full per-query candidate list.
  *
  * All arithmetic is promoted to Double before summation (sequential
  * left-to-right, matching the DuckDB oracle's list_cosine_similarity).
  */
object Knn {

  // --- compiled kernels (r6 optimization) ---------------------------------
  // The original Column implementations used higher-order functions
  // (aggregate/zip_with) and a per-element md5 for the hyperplanes; HOFs
  // are CodegenFallback in Spark (interpreted per element), which made
  // bucket assignment and the pair-stream dot products the dominant cost
  // of every kNN/near-dup entry (guide §1.2 step 2: per-task work). These
  // JVM kernels replay the exact same left-to-right IEEE fold order and
  // the exact same md5-derived plane components, so results are
  // bit-identical (OpsSpec/oracle-verified); only the evaluation engine
  // changed (interpreted expression tree → compiled loop behind a UDF).

  /** JVM dot product, identical fold order to the old
    * aggregate(zip_with(...)) expression: Σ x_i·y_i left-to-right in
    * double. Null/length-mismatched inputs return null exactly like
    * zip_with's null padding did (a null element nulls the whole sum).
    * Kernels take Array[Double] and the UDFs declare array<double>, so a
    * float-array column reaches them through Spark's exact float→double
    * widening cast — the same per-element cast the old expression did —
    * and a double-array column keeps its old exact semantics too.
    */
  private[ops] def dotJvm(a: Array[Double], b: Array[Double]): java.lang.Double = {
    if (a == null || b == null || a.length != b.length) return null
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private val dotUdf = udf((a: Array[Double], b: Array[Double]) => dotJvm(a, b))

  /** Cosine similarity of two numeric-array columns, computed in double. */
  private[ops] def dotCol(x: Column, y: Column): Column = dotUdf(x, y)

  /** JVM norm: sqrt of the self-dot (same IEEE ops as sqrt(dotCol(x,x))). */
  private[ops] def normJvm(a: Array[Double]): java.lang.Double = {
    val d = dotJvm(a, a)
    if (d == null) null else math.sqrt(d)
  }

  /** Euclidean norm of an embedding column. */
  def norm(x: Column): Column = sqrt(dotCol(x, x))

  /** Cosine of a query-side vector `a` and a stored vector `b`. */
  def cosine(a: Column, b: Column): Column =
    cosineFromParts(dotCol(a, b), norm(a), norm(b))

  /** Cosine from a precomputed pair dot and per-side norms — the form
    * every candidate JOIN uses: a vector's self-norm is computed once per
    * vector instead of once per pair (≈3× less arithmetic on the pair
    * stream). The expression is the same `dot / (√(a·a) · √(b·b))` as
    * [[cosine]] with identical operation order, so results are
    * bit-identical and the DuckDB `list_cosine_similarity` oracles are
    * unaffected. `normA` is the query side's, `normB` the stored vector's.
    * A zero norm product has no cosine: the query fails with a message
    * naming the zero-norm side, not with the division's bare
    * DIVIDE_BY_ZERO. A NaN component still gives a NaN cosine.
    */
  def cosineFromParts(dotAB: Column, normA: Column, normB: Column): Column = {
    val denom = normA * normB
    // a norm is the root of a representable self-dot, so the product is 0
    // only where one norm is
    when(denom === 0.0, raise_error(
      when(normA === 0.0, lit("cosine of a zero-norm vector: the query vector has norm 0"))
        .otherwise(lit("cosine of a zero-norm vector: a stored (candidate or centroid) vector has norm 0"))))
      .otherwise(dotAB / denom)
  }

  /** Rank the (qid, vec_id, cos) candidate stream to 0-based Int top-k
    * ranks per qid, order (cos desc, vec_id asc), via [[TopK.ranked]].
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    TopK.ranked(scored.select(col("qid").cast("long").as("qid"),
        col("vec_id").cast("long").as("vec_id"), col("cos").cast("double").as("cos")),
      Seq("qid"), Seq(col("cos").desc, col("vec_id").asc), k)
      .select(col("qid"), col("vec_id"), col("rank").cast("int").as("rank"))

  /** Exact top-k cosine neighbors for each query vector.
    * `queries`: (qid long, qv array<float>); `vectors`: (vec_id, embedding).
    * Output: (qid, vec_id, rank) with rank 0-based by (cos desc, vec_id asc),
    * self-matches excluded.
    */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = vectors.withColumn("vn", norm(col("embedding")))
      .crossJoin(broadcast(queries.withColumn("qn", norm(col("qv")))))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosineFromParts(dotCol(col("qv"), col("embedding")),
          col("qn"), col("vn")).as("cos"))
    rankTopK(scored, k)
  }

  /** Pre-filtered exact kNN (≙ Elasticsearch `knn` with `filter`): the
    * predicate restricts the candidate set BEFORE the search, so every
    * query still gets k passing neighbors — unlike post-filtering a
    * finished top-k, which can return fewer than k (or none) for
    * selective filters. `keep` is a plain column predicate, so it pushes
    * to the parquet scan and the norm arithmetic is never spent on
    * filtered-out vectors. Composes identically with [[lshTopK]]
    * (`lshTopK(vectors.where(keep), …)`) for the approximate path.
    */
  def filteredTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                   keep: Column): DataFrame =
    bruteForceTopK(vectors.where(keep), queries, k)

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * md5-derived uniform in [-1, 1) — the JVM replica of the original
    * column expression `conv(substring(md5("p:<plane>:<dim>"), 1, 8), 16,
    * 10) / 2^31 - 1` (same bytes through MessageDigest, same arithmetic).
    */
  private[ops] def planeComponentJvm(plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"p:$plane:$dim".getBytes("UTF-8"))
    // first 8 hex chars = first 4 digest bytes as an unsigned 32-bit int
    var h = 0L
    var i = 0
    while (i < 4) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h.toDouble / 2147483648.0 - 1.0
  }

  /** Most signature shapes (nPlanes, dims) whose plane matrices [[planes]]
    * keeps, least recently used first out. A constant, not a setting: it
    * bounds a JVM-wide memo of at most 64 × dims doubles per shape.
    */
  private[ops] val MaxPlaneShapes = 16

  // the (nPlanes × dims) plane components per signature shape: computed
  // once, not once per element per row like the old per-element md5
  // expression, and looked up once per row
  private val planeCache = graft.index.BuiltIndex.lru[(Int, Int), Array[Array[Double]]](MaxPlaneShapes)

  /** The first `nPlanes` hyperplanes over `dims` dimensions: row p holds
    * plane p's components.
    */
  private[ops] def planes(nPlanes: Int, dims: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((nPlanes, dims),
      _ => Array.tabulate(nPlanes, dims)(planeComponentJvm))

  private[ops] def planeShapesHeld: Int = planeCache.size

  /** JVM sign-LSH bucket, identical to the old expression: per plane the
    * projection is the left-to-right fold Σ v_i·comp(p, i); bit p is set
    * iff proj ≥ 0 in Spark's order, where NaN is above every number.
    * Empty-embedding parity note: the old
    * `zip_with(embedding, sequence(0, size-1), …)` null-padded the empty
    * side (sequence(0, -1) = [0, -1]), nulling every plane's fold, so
    * `when(null >= 0)` set NO bits — an empty embedding's bucket is 0,
    * not all-ones.
    */
  private[ops] def signBucketJvm(v: Array[Double], nPlanes: Int): java.lang.Long = {
    // NULL-embedding parity: the old per-plane `when(proj >= 0, bit)`
    // saw a NULL proj (null-propagated fold) and took the otherwise-0
    // branch, so a null embedding bucketed to 0, same as an empty one.
    if (v == null || v.length == 0) return 0L
    val rows = planes(nPlanes, v.length)
    var b = 0L
    var p = 0
    while (p < nPlanes) {
      val comps = rows(p)
      var proj = 0.0
      var i = 0
      while (i < v.length) { proj += v(i) * comps(i); i += 1 }
      if (java.lang.Double.compare(proj, 0.0) >= 0) b |= 1L << p
      p += 1
    }
    b
  }

  /** Sign-LSH bucket id (one long per `nPlanes`-bit signature) for an
    * embedding column — compiled kernel behind a UDF (bit-identical to
    * the original interpreted HOF + per-element-md5 expression).
    */
  def signBucket(embedding: Column, nPlanes: Int): Column =
    udf((v: Array[Double]) => signBucketJvm(v, nPlanes)).apply(embedding)

  /** Approximate top-k: candidates share the query's LSH bucket or (with
    * `multiProbe`) any 1-bit-flip neighbor bucket — the standard multi-probe
    * trick that buys recall without more tables. Recall vs
    * [[bruteForceTopK]] is measured in OpsSpec.
    */
  def lshTopK(vectors: DataFrame, queries: DataFrame, k: Int, nPlanes: Int = 8,
              multiProbe: Boolean = true): DataFrame = {
    val vb = vectors.withColumn("bucket", signBucket(col("embedding"), nPlanes))
      .withColumn("vn", norm(col("embedding")))
    val qb0 = queries.withColumn("bucket0", signBucket(col("qv"), nPlanes))
      .withColumn("qn", norm(col("qv")))
    val qb =
      if (!multiProbe) qb0.withColumn("bucket", col("bucket0")).drop("bucket0")
      else qb0.select(col("qid"), col("qv"), col("qn"),
        explode(array((lit(0L) +: (0 until nPlanes).map(p => lit(1L << p)))
          .map(f => col("bucket0").bitwiseXOR(f)): _*)).as("bucket"))
    val scored = vb.join(broadcast(qb), Seq("bucket"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosineFromParts(dotCol(col("qv"), col("embedding")),
          col("qn"), col("vn")).as("cos"))
    rankTopK(scored, k)
  }

  // --- IVF (inverted-file) ANN — coarse-quantizer cells + nProbe search ---
  // The classic alternative to LSH blocking (Jégou/Douze/Schmid, TPAMI 2011,
  // "Product Quantization for Nearest Neighbor Search" — the IVF half,
  // without the PQ residual codes): assign every vector to its nearest
  // coarse centroid, search only the `nProbe` cells nearest the query,
  // exact-cosine re-rank inside them.

  /** Per-row nearest-centroid id as ONE Catalyst fold expression — no
    * shuffle, no join: the centroid table (the coarse quantizer, small by
    * construction — hundreds to a few thousand entries) is embedded as an
    * array literal and folded left-to-right per row. Strict `>` keeps the
    * lowest cid on exact score ties (the fold scans ascending cid).
    *
    * Argmax over cosine needs neither norm per comparison: cos(e, c) =
    * dot(e, c) / (|e|·|c|), and |e| is a positive constant across the
    * row's candidates, so the fold ranks by dot(e, c) · (1/|c|) with the
    * inverse centroid norms precomputed into the literal — the row's
    * self-norm is never evaluated and each centroid norm is computed once
    * at plan build, not per row. A zero-norm (degenerate) embedding scores
    * 0 against every centroid and lands deterministically in the lowest
    * cell, so it stays searchable.
    *
    * At 10^12 rows this is the whole point of IVF: assignment is a narrow
    * codegen'd map over the scan, so building the cell index costs one pass
    * and zero shuffles. (For quantizers too big to inline in a plan —
    * >~10^4 centroids — the same fold would move to a broadcast variable +
    * mapPartitions; not needed at any size this repo targets.)
    */
  def ivfCellExpr(embedding: Column, centroids: Seq[(Long, Seq[Float])]): Column = {
    // r6: compiled argmax kernel behind a UDF — the original typedLit +
    // nested-aggregate fold was a CodegenFallback expression interpreted
    // per row per centroid per element. Same semantics: ascending-cid
    // scan, score = (left-to-right dot fold) × precomputed 1/|c|, strictly
    // greater in Spark's order, where NaN sits above every number (so the
    // lowest cid wins exact ties, and the first NaN score wins outright).
    val sorted = centroids.sortBy(_._1)
    val cids = sorted.map(_._1).toArray
    val cvs = sorted.map(_._2.toArray).toArray
    val invs = cvs.map { cv =>
      val n2 = cv.foldLeft(0.0)((a, v) => a + v.toDouble * v.toDouble)
      if (n2 == 0.0) 0.0 else 1.0 / math.sqrt(n2)
    }
    val f = udf((v: Array[Double]) => {
      // null-embedding parity: the old fold's NULL scores never beat the
      // seed, so a null embedding returned the seed cid -1
      if (v == null) java.lang.Long.valueOf(-1L)
      else {
        var bestCid = -1L
        var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < cvs.length) {
          val cv = cvs(c)
          // zip_with null-padded unequal lengths (nulling the fold); the
          // fixture contract is equal dims — mismatches keep the seed -1
          if (cv.length == v.length) {
            var dot = 0.0
            var i = 0
            while (i < v.length) { dot += v(i) * cv(i).toDouble; i += 1 }
            val score = dot * invs(c)
            if (java.lang.Double.compare(score, bestScore) > 0) { bestScore = score; bestCid = cids(c) }
          }
          c += 1
        }
        java.lang.Long.valueOf(bestCid)
      }
    })
    f(embedding)
  }

  /** Deterministic seed quantizer: the `nCentroids` lowest-id vectors
    * (cid = vec_id). Cheap (TakeOrdered, no full sort) and exactly
    * SQL-replayable — the oracle's path. [[ivfTrain]] refines it.
    */
  def ivfSeedCentroids(vectors: DataFrame, nCentroids: Int): Seq[(Long, Seq[Float])] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    vectors.orderBy("vec_id").limit(nCentroids)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
  }

  /** Fixed-point scale for [[ivfTrain]]'s cross-row component sums: unit
    * components land on a 2^-24 grid (~6e-8 resolution — far below any
    * coarse-quantizer cell geometry) so the per-cell sum is an exact
    * integer sum, associative and therefore identical under ANY
    * partitioning.
    */
  val TrainFixScale: Double = 16777216.0 // 2^24

  /** Spherical-k-means refinement of the seed quantizer (Dhillon/Modha,
    * Machine Learning 42, 2001): `iters` rounds of assign-to-nearest-by-
    * cosine + dim-wise mean of the DIRECTION-normalized members — the
    * update that provably does not decrease the summed assignment cosine
    * (an unnormalized mean would not, with heterogeneous vector norms).
    * Train on a sample at scale — the quantizer only needs the density
    * shape, not every row. Empty cells and cells of only zero-norm vectors
    * keep their previous centroid (standard practice).
    *
    * BIT-DETERMINISTIC by construction: every per-row quantity (norm, unit
    * component) is a fixed left-to-right IEEE fold, and the only cross-row
    * reduction is an integer SUM of unit components quantized to the
    * [[TrainFixScale]] grid (round-half-away-from-zero) — so the trained
    * quantizer is the same bits on one executor or a thousand, regardless
    * of partitioning or reduce order. That is what lets q_ivf_train replay
    * the full training loop in DuckDB exactly: the oracle unrolls the
    * rounds with the same chained-IEEE expressions (assignment argmax by
    * dot×1/|c|, strict tie-break to the lowest cid) and the same integer
    * mean `((Σf / 2^24) / n)` cast to float. The 2^-24 quantization
    * perturbs the update by ≤6e-8 per component — invisible next to the
    * quantizer's cell geometry; OpsSpec locks the assignment-improvement
    * and partitioning-invariance properties.
    */
  def ivfTrain(vectors: DataFrame, nCentroids: Int, iters: Int): Seq[(Long, Seq[Float])] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    var cents = ivfSeedCentroids(vectors, nCentroids)
    if (iters == 0) return cents
    // ONE narrow typed pass per round: each partition accumulates integer
    // component sums per cell and emits ≤ nCentroids rows; the driver
    // merge is a bounded integer fold (associative — partitioning cannot
    // change the bits). This replaces a per-round plan with giant literal
    // folds + posexplode + two groupBys, whose Catalyst planning/codegen
    // cost dwarfed the arithmetic at any gate scale. Every double below
    // follows the exact IEEE chains documented above (and replayed by the
    // oracle): left-to-right norm/dot folds, u = v/|v|, HALF_UP
    // (away-from-zero) rounding of u × 2^24 via exact BigDecimal — the
    // same semantics as Spark's `round` and DuckDB's `round`.
    val emb = vectors.select(col("embedding")).as[Seq[Float]]
    for (_ <- 0 until iters) {
      val centArr = cents.toArray // ascending cid (seed order)
      val inv = centArr.map { case (_, cv) =>
        val n2 = cv.foldLeft(0.0)((a, v) => a + v.toDouble * v.toDouble)
        if (n2 == 0.0) 0.0 else 1.0 / math.sqrt(n2)
      }
      val partials: Array[(Int, Array[Long], Long)] = emb.mapPartitions { it =>
        val nC = centArr.length
        val sums = Array.ofDim[Array[Long]](nC)
        val counts = new Array[Long](nC)
        it.foreach { vec =>
          val v = vec.toArray
          var n2 = 0.0
          var i = 0
          while (i < v.length) { val d = v(i).toDouble; n2 += d * d; i += 1 }
          if (n2 > 0.0) {
            val nrm = math.sqrt(n2)
            // argmax by dot × 1/|c|, strict >, ascending cid (ivfCellExpr)
            var best = -1
            var bestScore = Double.NegativeInfinity
            var c = 0
            while (c < nC) {
              val cv = centArr(c)._2
              var dot = 0.0
              var j = 0
              while (j < v.length) { dot += v(j).toDouble * cv(j).toDouble; j += 1 }
              val score = dot * inv(c)
              if (java.lang.Double.compare(score, bestScore) > 0) { bestScore = score; best = c }
              c += 1
            }
            if (sums(best) == null) sums(best) = new Array[Long](v.length)
            val s = sums(best)
            counts(best) += 1
            var k = 0
            while (k < v.length) {
              val x = (v(k).toDouble / nrm) * TrainFixScale
              s(k) += new java.math.BigDecimal(x)
                .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
              k += 1
            }
          }
        }
        (0 until nC).iterator.collect {
          case c if counts(c) > 0 => (c, sums(c), counts(c))
        }
      }.collect()
      val merged = scala.collection.mutable.HashMap.empty[Int, (Array[Long], Long)]
      partials.foreach { case (c, s, n) =>
        merged.get(c) match {
          case Some((acc, cnt)) =>
            var k = 0
            while (k < acc.length) { acc(k) += s(k); k += 1 }
            merged.update(c, (acc, cnt + n))
          case None => merged.update(c, (s.clone(), n))
        }
      }
      cents = centArr.toSeq.zipWithIndex.map { case ((cid, cv), c) =>
        merged.get(c) match {
          case Some((s, n)) =>
            cid -> s.toSeq.map(f => ((f.toDouble / TrainFixScale) / n.toDouble).toFloat)
          case None => cid -> cv // empty cell keeps its previous centroid
        }
      }
    }
    cents
  }

  /** IVF top-k: score the query against the probed cells only.
    * `centroids` comes from [[ivfSeedCentroids]] or [[ivfTrain]]. Queries
    * probe their `nProbe` nearest cells (cos desc, cid asc); candidates are
    * re-ranked by exact double cosine through the same bounded ranking
    * as the brute-force path. The vector table sees one narrow assignment
    * pass and one broadcast semi-join — no wide shuffle.
    */
  def ivfTopK(vectors: DataFrame, queries: DataFrame, k: Int,
              centroids: Seq[(Long, Seq[Float])], nProbe: Int): DataFrame = {
    require(centroids.nonEmpty, "IVF needs at least one centroid")
    val va = vectors.withColumn("cid", ivfCellExpr(col("embedding"), centroids))
    val spark = vectors.sparkSession
    import spark.implicits._
    // nProbe nearest cells per query — queries are small by contract (they
    // broadcast), so rank via the same bounded ranking with cid as the id.
    // Norms are projected below the joins (once per query row and once per
    // centroid, not once per (query × centroid) pair); cosineFromParts
    // keeps the op order of cosine(), so the ranking is bit-identical.
    val centDf = centroids.toDF("cid", "cv").withColumn("cn", norm(col("cv")))
    val qWithNorm = queries.withColumn("qn", norm(col("qv")))
    val probes = rankTopK(
      qWithNorm.crossJoin(broadcast(centDf))
        .select(col("qid"), col("cid").as("vec_id"),
          cosineFromParts(dotCol(col("qv"), col("cv")),
            col("qn"), col("cn")).as("cos")),
      nProbe)
      .select(col("qid"), col("vec_id").as("cid"))
      .join(qWithNorm, "qid")
    val scored = va.withColumn("vn", norm(col("embedding")))
      .join(broadcast(probes), Seq("cid"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosineFromParts(dotCol(col("qv"), col("embedding")),
          col("qn"), col("vn")).as("cos"))
    rankTopK(scored, k)
  }
}
