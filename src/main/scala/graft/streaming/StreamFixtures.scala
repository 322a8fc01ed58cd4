package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared scaffolding for bounded file-stream replays (the q_stream_*
  * gate fixtures): content fingerprints for cache roots, strictly
  * mtime-ordered batch files, and a run-once guard.
  */
object StreamFixtures {

  /** Cache-root fingerprint: row count + an order-independent XOR and an
    * exact decimal SUM of per-row xxhash64 digests over `keyCols`.
    * Callers must include EVERY column the stream consumes. xxhash64
    * hashes each column value with its own length/type framing (no
    * separator ambiguity) and avalanches to 64 bits, so the row-swap /
    * compensating-edit collisions a summed crc32 admits (crc is linear)
    * would have to collide in mixed 64-bit space. XOR alone cancels
    * duplicated PAIRS ({A,A} → {C,C} keeps count and XOR); the
    * decimal(38,0) sum — exact and overflow-free under ANSI arithmetic to
    * ~10^18 rows, unlike a bigint sum — catches those. Collision-resistant
    * enough for fixture caching, though not a cryptographic commitment.
    */
  def fingerprint(df: DataFrame, keyCols: Seq[Column]): String = {
    val h = xxhash64(keyCols: _*)
    val row = df.agg(count(lit(1)),
      coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(h.cast(org.apache.spark.sql.types.DecimalType(38, 0))),
        lit(0L).cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
    s"${row.getLong(0)}_${java.lang.Long.toHexString(row.getLong(1))}_" +
      row.getDecimal(2).toBigInteger.toString(16)
  }

  /** Write each batch as ONE parquet file `srcDir/batch_<i>.parquet` with
    * STRICTLY increasing modification times (2 s apart via fs.setTimes).
    * FileStreamSource orders files by mtime with no path tie-break, so on
    * a coarse-granularity filesystem two quickly-written files could tie
    * and process out of order — explicit mtimes make the batch order a
    * contract, not a race.
    */
  def writeOrderedBatches(spark: SparkSession, srcDir: String,
                          batches: Seq[DataFrame]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(srcDir).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
    val base = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (batch, i) =>
      val tmp = s"$srcDir/_tmp_$i"
      batch.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet")).head.getPath
      val dest = new org.apache.hadoop.fs.Path(s"$srcDir/batch_$i.parquet")
      fs.rename(part, dest)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      fs.setTimes(dest, base + i * 2000L, -1)
    }
  }

  /** Run `f` with `spark.sql.shuffle.partitions` temporarily set to `n`,
    * restoring the previous value after. Stateful streaming operators
    * create state-store instances per shuffle partition PER micro-batch;
    * a bounded gate-scale replay over a handful of files doesn't need the
    * session's batch-tuned partition count, and the per-partition state
    * overhead (files, providers, commits) dominates its wall time.
    * A streaming query pins the partition count from the session conf at
    * its FIRST run, so this must wrap the initial `start()`.
    */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** Run `build` once per root: skipped when the `_done` marker records
    * this root's path; a partial root (killed mid-build) is deleted and
    * rebuilt. So is a root copied from another path: a file sink's log
    * (`_spark_metadata`) names its output files by absolute path, so a
    * copy would read the original's files, or none once they are gone.
    */
  def cachedRoot(spark: SparkSession, root: String)(build: => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(conf)
    val here = fs.makeQualified(path).toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val done = new org.apache.hadoop.fs.Path(s"$root/_done")
    val built = fs.exists(done) && {
      val in = fs.open(done)
      try java.util.Arrays.equals(in.readAllBytes(), here) finally in.close()
    }
    if (!built) {
      fs.delete(path, true)
      build
      val out = fs.create(done)
      try out.write(here) finally out.close()
    }
  }
}
