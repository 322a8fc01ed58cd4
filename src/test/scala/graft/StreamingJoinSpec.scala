package graft

import graft.streaming.{StreamFixtures, StreamingJoin}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Stream-stream inner join: matches emit once both sides arrive (state
  * carries the click across batches); out-of-window errors never match. A
  * cached stream fixture root copied to another path reads its own rows.
  */
class StreamingJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("click-error pairs match across batches within the window only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val errors = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val names = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = StreamingJoin.clickErrorPairs(
        clicks.toDS().toDF(names: _*), errors.toDS().toDF(names: _*))
      .writeStream.format("memory").queryName("join_out")
      .outputMode("append").start()
    try {
      // batch 1: clicks only — nothing can match yet
      clicks.addData(
        (1L, ts("2024-01-01 10:00:00"), 7L, "click", 0.0, "{}"),
        (2L, ts("2024-01-01 10:30:00"), 7L, "click", 0.0, "{}"))
      q.processAllAvailable()
      assert(spark.table("join_out").count() == 0)
      // batch 2 on the error side: one error inside click 1's window (and
      // outside click 2's), one past both windows, one for another user
      errors.addData(
        (10L, ts("2024-01-01 10:07:00"), 7L, "error", 0.0, "{}"),
        (11L, ts("2024-01-01 10:55:00"), 7L, "error", 0.0, "{}"),
        (12L, ts("2024-01-01 10:05:00"), 8L, "error", 0.0, "{}"))
      q.processAllAvailable()
      val got = spark.table("join_out").as[(Long, Long, Long)].collect().toSet
      assert(got == Set((7L, 1L, 10L))) // click 1 held in STATE matched later
    } finally q.stop()
  }

  test("a cached fixture root copied to another path is rebuilt and reads its rows") {
    import spark.implicits._
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "click", 0.0, "{}"),
      (2L, ts("2024-01-01 10:04:00"), 7L, "error", 0.0, "{}"),
      (3L, ts("2024-01-01 10:06:00"), 8L, "click", 0.0, "{}"),
      (4L, ts("2024-01-01 10:09:00"), 8L, "error", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    var builds = 0
    def fixture(root: String): Set[(Long, Long, Long)] = {
      StreamFixtures.cachedRoot(spark, root) {
        builds += 1
        StreamFixtures.writeOrderedBatches(spark, s"$root/src",
          Seq(events.where($"event_id" <= 2), events.where($"event_id" > 2)))
        StreamFixtures.withShufflePartitions(spark, 2) {
          StreamingJoin.start(spark, s"$root/src", s"$root/out", s"$root/ckpt").awaitTermination()
        }
      }
      spark.read.parquet(s"$root/out").as[(Long, Long, Long)].collect().toSet
    }
    val want = Set((7L, 1L, 2L), (8L, 3L, 4L))
    val root = TestSpark.tmpDir("fixture") + "/root"
    assert(fixture(root) == want && builds == 1)
    assert(fixture(root) == want && builds == 1)
    // the copy outlives its original
    val copy = TestSpark.tmpDir("fixturecopy") + "/root"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(root), fs,
      new org.apache.hadoop.fs.Path(copy), true, conf)
    assert(fixture(copy) == want && builds == 2)
    assert(fixture(copy) == want && builds == 2)
  }
}
