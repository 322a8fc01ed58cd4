package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Command line of one benchmark run (see `perfbench/run.py`). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, out: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"))
  }
}

/** One benchmark run in one JVM: start a local session on every core,
  * run the workload, write the result JSON to `--out`.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val upAtMain = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = Args.parse(argv)
    require(Workloads.names.contains(a.workload),
      s"unknown workload ${a.workload}; expected one of ${Workloads.names.mkString(", ")}")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Workloads(spark, a, cpus, () => upAtMain + (System.nanoTime() - t0) / 1e9)
    val json =
      try run.run()
      finally spark.stop()
    Files.write(Paths.get(a.out), json.getBytes(StandardCharsets.UTF_8))
  }
}
