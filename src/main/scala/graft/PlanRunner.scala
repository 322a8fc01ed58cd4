package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.QueryExecution

import scala.reflect.ClassTag

/** The search path's one driver collect: a plan's executed rows, read on
  * the executors, in one `runJob` over `queryExecution.toRdd`.
  *
  * `Dataset.collect` pays per call for a new SQL execution and for Spark's
  * closure cleaner parsing the large classes that define its job function
  * (`RDD`, `SparkContext`); `Dataset.rdd` also starts a SQL execution, and
  * adds a deserializer plan and a parse of `Dataset`. Here the job
  * function is defined in this small object, the rows stay internal, and
  * no SQL execution starts. A plan with no partitions (an empty relation)
  * runs no job.
  */
private[graft] object PlanRunner {

  /** Each partition's `f` over its rows, in partition order. The rows are
    * reused: `f` copies out what it keeps.
    */
  def partitions[T: ClassTag](plan: Dataset[_])(f: Iterator[InternalRow] => T): Array[T] = {
    observers.forEach(f => f(plan.queryExecution))
    val rdd = plan.queryExecution.toRdd
    val parts = new Array[T](rdd.getNumPartitions)
    if (parts.nonEmpty)
      rdd.sparkContext.runJob(rdd, (_: TaskContext, it: Iterator[InternalRow]) => f(it),
        parts.indices, (i: Int, out: T) => parts(i) = out)
    parts
  }

  private val observers = new java.util.concurrent.CopyOnWriteArrayList[QueryExecution => Unit]()

  /** Runs `body` while `f` sees the query execution of each plan the
    * runner runs: they start no SQL execution, so no
    * `QueryExecutionListener` hears of them ([[graft.tools.Explain]] and
    * plan specs read them here).
    */
  def observing[A](f: QueryExecution => Unit)(body: => A): A = {
    observers.add(f)
    try body finally observers.remove(f)
  }

  /** Every row of `plan` through `read`, which copies values out of the
    * reused row.
    */
  def rows[T: ClassTag](plan: Dataset[_])(read: InternalRow => T): Array[T] =
    partitions(plan)(_.map(read).toArray).flatten
}
