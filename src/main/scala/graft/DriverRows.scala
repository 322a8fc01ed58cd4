package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.StructType

import scala.collection.immutable.ArraySeq

/** The search path's driver → Dataset step, the counterpart of
  * [[PlanRunner]]'s cluster → driver collect: a Dataset over rows built on
  * the driver.
  *
  * `createDataFrame` and `createDataset` of local rows plan a
  * `LocalRelation`, whose rows are a `Seq` argument of the node: every
  * analyzer and optimizer rule that walks a node's expressions walks each
  * row, so a 25,000-line batch pays per rule. Here the rows sit in a
  * [[HeldRows]] holder, which no expression walk enters, and
  * [[DriverRowsStrategy]] plans the leaf as Spark's own
  * `LocalTableScanExec`, so collect, take, tail, codegen and every
  * downstream operator behave as over a `LocalRelation`.
  */
private[graft] object DriverRows {

  /** A Dataset of `enc`'s type over `rows`, which are in `enc`'s schema. */
  def dataset[T](spark: SparkSession, enc: Encoder[T], rows: Array[InternalRow]): Dataset[T] = {
    val session = spark match { case s: classic.SparkSession => s }
    DriverRowsStrategy.install(session)
    new classic.Dataset[T](session,
      DriverRowsRelation(DataTypeUtils.toAttributes(enc.schema), new HeldRows(rows)), enc)
  }

  /** A DataFrame of `schema` over `rows`. */
  def frame(spark: SparkSession, schema: StructType, rows: Array[InternalRow]): DataFrame =
    dataset(spark, Encoders.row(schema), rows)

  /** Rows of `fields` columns, each written by the caller into one reused
    * [[UnsafeRowWriter]] and copied out once complete.
    */
  final class Builder(fields: Int) {
    private val w = new UnsafeRowWriter(fields)
    private val out = Array.newBuilder[InternalRow]

    /** Appends the row `write` puts into the writer's fields. */
    def +=(write: UnsafeRowWriter => Unit): Unit = {
      w.reset()
      w.zeroOutNullBytes()
      write(w)
      out += w.getRow.copy()
    }

    def result(): Array[InternalRow] = out.result()
  }
}

/** The rows of a [[DriverRowsRelation]]. It is not a `Seq`, so Catalyst's
  * `expressions` and `mapExpressions` pass over it, and its string is a
  * count, so no plan string holds rows. Equality is identity: a plan
  * compares with its own rows without reading them.
  */
private[graft] final class HeldRows(val rows: Array[InternalRow]) extends Serializable {
  override def toString: String = s"${rows.length} rows"
}

/** A leaf over driver-built rows ([[DriverRows]]): `LocalRelation`'s
  * statistics, row bound and self-join support, none of its per-rule row
  * walks.
  */
private[graft] final case class DriverRowsRelation(output: Seq[Attribute], held: HeldRows)
    extends LeafNode with MultiInstanceRelation {
  override def producedAttributes: AttributeSet = outputSet
  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
  override def maxRows: Option[Long] = Some(held.rows.length.toLong)
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = EstimationUtils.getSizePerRow(output) * held.rows.length)
}

/** Plans a [[DriverRowsRelation]] as `LocalTableScanExec`. It is installed
  * once in a session's extensions, which its `newSession()` and
  * `cloneSession()` children share, so a result read from another of them
  * (through a global temp view, say) plans too. The planner reads the
  * extensions' strategies at every planning, so the installing session
  * plans the leaf at once.
  */
private[graft] object DriverRowsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: DriverRowsRelation =>
      LocalTableScanExec(r.output, ArraySeq.unsafeWrapArray(r.held.rows), None) :: Nil
    case _ => Nil
  }

  def install(session: classic.SparkSession): Unit = installed.synchronized {
    val ext = Extensions.invoke(session).asInstanceOf[SparkSessionExtensions]
    if (installed.add(ext)) ext.injectPlannerStrategy(_ => this)
  }

  // a session's extensions are private to Spark's sql package
  private val Extensions = classOf[classic.SparkSession].getMethod("extensions")
  // the extensions holding the strategy, by identity and weakly, so a
  // discarded session's extensions are not kept
  private val installed = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSessionExtensions, java.lang.Boolean]())
}
