// Lives under org.apache.spark.sql to build a classic Dataset over its own
// QueryExecution and to reach SparkSession.withActive. graft's warm routing
// answers are a few driver-side rows in a fixed schema: handing them to
// createDataFrame made Spark convert them through a generated serializer,
// then analyse, optimize and plan a one-leaf plan whose answer is known,
// and LocalTableScanExec generate a fresh UnsafeProjection on every collect.
package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

object PlannedFrameBridge {

  /** Frames of one fixed schema whose plans arrive already made.
    *
    * A frame's logical plan is a `LocalRelation` over fresh attributes, and
    * its `QueryExecution` answers `analyzed`, `commandExecuted` and
    * `optimizedPlan` with that relation and `sparkPlan` / `executedPlan`
    * with a [[PlannedScanExec]] over the same rows, so collecting the frame
    * itself runs neither the analyzer, the optimizer nor the planner, and
    * no code is generated. Anything derived from the frame (a filter, a
    * union, a join, `cache`, `count`, `rdd`, `take`) starts from the
    * `LocalRelation` and Spark plans it as it plans any local relation:
    * filters and projections still fold into a `LocalRelation` and
    * collect without a job.
    *
    * Rows are products whose elements follow the schema's fields in order
    * (a case class, a tuple) holding `Int`, `Double` or `String` values,
    * `null` for a missing nullable one. They are written as `UnsafeRow`s
    * by an `UnsafeRowWriter` each call owns, so frames of one shape build
    * concurrently without sharing mutable state. */
  final class Shape(val schema: StructType) {
    private type Put = (UnsafeRowWriter, Int, Any) => Unit
    private val puts: Array[Put] = schema.fields.map(_.dataType match {
      case IntegerType => (w: UnsafeRowWriter, i: Int, v: Any) => w.write(i, v.asInstanceOf[Int])
      case DoubleType => (w: UnsafeRowWriter, i: Int, v: Any) => w.write(i, v.asInstanceOf[Double])
      case StringType =>
        (w: UnsafeRowWriter, i: Int, v: Any) => w.write(i, UTF8String.fromString(v.asInstanceOf[String]))
      case t => throw new IllegalArgumentException(
        s"PlannedFrameBridge.Shape: unsupported column type $t")
    })

    /** A frame of `rows` in this shape, planned in advance (see [[Shape]]). */
    def frame(session: SparkSession, rows: Iterable[Product]): DataFrame = {
      val classic = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val n = puts.length
      val w = new UnsafeRowWriter(n)
      val data: Array[InternalRow] = rows.iterator.map { p =>
        require(p.productArity == n,
          s"PlannedFrameBridge.Shape: a row of ${p.productArity} values for $n columns")
        w.reset()
        w.zeroOutNullBytes()
        var i = 0
        while (i < n) {
          val v = p.productElement(i)
          if (v == null) w.setNullAt(i) else puts(i)(w, i, v)
          i += 1
        }
        w.getRow.copy(): InternalRow
      }.toArray
      // SparkPlan reads its session from the active one when it is built
      classic.withActive {
        val relation = LocalRelation(DataTypeUtils.toAttributes(schema),
          scala.collection.immutable.ArraySeq.unsafeWrapArray(data))
        val scan = PlannedScanExec(relation.output, data)
        new org.apache.spark.sql.classic.Dataset[Row](
          new PlannedExecution(classic, relation, scan), () => RowEncoder.encoderFor(schema))
      }
    }
  }

  /** The executed plan of a [[Shape]] frame: its rows, already written as
    * `UnsafeRow`s. `executeCollect` returns them as they are, `doExecute`
    * parallelizes them as `LocalTableScanExec` does, and the node prints
    * only its output attributes: `SQLExecution` renders the plan on every
    * collect, so printing the rows would cost time on each one. The node
    * is never a child: a plan derived from the frame starts from its
    * `LocalRelation`. */
  final case class PlannedScanExec(output: Seq[Attribute], rows: Array[InternalRow])
      extends LeafExecNode {
    override def executeCollect(): Array[InternalRow] = rows
    override protected def doExecute(): RDD[InternalRow] =
      sparkContext.parallelize(rows.toSeq,
        math.min(math.max(rows.length, 1), sparkContext.defaultParallelism))
    override protected def stringArgs: Iterator[Any] = Iterator(output)
  }

  /** A query execution whose every phase is already known: the relation
    * for the logical phases, the scan for the physical ones. */
  private final class PlannedExecution(session: org.apache.spark.sql.classic.SparkSession,
      relation: LocalRelation, scan: PlannedScanExec)
      extends QueryExecution(session, relation) {
    override def analyzed: LogicalPlan = relation
    override def commandExecuted: LogicalPlan = relation
    override def optimizedPlan: LogicalPlan = relation
    override def sparkPlan: SparkPlan = scan
    override def executedPlan: SparkPlan = scan
  }
}
