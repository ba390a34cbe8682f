package graft

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DataType

/** Drives the aggregate function behind a Column by hand, the way a task
  * does between its partial and final stages. */
object AggBuffer {

  /** The aggregate of `c`, over one input of type `dt`, updated with
    * `inputs` (Catalyst values; null skips): its result, and its result
    * after the buffer went through `serialize` → `deserialize`. */
  def roundTrip(c: Column, dt: DataType, inputs: Seq[Any]): (Any, Any) = {
    val f = GraftSqlBridge.expression(c).asInstanceOf[AggregateExpression]
      .aggregateFunction.withNewChildren(Seq(BoundReference(0, dt, nullable = true)))
      .asInstanceOf[TypedImperativeAggregate[Any]]
    val buf = inputs.foldLeft(f.createAggregationBuffer())((b, v) => f.update(b, InternalRow(v)))
    (f.eval(buf), f.eval(f.deserialize(f.serialize(buf))))
  }

  /** A Catalyst `array<struct<term, cnt>>` value as (term, cnt) pairs. */
  def terms(v: Any): Seq[(String, Long)] = {
    val a = v.asInstanceOf[ArrayData]
    (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 2)
      (r.getUTF8String(0).toString, r.getLong(1))
    }
  }
}
