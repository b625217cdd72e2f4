package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.SketchKind

/** Drives one [[SketchAgg]]'s buffer API directly, with no Spark job:
  * `zero` / `reduce` / `merge` / `finish` are the aggregate's empty buffer,
  * per-row update, buffer merge and result, over input columns of the
  * given types (`BinaryType` first = merge mode). Scala arrays and strings
  * passed to `reduce` are converted to their Catalyst values. */
final class DirectSketchAgg(kind: SketchKind[_ <: AnyRef], inputs: DataType*) {
  val agg: SketchAgg = SketchAgg(kind.name, kind,
    inputs.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })

  private def catalyst(v: Any): Any = v match {
    case a: Array[Int] => ArrayData.toArrayData(a)
    case s: String => UTF8String.fromString(s)
    case other => other
  }

  def zero: AnyRef = agg.createAggregationBuffer()
  def reduce(buf: AnyRef, values: Any*): AnyRef = agg.update(buf, InternalRow(values.map(catalyst): _*))
  def merge(a: AnyRef, b: AnyRef): AnyRef = agg.merge(a, b)
  def finish(buf: AnyRef): Any = agg.eval(buf)
  def finishBytes(buf: AnyRef): Array[Byte] = finish(buf).asInstanceOf[Array[Byte]]
}
