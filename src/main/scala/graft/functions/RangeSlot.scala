package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, InterpretedOrdering, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

/** Range placement of a struct key: `slots(i)`, where i is the number
  * of `bounds` (ascending, nulls first) at or below the key — a binary
  * search over Catalyst rows, O(log n) per row with no conversion to
  * external rows. `Graft.compactParquet`'s range placement hashes on
  * the result, so `slots(i)` is an Int the shuffle sends to partition
  * i. */
case class RangeSlot(child: Expression, bounds: Seq[InternalRow],
    slots: Seq[Int]) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "range_slot"
  // bounds can run to thousands of rows; plans print their count only
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"${bounds.length} bounds")

  @transient private lazy val ord = InterpretedOrdering.forSchema(
    child.dataType.asInstanceOf[StructType].fields.toSeq.map(_.dataType))
  @transient private lazy val lows = bounds.toArray
  @transient private lazy val slotOf = slots.toArray

  override def nullSafeEval(input: Any): Any = {
    val key = input.asInstanceOf[InternalRow]
    var lo = 0
    var hi = lows.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ord.lteq(lows(mid), key)) lo = mid + 1 else hi = mid
    }
    slotOf(lo)
  }

  override protected def withNewChildInternal(newChild: Expression): RangeSlot =
    copy(child = newChild)
}
