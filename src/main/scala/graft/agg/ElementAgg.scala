package graft.agg

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Elementwise minimum (`sum = false`) or sum (`sum = true`) of
  * fixed-length long arrays — ONE aggregate replacing the n-column
  * `agg(min(element_at(a, 1)), …, min(element_at(a, n)))` + re-`array(...)`
  * shape the minhash signature groupBy used (n = 64 there), and the
  * n-column `sum(element_at(votes, b))` of the simhash vote groupBy. The
  * n-column form generates an n-buffer HashAggregate whose whole-stage
  * code is large enough that its Janino compile was the first chain
  * query's dominant fixed cost; this agg is one buffer, one loop. Null
  * input rows are skipped (callers pre-filter anyway); values are the
  * identical elementwise mins, and sums that wrap like long addition.
  * `update` and `merge` pick the min or the sum loop once per call, so
  * the min loop is the one the minhash queries always ran.
  */
case class ElementAgg(
    child: Expression,
    n: Int,
    sum: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {
  require(n >= 1, s"array length must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String =
    if (sum) "element_sum_agg" else "element_min_agg"

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(n)(if (sum) 0L else Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      require(a.numElements() == n,
        s"$prettyName($n) got an array of ${a.numElements()} elements")
      var i = 0
      if (sum) while (i < n) { buf(i) += a.getLong(i); i += 1 }
      else while (i < n) {
        val x = a.getLong(i)
        if (x < buf(i)) buf(i) = x
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    if (sum) while (i < n) { b1(i) += b2(i); i += 1 }
    else while (i < n) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * n)
    buf.foreach(bb.putLong)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(n)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(o: Int): ElementAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ElementAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): ElementAgg =
    copy(child = newChild)
}

object ElementAgg {
  def min(c: Column, n: Int): Column = of(c, n, sum = false)
  def sum(c: Column, n: Int): Column = of(c, n, sum = true)

  private def of(c: Column, n: Int, sum: Boolean): Column =
    GraftBridge.column(
      ElementAgg(GraftBridge.expression(c), n, sum).toAggregateExpression())
}
