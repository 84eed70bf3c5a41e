package graft.functions

import java.util.BitSet

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Binary-column classification of N STRING children in one aggregate:
  * returns, ascending, the ordinals of the children whose every non-null
  * value is `"0"`, `"1"` or `""` (`array<int>`; a zero-row input
  * qualifies every child).
  *
  * The per-column alternative — one `count(when(notBinary)) === 0` per
  * column — plans, optimizes and code-generates N aggregate expressions,
  * so driver work grows with the table's width. Here the buffer is one
  * N-bit set, every bit set at the start. `update` walks only the bits
  * still set and clears bit i at child i's first out-of-domain value, so
  * a column that has failed costs nothing on later rows. Partial buffers
  * merge by bitwise AND and travel as the bitset's bytes.
  */
case class BinaryColumnBits(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BitSet] {

  @transient private lazy val inputs: Array[Expression] = children.toArray

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def createAggregationBuffer(): BitSet = {
    val bits = new BitSet(children.size)
    bits.set(0, children.size)
    bits
  }

  override def update(buf: BitSet, input: InternalRow): BitSet = {
    var i = buf.nextSetBit(0)
    while (i >= 0) {
      val v = inputs(i).eval(input)
      if (v != null && !BinaryColumnBits.inDomain(v.asInstanceOf[UTF8String])) buf.clear(i)
      i = buf.nextSetBit(i + 1)
    }
    buf
  }

  override def merge(buf: BitSet, other: BitSet): BitSet = {
    buf.and(other)
    buf
  }

  override def eval(buf: BitSet): Any = new GenericArrayData(buf.stream().toArray)

  override def serialize(buf: BitSet): Array[Byte] = buf.toByteArray

  override def deserialize(bytes: Array[Byte]): BitSet = BitSet.valueOf(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BinaryColumnBits =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BinaryColumnBits =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BinaryColumnBits =
    copy(children = newChildren)

  override def prettyName: String = "binary_column_bits"
}

object BinaryColumnBits {
  /** `""`, `"0"` or `"1"`, compared byte-wise (no trimming, no numeric
    * parse: `" 1"`, `"01"` and non-ASCII digits are out of the domain). */
  private def inDomain(v: UTF8String): Boolean = v.numBytes match {
    case 0 => true
    case 1 => val b = v.getByte(0); b == '0' || b == '1'
    case _ => false
  }
}
