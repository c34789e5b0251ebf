package graft.functions

import java.util.{Arrays, Comparator, HashMap => JHashMap}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Per-group distinct string values and how often each occurred: the
  * reference's `union` / `union_count` merge kernel
  * (miw/log_record.cc:57-142,251-324) as one aggregate operator.
  *
  * The buffer is a mutable hash map from value to a one-slot counter.
  * `update` skips nulls, copies a value the first time it is seen (the
  * input row's bytes are reused) and otherwise only bumps its counter;
  * `merge` folds the smaller map into the larger. Between the partial
  * and final aggregate a buffer travels as a flat byte string: an
  * entry count, then (length, UTF-8 bytes, count) per entry.
  *
  * `eval` sorts the values in UTF-8 binary order, the order
  * `array_sort` gives strings, so the result does not depend on the
  * partitioning. With `withCounts` it returns
  * `struct<values: array<string>, counts: array<bigint>>` (parallel
  * arrays), otherwise the values array alone. It is never null: a
  * group of only nulls gives empty arrays.
  */
case class ValueCounts(
    child: Expression,
    withCounts: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ValueCounts.Buffer]
    with ImplicitCastInputTypes with UnaryLike[Expression] {
  import ValueCounts._

  override def prettyName: String = "value_counts"
  override def inputTypes = Seq(StringType)
  override def nullable: Boolean = false
  override def dataType: DataType = if (withCounts) CountsType else ValuesType

  override def createAggregationBuffer(): Buffer = new Buffer()

  override def update(buffer: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input).asInstanceOf[UTF8String]
    if (v != null) {
      val n = buffer.get(v)
      if (n == null) buffer.put(v.copy(), Array(1L)) else n(0) += 1
    }
    buffer
  }

  override def merge(buffer: Buffer, input: Buffer): Buffer = {
    val (small, large) = if (buffer.size < input.size) (buffer, input) else (input, buffer)
    small.forEach { (k, n) =>
      val m = large.get(k)
      if (m == null) large.put(k, n) else m(0) += n(0)
    }
    large
  }

  override def eval(buffer: Buffer): Any = {
    val keys = buffer.keySet.toArray(new Array[UTF8String](buffer.size))
    Arrays.sort(keys, BinaryOrder)
    val values = new GenericArrayData(keys.asInstanceOf[Array[Any]])
    if (!withCounts) values
    else new GenericInternalRow(Array[Any](values,
      UnsafeArrayData.fromPrimitiveArray(keys.map(k => buffer.get(k)(0)))))
  }

  override def serialize(buffer: Buffer): Array[Byte] = {
    var size = 4
    val sizes = buffer.keySet.iterator
    while (sizes.hasNext) size += 12 + sizes.next().numBytes
    val out = new Array[Byte](size)
    var off = Platform.BYTE_ARRAY_OFFSET.toLong
    Platform.putInt(out, off, buffer.size)
    off += 4
    val it = buffer.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      val k = e.getKey
      Platform.putInt(out, off, k.numBytes)
      k.writeToMemory(out, off + 4)
      off += 4 + k.numBytes
      Platform.putLong(out, off, e.getValue()(0))
      off += 8
    }
    out
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val base = Platform.BYTE_ARRAY_OFFSET
    val entries = Platform.getInt(bytes, base)
    val buffer = new Buffer((entries / 0.75).toInt + 1)
    var off = 4
    while (off < bytes.length) {
      val len = Platform.getInt(bytes, base + off)
      // the key points into `bytes`, which nothing else holds
      val k = UTF8String.fromBytes(bytes, off + 4, len)
      buffer.put(k, Array(Platform.getLong(bytes, base + off + 4 + len)))
      off += 12 + len
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(offset: Int): ValueCounts =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ValueCounts =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): ValueCounts =
    copy(child = newChild)
}

object ValueCounts {
  /** Value → one-slot occurrence counter. */
  type Buffer = JHashMap[UTF8String, Array[Long]]

  val ValuesType: ArrayType = ArrayType(StringType, containsNull = false)
  val CountsType: StructType = StructType(Seq(
    StructField("values", ValuesType, nullable = false),
    StructField("counts", ArrayType(LongType, containsNull = false), nullable = false)))

  private val BinaryOrder: Comparator[UTF8String] = (a, b) => a.binaryCompare(b)

  /** `struct<values, counts>` of the string column `c` per group. */
  def apply(c: Column): Column = aggregate(c, withCounts = true)

  /** Sorted distinct values of the string column `c` per group. */
  def values(c: Column): Column = aggregate(c, withCounts = false)

  private def aggregate(c: Column, withCounts: Boolean): Column =
    Shim.column(new ValueCounts(Shim.expression(c), withCounts).toAggregateExpression())
}
