package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, RowOrdering,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded top-k aggregate: keeps the k LARGEST struct values seen (by
  * the struct's natural field-by-field ordering) in an O(k) min-heap
  * buffer, emitted as a descending array.
  *
  * This is the memory-bounded alternative to
  * `sort_array(collect_list(...))[1..k]`
  * ([[graft.operators.Skew.topKPerGroup]] phase 1), whose collect_list
  * buffer grows O(rows-per-key) before the slice: a hot key's buffer
  * here never exceeds k rows regardless of input skew, and map-side
  * partial aggregation ships at most k rows per (key, mapper) into the
  * shuffle. The trade is leaving whole-stage codegen for the aggregate
  * (TypedImperativeAggregate is interpreted), which is why the operator
  * exposes it behind a flag instead of defaulting to it.
  *
  * Buffer rows are defensively projected+copied UnsafeRows (input rows
  * are reused by the scan); serialization is length-prefixed UnsafeRow
  * bytes.
  */
case class BoundedTopKAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[UnsafeRow]]
  with UnaryLike[Expression] {

  require(k > 0, s"k must be positive, got $k")

  private lazy val structType = child.dataType.asInstanceOf[StructType]
  /** Ascending natural ordering over the struct's fields — the same
    * ordering sort_array uses, so results match the unbounded shape.
    */
  private lazy val asc: Ordering[InternalRow] =
    RowOrdering.createNaturalAscendingOrdering(
      structType.fields.map(_.dataType).toIndexedSeq)
  /** Heap ordering: dequeue()/head yield the natural MINIMUM — the
    * eviction candidate of a keep-the-largest-k buffer.
    */
  private lazy val evictFirst: Ordering[UnsafeRow] =
    new Ordering[UnsafeRow] {
      override def compare(a: UnsafeRow, b: UnsafeRow): Int =
        asc.compare(b, a)
    }
  private lazy val proj = UnsafeProjection.create(structType)

  override def dataType: DataType =
    ArrayType(structType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bounded_top_k"

  override def createAggregationBuffer(): mutable.PriorityQueue[UnsafeRow] =
    mutable.PriorityQueue.empty[UnsafeRow](evictFirst)

  override def update(buf: mutable.PriorityQueue[UnsafeRow],
      input: InternalRow): mutable.PriorityQueue[UnsafeRow] = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (buf.size < k) buf.enqueue(proj.apply(row).copy())
      else if (asc.compare(row, buf.head) > 0) {
        buf.dequeue()
        buf.enqueue(proj.apply(row).copy())
      }
    }
    buf
  }

  override def merge(buf: mutable.PriorityQueue[UnsafeRow],
      other: mutable.PriorityQueue[UnsafeRow])
      : mutable.PriorityQueue[UnsafeRow] = {
    // Rows in `other` are already owned copies — enqueue directly.
    other.foreach { r =>
      if (buf.size < k) buf.enqueue(r)
      else if (asc.compare(r, buf.head) > 0) { buf.dequeue(); buf.enqueue(r) }
    }
    buf
  }

  override def eval(buf: mutable.PriorityQueue[UnsafeRow]): Any =
    // evictFirst sorts descending-natural: rank 1 = largest.
    new GenericArrayData(
      buf.toArray.sorted(evictFirst).asInstanceOf[Array[Any]])

  override def serialize(buf: mutable.PriorityQueue[UnsafeRow])
      : Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    val out = new DataOutputStream(baos)
    out.writeInt(buf.size)
    buf.foreach { r =>
      val b = r.getBytes
      out.writeInt(b.length)
      out.write(b)
    }
    out.flush()
    baos.toByteArray
  }

  override def deserialize(bytes: Array[Byte])
      : mutable.PriorityQueue[UnsafeRow] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      val row = new UnsafeRow(structType.size)
      row.pointTo(b, len)
      buf.enqueue(row)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression)
      : BoundedTopKAgg = copy(child = newChild)
}

object BoundedTopKAgg {
  /** Column wrapper: `bounded_top_k(struct, k)` as an aggregate. */
  def topK(c: Column, k: Int): Column =
    ColumnBridge.column(
      BoundedTopKAgg(ColumnBridge.expression(c), k).toAggregateExpression())
}
