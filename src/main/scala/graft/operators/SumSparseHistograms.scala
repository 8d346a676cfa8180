package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, MapData}
import org.apache.spark.sql.types._

/** Native Catalyst aggregate for sparse-histogram elementwise sum — the
  * SURVEY §7 "optional perf add-on": a `TypedImperativeAggregate` whose
  * buffer is a primitive-friendly map, avoiding the generic
  * Aggregator/kryo round-trip per partial merge. At 100 TB the partial
  * buffers flow through the shuffle as compact (int,long) pairs.
  *
  * Semantics identical to [[SumHistograms]] (elementwise addition of
  * map<int,long> histograms; reference out_of_date_details.sql:28-75).
  */
case class SumSparseHistograms(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[Int, Long]]
  with UnaryLike[Expression] {

  override def createAggregationBuffer(): mutable.HashMap[Int, Long] =
    mutable.HashMap.empty

  override def update(buffer: mutable.HashMap[Int, Long],
      input: InternalRow): mutable.HashMap[Int, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val m = v.asInstanceOf[MapData]
      m.foreach(IntegerType, LongType, (k, c) => {
        val key = k.asInstanceOf[Int]
        buffer.update(key, buffer.getOrElse(key, 0L) + c.asInstanceOf[Long])
      })
    }
    buffer
  }

  override def merge(b1: mutable.HashMap[Int, Long],
      b2: mutable.HashMap[Int, Long]): mutable.HashMap[Int, Long] = {
    b2.foreach { case (k, c) => b1.update(k, b1.getOrElse(k, 0L) + c) }
    b1
  }

  override def eval(buffer: mutable.HashMap[Int, Long]): Any = {
    val sorted = buffer.toArray.sortBy(_._1)
    ArrayBasedMapData(sorted.map(_._1), sorted.map(_._2))
  }

  override def serialize(buffer: mutable.HashMap[Int, Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buffer.size * 12)
    bb.putInt(buffer.size)
    buffer.foreach { case (k, c) => bb.putInt(k); bb.putLong(c) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Int, Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = mutable.HashMap.empty[Int, Long]
    var i = 0
    while (i < n) { m.update(bb.getInt, bb.getLong); i += 1 }
    m
  }

  override def dataType: DataType = MapType(IntegerType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(newOffset: Int): SumSparseHistograms =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SumSparseHistograms =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SumSparseHistograms =
    copy(child = newChild)
  override def prettyName: String = "hist_sum"
}
