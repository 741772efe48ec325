package graft.chunk

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType}

/** Growable parallel-array accumulator for one chunk's points: primitive
  * longs/doubles plus an explicit null mask (NaN is a LEGAL value in the
  * codec, so it cannot double as the null sentinel). */
final class ChunkBuffer(initial: Int = 16) {
  var n: Int = 0
  var ts: Array[Long] = new Array[Long](initial)
  var vs: Array[Double] = new Array[Double](initial)
  var nl: Array[Boolean] = new Array[Boolean](initial)

  private def grow(need: Int): Unit = {
    if (need > ts.length) {
      val cap = math.max(need, ts.length * 2)
      ts = java.util.Arrays.copyOf(ts, cap)
      vs = java.util.Arrays.copyOf(vs, cap)
      nl = java.util.Arrays.copyOf(nl, cap)
    }
  }

  def add(t: Long, v: Double, isNull: Boolean): Unit = {
    grow(n + 1)
    ts(n) = t; vs(n) = v; nl(n) = isNull; n += 1
  }

  def mergeIn(o: ChunkBuffer): Unit = {
    grow(n + o.n)
    System.arraycopy(o.ts, 0, ts, n, o.n)
    System.arraycopy(o.vs, 0, vs, n, o.n)
    System.arraycopy(o.nl, 0, nl, n, o.n)
    n += o.n
  }

  /** Sort by t and Gorilla-encode — byte-identical to the UDF path
    * (same stable time sort, same codec stream). */
  def toBlob: Array[Byte] = {
    val idx = Array.range(0, n)
    // boxed-comparator sort on an index permutation: n is chunk-bounded
    val order = idx.map(Integer.valueOf).sortWith((a, b) => ts(a) < ts(b))
    val st = new Array[Long](n)
    val sv = new Array[java.lang.Double](n)
    var i = 0
    while (i < n) {
      val j = order(i).intValue()
      st(i) = ts(j)
      sv(i) = if (nl(j)) null else java.lang.Double.valueOf(vs(j))
      i += 1
    }
    Gorilla.encode(st, sv)
  }

  def serialized: Array[Byte] = {
    val size = 4L + n.toLong * 17L
    require(size <= Int.MaxValue,
      s"chunk partial buffer of $n points exceeds the 2 GiB serialization limit — shrink chunkSpanMicros")
    val bb = java.nio.ByteBuffer.allocate(size.toInt)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putLong(ts(i)); bb.putDouble(vs(i)); bb.put(if (nl(i)) 1.toByte else 0.toByte); i += 1 }
    bb.array()
  }
}

object ChunkBuffer {
  def deserialize(bytes: Array[Byte]): ChunkBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new ChunkBuffer(math.max(n, 1))
    var i = 0
    while (i < n) { b.add(bb.getLong, bb.getDouble, bb.get() == 1.toByte); i += 1 }
    b
  }
}

/** Native Catalyst aggregate `ts_chunk_encode(t, v)` → Gorilla blob: the
  * codegen-adjacent replacement for `collect_list(struct(t, v))` + a
  * Scala UDF. The UDF path materializes a GenericArrayData of boxed Rows
  * per chunk and re-boxes every field in the lambda; this accumulates
  * straight into primitive arrays (update and merge are O(1)/O(n)
  * arraycopies, serialize is one ByteBuffer), so the per-point cost is
  * the codec itself. Registered via SparkSessionExtensions
  * ([[graft.GraftExtensions]], spark.sql.extensions=graft.GraftExtensions)
  * and the only encode plan of [[ChunkOps.writeChunks]]. Its blobs are
  * byte-identical to the `collect_list` + UDF form (same time sort, same
  * codec stream — asserted in GorillaAggSpec).
  */
case class GorillaEncodeAgg(
    t: Expression,
    v: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ChunkBuffer] with ImplicitCastInputTypes {

  override def children: Seq[Expression] = Seq(t, v)
  // AbstractDataType is private[sql] in Spark 4 — infer the covariant Seq[DataType]
  override def inputTypes = Seq[DataType](LongType, DoubleType)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "ts_chunk_encode"

  override def createAggregationBuffer(): ChunkBuffer = new ChunkBuffer()

  override def update(b: ChunkBuffer, input: InternalRow): ChunkBuffer = {
    val tv = t.eval(input)
    if (tv != null) { // null time carries no measurement; skip like the scan would
      val vv = v.eval(input)
      if (vv == null) b.add(tv.asInstanceOf[Long], 0.0, isNull = true)
      else b.add(tv.asInstanceOf[Long], vv.asInstanceOf[Double], isNull = false)
    }
    b
  }

  override def merge(b: ChunkBuffer, o: ChunkBuffer): ChunkBuffer = { b.mergeIn(o); b }

  override def eval(b: ChunkBuffer): Any = b.toBlob

  override def serialize(b: ChunkBuffer): Array[Byte] = b.serialized
  override def deserialize(bytes: Array[Byte]): ChunkBuffer = ChunkBuffer.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): GorillaEncodeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GorillaEncodeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(t = newChildren(0), v = newChildren(1))
}
