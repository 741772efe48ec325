package graft.chunk

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StructType}

/** Native generator `ts_chunk_explode(blob)` → rows (t: long, v: double?):
  * the decode inverse of [[GorillaEncodeAgg]]. The UDF form decodes into a
  * boxed `Seq[(Long, Option[Double])]`, round-trips it through the Scala
  * ObjectType encoder into an ArrayData, and only then explodes; this
  * yields InternalRows straight off the codec's primitive arrays — one
  * small row allocation per point, no Option/tuple boxing, no
  * encoder pass. Registered alongside the encode aggregate in
  * [[graft.GraftExtensions]] and the only decode plan of
  * [[ChunkOps.readChunks]]; it decodes to the rows of a driver-side
  * `Gorilla.decode` replay (GorillaAggSpec).
  */
case class GorillaDecodeGen(child: Expression)
  extends Generator with CodegenFallback with UnaryLike[Expression] {

  override def prettyName: String = "ts_chunk_explode"

  override def elementSchema: StructType = new StructType()
    .add("t", LongType, nullable = false)
    .add("v", DoubleType, nullable = true)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"ts_chunk_explode needs a binary blob, got ${child.dataType.catalogString}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val blob = child.eval(input)
    if (blob == null) Nil
    else {
      val (ts, vs) = Gorilla.decode(blob.asInstanceOf[Array[Byte]])
      new Iterator[InternalRow] {
        private var i = 0
        override def hasNext: Boolean = i < ts.length
        override def next(): InternalRow = {
          val v = vs(i)
          // fresh row per point: downstream operators may buffer rows
          val r = new GenericInternalRow(2)
          r.setLong(0, ts(i))
          if (v == null) r.setNullAt(1) else r.setDouble(1, v.doubleValue())
          i += 1
          r
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): GorillaDecodeGen =
    copy(child = newChild)
}
