package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.chunk.{GorillaDecodeGen, GorillaEncodeAgg}

/** Session extension registering graft's native Catalyst functions, the
  * only plan of the chunk codec. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` on the
  * session builder; in a session without it [[graft.chunk.ChunkOps]]
  * fails at analysis with Spark's unresolved-function error.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftExtensions.inject(ext)
}

object GraftExtensions {
  /** `ts_chunk_encode(t, v)` — Gorilla chunk blob aggregate ([[GorillaEncodeAgg]]). */
  val EncodeName = "ts_chunk_encode"

  /** `ts_chunk_explode(blob)` — decode generator ([[GorillaDecodeGen]]). */
  val DecodeName = "ts_chunk_explode"

  /** The function descriptions, shared by [[inject]] (session-build path)
    * and [[registerInto]] (direct registry path, e.g. restoring after a
    * test deregisters them). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      FunctionIdentifier(EncodeName),
      new ExpressionInfo(classOf[GorillaEncodeAgg].getCanonicalName, EncodeName),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"$EncodeName(t, v) takes exactly 2 arguments, got ${args.length}")
        GorillaEncodeAgg(args(0), args(1))
      }),
    (
      FunctionIdentifier(DecodeName),
      new ExpressionInfo(classOf[GorillaDecodeGen].getCanonicalName, DecodeName),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"$DecodeName(blob) takes exactly 1 argument, got ${args.length}")
        GorillaDecodeGen(args.head)
      }))

  def inject(ext: SparkSessionExtensions): Unit = functions.foreach(ext.injectFunction)

  /** Register straight into a live session's FunctionRegistry. */
  def registerInto(reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry): Unit =
    functions.foreach { case (id, info, builder) => reg.registerFunction(id, info, builder) }
}
