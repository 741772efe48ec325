package graft

import org.apache.spark.SparkEnv
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.internal.StaticSQLConf

import graft.chunk.{GorillaDecodeGen, GorillaEncodeAgg}

/** Session extension registering graft's native Catalyst functions, the
  * only plan of the chunk codec, and sizing Spark's codegen cache to
  * graft's working set. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` on the
  * session builder; in a session without it [[graft.chunk.ChunkOps]]
  * fails at analysis with Spark's unresolved-function error.
  *
  * It also sets `spark.sql.codegen.cache.maxEntries` (a static conf) to
  * [[CodegenCacheEntries]] unless the deployer set it. That cache is one
  * LRU of generated classes per JVM, keyed by class loader and source; at
  * Spark's 100 entries a graft session recompiles most of its classes on
  * every run. Extensions apply after the SparkContext exists but before
  * the session's SQLConf is merged from the SparkConf and before the first
  * compile builds the cache, so the cache is built at this size. If the
  * JVM compiled a class before the extension ran, the cache already exists
  * at its old size, and one WARN names the conf and the count. A cluster
  * executor builds its own cache from the SparkConf it was launched with,
  * so set the conf at submit there.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftExtensions.inject(ext)
}

object GraftExtensions {
  /** `ts_chunk_encode(t, v)` — Gorilla chunk blob aggregate ([[GorillaEncodeAgg]]). */
  val EncodeName = "ts_chunk_encode"

  /** `ts_chunk_explode(blob)` — decode generator ([[GorillaDecodeGen]]). */
  val DecodeName = "ts_chunk_explode"

  /** Codegen cache capacity. The benchmark's 10-query cycle compiles about
    * 200 classes; one pass over all 228 registry queries at sf0.001
    * compiled 3,609 classes and grew metaspace by about 42 KiB per class.
    * 1024 entries hold the cycle five times over, and what the cache can
    * keep alive is at most about 43 MiB of metaspace. */
  val CodegenCacheEntries = 1024

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

  def inject(ext: SparkSessionExtensions): Unit = {
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    SparkEnv.get.conf.setIfMissing(key, CodegenCacheEntries.toString)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    if (compiled > 0)
      org.slf4j.LoggerFactory.getLogger(classOf[GraftExtensions]).warn(
        s"$key takes effect only before the first compile, and this JVM has compiled $compiled " +
          "classes already: the codegen cache keeps the size it was built with")
    functions.foreach(ext.injectFunction)
  }

  /** Register straight into a live session's FunctionRegistry. */
  def registerInto(reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry): Unit =
    functions.foreach { case (id, info, builder) => reg.registerFunction(id, info, builder) }
}
