package graft

import graft.hist.WeightedQuantile
import org.apache.spark.sql.SparkSession

/** SQL-surface registration of the exact weighted quantile, which is not a
  * plain Catalyst expression, so `spark.sql` users get the full operator
  * set (SURVEY.md §4 item 3). The chunk codec's SQL surface is the native
  * `ts_chunk_encode` / `ts_chunk_explode` pair of [[GraftExtensions]].
  *
  * {{{
  * GraftFunctions.register(spark)
  * spark.sql("SELECT key, ts_quantile(hist, 0.5) FROM dists")
  * }}}
  */
object GraftFunctions {

  def register(spark: SparkSession): Unit = {
    spark.udf.register("ts_quantile", (hist: Map[Double, Double], q: Double) =>
      if (hist == null || hist.isEmpty) null
      else WeightedQuantile.quantile(hist, q).map(java.lang.Double.valueOf).orNull)
    spark.udf.register("ts_quantiles", (hist: Map[Double, Double], qs: Seq[Double]) =>
      if (hist == null || hist.isEmpty) null
      else WeightedQuantile.quantiles(hist, qs).map(_.map(java.lang.Double.valueOf).orNull))
  }
}
