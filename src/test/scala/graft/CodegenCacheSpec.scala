package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A session with [[GraftExtensions]] compiles each generated class once:
  * once warm, a run of the benchmark's query cycle compiles nothing. */
class CodegenCacheSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** The benchmark's `query` workload cycle. */
  private val cycle = Seq("q03_sample_prev", "q05_distribution", "q09_moving_average",
    "q10_rollup_hourly", "q11_rollup_daily", "q12_rollup_weekly", "q13_codec_roundtrip",
    "q14_merge_sum", "q187_retention_sweep", "q191_tier_stitch")

  /** Classes compiled while running the cycle once, each query collected. */
  private def compiles(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    cycle.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("the extension sizes the codegen cache") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftExtensions.CodegenCacheEntries.toString)
  }

  test("a warm run of the query cycle compiles no class") {
    // A generated class's source carries its whole-stage codegen id, which
    // AQE assigns in the order query stages complete; q187's stages can
    // complete in either of two orders, so its second run may meet the
    // other numbering and compile those few classes once more.
    val first = compiles()
    val warm = scala.collection.mutable.ArrayBuffer(compiles())
    while (warm.last != 0 && warm.size < 4) warm += compiles()
    info(s"first run compiled $first classes, the warm runs ${warm.mkString(", ")}")
    assert(warm.last == 0, s"warm runs compiled ${warm.mkString(", ")} classes")
  }
}
