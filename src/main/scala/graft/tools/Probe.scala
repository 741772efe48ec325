package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only micro-prober: time one named query / bench job without paying
  * for the whole Bench headline sweep. Usage:
  *   sbt "runMain graft.tools.Probe q14_merge_sum [reps]"
  *   sbt "runMain graft.tools.Probe mergeJob|rollupJob|skewBucketed|skewPlain [reps]"
  * Uses the same session shape as Bench (local[32], 128 shuffle parts).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q14_merge_sum")
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val job: () => Long = name match {
      case "mergeJob"     => () => graft.Bench.mergeJob(spark, 20000000L)
      case "rollupJob"    => () => graft.Bench.rollupJob(spark, 8000000L)
      case "mergeJob200"  => () => graft.Bench.mergeJob(spark, 200000000L)
      case "rollupJob80"  => () => graft.Bench.rollupJob(spark, 80000000L)
      case "skewBucketed" => () => graft.Bench.mergeSkewJob(spark, 24000000L, bucketed = true)
      case "skewBucketed40" => () => graft.Bench.mergeSkewJob(spark, 40000000L, bucketed = true)
      case "skewBucketed64" => () => graft.Bench.mergeSkewJob(spark, 64000000L, bucketed = true)
      case "skewPlain"    => () => graft.Bench.mergeSkewJob(spark, 24000000L, bucketed = false)
      // connected-components scale probe: n edges forming chains of 64 —
      // the worst diameter shape per component for label propagation, so
      // the pointer-jump O(log n) claim is what is actually measured
      case "ccJob" | "ccJob40" => () => {
        import org.apache.spark.sql.functions._
        val n = if (name == "ccJob40") 40000000L else 10000000L
        val edges = spark.range(n).filter(col("id") % 64 =!= 63)
          .select(col("id").as("a"), (col("id") + 1).as("b"))
        val cc = graft.dedup.Clusters.connectedComponents(edges)
        val distinct = cc.select(countDistinct(col("cluster"))).head().getLong(0)
        require(distinct == (n + 63) / 64, s"$distinct components")
        distinct
      }
      // realistic dup-cluster shape: 8-member stars (diameter 2)
      case "ccStar" => () => {
        import org.apache.spark.sql.functions._
        val n = 10000000L
        val edges = spark.range(n).filter(col("id") % 8 =!= 0)
          .select(col("id").as("a"), (col("id") - col("id") % 8).as("b"))
        val cc = graft.dedup.Clusters.connectedComponents(edges)
        val distinct = cc.select(countDistinct(col("cluster"))).head().getLong(0)
        require(distinct == (n + 7) / 8, s"$distinct components")
        distinct
      }
      // component probes for the minhash pipeline (dev-only)
      case "mh_shingles" => () =>
        graft.GraftQueries.docs(spark, sfDir)
          .select(org.apache.spark.sql.functions.explode(
            graft.dedup.Dedup.shingles(org.apache.spark.sql.functions.col("text"))))
          .count()
      case "mh_sig" => () =>
        graft.dedup.Dedup.minhashSignature(graft.GraftQueries.docs(spark, sfDir)).count()
      case "mh_a" | "mh_b" | "mh_c" => () => {
        import org.apache.spark.sql.functions._
        // timing probe only: docs under 3 tokens are filtered (element_at
        // past the end THROWS under Spark 4's default ANSI mode; the
        // production path's slice() handles them, this bisection tool
        // need not)
        val ex = graft.GraftQueries.docs(spark, sfDir)
          .repartition(spark.sparkContext.defaultParallelism)
          .select(col("doc_id"), graft.text.TextOps.wsTokens(col("text")).as("_tk"))
          .filter(size(col("_tk")) >= 3)
          .select(col("doc_id"), col("_tk"),
            explode(sequence(lit(0), size(col("_tk")) - 3)).as("_i"))
        val step = name match {
          case "mh_a" => ex.select(col("doc_id"), col("_i"))
          case "mh_b" => ex.select(col("doc_id"), concat_ws(" ",
            (1 to 3).map(d => element_at(col("_tk"), col("_i") + d)): _*).as("_s"))
          case _ => ex.select(col("doc_id"), concat_ws(" ",
              (1 to 3).map(d => element_at(col("_tk"), col("_i") + d)): _*).as("_s"))
            .select(col("doc_id"),
              conv(substring(md5(col("_s").cast("binary")), 1, 8), 16, 10).cast("long").as("_x"))
        }
        step.groupBy("doc_id").count().count()
      }
      case "mh_bands" => () =>
        graft.dedup.Dedup.lshBands(
          graft.dedup.Dedup.minhashSignature(graft.GraftQueries.docs(spark, sfDir))).count()
      case q              => () => graft.SparkEntry.queries(q)(spark, sfDir).count()
    }
    val (_, sec) = graft.Bench.minOfReps(spark, reps)(job)
    println(f"PROBE $name min-of-$reps: $sec%.3f s")
    if (sys.env.contains("SPARK_GRAFT_STAGES")) {
      // one instrumented run with per-stage wall-clock
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Int, Long, Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          stages.add((i.stageId,
            i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
            i.taskMetrics.shuffleWriteMetrics.recordsWritten,
            i.numTasks,
            i.taskMetrics.executorRunTime,
            i.taskMetrics.executorDeserializeTime,
            i.name.takeWhile(_ != '\n')))
        }
      })
      spark.catalog.clearCache()
      job()
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(_._1).foreach { case (id, ms, recs, nt, run, deser, nm) =>
        println(f"STAGE $id%4d ${ms}%6d ms  $recs%9d shufrecs  $nt%3d tasks  run=$run%6d ms deser=$deser%5d ms  $nm")
      }
    }
    spark.stop()
  }
}
