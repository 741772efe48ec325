package org.apache.spark {
  /** The listener bus is package-private to Spark, hence the package. */
  object ProfileBus {
    /** Waits until every event posted so far has reached the listeners. */
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft.tools {

  import graft.{Bench, SparkEntry}
  import org.apache.spark.ProfileBus
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

  import java.nio.file.{Files, Paths}
  import scala.collection.mutable.ArrayBuffer

  /** Where the time of a registry query or a Bench leg goes.
    *
    * {{{
    * runMain graft.tools.Profile time   [names…]          min wall over reps: build / plan / execute, jobs, stages, tasks, compiles
    * runMain graft.tools.Profile stages [names…]          the same, plus one line per stage
    * runMain graft.tools.Profile plan   [outDir/] [names…] formatted final plan, printed or written to <outDir>/<q>.txt
    * }}}
    *
    * A name is a registry query or, for `time` and `stages`, a Bench leg
    * `rollup:N`, `merge:N`, `skewb:N` (bucketed skew) or `skewp:N` (plain
    * skew) of N rows. No names means `Bench.headline`. The first `plan`
    * argument is the output directory when it contains a `/`.
    *
    * Env: `SPARK_GRAFT_SF_DIR` (required), `SPARK_GRAFT_CPUS` (default:
    * the host's processors), `SPARK_GRAFT_REPS` (timed reps, default 3).
    * The session is `Bench.session`, and each target gets Bench's untimed
    * warmup and a cleared cache before every timed rep.
    */
  object Profile {

    /** One timed run: seconds to build the DataFrame, to plan it and to
      * execute it (a leg is all execute), the work it started, and the
      * classes this JVM's codegen compiled meanwhile. */
    final case class Run(build: Double, plan: Double, exec: Double,
        jobs: Int, stages: Int, tasks: Int, compiles: Long, stageLines: Seq[String]) {
      def wall: Double = build + plan + exec
    }

    private val Leg = "(rollup|merge|skewb|skewp):([0-9]+)".r

    /** Counts the jobs, completed stages and their tasks since `reset`. */
    private final class Recorder extends SparkListener {
      private var jobs, stages, tasks = 0
      private val lines = ArrayBuffer.empty[String]
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
        val i = s.stageInfo
        val wall = (for (t0 <- i.submissionTime; t1 <- i.completionTime) yield (t1 - t0) / 1e3).getOrElse(0.0)
        val m = i.taskMetrics
        stages += 1
        tasks += i.numTasks
        lines += f"    stage ${i.stageId}%4d $wall%7.3f s ${i.numTasks}%5d tasks  run=${m.executorRunTime}%6d ms" +
          f" cpu=${m.executorCpuTime / 1000000}%6d ms gc=${m.jvmGCTime}%5d ms deser=${m.executorDeserializeTime}%5d ms"
      }
      def reset(): Unit = synchronized { jobs = 0; stages = 0; tasks = 0; lines.clear() }
      def run(build: Double, plan: Double, exec: Double, compiles: Long): Run =
        synchronized { Run(build, plan, exec, jobs, stages, tasks, compiles, lines.toList) }
    }

    /** Registry query or Bench leg `name`: one untimed warmup, then the
      * timed run with the least wall time out of `reps`. */
    def time(spark: SparkSession, sfDir: String, name: String, reps: Int): Run = {
      def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
      val once: () => (Double, Double, Double) = name match {
        case Leg(kind, n) =>
          val rows = n.toLong
          () => {
            val t0 = System.nanoTime()
            kind match {
              case "rollup" => Bench.rollupJob(spark, rows)
              case "merge"  => Bench.mergeJob(spark, rows)
              case "skewb"  => Bench.mergeSkewJob(spark, rows, bucketed = true)
              case "skewp"  => Bench.mergeSkewJob(spark, rows, bucketed = false)
            }
            (0.0, 0.0, secs(t0))
          }
        case q =>
          val build = SparkEntry.queries(q)
          () => {
            val t0 = System.nanoTime()
            val df = build(spark, sfDir) // may run driver-side jobs
            val t1 = System.nanoTime()
            df.queryExecution.executedPlan // analyze + optimize + plan
            val t2 = System.nanoTime()
            df.count()
            ((t1 - t0) / 1e9, (t2 - t1) / 1e9, secs(t2))
          }
      }
      val sc = spark.sparkContext
      val rec = new Recorder
      sc.addSparkListener(rec)
      try {
        sc.setJobDescription(s"profile:$name")
        Bench.reclaim(spark)
        once()
        (1 to reps).map { _ =>
          spark.catalog.clearCache()
          ProfileBus.drain(sc)
          rec.reset()
          val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          val (b, p, e) = once()
          ProfileBus.drain(sc)
          rec.run(b, p, e, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled)
        }.minBy(_.wall)
      } finally {
        sc.removeSparkListener(rec)
        sc.setJobDescription(null)
      }
    }

    /** The line `time` prints for `name`'s reported run `r`. */
    def summary(name: String, r: Run): String =
      f"$name%-26s min=${r.wall}%7.3f s (build=${r.build}%6.3f plan=${r.plan}%6.3f exec=${r.exec}%7.3f)" +
        f"  jobs=${r.jobs}%3d stages=${r.stages}%3d tasks=${r.tasks}%5d compiles=${r.compiles}%4d"

    /** The formatted plan of registry query `q`, after running that same
      * plan once so AQE settles its final form. */
    def plan(spark: SparkSession, sfDir: String, q: String): String = {
      val qe = SparkEntry.queries(q)(spark, sfDir).queryExecution
      SQLExecution.withNewExecutionId(qe, Some(s"profile:$q"))(qe.toRdd.count())
      qe.explainString(FormattedMode)
    }

    def main(args: Array[String]): Unit = {
      val modes = Set("time", "stages", "plan")
      require(args.nonEmpty && modes(args(0)), "usage: Profile <time|stages|plan> [outDir/] [names…]")
      val mode = args(0)
      val (outDir, given) = args.toSeq.drop(1) match {
        case d +: rest if mode == "plan" && d.contains('/') => (Some(d), rest)
        case rest => (None, rest)
      }
      val names = if (given.nonEmpty) given else Bench.headline
      val unknown = names.filterNot(n => SparkEntry.queries.contains(n) || (mode != "plan" && Leg.matches(n)))
      require(unknown.isEmpty, s"unknown for $mode: ${unknown.mkString(", ")}")
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error("SPARK_GRAFT_SF_DIR must name an sf directory"))
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
      val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
      val spark = Bench.session(cpus)
      try names.foreach { name =>
        if (mode == "plan") {
          val text = plan(spark, sfDir, name)
          outDir match {
            case Some(d) =>
              Files.createDirectories(Paths.get(d))
              Files.writeString(Paths.get(d, s"$name.txt"), text)
              println(s"$name -> $d/$name.txt")
            case None => println(text)
          }
        } else {
          val r = time(spark, sfDir, name, reps)
          println(summary(name, r))
          if (mode == "stages") r.stageLines.foreach(println)
        }
      } finally spark.stop()
    }
  }
}
