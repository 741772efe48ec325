package bench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Runs one workload as a closed loop (one client, one op at a time) for
  * a given number of seconds of op time, checks every op's output, and
  * writes a result file for the launcher (`run.py`).
  *
  * Arguments are `key=value` pairs: workload, seed, seconds, trace (0|1),
  * work (scratch directory), out (result file), cores, and the workload
  * sizes. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceOn = a("trace") == "1"
    val cores = a("cores").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    log(f"main entered ${(System.currentTimeMillis() - jvmStart) / 1e3}%.3f s after JVM start")
    val spark = session(cores, a("shuffle_partitions"))
    val tr = new Tracer(spark, traceOn)
    tr.active = false
    val w: Workload = workload match {
      case "ingest" => new Ingest(spark, tr, work, a("ingest_rows").toLong, a("ingest_domains").toInt,
        a("ingest_pages_per_domain").toInt, seed, cores)
      case "query"  => new Query(spark, tr, work, a("query_rows").toLong, seed, cores, a("queries").split(",").toSeq)
      case other    => sys.error(s"unknown workload $other")
    }

    // set-up, from JVM start to the first timed op: session, input
    // generation from the seed, untimed warmup
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    log(f"session $sessionS%.3f s")
    val prepS = time(w.prepare())._2
    log(f"inputs $prepS%.3f s")
    // untimed warmup iterations (negative iteration numbers)
    val warmS = time((1 to a("warmup").toInt).foreach(k => w.iteration(-k).foreach { op =>
      op.before()
      op.run()
    }))._2
    log(f"warmup $warmS%.3f s")
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    // the timed window: whole iterations until `seconds` of op time
    val done = collection.mutable.ArrayBuffer.empty[Done]
    var opTime = 0.0
    var i = 0
    tr.active = traceOn
    while (opTime < seconds) {
      w.iteration(i).foreach { op =>
        val idx = done.size
        tr.currentOp = idx
        op.before()
        val t0 = System.nanoTime()
        val (out, err) =
          try (tr.span(s"op.${op.kind}")(op.run()), None)
          catch { case e: Throwable => (null, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))) }
        val s = (System.nanoTime() - t0) / 1e9
        log(f"op $idx ${op.kind} $s%.3f s${err.map(" " + _).getOrElse("")}")
        opTime += s
        done += Done(idx, i, op.kind, s, op.items, err, out)
      }
      i += 1
    }
    tr.active = false
    val timed = done.toSeq

    // output checks and reference computation, outside the window
    val (checks, checkS) = time(w.check(timed))
    log(f"checks $checkS%.3f s")
    val failedOps = (timed.filter(_.error.nonEmpty).map(_.index) ++
      checks.filterNot(_._2.ok).map(_._1)).toSet
    val failedChecks =
      checks.filterNot(_._2.ok).groupBy(_._2.name).map { case (n, cs) => n -> cs.size } ++
        timed.filter(_.error.nonEmpty).groupBy(d => s"$workload.${d.kind}.exception").map { case (n, ds) => n -> ds.size }

    val kinds = timed.map(_.kind).distinct
    val opP50 = math.exp(kinds.map(k => math.log(Workload.medianBy(k, timed))).sum / kinds.size)
    val okOps = timed.filter(_.error.isEmpty)
    val itemsPerS = okOps.map(_.items).sum / okOps.map(_.seconds).sum
    val figures = w.figures(timed)

    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_s" -> opP50,
      "items_per_s" -> itemsPerS,
      "peak_rss_mb" -> peakRssMb)

    val layerMetrics: Map[String, Double] =
      if (!traceOn) Map.empty
      else {
        tr.active = true
        val ls = w.layers(timed, tr)
        tr.active = false
        val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
        val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed).sum / Workload.MiB
        ls ++ figures ++ Map(
          "failed_frac" -> failedOps.size.toDouble / timed.size,
          "peak_rss_mb" -> peakRssMb,
          "jvm.gc_s" -> gcS,
          "jvm.heap_peak_mb" -> heapPeak)
      }

    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traceOn,
      "attempted" -> timed.size, "failed" -> failedOps.size,
      "failed_checks" -> failedChecks,
      "errors" -> timed.flatMap(_.error).distinct.take(5),
      "checks" -> checks.map(_._2).groupBy(_.name).map { case (n, cs) =>
        n -> Map("passed" -> cs.count(_.ok), "failed" -> cs.count(!_.ok),
          "detail" -> cs.find(!_.ok).getOrElse(cs.head).detail)
      },
      "ops" -> timed.map(d => Map("kind" -> d.kind, "seconds" -> d.seconds, "ok" -> !failedOps(d.index))),
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepS, "warmup_s" -> warmS),
      "check_s" -> checkS,
      "e2e" -> e2e, "figures" -> figures, "layers" -> layerMetrics)
    Files.write(Paths.get(a("out")), Json(result).getBytes("UTF-8"))
    if (traceOn)
      tr.write(Paths.get(a("trace_out")), Map("summary" -> Map(
        "workload" -> workload, "seed" -> seed, "op_p50_s" -> opP50)))
    tr.close()
    spark.stop()
  }

  /** Progress lines go to standard error, which the launcher keeps in
    * the run's log. */
  def log(msg: String): Unit = System.err.println(s"[bench] $msg")

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The process's resident-set high-water mark (Linux `VmHWM`). */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def session(cores: Int, shufflePartitions: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("tracesspark-benchmark")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.default.parallelism", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
