package bench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Spark work attributed to one span: the jobs it started and the
  * stages and tasks of those jobs. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, peakExecMem = 0L
  var recordsIn, bytesIn, recordsOut, bytesOut = 0L
  var firstJobMs = Long.MaxValue
  var lastJobMs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    recordsIn += o.recordsIn; bytesIn += o.bytesIn
    recordsOut += o.recordsOut; bytesOut += o.bytesOut
    firstJobMs = math.min(firstJobMs, o.firstJobMs); lastJobMs = math.max(lastJobMs, o.lastJobMs)
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "cpu_s" -> cpuNs / 1e9, "run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_read_mb" -> shuffleRead / MiB, "shuffle_write_mb" -> shuffleWrite / MiB,
    "spill_mb" -> spill / MiB, "peak_exec_mem_mb" -> peakExecMem / MiB,
    "records_in" -> recordsIn, "bytes_in" -> bytesIn,
    "records_out" -> recordsOut, "bytes_out" -> bytesOut)

  private def MiB = 1024.0 * 1024.0
}

final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  val own = new Counters
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One SQL execution seen while tracing; `kind` and `tier` classify the
  * executions of `CheckpointedRollup.run` from their physical plans. */
final case class SqlExec(id: Long, kind: String, tier: String, startMs: Long, var endMs: Long) {
  def seconds: Double = if (endMs < startMs) 0.0 else (endMs - startMs) / 1e3
}

/** Spans around every public call the benchmark makes, plus a Spark
  * listener that attributes jobs, stages and task metrics to the span
  * that started each job (through a local property). With tracing off
  * `span` only runs its body and no listener is registered. Spans stay in
  * memory and are written out at exit. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var currentOp: Int = -1
  /** Spans and SQL executions are recorded only while active: set-up and
    * checks run inactive. */
  @volatile var active: Boolean = enabled

  private val stageSpan = mutable.Map.empty[Int, Int]
  val execs = mutable.ArrayBuffer.empty[SqlExec]
  private val execById = mutable.Map.empty[Long, SqlExec]

  private val listener = new SparkListener {
    private def spanOf(props: java.util.Properties): Option[Span] =
      Option(props).flatMap(p => Option(p.getProperty(Prop))).map(s => spans(s.toInt))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      spanOf(e.properties).foreach { s =>
        s.own.jobs += 1
        s.own.firstJobMs = math.min(s.own.firstJobMs, e.time)
        e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, s.id))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      // job end carries no properties: the latest job end inside an
      // open span's window is credited when the span closes
      lastJobEnd = math.max(lastJobEnd, e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(s => spans(s).own.stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      stageSpan.get(e.stageId).foreach { sid =>
        val c = spans(sid).own
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled
          c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
          c.recordsIn += m.inputMetrics.recordsRead
          c.bytesIn += m.inputMetrics.bytesRead
          c.recordsOut += m.outputMetrics.recordsWritten
          c.bytesOut += m.outputMetrics.bytesWritten
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      if (active) e match {
        case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
          val (kind, tier) = classify(s.physicalPlanDescription)
          val x = SqlExec(s.executionId, kind, tier, s.time, -1L)
          execs += x
          execById(s.executionId) = x
        case s: SparkListenerSQLExecutionEnd =>
          execById.remove(s.executionId).foreach(_.endMs = s.time)
        case _ =>
      }
    }
  }
  private var lastJobEnd = 0L

  if (enabled) sc.addSparkListener(listener)

  /** Runs `body` inside a span named `name`. */
  def span[A](name: String)(body: => A): A = {
    if (!active) return body
    val s = listener.synchronized {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), currentOp,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      s
    }
    stack = s :: stack
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Prop, prev)
      org.apache.spark.BenchBus.drain(sc)
      listener.synchronized {
        if (s.own.jobs > 0) s.own.lastJobMs = math.max(s.own.lastJobMs, math.min(lastJobEnd, s.endMs))
      }
    }
  }

  /** The span's own counters plus those of every span below it. */
  def total(s: Span): Counters = {
    val c = new Counters
    c += s.own
    children(s).foreach(ch => c += total(ch))
    c
  }

  def children(s: Span): Seq[Span] = spans.iterator.filter(_.parent == s.id).toSeq

  def named(name: String): Seq[Span] = spans.iterator.filter(_.name == name).toSeq

  /** SQL executions that started inside the span's wall-clock window. */
  def execsIn(s: Span): Seq[SqlExec] =
    listener.synchronized(execs.filter(x => x.startMs >= s.startMs && x.startMs <= s.endMs).toSeq)

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)

  /** Spans and SQL executions as JSON lines. */
  def write(path: java.nio.file.Path, extra: Map[String, Any]): Unit = {
    val lines = spans.map { s =>
      Json(Map("span" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "counters" -> s.own.toMap))
    } ++ execs.map { x =>
      Json(Map("exec" -> x.id, "kind" -> x.kind, "tier" -> x.tier,
        "start_ms" -> x.startMs, "end_ms" -> x.endMs))
    } :+ Json(extra)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val Prop = "bench.span"
  val Tiers = Seq("chunks", "hourly", "distinct", "daily", "weekly")
  // the write path follows the command name in the simple plan format and
  // "Arguments:" in the formatted one (the SQL UI default)
  private val WriteTier =
    ("(?:InsertIntoHadoopFsRelationCommand|Arguments:) \\S*/(" + Tiers.mkString("|") + "),").r

  /** Phase of one SQL execution of `CheckpointedRollup.run`, read off its
    * physical plan: a tier write is that tier's compute+write, anything
    * touching the checkpoint table is checkpoint work, and the rest
    * (the per-tier `counts.collect()` re-count, the initial bounds scan)
    * is sorted out by position in [[runPhases]]. */
  def classify(plan: String): (String, String) =
    if (plan.contains("_checkpoint_staging")) ("checkpoint", "commit")
    else WriteTier.findFirstMatchIn(plan) match {
      case Some(m) => ("compute_write", m.group(1))
      case None    => if (plan.contains("/_checkpoint")) ("checkpoint", "read") else ("other", "")
    }

  /** Seconds per (phase, tier) of one run: an unclassified execution after
    * a tier's write and before that tier's checkpoint commit is the tier's
    * re-count; any other is counted as "other" (the initial bounds scan). */
  def runPhases(execs: Seq[SqlExec]): Map[(String, String), Double] = {
    var tier = ""
    val out = mutable.Map.empty[(String, String), Double].withDefaultValue(0.0)
    execs.sortBy(_.startMs).foreach { x =>
      x.kind match {
        case "compute_write" => tier = x.tier; out(("compute_write", x.tier)) += x.seconds
        case "checkpoint" =>
          if (x.tier == "commit") tier = ""
          out(("checkpoint", "")) += x.seconds
        case _ =>
          if (tier.nonEmpty) out(("recount", tier)) += x.seconds
          else out(("other", "")) += x.seconds
      }
    }
    out.toMap
  }
}
