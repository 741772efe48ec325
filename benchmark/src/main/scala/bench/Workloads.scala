package bench

import graft.pipeline.{CheckpointedRollup, Pages}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** One timed operation of a workload; `items` is the input it processes
  * (points or event rows). `before` runs untimed ahead of it. */
final case class Op(kind: String, items: Long, run: () => Any, before: () => Unit = () => ())

/** A finished op: its wall time and what the workload kept to check it. */
final case class Done(index: Int, iteration: Int, kind: String, seconds: Double, items: Long,
    error: Option[String], output: Any)

/** What every workload provides to the closed loop in [[Main]]. */
trait Workload {
  /** Writes the seeded inputs, once, before the warm-up. */
  def prepare(): Unit
  /** The ops of loop iteration `i`, run one at a time. */
  def iteration(i: Int): Seq[Op]
  /** Checks of finished ops: (op index, result) pairs. */
  def check(done: Seq[Done]): Seq[(Int, CheckResult)]
  /** Figures a user of this workload reads, by the names in the doc. */
  def figures(done: Seq[Done]): Map[String, Double]
  /** Per-layer metrics from traced ops (tracing runs only). */
  def layers(done: Seq[Done], tr: Tracer): Map[String, Double]
}

object Workload {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def medianBy(kind: String, done: Seq[Done]): Double =
    median(done.filter(d => d.kind == kind && d.error.isEmpty).map(_.seconds))

  /** Bytes of the data files under `p` (not `.crc` or `_SUCCESS`). */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).filter { f =>
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }.mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally s.close()
  }

  val MiB = 1024.0 * 1024.0

  /** wall, cpu, shuffle write, spill and rows out of standalone layer spans. */
  def layerSpanMetrics(tr: Tracer, name: String, rows: Double): Map[String, Double] = {
    val ss = tr.named(name)
    Map(
      s"$name.wall_s" -> median(ss.map(_.seconds)),
      s"$name.cpu_s" -> median(ss.map(s => tr.total(s).cpuNs / 1e9)),
      s"$name.shuffle_write_mb" -> median(ss.map(s => tr.total(s).shuffleWrite / MiB)),
      s"$name.spill_mb" -> median(ss.map(s => tr.total(s).spill / MiB)),
      s"$name.rows_out" -> rows)
  }
}

/** `build` then `append` of the checkpointed pipeline over a seeded pages
  * table: a from-scratch run over the first 27 days into an empty store,
  * then a second run over all 30 days that adds the newest 3. */
final class Ingest(spark: SparkSession, tr: Tracer, work: Path, rows: Long, domains: Int,
    pagesPerDomain: Int, seed: Long, cores: Int) extends Workload {
  import Workload._
  private val pagesPath = work.resolve("pages").toString
  private val cut = Inputs.Base + 27 * Inputs.Day
  private def pages = spark.read.parquet(pagesPath)
  private def series27 = Pages.toSeries(pages.filter(col("warc_ts_us") < cut))
  private def series30 = Pages.toSeries(pages)
  private var points27, points30 = 0L

  private def store(i: Int, phase: String) = work.resolve(s"store/$i-$phase")

  def prepare(): Unit = {
    Inputs.writePages(spark, rows, domains, pagesPerDomain, seed, pagesPath, cores)
    points27 = series27.count()
    points30 = series30.count()
  }

  def iteration(i: Int): Seq[Op] = Seq(
    Op("build", points27, () =>
      tr.span("pipeline.run")(CheckpointedRollup.run(series27, store(i, "build").toString))),
    // the build's store is checked as built, so append runs on a copy
    Op("append", points30 - points27,
      () => tr.span("pipeline.append")(CheckpointedRollup.run(series30, store(i, "append").toString)),
      before = () => copyTree(store(i, "build"), store(i, "append"))))

  private def tier(dir: Path)(t: String): DataFrame =
    spark.read.parquet(dir.resolve(t).toString).drop("partition")

  /** Every finished op's store against the stateless path over its
    * input, all tiers of all ops in one comparison (an append's store
    * also on the weekly rows outside the cut's week); and each store's
    * checkpoint lineage must have read every input point once into the
    * distinct tier. */
  def check(done: Seq[Done]): Seq[(Int, CheckResult)] = {
    val ok = done.filter(_.error.isEmpty)
    if (ok.isEmpty) return Nil
    import spark.implicits._
    def phaseOf(d: Done) = if (d.kind == "build") "build" else "append"
    def names(phase: String) = if (phase == "append") Tracer.Tiers :+ Checks.OutsideCutWeek else Tracer.Tiers
    def canonical(phase: String, tiers: String => DataFrame) =
      Checks.canonicalTiers(if (phase == "append") Checks.withOutsideCutWeek(tiers, cut) else tiers, names(phase))
    val expected = Seq("build" -> series27, "append" -> series30).map { case (phase, series) =>
      canonical(phase, Checks.statelessTiers(series))
        .crossJoin(ok.filter(phaseOf(_) == phase).map(_.index).toDF("op"))
    }.reduce(_ unionByName _)
    val actual = ok.map(d => canonical(phaseOf(d), tier(store(d.iteration, phaseOf(d)))).withColumn("op", lit(d.index)))
      .reduce(_ unionByName _)
    val verdicts = Checks.diff(expected, actual, Seq("op", "tier"))
    val read = ok.map { d =>
      CheckpointedRollup.readCheckpoint(spark, store(d.iteration, phaseOf(d)).toString)
        .filter(col("tier") === "distinct" && col("status") === "done")
        .select(lit(d.index).as("op"), col("inputRows"))
    }.reduce(_ unionByName _).groupBy("op").agg(sum("inputRows")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    ok.flatMap { d =>
      val n = if (d.kind == "build") points27 else points30
      val tiers = names(phaseOf(d)).map { t =>
        val (pass, detail) = verdicts.getOrElse(Seq(d.index.toString, t), (false, "no rows compared"))
        CheckResult(s"ingest.${phaseOf(d)}.$t", pass, detail)
      }
      val got = read.getOrElse(d.index, 0L)
      (tiers :+ CheckResult(s"ingest.${phaseOf(d)}.input_rows", got == n,
        s"checkpoint input_rows $got, input points $n")).map(d.index -> _)
    }
  }

  private def tierBytes(dir: Path): Long =
    Tracer.Tiers.map(t => dirBytes(dir.resolve(t))).sum

  def figures(done: Seq[Done]): Map[String, Double] = {
    val appended = done.find(d => d.kind == "append" && d.error.isEmpty)
    Map(
      "ingest_pps" -> points27 / medianBy("build", done),
      "append_s" -> medianBy("append", done),
      "store_bytes_per_point" ->
        appended.map(d => tierBytes(store(d.iteration, "append")).toDouble / points30).getOrElse(0.0))
  }

  def layers(done: Seq[Done], tr: Tracer): Map[String, Double] = {
    // each compute layer alone on the same input, materialized to a noop
    // sink; inputs of later layers are written to parquet first so every
    // layer's span holds only its own work
    val mid = work.resolve("layers")
    def noop(name: String, df: DataFrame): Unit = tr.span(name) {
      val ob = org.apache.spark.sql.Observation(name)
      df.observe(ob, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
      layerRows(name) = ob.get("rows").asInstanceOf[Long].toDouble
    }
    def saved(name: String, df: DataFrame): DataFrame = {
      df.write.mode("overwrite").parquet(mid.resolve(name).toString)
      spark.read.parquet(mid.resolve(name).toString)
    }
    import CheckpointedRollup.{DAY, HOUR}
    val built = done.find(d => d.kind == "build" && d.error.isEmpty).map(d => store(d.iteration, "build"))
    noop("pipeline.toSeries", series27)
    val s = saved("series", series27)
    noop("core.compact", graft.core.SeriesOps.compact(s))
    val compacted = saved("compacted", graft.core.SeriesOps.compact(s))
    noop("chunk.writeChunks", graft.chunk.ChunkOps.writeChunks(compacted, DAY))
    val r = s.agg(min("t"), max("t")).head()
    val (lo, hi) = (Math.floorDiv(r.getLong(0), DAY), Math.floorDiv(r.getLong(1), DAY))
    noop("rollup.tierStats", graft.rollup.Rollup.tierStats(s, lo * DAY, (hi + 1) * DAY, HOUR))
    noop("sketch.registers", graft.sketch.Hll.registers(
      s.withColumn("hour", floor(col("t") / HOUR).cast("long")), Seq("hour"), "key"))
    built.foreach { b =>
      noop("chunk.readChunks", graft.chunk.ChunkOps.readChunks(tier(b)("chunks")))
      noop("rollup.rebinStats", graft.rollup.Rollup.rebinStats(tier(b)("hourly"),
        c => (floor(c / DAY) * DAY).cast("long")))
    }
    val standalone = Seq("pipeline.toSeries", "core.compact", "chunk.writeChunks", "chunk.readChunks",
      "rollup.tierStats", "rollup.rebinStats", "sketch.registers")
    val layerCpu = standalone.flatMap(tr.named).map(sp => tr.total(sp).cpuNs / 1e9).sum

    def phases(sp: Span) = Tracer.runPhases(tr.execsIn(sp))
    val runs = tr.named("pipeline.run")
    val appends = tr.named("pipeline.append")
    def m(ss: Seq[Span])(f: Span => Double) = median(ss.map(f))
    val runCpu = m(runs)(sp => tr.total(sp).cpuNs / 1e9)
    val newPoints = (points30 - points27).toDouble
    val perTier = Tracer.Tiers.flatMap { t =>
      Seq(s"pipeline.run.$t.compute_write_s" -> m(runs)(sp => phases(sp).getOrElse(("compute_write", t), 0.0)),
        s"pipeline.run.$t.recount_s" -> m(runs)(sp => phases(sp).getOrElse(("recount", t), 0.0)))
    }
    standalone.flatMap(n => layerSpanMetrics(tr, n, layerRows.getOrElse(n, 0.0))).toMap ++ perTier ++ Map(
      "pipeline.run.wall_s" -> m(runs)(_.seconds),
      "pipeline.run.jobs" -> m(runs)(tr.total(_).jobs.toDouble),
      "pipeline.run.stages" -> m(runs)(tr.total(_).stages.toDouble),
      "pipeline.run.tasks" -> m(runs)(tr.total(_).tasks.toDouble),
      "pipeline.run.cpu_s" -> runCpu,
      "pipeline.run.gc_s" -> m(runs)(tr.total(_).gcMs / 1e3),
      "pipeline.run.idle_core_frac" -> m(runs)(sp => 1 - tr.total(sp).runMs / 1e3 / (sp.seconds * cores)),
      "pipeline.run.output_mb" -> m(runs)(tr.total(_).bytesOut / MiB),
      "pipeline.run.checkpoint_s" -> m(runs)(sp => phases(sp).getOrElse(("checkpoint", ""), 0.0)),
      "pipeline.run.untracked_s" -> m(runs)(sp => sp.seconds - phases(sp).values.sum),
      "pipeline.run.cpu_over_layers" -> (if (layerCpu > 0) runCpu / layerCpu else 0.0),
      "pipeline.append.wall_s" -> m(appends)(_.seconds),
      "pipeline.append.jobs" -> m(appends)(tr.total(_).jobs.toDouble),
      "pipeline.append.cpu_s" -> m(appends)(tr.total(_).cpuNs / 1e9),
      "pipeline.append.checkpoint_s" -> m(appends)(sp => phases(sp).getOrElse(("checkpoint", ""), 0.0)),
      "pipeline.append.rows_read" -> m(appends)(tr.total(_).recordsIn.toDouble),
      "pipeline.append.rows_read_per_new_point" -> m(appends)(tr.total(_).recordsIn / newPoints),
      "chunk.bytes_per_point" -> built.map(b => dirBytes(b.resolve("chunks")).toDouble / points27).getOrElse(0.0))
  }
  private val layerRows = mutable.Map.empty[String, Double]
}

/** What a query op keeps for its checks: the rows it collected and
  * their schema. The fingerprint is taken after the timed window. */
final case class QueryOut(schema: StructType, rows: Array[Row]) {
  lazy val fingerprint: (Long, Int) = Checks.fingerprintRows(rows)
}

/** A fixed cycle of oracle-backed queries from the query registry over a
  * seeded events table. The order is fixed, so the queries that pay the
  * session's first planning and code generation are the same in every run. */
final class Query(spark: SparkSession, tr: Tracer, work: Path, rows: Long, seed: Long,
    cores: Int, names: Seq[String]) extends Workload {
  import Workload._
  private val dir = work.resolve("events").toString
  /** Fingerprints of the untimed warm-up ops, by query. */
  private val warmPrints = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Int)]]

  def prepare(): Unit = Inputs.writeEvents(spark, rows, seed, dir)

  def iteration(i: Int): Seq[Op] =
    names.map { q =>
      Op(q, rows, () => {
        val df = tr.span("query.build")(graft.SparkEntry.queries(q)(spark, dir))
        tr.span("query.plan")(df.queryExecution.executedPlan)
        val out = QueryOut(df.schema, tr.span("query.collect")(df.collect()))
        if (i < 0) warmPrints.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += out.fingerprint
        out
      })
    }

  /** The rows of each query's first timed op are written out for the
    * DuckDB oracle check, which the launcher runs after this process.
    * Every timed op must return the same rows (by fingerprint) as that
    * oracle-checked op and as each warm-up op of its query, so a query
    * whose output changes when it runs again in the session fails. */
  def check(done: Seq[Done]): Seq[(Int, CheckResult)] = {
    val ok = done.filter(_.error.isEmpty)
    val checked = ok.groupBy(_.kind).map { case (q, ds) => q -> ds.minBy(_.index).output.asInstanceOf[QueryOut] }
    val out = work.resolve("query_out")
    checked.foreach { case (q, o) =>
      spark.createDataFrame(java.util.Arrays.asList(o.rows: _*), o.schema)
        .coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
    }
    Files.createDirectories(out)
    Files.write(out.resolve("oracle_sql.json"),
      Json(names.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap).getBytes("UTF-8"))
    ok.map { d =>
      val got = d.output.asInstanceOf[QueryOut].fingerprint
      val refs = checked(d.kind).fingerprint +: warmPrints.getOrElse(d.kind, Nil).toSeq
      d.index -> CheckResult(s"query.${d.kind}.repeat", refs.forall(_ == got),
        s"(rows, hash sum) $got vs oracle-checked op and warm-up ops ${refs.distinct.mkString(", ")}")
    }
  }

  def figures(done: Seq[Done]): Map[String, Double] = {
    val xs = done.filter(_.error.isEmpty).map(_.seconds).sorted
    val (p, tail) = Query.tail(xs)
    Map("query_p50_s" -> median(xs), "query_tail_s" -> tail, "query_tail_pct" -> p,
      "query_samples" -> xs.size.toDouble)
  }

  def layers(done: Seq[Done], tr: Tracer): Map[String, Double] = {
    val ops = tr.spans.filter(s => s.parent == -1 && names.contains(s.name.stripPrefix("op."))).toSeq
    def child(s: Span, n: String) = tr.children(s).filter(_.name == n)
    def sec(s: Span, n: String) = child(s, n).map(_.seconds).sum
    def exec(s: Span) = child(s, "query.collect").map { c =>
      val t = tr.total(c)
      if (t.jobs > 0) (t.lastJobMs - t.firstJobMs) / 1e3 else 0.0
    }.sum
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val totals = ops.map(tr.total)
    val wall = ops.map(_.seconds).sum
    Map(
      "query.build_s" -> median(ops.map(sec(_, "query.build"))),
      "query.plan_s" -> median(ops.map(sec(_, "query.plan"))),
      "query.exec_s" -> median(ops.map(exec)),
      "query.collect_s" -> median(ops.map(s => sec(s, "query.collect") - exec(s))),
      "query.cpu_s" -> median(totals.map(_.cpuNs / 1e9)),
      "query.jobs_per_query" -> mean(totals.map(_.jobs.toDouble)),
      "query.stages_per_query" -> mean(totals.map(_.stages.toDouble)),
      "query.tasks_per_query" -> mean(totals.map(_.tasks.toDouble)),
      "query.idle_core_frac" -> (if (wall > 0) 1 - totals.map(_.runMs).sum / 1e3 / (wall * cores) else 0.0)
    ) ++ names.map(q => s"query.$q.wall_s" -> median(ops.filter(_.name == s"op.$q").map(_.seconds)))
  }
}

object Query {
  /** The highest percentile with at least 10 samples beyond it, and its
    * value; with 10 or fewer samples, the maximum (percentile 100). */
  def tail(sorted: Seq[Double]): (Double, Double) =
    if (sorted.isEmpty) (0.0, 0.0)
    else if (sorted.size <= 10) (100.0, sorted.last)
    else {
      val i = sorted.size - 11
      (100.0 * (i + 1) / sorted.size, sorted(i))
    }
}
