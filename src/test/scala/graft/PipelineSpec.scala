package graft

import graft.pipeline.{CheckpointedRollup, Pages}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  test("synthetic pages: deterministic, skewed, byte-identical text per url") {
    val p1 = Pages.synthPages(spark, 2000)
    val p2 = Pages.synthPages(spark, 2000)
    assert(p1.exceptAll(p2).isEmpty && p2.exceptAll(p1).isEmpty, "generator not deterministic")
    // text is a pure function of url
    assert(p1.select("url", "text").distinct().count() == p1.select("url").distinct().count())
    // extraction invariant: extractText(html) byte-identical to text per row
    val bad = p1.filter(Pages.extractText(col("html")) =!= col("text")).count()
    assert(bad == 0, s"$bad rows break the text-extraction invariant")
    // skew: hottest domain should dominate
    val counts = p1.groupBy(regexp_extract(col("url"), "https://(d\\d+)", 1).as("dom"))
      .count().orderBy(col("count").desc).collect()
    assert(counts.head.getLong(1) > counts.last.getLong(1) * 3, "expected hot-domain skew")
  }

  test("checkpointed rollup runs, resumes idempotently, and counts lineage") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup").toString
    val series = Pages.toSeries(Pages.synthPages(spark, 3000))
    CheckpointedRollup.run(series, dir)

    val cp = CheckpointedRollup.readCheckpoint(spark, dir)
    val tiers = cp.select("tier").distinct().collect().map(_.getString(0)).toSet
    assert(tiers == Set("chunks", "hourly", "distinct", "daily", "weekly"),
      s"tiers: $tiers")
    assert(cp.filter(col("status") =!= "done").count() == 0)

    val hourly1 = spark.read.parquet(s"$dir/hourly")
    // materialize daily rows NOW: the resume surgery below deletes files,
    // so a lazy DataFrame over them would fail on re-execution
    val daily1Rows = spark.read.parquet(s"$dir/daily").collect().map(_.toString).sorted.toSeq
    val h1 = hourly1.count(); val d1 = daily1Rows.size.toLong
    assert(h1 > 0 && d1 > 0)

    // chunks round-trip: decoded chunk points == compacted input series
    val decoded = graft.chunk.ChunkOps.readChunks(spark.read.parquet(s"$dir/chunks"))
    val compacted = graft.core.SeriesOps.compact(series)
    assert(decoded.exceptAll(compacted).isEmpty && compacted.exceptAll(decoded).isEmpty,
      "chunk round-trip lost points")

    // distinct tier: hourly active-series (key-cardinality) registers;
    // the daily max-merge must equal registers built straight from raw —
    // the lossless continuous-aggregate property, now under the
    // checkpoint gate
    val regs = spark.read.parquet(s"$dir/distinct")
    assert(regs.count() > 0)
    val mergedDaily = graft.sketch.Hll.merge(
      regs.withColumn("day", floor(col("hour") / lit(24L)).cast("long")),
      Seq("day")).select(col("day"), col("idx"), col("rho"))
    val directDaily = graft.sketch.Hll.registers(
      series.withColumn("day",
        floor(col("t") / CheckpointedRollup.DAY).cast("long")),
      Seq("day"), "key").select(col("day"), col("idx"), col("rho"))
    assert(mergedDaily.exceptAll(directDaily).isEmpty &&
      directDaily.exceptAll(mergedDaily).isEmpty,
      "distinct tier merge diverged from raw-built registers")

    assertTickCounts(dir, series)

    // resume: drop the checkpoint rows + outputs of one daily partition and rerun
    val victim = cp.filter(col("tier") === "daily").select("partition").head().getLong(0)
    val cpAll = cp.collect()
    val keep = cpAll.filterNot(r => r.getString(0) == "daily" && r.getLong(1) == victim)
    // rewrite checkpoint without the victim row
    import spark.implicits._
    val tickDf = keep.map(r => CheckpointedRollup.Tick(
      r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toSeq.toDF()
    val cpPath = CheckpointedRollup.checkpointPath(dir)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cpPath))
    tickDf.coalesce(1).write.parquet(cpPath)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/daily/partition=$victim"))

    CheckpointedRollup.run(series, dir) // must only redo the victim partition
    val daily2Rows = spark.read.parquet(s"$dir/daily").collect().map(_.toString).sorted.toSeq
    assert(daily2Rows.size.toLong == d1, s"resume changed daily row count: ${daily2Rows.size} vs $d1")
    assert(daily2Rows == daily1Rows, "resume produced different daily rows")
    val cp2 = CheckpointedRollup.readCheckpoint(spark, dir)
    assert(cp2.filter(col("tier") === "daily" && col("partition") === victim).count() == 1)
  }

  /** Lineage counts: every done tick's rowCount is its stored partition's
    * row count, and inputRows the partition's sum(n_points) wherever the
    * rows carry one (distinct: the series' point count of that day). */
  private def assertTickCounts(dir: String, series: DataFrame): Unit = {
    val ticks = CheckpointedRollup.readCheckpoint(spark, dir).filter(col("status") === "done").collect()
    val day = floor(col("t") / CheckpointedRollup.DAY).cast("long")
    val dayPoints = series.groupBy(day).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq("chunks", "hourly", "distinct", "daily", "weekly").foreach { tier =>
      val rows = spark.read.parquet(s"$dir/$tier")
      val pointSum = if (tier == "distinct") lit(0L) else sum("n_points")
      val stored = rows.groupBy(col("partition").cast("long"))
        .agg(count(lit(1)), pointSum).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val tierTicks = ticks.filter(_.getString(0) == tier)
      assert(tierTicks.nonEmpty, s"no $tier ticks")
      tierTicks.foreach { t =>
        val (n, storedIn) = stored.getOrElse(t.getLong(1), (0L, 0L))
        val in = if (tier == "distinct") dayPoints.getOrElse(t.getLong(1), 0L) else storedIn
        assert(t.getLong(2) == n, s"$tier@${t.getLong(1)}: rowCount ${t.getLong(2)} vs $n stored")
        assert(t.getLong(3) == in, s"$tier@${t.getLong(1)}: inputRows ${t.getLong(3)} vs $in")
      }
    }
  }

  test("resume input holds only pending-day points plus <=2 rows per key") {
    val series = Pages.toSeries(Pages.synthPages(spark, 3000)).persist()
    val days = series.select(floor(col("t") / CheckpointedRollup.DAY).cast("long").as("d"))
      .groupBy("d").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nKeys = series.select("key").distinct().count()
    val mid = days.keys.toSeq.sorted.apply(days.size / 2)
    val in = CheckpointedRollup.runInput(series, mid, mid, withSuccessors = true)
    val n = in.count()
    assert(n <= days(mid) + 2 * nKeys, s"resume input too big: $n rows")
    assert(n >= days(mid), s"resume input lost pending rows: $n")
    // carry-in correctness: gap-filled hourly over the pending day from the
    // pruned input equals the same slice of a full-history computation
    val lo = mid * CheckpointedRollup.DAY; val hi = lo + CheckpointedRollup.DAY
    val fromPruned = graft.rollup.Rollup.tierStats(in, lo, hi, CheckpointedRollup.HOUR)
    val all = series.agg(min("t"), max("t")).head()
    val fullRange = graft.rollup.Rollup.tierStats(series,
      Math.floorDiv(all.getLong(0), CheckpointedRollup.DAY) * CheckpointedRollup.DAY,
      (Math.floorDiv(all.getLong(1), CheckpointedRollup.DAY) + 1) * CheckpointedRollup.DAY,
      CheckpointedRollup.HOUR)
      .filter(col("bin_start") >= lo && col("bin_start") < hi)
    assert(fromPruned.exceptAll(fullRange).isEmpty && fullRange.exceptAll(fromPruned).isEmpty,
      "pruned-input hourly differs from full-history hourly")
    series.unpersist()
  }

  test("crash between data write and checkpoint append does not duplicate rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_crash").toString
    val series = Pages.toSeries(Pages.synthPages(spark, 2000))
    CheckpointedRollup.run(series, dir)
    val cp = CheckpointedRollup.readCheckpoint(spark, dir)
    val hourlyRows = spark.read.parquet(s"$dir/hourly").collect().map(_.toString).sorted.toSeq
    // simulate the crash: one hourly partition's DATA is on disk but its
    // checkpoint row is missing — the rerun must overwrite, not append
    val victim = cp.filter(col("tier") === "hourly").select("partition").head().getLong(0)
    import spark.implicits._
    val keep = cp.collect().filterNot(r => r.getString(0) == "hourly" && r.getLong(1) == victim)
      .map(r => CheckpointedRollup.Tick(r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5))).toSeq.toDF()
    val cpPath = CheckpointedRollup.checkpointPath(dir)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cpPath))
    keep.coalesce(1).write.parquet(cpPath)
    CheckpointedRollup.run(series, dir)
    val after = spark.read.parquet(s"$dir/hourly").collect().map(_.toString).sorted.toSeq
    assert(after == hourlyRows, "re-run after simulated crash changed/duplicated hourly rows")
  }

  test("resumed chunk partitions are byte-identical to a fresh run's") {
    val s = spark
    import s.implicits._
    val day = CheckpointedRollup.DAY
    // values repeat across the day boundary so compaction decisions depend
    // on the carry-in (the fresh/resume divergence ADVICE flagged)
    val pts = Seq(
      ("u", day / 2, 1.0), ("u", day - 1, 1.0), // day 0, repeated value
      ("u", day + 5, 1.0),                      // day 1 opens with the SAME value
      ("u", day + 10, 2.0), ("u", 2 * day + 3, 2.0), ("u", 2 * day + 9, 3.0))
      .toDF("key", "t", "v")
    val fresh = java.nio.file.Files.createTempDirectory("graft_fresh").toString
    val resumed = java.nio.file.Files.createTempDirectory("graft_resumed").toString
    CheckpointedRollup.run(pts, fresh)
    CheckpointedRollup.run(pts, resumed)
    // wipe day-1 chunks + its checkpoint row, then resume
    val cp = CheckpointedRollup.readCheckpoint(spark, resumed)
    val keep = cp.collect().filterNot(r => r.getString(0) == "chunks" && r.getLong(1) == 1L)
      .map(r => CheckpointedRollup.Tick(r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5))).toSeq.toDF()
    val cpPath = CheckpointedRollup.checkpointPath(resumed)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cpPath))
    keep.coalesce(1).write.parquet(cpPath)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$resumed/chunks/partition=1"))
    CheckpointedRollup.run(pts, resumed)
    def chunkRows(d: String) = spark.read.parquet(s"$d/chunks")
      .select(col("key"), col("partition"), col("n_points"), hex(col("blob")).as("blob"))
      .collect().map(_.toString).sorted.toSeq
    val a = chunkRows(fresh); val b = chunkRows(resumed)
    assert(a == b, s"resumed chunks differ:\n${a.mkString("\n")}\nvs\n${b.mkString("\n")}")
  }

  test("checkpoint pipeline works on a non-file: path scheme (Hadoop FS API)") {
    // register a scheme that is NOT file: — resolved purely through the
    // Hadoop FileSystem factory, proving no java.nio/local-fs assumption
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[graft.MockSchemeFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft_mockfs").toString
    val dir = s"mockfs:$local/out"
    val s2 = spark
    import s2.implicits._
    val day = CheckpointedRollup.DAY
    val pts = Seq(("u", day / 2, 1.0), ("u", day + 7, 2.0), ("u", 2 * day + 3, 4.0))
      .toDF("key", "t", "v")
    CheckpointedRollup.run(pts, dir)
    val cp = CheckpointedRollup.readCheckpoint(spark, dir)
    assert(cp.filter(col("status") === "done").count() > 0)
    assert(spark.read.parquet(s"$dir/hourly").count() > 0)
    // resume is a no-op (everything committed)
    val n1 = cp.count()
    CheckpointedRollup.run(pts, dir)
    assert(CheckpointedRollup.readCheckpoint(spark, dir).count() == n1)
  }

  test("two concurrent drivers: each tier partition committed exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race").toString
    val series = Pages.toSeries(Pages.synthPages(spark, 2000)).persist()
    series.count()
    val ref = java.nio.file.Files.createTempDirectory("graft_race_ref").toString
    CheckpointedRollup.run(series, ref)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // two "drivers" (threads sharing the session — the contended surface is
    // the shared STORAGE: tier locks + staged checkpoint appends)
    val runs = Seq(
      Future(CheckpointedRollup.run(series, dir)),
      Future(CheckpointedRollup.run(series, dir)))
    Await.result(Future.sequence(runs), 10.minutes)
    series.unpersist()
    val cp = CheckpointedRollup.readCheckpoint(spark, dir)
    val total = cp.filter(col("status") === "done").count()
    val distinct = cp.filter(col("status") === "done")
      .select("tier", "partition").distinct().count()
    assert(total == distinct, s"duplicate checkpoint commits: $total vs $distinct")
    // data identical to a single-driver run
    def rows(d: String) = spark.read.parquet(s"$d/hourly")
      .collect().map(_.toString).sorted.toSeq
    assert(rows(dir) == rows(ref), "two-driver hourly output differs from single-driver")
  }

  test("tier lock: stale locks are stolen, live locks heartbeat and block") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lock").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val lock = new org.apache.hadoop.fs.Path(s"$dir/_locks/chunks.lock")
    // 1) a crashed holder's stale lock is stolen and acquisition proceeds
    fs.mkdirs(lock.getParent)
    fs.create(lock, false).close()
    fs.setTimes(lock, System.currentTimeMillis() - 3600 * 1000L, -1)
    var ran = false
    CheckpointedRollup.withTierLock(spark, dir, "chunks",
      staleMs = 1000L, timeoutMs = 5000L) { ran = true }
    assert(ran, "stale lock was not stolen")
    assert(!fs.exists(lock), "lock not released after body")
    // 2) a LIVE holder's lock heartbeats past staleMs and blocks a second
    //    driver until the holder finishes (never stolen mid-run)
    val t0 = System.currentTimeMillis()
    @volatile var holderDone = 0L
    @volatile var waiterRan = 0L
    val holder = new Thread(() =>
      CheckpointedRollup.withTierLock(spark, dir, "chunks",
        staleMs = 400L, timeoutMs = 10000L) {
        Thread.sleep(1500) // longer than staleMs: heartbeat must protect it
        holderDone = System.currentTimeMillis()
      })
    holder.start()
    Thread.sleep(200) // let the holder acquire first
    CheckpointedRollup.withTierLock(spark, dir, "chunks",
      staleMs = 400L, timeoutMs = 10000L) { waiterRan = System.currentTimeMillis() }
    holder.join()
    assert(holderDone > 0 && waiterRan >= holderDone,
      s"waiter entered at $waiterRan before holder finished at $holderDone (start $t0)")
    // 3) two acquirers arriving at the same moment: exactly one creates the
    //    lock file (the local filesystem's own create-if-absent lets both in)
    val raced = new org.apache.hadoop.fs.Path(s"$dir/_locks/raced.lock")
    val notOne = (1 to 200).count { _ =>
      val start = new java.util.concurrent.CyclicBarrier(2)
      val won = new java.util.concurrent.atomic.AtomicInteger()
      val racers = (1 to 2).map(_ => new Thread(() => {
        start.await()
        try { CheckpointedRollup.createIfAbsent(fs, raced).close(); won.incrementAndGet() }
        catch { case _: java.io.IOException => () }
      }))
      racers.foreach(_.start())
      racers.foreach(_.join())
      fs.delete(raced, false)
      won.get != 1
    }
    assert(notOne == 0, s"in $notOne of 200 rounds, not exactly one creator got the lock file")
  }

  test("run -> retain -> resume: surviving tiers identical, nothing re-processed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_retain").toString
    val series = Pages.toSeries(Pages.synthPages(spark, 2000))
    CheckpointedRollup.run(series, dir)
    val day = CheckpointedRollup.DAY
    val now = series.agg(max("t")).head().getLong(0)
    def tierRows(tier: String) = spark.read.parquet(s"$dir/$tier")
      .drop("blob").collect().map(_.toString).sorted.toSeq
    val weeklyBefore = tierRows("weekly")
    val dailyBefore = tierRows("daily")
    // horizons chosen so chunks and hourly lose their oldest partitions,
    // daily keeps everything, weekly is untouched by policy
    CheckpointedRollup.retain(spark, dir, now,
      chunksKeepUs = 2 * day, hourlyKeepUs = 3 * day, dailyKeepUs = 365 * day)
    val chunksCut = Math.floorDiv(now - 2 * day, day)
    val hourlyCut = Math.floorDiv(now - 3 * day, day)
    def liveParts(tier: String): Set[Long] = spark.read.parquet(s"$dir/$tier")
      .select(col("partition").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    assert(liveParts("chunks").forall(_ >= chunksCut), s"expired chunks survive: ${liveParts("chunks")}")
    assert(liveParts("hourly").forall(_ >= hourlyCut))
    assert(tierRows("daily") == dailyBefore && tierRows("weekly") == weeklyBefore)
    val cp1 = CheckpointedRollup.readCheckpoint(spark, dir)
    val retained = cp1.filter(col("status") === "retained")
      .select("tier", "partition").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(retained.nonEmpty, "retention recorded no ticks")
    // retain again: idempotent (no new ticks, no errors on absent dirs)
    CheckpointedRollup.retain(spark, dir, now, 2 * day, 3 * day, 365 * day)
    assert(CheckpointedRollup.readCheckpoint(spark, dir).count() == cp1.count())
    // resume after retention: nothing pending, dropped partitions stay
    // dropped, surviving rows identical
    val survivingHourly = tierRows("hourly")
    CheckpointedRollup.run(series, dir)
    assert(CheckpointedRollup.readCheckpoint(spark, dir).count() == cp1.count(),
      "resume after retention re-processed partitions")
    assert(tierRows("hourly") == survivingHourly)
    assert(liveParts("chunks").forall(_ >= chunksCut), "resume resurrected retained chunks")

    // the distinct-register tier defaults to keep-forever, but the
    // policy hook prunes it like any tier when given a finite horizon
    val distinctBefore = liveParts("distinct")
    assert(distinctBefore.exists(_ < Math.floorDiv(now - 2 * day, day)),
      "fixture too short to exercise distinct retention")
    CheckpointedRollup.retain(spark, dir, now, 365 * day, 365 * day,
      365 * day, distinctKeepUs = 2 * day)
    val distinctCut = Math.floorDiv(now - 2 * day, day)
    assert(liveParts("distinct").forall(_ >= distinctCut),
      s"expired distinct partitions survive: ${liveParts("distinct")}")
    val cp2 = CheckpointedRollup.readCheckpoint(spark, dir)
    assert(cp2.filter(col("tier") === "distinct" &&
      col("status") === "retained").count() > 0)
  }

  /** A pages series shaped like the repo benchmark's ingest input: few
    * urls (2 domains x 4 pages), each crawled every few hours from
    * 2024-01-01 (a Monday) over 30 days. */
  private def benchSeries(days: Int) = Pages.toSeries(
    Pages.synthPages(spark, 300000, nDomains = 2)
      .filter(regexp_extract(col("url"), "/page/([0-9]+)$", 1).cast("int") < 4)
      .filter(col("warc_ts_us") < 1704067200000000L + days * CheckpointedRollup.DAY))

  /** Every tier's rows, sorted, with twa_mean compared within 1e-9
    * relative: a distributed sum adds in task order. */
  private def assertSameStore(got: String, want: String): Unit =
    Seq("chunks", "hourly", "distinct", "daily", "weekly").foreach { tier =>
      def rows(d: String) = {
        val df = spark.read.parquet(s"$d/$tier")
        val rest = df.columns.toSeq.filterNot(_ == "twa_mean")
          .map(c => if (c == "blob") hex(col(c)) else col(c))
        val twa = if (df.columns.contains("twa_mean")) col("twa_mean") else lit(null).cast("double")
        df.select(concat_ws("|", rest.map(_.cast("string")): _*), twa).collect()
          .map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Double]))).sortBy(_._1).toSeq
      }
      val (a, b) = (rows(got), rows(want))
      val extra = a.map(_._1).diff(b.map(_._1))
      assert(a.size == b.size && extra.isEmpty, s"$tier rows differ: ${extra.take(3)}")
      a.zip(b).foreach {
        case ((k, Some(x)), (_, Some(y))) =>
          assert(math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y)), s"$tier twa_mean at $k")
        case ((k, x), (_, y)) => assert(x == y, s"$tier twa_mean at $k")
      }
    }

  test("27-day build then 30-day run equals a from-scratch 30-day store") {
    val fresh = java.nio.file.Files.createTempDirectory("graft_fresh30").toString
    CheckpointedRollup.run(benchSeries(30), fresh)
    val dir = java.nio.file.Files.createTempDirectory("graft_append").toString
    // the cut falls after Saturday 2024-01-27, inside the week of Jan 22
    CheckpointedRollup.run(benchSeries(27), dir)
    CheckpointedRollup.run(benchSeries(30), dir)
    assertSameStore(dir, fresh)
    assertTickCounts(dir, benchSeries(30))
  }

  test("crash between the append's daily and weekly commits: rerun equals from-scratch") {
    val fresh = java.nio.file.Files.createTempDirectory("graft_fresh30c").toString
    CheckpointedRollup.run(benchSeries(30), fresh)
    val dir = java.nio.file.Files.createTempDirectory("graft_crash_wk").toString
    CheckpointedRollup.run(benchSeries(27), dir)
    val weekly = new java.io.File(s"$dir/weekly")
    val weeklyBuilt = java.nio.file.Files.createTempDirectory("graft_weekly_built").toFile
    org.apache.commons.io.FileUtils.copyDirectory(weekly, weeklyBuilt)
    import spark.implicits._
    def ticks() = CheckpointedRollup.readCheckpoint(spark, dir).as[CheckpointedRollup.Tick].collect()
    val built = ticks().toSet
    CheckpointedRollup.run(benchSeries(30), dir)
    // the crash: daily committed, the weekly tier never ran — its data and
    // ticks are as the build left them
    val keep = ticks().filter(t => t.tier != "weekly" || built(t))
    assert(keep.length < ticks().length, "the append committed no week")
    val cpPath = CheckpointedRollup.checkpointPath(dir)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cpPath))
    keep.toSeq.toDF().coalesce(1).write.parquet(cpPath)
    org.apache.commons.io.FileUtils.deleteDirectory(weekly)
    org.apache.commons.io.FileUtils.copyDirectory(weeklyBuilt, weekly)
    CheckpointedRollup.run(benchSeries(30), dir)
    assertSameStore(dir, fresh)
  }

  test("retain refuses a daily horizon shorter than a week") {
    val dir = java.nio.file.Files.createTempDirectory("graft_retain_guard").toString
    val day = CheckpointedRollup.DAY
    val e = intercept[IllegalArgumentException] {
      CheckpointedRollup.retain(spark, dir, 30 * day, day, day, 6 * day)
    }
    assert(e.getMessage.contains("dailyKeepUs"), e.getMessage)
  }

  test("retention keeps only fresh raw/hourly/daily and all weekly") {
    val series = Pages.toSeries(Pages.synthPages(spark, 1000))
    val now = series.agg(max("t")).head().getLong(0)
    val day = CheckpointedRollup.DAY
    val hourly = series.select(col("key"), col("t").as("bin_start"), col("v"))
    val (r, h, d, w) = graft.rollup.Rollup.applyRetention(
      series, hourly, hourly, hourly, now, day, 2 * day, 4 * day)
    assert(r.agg(min("t")).head().getLong(0) >= now - day)
    assert(h.agg(min("bin_start")).head().getLong(0) >= now - 2 * day)
    assert(w.count() == hourly.count())
  }

  test("an empty series, or one whose t values are all null, writes nothing") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(String, Long, Double)].toDF("key", "t", "v")
    val nullT = Seq(("u", Option.empty[Long], 1.0), ("w", Option.empty[Long], 2.0)).toDF("key", "t", "v")
    Seq(empty, nullT).foreach { pts =>
      val dir = java.nio.file.Files.createTempDirectory("graft_empty").toFile
      CheckpointedRollup.run(pts, dir.toString)
      assert(dir.list().isEmpty, s"run wrote ${dir.list().mkString(", ")}")
      assert(CheckpointedRollup.readCheckpoint(spark, dir.toString).isEmpty)
    }
  }

  test("a run from the series' first to last day reads its points with no lookup aggregate") {
    val series = Pages.toSeries(Pages.synthPages(spark, 2000))
    val r = series.agg(min("t"), max("t")).head()
    val (first, last) = (Math.floorDiv(r.getLong(0), CheckpointedRollup.DAY),
      Math.floorDiv(r.getLong(1), CheckpointedRollup.DAY))
    def aggregates(df: DataFrame) = df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size
    val whole = CheckpointedRollup.runInput(series, first, last, withSuccessors = true, first, last)
    assert(aggregates(whole) == 0, whole.queryExecution.optimizedPlan)
    val points = series.filter(col("t").isNotNull).select("key", "t", "v")
    assert(whole.exceptAll(points).isEmpty && points.exceptAll(whole).isEmpty)
    // a run that starts at the first day still looks up its successors
    val head = CheckpointedRollup.runInput(series, first, first, withSuccessors = true, first, last)
    assert(aggregates(head) == 1, head.queryExecution.optimizedPlan)
  }

  test("a failing chain: run throws, releases its locks, commits none of its ticks, reruns clean") {
    val series = Pages.toSeries(Pages.synthPages(spark, 2000)).persist()
    val fresh = java.nio.file.Files.createTempDirectory("graft_chain_ref").toString
    CheckpointedRollup.run(series, fresh)
    val dir = java.nio.file.Files.createTempDirectory("graft_chain_fail").toString
    val blocker = new java.io.File(s"$dir/chunks")
    assert(blocker.createNewFile())
    intercept[Exception](CheckpointedRollup.run(series, dir))
    assert(new java.io.File(s"$dir/_locks").list().isEmpty, "a tier lock outlived the run")
    val cp = CheckpointedRollup.readCheckpoint(spark, dir)
    assert(cp.filter(col("tier") === "chunks").isEmpty, "the failed chunks write committed ticks")
    assert(blocker.delete())
    CheckpointedRollup.run(series, dir)
    assertSameStore(dir, fresh)
    val s = spark
    import s.implicits._
    def ticks(d: String) = CheckpointedRollup.readCheckpoint(spark, d).as[CheckpointedRollup.Tick]
      .collect().toSeq.sortBy(t => (t.tier, t.partition))
    assert(ticks(dir) == ticks(fresh))
    series.unpersist()
  }

  test("a resume whose pending partitions hold no rows commits zero-count ticks") {
    val s = spark
    import s.implicits._
    val day = CheckpointedRollup.DAY
    // no point on day 1: its distinct registers are empty
    val pts = Seq(("u", day / 2, 1.0), ("w", day / 3, 2.0), ("u", 2 * day + 7, 3.0)).toDF("key", "t", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_resume").toString
    CheckpointedRollup.run(pts, dir)
    def ticks() = CheckpointedRollup.readCheckpoint(spark, dir).as[CheckpointedRollup.Tick].collect().toSet
    val built = ticks()
    val gap = CheckpointedRollup.Tick("distinct", 1L, 0L, 0L, "distinct<-raw@1", "done")
    assert(built(gap), built)
    val cpPath = CheckpointedRollup.checkpointPath(dir)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cpPath))
    (built - gap).toSeq.toDF().coalesce(1).write.parquet(cpPath)
    CheckpointedRollup.run(pts, dir) // writes no row, still commits the tick
    assert(ticks() == built)
  }

  test("readCheckpoint reads the declared Tick schema") {
    val s = spark
    import s.implicits._
    val day = CheckpointedRollup.DAY
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_schema").toString
    CheckpointedRollup.run(Seq(("u", day / 2, 1.0), ("u", day + 7, 2.0)).toDF("key", "t", "v"), dir)
    val cp = assertNoJob("readCheckpoint")(CheckpointedRollup.readCheckpoint(spark, dir))
    assert(cp.schema == Encoders.product[CheckpointedRollup.Tick].schema, cp.schema.treeString)
    val raw = spark.read.parquet(CheckpointedRollup.checkpointPath(dir))
    assert(cp.exceptAll(raw).isEmpty && raw.exceptAll(cp).isEmpty && !cp.isEmpty)
  }

  test("checkpoint bookkeeping starts no Spark job: reading ticks and appending a batch") {
    val s = spark
    import s.implicits._
    val day = CheckpointedRollup.DAY
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_driver").toString
    CheckpointedRollup.run(Seq(("u", day / 2, 1.0), ("u", day + 7, 2.0)).toDF("key", "t", "v"), dir)
    val tick = CheckpointedRollup.Tick("hourly", 9L, 0L, 0L, "hourly<-raw@9", "done")
    val (before, rows, after) = assertNoJob("checkpoint bookkeeping") {
      val before = CheckpointedRollup.ticks(spark, dir)
      val rows = CheckpointedRollup.readCheckpoint(spark, dir).collect()
      CheckpointedRollup.appendCheckpoint(spark, dir, Seq(tick))
      (before, rows, CheckpointedRollup.ticks(spark, dir))
    }
    assert(before.nonEmpty && rows.length == before.size)
    assert(after.sortBy(_.toString) == (before :+ tick).sortBy(_.toString))
  }

  test("a fault in a tick commit or a tier write: run throws, leaves no lock or tick of it, reruns clean") {
    spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl", classOf[graft.FaultyFs].getName)
    val series = Pages.toSeries(Pages.synthPages(spark, 2000)).persist()
    val fresh = java.nio.file.Files.createTempDirectory("graft_fault_ref").toString
    CheckpointedRollup.run(series, fresh)
    val s = spark
    import s.implicits._
    def ticks(d: String) = CheckpointedRollup.readCheckpoint(spark, d).as[CheckpointedRollup.Tick]
      .collect().toSeq.sortBy(t => (t.tier, t.partition))
    val all = Set("chunks", "hourly", "distinct", "daily", "weekly")
    // the tiers whose commits each fault stops: a failed hourly write
    // also stops the daily and weekly tiers chained after it
    Seq("staging" -> all, "commit" -> all, "hourly" -> Set("hourly", "daily", "weekly")).foreach {
      case (point, stopped) =>
        val local = java.nio.file.Files.createTempDirectory(s"graft_fault_$point").toString
        val dir = s"faultfs:$local/out"
        graft.FaultyFs.at = Some(point)
        val e = try intercept[Exception](CheckpointedRollup.run(series, dir))
          finally graft.FaultyFs.at = None
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains(s"injected $point fault")), e)
        assert(new java.io.File(s"$local/out/_locks").list().isEmpty, s"$point: a tier lock outlived the run")
        val leaked = ticks(dir).filter(t => stopped(t.tier))
        assert(leaked.isEmpty, s"$point: the failed commit left ticks ${leaked.take(3)}")
        CheckpointedRollup.run(series, dir)
        assertSameStore(dir, fresh)
        assert(ticks(dir) == ticks(fresh), point)
    }
    series.unpersist()
  }
}
