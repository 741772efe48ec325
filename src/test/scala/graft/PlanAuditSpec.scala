package graft

import graft.pipeline.Pages
import org.apache.spark.sql.functions._

/** Plan audits: the properties that make the 100 TB case work must be
  * visible in the physical plan, not just intended. */
class PlanAuditSpec extends SparkSpec {

  def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("pages pipeline never scans the fat html column (column pruning)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pages").toString
    Pages.synthPages(spark, 1000).drop("warc_ts_us")
      .write.mode("overwrite").parquet(s"$dir/pages")
    val pages = spark.read.parquet(s"$dir/pages")
    val series = Pages.toSeries(pages)
    val plan = planOf(graft.core.SeriesOps.compact(series))
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.nonEmpty, plan)
    assert(!readSchema.contains("html"), s"html not pruned: $readSchema")
    assert(readSchema.contains("url") && readSchema.contains("text"), readSchema)
  }

  test("time-range filters push down to the parquet scan") {
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .filter(col("ts") >= lit("2024-01-03").cast("timestamp"))
      .select("event_type", "value")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(ts"),
      s"no pushdown:\n$plan")
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("props"), s"props not pruned: $readSchema")
  }

  test("eventBounds folds the footers of a part-file directory and runs no job") {
    val src = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("graft_event_parts").toString
    spark.read.parquet(s"$src/events.parquet").repartition(3)
      .write.parquet(s"$dir/events.parquet")
    assert(new java.io.File(s"$dir/events.parquet").list().count(_.startsWith("part-")) == 3)
    val inferred = spark.read.parquet(s"$dir/events.parquet")
    val ts = unix_micros(col("ts").cast("timestamp"))
    val scan = inferred.agg(min(ts), max(ts)).head()
    val (got, events) = assertNoJob("eventBounds and events") {
      (GraftQueries.eventBounds(spark, dir), GraftQueries.events(spark, dir))
    }
    assert(got == ((scan.getLong(0), scan.getLong(1))))
    assert(GraftQueries.eventBounds(spark, src) == got, "the single-file table disagrees")
    assert(events.schema == inferred.schema, events.schema.treeString)
    assert(events.exceptAll(inferred).isEmpty && inferred.exceptAll(events).isEmpty && !events.isEmpty)
  }

  test("events fails before any job when a footer column's type is not the declared one") {
    val dir = java.nio.file.Files.createTempDirectory("graft_events_float").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("value", col("value").cast("float"))
      .write.parquet(s"$dir/events.parquet")
    val (loaded, jobs) = countJobs("events")(scala.util.Try(GraftQueries.events(spark, dir)))
    assert(jobs == 0, s"events ran $jobs jobs before failing")
    val err = loaded.failed.get
    assert(err.isInstanceOf[IllegalArgumentException], err)
    assert(err.getMessage.contains("events table") && err.getMessage.contains("column value is FLOAT"),
      err.getMessage)
  }

  test("grid sampling broadcasts the time axis (no shuffle of the grid)") {
    val pts = GraftQueries.points(spark, "/root/testdata/sf0.001")
    val s = spark; import s.implicits._
    val grid = graft.regularize.Regularize.gridDf(pts, (1L to 100L).toDF("t"))
    val plan = planOf(grid)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"grid not broadcast:\n$plan")
  }

  test("distribution aggregates partially (map-side combine before exchange)") {
    val plan = planOf(GraftQueries.qDistribution(spark, "/root/testdata/sf0.001"))
    // partial+final HashAggregate pairs around the exchange
    val nAgg = plan.linesIterator.count(l => l.contains("HashAggregate") || l.contains("SortAggregate"))
    assert(nAgg >= 2, s"no partial aggregation visible:\n$plan")
    assert(plan.contains("Exchange"), plan)
  }

  test("the distribution and tier queries scan events once") {
    // counted on the final plan after collect(): AdaptiveSparkPlanHelper
    // walks into the query stages that plain collect cannot see; a reused
    // exchange is a leaf, so a reused scan is not counted twice
    object stages extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val scans = Seq("q05_distribution", "q10_rollup_hourly", "q11_rollup_daily", "q12_rollup_weekly")
      .map { name =>
        val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        df.collect()
        name -> stages.collectWithSubqueries(df.queryExecution.executedPlan) {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.getName == "events.parquet") => f
        }.size
      }
    assert(scans.forall(_._2 == 1), scans.mkString(", "))
  }

  test("no driver query plans an unpartitioned window (single-partition trap)") {
    // a Window with an empty partition spec moves ALL rows to one task —
    // the round-1 scale-killer this guards. Audited on the OPTIMIZED
    // logical plan: AQE wraps any physical tree that has an exchange in
    // AdaptiveSparkPlanExec, whose children are hidden from collect, so a
    // WindowExec match over executedPlan would be vacuous for exactly the
    // queries that matter
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      fn(spark, "/root/testdata/sf0.001").queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty =>
          s"$name: ${w.simpleString(120)}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("time-range reads of the chunk tier prune storage partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val s = spark
    import s.implicits._
    val day = graft.regularize.CalendarFloor.DAY
    val pts = (0L until 2000L).map(i => ("u" + i % 7, i * (10 * day / 2000) , (i % 5).toDouble))
      .toDF("key", "t", "v")
    graft.chunk.ChunkOps.writeChunks(pts, day)
      .withColumn("partition", col("bucket"))
      .write.partitionBy("partition").parquet(s"$dir/chunks")
    val read = spark.read.parquet(s"$dir/chunks")
      .filter(col("partition") >= 3 && col("partition") <= 4)
    val plan = planOf(read)
    // retention drops and range reads must touch only the matching
    // bucket directories — the scan's PartitionFilters carry the range
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s+", " ").contains("partition#"), plan)
    val parts = read.select(col("partition").cast("long")).distinct().collect().map(_.getLong(0)).sorted
    assert(parts.toSeq == Seq(3L, 4L), parts.mkString(","))
    // physical proof: only the two matching bucket directories are scanned
    val scanned = read.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned.nonEmpty && scanned.head == 2, s"partitions scanned: $scanned")
  }

  test("minhash candidate join is an equi hash join, never a cartesian") {
    val plan = planOf(GraftQueries.qMinhashPairs(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("CartesianProduct"), s"cartesian in LSH join:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("semantic dedup pairs within cells via equi join, centroids broadcast") {
    val plan = planOf(GraftQueries.qSemDedup(spark, "/root/testdata/sf0.001"))
    // never an unbroadcast cartesian: the only nested-loop shape allowed is
    // the corpus x k-row centroid assignment, which must ride a broadcast
    assert(!plan.contains("CartesianProduct"), s"cartesian in semdedup:\n$plan")
    assert(plan.contains("BroadcastExchange"), plan)
    // the within-cell pair join and the dropped-ids join are equi joins
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("curation pipeline: equi-joins only, winner scans pruned to their columns") {
    val df = GraftQueries.qCurationPipeline(spark, "/root/testdata/sf0.001")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), s"cartesian in pipeline:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in pipeline:\n$plan")
    // three pruned scans of documents: the gated pass and the exact-text
    // winner aggregate read text; the canonical-URL winner aggregate derives
    // from (doc_id, source) only, so its scan must NOT read text
    val schemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.nonEmpty, plan)
    assert(schemas.count(_.contains("text")) <= 2,
      s"URL-winner scan reads text:\n${schemas.mkString("\n")}")
    // the funnel is monotone: survivors are a subset of the corpus
    assert(df.count() <= 500)
  }

  test("bucketed merge family leaves no cache entries behind (round-2 verdict #2)") {
    // BucketedOps/compactBucketed used to persist internal diamonds with no
    // unpersist lifecycle; the round-3 handoff shape has no cache writes at
    // all, so a long-lived service never accumulates LRU-evictable blocks
    spark.catalog.clearCache()
    Seq("q14_merge_sum", "q37_merge_max", "q45_iter_merge", "q34_count_by_value")
      .foreach { q => SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").count() }
    assert(spark.sharedState.cacheManager.isEmpty,
      "operators left entries in the cache manager")
  }

  test("tropical-Viterbi bursts: every join is an equi join, no cartesian") {
    val plan = planOf(GraftQueries.qBursts(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("CartesianProduct"), s"cartesian in bursts:\n$plan")
  }

  test("quantile map: the only non-equi joins are broadcast-tiny expansions") {
    // the ref histogram and its 1-row total broadcast; the per-key as-of
    // and the final bin join are equi joins — a CartesianProduct (a
    // NON-broadcast cross) would mean the ref table stopped broadcasting
    val plan = planOf(GraftQueries.qQuantileMap(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("CartesianProduct"), s"cartesian in quantileMap:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"ref histogram no longer broadcasts:\n$plan")
  }

  test("correlation matrix joins bins on the bin id, never all-pairs rows") {
    val plan = planOf(GraftQueries.qCorrMatrix(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("CartesianProduct"), s"cartesian in corrMatrix:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("every conditionless join in every driver query is a deliberate tiny-side broadcast") {
    // blanket cartesian guard over ALL queries (the per-family checks below
    // cover a handful): a join with no condition is only scale-safe as a
    // broadcast-tiny expansion (grid axes, global bounds, k-row model
    // state). Deliberate ones always carry an explicit broadcast() hint or
    // have a sub-8KB planner estimate at sf0.001; an ACCIDENTAL cartesian
    // — the thing this guards against — has neither
    import org.apache.spark.sql.catalyst.plans.logical.{Join, HintInfo}
    def broadcastHinted(h: Option[HintInfo]) =
      h.exists(_.strategy.exists(_.toString.contains("broadcast")))
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      fn(spark, "/root/testdata/sf0.001").queryExecution.optimizedPlan.collect {
        case j: Join if j.condition.isEmpty
            && !broadcastHinted(j.hint.leftHint) && !broadcastHinted(j.hint.rightHint)
            && j.left.stats.sizeInBytes.min(j.right.stats.sizeInBytes) > 8192 =>
          s"$name: ${j.joinType} l=${j.left.stats.sizeInBytes} r=${j.right.stats.sizeInBytes}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("chunker is a pure scan projection: no exchange, no join") {
    val plan = planOf(GraftQueries.qChunkOverlap(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("Exchange"), s"chunker shuffles:\n$plan")
    assert(!plan.contains("Join"), s"chunker joins:\n$plan")
  }

  test("rolling median rides ONE keyed exchange: bounded ROWS frame, no RANGE") {
    // audit the optimized logical plan — the physical tree is wrapped in
    // AdaptiveSparkPlanExec here (the query has an exchange), whose
    // children are hidden from collect
    val qe = GraftQueries.qRollingMedian(spark, "/root/testdata/sf0.001")
      .queryExecution
    val windows = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      qe.optimizedPlan.toString)
    val plan = qe.executedPlan.toString
    assert(!plan.contains("RANGE BETWEEN"), s"RANGE frame crept in:\n$plan")
    // exactly two exchanges: the shared loader dedup on (key, t) and the
    // key-only repartition the window needs; the operator's own defensive
    // (key, t) max-dedupe reuses the loader partitioning (no third)
    assert(plan.linesIterator.count(_.contains("Exchange")) == 2,
      s"expected exactly two exchanges:\n$plan")
  }
}
