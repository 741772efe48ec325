package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core ordered-series operators over a "points" DataFrame with columns
  *
  *   - `key`: series identifier (any type; string in the pipelines)
  *   - `t`:   time, a numeric column — LongType (epoch microseconds) in the
  *            production pipelines, or DoubleType/LongType for unit fixtures
  *   - `v`:   DoubleType, nullable (null models the reference's `None`,
  *            meaning "unknown", not zero)
  *
  * Semantics mirror the reference's right-continuous step function
  * ("zero-order hold"): the value at time x is the value of the latest
  * measurement at-or-before x, else the series default
  * (reference: traces/timeseries.py:91-110 `_get_previous`).
  *
  * Everything here is declarative Dataset/Column code planned by Catalyst:
  * one shuffle for the per-key ordered window, partial aggregation and
  * whole-stage codegen for the arithmetic. No RDDs, no collects.
  */
object SeriesOps {
  val K = "key"; val T = "t"; val V = "v"

  /** Per-key time-ordered window (the single shuffle all ordered ops share). */
  def wKey: org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy(K).orderBy(T)

  /** Keep the last write per (key, t): the reference's SortedDict overwrite
    * semantics for `set` (traces/timeseries.py:182-192). `ord` breaks ties
    * deterministically (e.g. an event_id / ingest sequence column).
    */
  def dedupe(df: DataFrame, ord: Column): DataFrame = {
    val w = Window.partitionBy(K, T).orderBy(ord.desc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Drop points whose value equals the previous point's value within the
    * key (reference `compact`, traces/timeseries.py:273-298). Null-safe:
    * consecutive nulls compact too. This is the canonical storage form and
    * the inverse of gap-fill.
    */
  def compact(df: DataFrame): DataFrame = {
    val pv = lag(V, 1).over(wKey)
    val rn = row_number().over(wKey)
    df.withColumn("_rn", rn)
      .withColumn("_pv", pv)
      .filter(col("_rn") === 1 || !(col("_pv") <=> col(V)))
      .drop("_rn", "_pv")
  }

  /** Skew-safe [[compact]]: the lag runs per (key, time-bucket) and each
    * bucket's first row compares against the previous bucket's closing
    * value, carried by a tiny per-(key, bucket) handoff window — so a hot
    * (or constant) key no longer funnels the whole series through one task.
    * `bucketOf` must be a function of t. Output ≡ [[compact]].
    */
  def compactBucketed(df: DataFrame, bucketOf: Column): DataFrame = {
    // no persist (round-3): the closings branch is a plain groupBy whose
    // map-side partial aggregation collapses to one row per (key, bucket)
    // per input partition — any shuffle it shares with the row side is
    // deduped by exchange reuse, and what isn't shared re-runs as a cheap
    // scan + partial agg rather than occupying the block manager. The
    // opens side is tiny, so AQE broadcasts the join and the row side
    // reaches the in-bucket lag window with exactly one shuffle.
    val d2 = df.withColumn("_bkt", bucketOf)
    val wIn = Window.partitionBy(K, "_bkt").orderBy(T)
    // scalar max_by keeps the closings in a map-side-combined HashAggregate
    // (a struct-valued max_by would fall back to SortAggregate with a
    // full-data pre-sort); groups are nonempty by construction, so the
    // null-value-vs-absent distinction is re-established by the struct
    // wrap AFTER the aggregate, on the tiny table
    val closings = d2
      .groupBy(col(K), col("_bkt"))
      .agg(max_by(col(V), col(T)).as("_cv"))
      .select(col(K), col("_bkt"), struct(col("_cv").as(V)).as("_close"))
    val wOff = Window.partitionBy(K).orderBy("_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val opens = closings
      .withColumn("_open", last(col("_close"), ignoreNulls = true).over(wOff))
      .select(col(K).as("_hk"), col("_bkt").as("_hb"), col("_open"))
    // null-safe join: series keys may be null (e.g. countByValue's
    // None-value series) — a plain equi-join would drop their rows
    d2.join(opens, d2(K) <=> opens("_hk") && d2("_bkt") <=> opens("_hb"))
      .drop("_hk", "_hb")
      .withColumn("_prev", coalesce(lag(struct(col(V)), 1).over(wIn), col("_open")))
      // null _prev = globally first row of the key: always kept
      .filter(col("_prev").isNull || !(col("_prev").getField(V) <=> col(V)))
      .drop("_bkt", "_open", "_prev")
  }

  /** Bulk insert with `set_many(compact=True)` semantics
    * (traces/timeseries.py:194-222): like [[compact]] but the FIRST entry is
    * also dropped when it equals the series default — set_many seeds its
    * running previous_value with `self.default`, unlike `compact()`/`set`
    * which always keep the first point. Null-safe (None != None is False in
    * Python, so a null first value compacts against a null default).
    */
  def setManyCompact(df: DataFrame, default: Column): DataFrame = {
    val pv = when(row_number().over(wKey) === 1, default.cast("double"))
      .otherwise(lag(V, 1).over(wKey))
    df.withColumn("_pv", pv)
      .filter(!(col("_pv") <=> col(V)))
      .drop("_pv")
  }

  /** Delete the exact point at time `at` per key (reference `remove` /
    * `__delitem__`, traces/timeseries.py:356-365). The reference raises
    * KeyError when absent; distributed deletes are set-oriented, so absence
    * is a no-op here (check [[nPoints]] deltas when the error matters). */
  def removePoint(df: DataFrame, at: Column): DataFrame =
    df.filter(col(T) =!= at)

  /** Reference `__eq__` (traces/timeseries.py:1581-1582): true iff both
    * sides hold exactly the same (key, t, v) measurements — the default is
    * deliberately NOT compared, mirroring the reference. */
  def seriesEquals(a: DataFrame, b: DataFrame): Boolean = {
    val ca = a.select(col(K), col(T), col(V))
    val cb = b.select(col(K), col(T), col(V))
    ca.exceptAll(cb).isEmpty && cb.exceptAll(ca).isEmpty
  }

  /** Distributed per-key form of [[seriesEquals]]: one boolean row per key,
    * true iff both sides hold exactly the same (t, v) measurements for that
    * key. A struct wrapper distinguishes present-with-null-value from
    * absent; times are unique per series (sorted-map invariant), so the
    * (key, t) full-outer join is the multiset comparison. The join is
    * null-safe on the key (series keys may be null, e.g. countByValue's
    * None-value series — same reason compactBucketed joins with `<=>`), so
    * a null-keyed series correctly compares equal to itself. Output
    * (key, equal). */
  def seriesEqualsBy(a: DataFrame, b: DataFrame, checkUnique: Boolean = false): DataFrame = {
    // the unique-(key, t) sorted-map invariant is a caller contract; a
    // violated invariant would fan the full-outer join out and min() could
    // silently report equal=true for multiplicity differences. checkUnique
    // turns that into a loud runtime error (one extra count window per
    // side) for untrusted inputs.
    def guarded(df: DataFrame): DataFrame =
      if (!checkUnique) df
      else {
        val c = count(lit(1)).over(Window.partitionBy(col(K), col(T)))
        df.withColumn("_dup",
            assert_true(c <= lit(1),
              concat(lit("seriesEqualsBy: duplicate (key,t) for key="),
                col(K).cast("string"))))
          .filter(col("_dup").isNull).drop("_dup")
      }
    val ca = guarded(a).select(col(K), col(T), struct(col(V)).as("_va"))
    val cb = guarded(b).select(col(K).as("_kb"), col(T).as("_tb"), struct(col(V)).as("_vb"))
    ca.join(cb, col(K) <=> col("_kb") && col(T) <=> col("_tb"), "full_outer")
      .groupBy(coalesce(col(K), col("_kb")).as(K))
      .agg(min(
        col("_va").isNotNull && col("_vb").isNotNull &&
          (col("_va").getField(V) <=> col("_vb").getField(V))).as("equal"))
  }

  /** Consecutive-point segments over each key's full measured domain
    * [first_t, last_t): rows (key, t0, t1, v, vn) where vn is the value at
    * t1 (for linear interpolation). The last point opens no segment —
    * matches `iterperiods(first, last)` (traces/timeseries.py:499-540).
    */
  def segments(df: DataFrame): DataFrame = {
    df.select(
        col(K),
        col(T).as("t0"),
        lead(T, 1).over(wKey).as("t1"),
        col(V),
        lead(V, 1).over(wKey).as("vn"))
      .filter(col("t1").isNotNull)
  }

  /** Constant-value segments covering exactly [start, end) per key —
    * the reference's `iterperiods(start, end)` (traces/timeseries.py:499-540):
    * the first segment starts at `start` carrying the as-of value (or
    * `default` before the first measurement), the last ends at `end`.
    *
    * Output columns: key, t0, t1 (clipped), v, plus the original bracketing
    * measurement times/next value for linear interpolation:
    * p0 (measurement time opening the segment; null = before first
    * measurement), p1 (next measurement time; null = after last), vn
    * (value at p1). p1 and vn of a key's last segment name its first
    * measurement at or after `end`, the point `get(mid, "linear")`
    * interpolates toward (traces/timeseries.py:78-89).
    *
    * One ordered pass per key: every point opens its own segment, and a
    * key's first point (no earlier point in the window) also opens the
    * default segment [start, first_t) with v = default, p0 = null,
    * p1 = first_t, vn = first value. So a key whose points all lie at or
    * after `end` emits the single segment (start, end, default), and one
    * whose points all lie before `start` emits (start, end, last value).
    */
  def segmentsInRange(df: DataFrame, start: Column, end: Column, default: Column): DataFrame = {
    val tType = df.schema(T).dataType
    def seg(p0: Column, p1: Column, v: Column, vn: Column): Column =
      struct(p0.as("p0"), p1.as("p1"), v.cast("double").as(V), vn.cast("double").as("vn"))
    val own = seg(col(T), col("p1"), col(V), col("vn"))
    val dflt = seg(lit(null).cast(tType), col(T), default, col(V))
    df.select(
        col(K), col(T), col(V),
        lag(T, 1).over(wKey).as("_pt"),
        lead(T, 1).over(wKey).as("p1"),
        lead(V, 1).over(wKey).as("vn"))
      .select(col(K),
        explode(when(col("_pt").isNull, array(dflt, own)).otherwise(array(own))).as("_s"))
      .select(
        col(K),
        greatest(col("_s.p0"), start).as("t0"), // greatest skips nulls
        least(coalesce(col("_s.p1"), end), end).as("t1"),
        col("_s.v").as(V), col("_s.p0").as("p0"), col("_s.p1").as("p1"), col("_s.vn").as("vn"))
      .filter(col("t1") > col("t0"))
  }

  /** Explode the consecutive long range [c0, c1] (step 1) as column `as`,
    * two-level chunked like the sampling grids (Regularize.gridSeq): outer
    * ids step `innerLen`, inner arrays hold at most `innerLen` elements.
    * A range spanning millions of ids — a year-long constant segment split
    * at second-scale cells or window buckets — never materializes one
    * giant sequence() array in a single row.
    *
    * Probe (4 GiB heap, local[8]): a single segment exploding to 20M cells
    * completes in ~40 s either way at this size, but the unchunked form
    * holds the whole 160 MB array (and its copies) in one row — the OOM
    * is merely deferred to bigger spans, while the chunked form is flat at
    * 64 KB per array. Note the explode of ONE input row is still pipelined
    * within one task until the next shuffle; parallelism across segments
    * (the normal case) is unaffected. */
  def explodeRangeChunked(
      df: DataFrame,
      c0: Column,
      c1: Column,
      as: String,
      innerLen: Long = 8192L): DataFrame = {
    // empty/inverted ranges (c1 < c0) drop the row — sequence() with a
    // positive step would throw ILLEGAL_SEQUENCE_BOUNDARIES, whereas the
    // plain sequence(c0, c1) this replaces silently emitted a descending
    // range for callers' filters to discard
    val outer = when(c1 >= c0, sequence(c0, c1, lit(innerLen)))
      .otherwise(lit(Array.empty[Long]))
    df.withColumn("_rc0", explode(outer))
      .withColumn(as, explode(sequence(col("_rc0"), least(col("_rc0") + (innerLen - 1), c1))))
      .drop("_rc0")
  }

  /** The value the reference's `get(midpoint, interpolate)` would see on a
    * (possibly clipped) segment (traces/timeseries.py:877-937 uses the
    * segment midpoint; "previous" = the segment value exactly; "linear" =
    * interpolation between the original bracketing measurements).
    */
  def segmentValue(interpolate: String, default: Column): Column =
    interpolate match {
      case "previous" => col(V)
      case "linear" =>
        val mid = (col("t0").cast("double") + col("t1").cast("double")) / 2.0
        when(col("p0").isNull, default) // before first measurement
          .when(col("p1").isNull, col(V)) // after last -> last value
          .otherwise(
            col(V) + (mid - col("p0").cast("double")) /
              (col("p1").cast("double") - col("p0").cast("double")) *
              (col("vn") - col(V)))
      case other =>
        throw new IllegalArgumentException(s"unknown interpolate '$other'")
    }

  /** Intersect segments with mask intervals (m0, m1), clipping durations.
    * `mask` has columns (m0, m1) and optionally `key`; global masks are
    * broadcast (tiny interval lists), per-key masks join on key too.
    * Mirrors the reference's mask loop in `distribution`
    * (traces/timeseries.py:920-930).
    */
  def intersectMask(segs: DataFrame, mask: DataFrame): DataFrame = {
    val perKey = mask.columns.contains(K)
    val m = if (perKey) mask else broadcast(mask)
    val cond =
      (segs("t0") < m("m1")) && (segs("t1") > m("m0")) &&
        (if (perKey) segs(K) === m(K) else lit(true))
    segs
      .join(m, cond)
      .select(
        segs(K),
        greatest(segs("t0"), m("m0")).as("t0"),
        least(segs("t1"), m("m1")).as("t1"),
        segs(V), segs("p0"), segs("p1"), segs("vn"))
  }

  /** Boolean step-function series -> its true intervals (key, m0, m1)
    * within [start, end), for use as a mask (reference builds masks as
    * boolean TimeSeries and iterates `iterperiods(value=True)`,
    * traces/timeseries.py:920-923).
    */
  def trueIntervals(
      maskSeries: DataFrame,
      start: Column,
      end: Column,
      default: Column): DataFrame =
    segmentsInRange(maskSeries, start, end, default)
      .filter(col(V) === 1.0)
      .select(col(K), col("t0").as("m0"), col("t1").as("m1"))

  /** New series equal to the original on [start, end]: point at `start`
    * with the as-of value, interior points, plus a point at `end`
    * (reference `slice`, traces/timeseries.py:542-557). Every row comes
    * from the segments of [[segmentsInRange]]: each segment gives its
    * (t0, v), which is the start row for the segment at `start` and an
    * interior point for every other, and the segment that ends at `end`
    * also gives the end row.
    */
  def sliceSeries(df: DataFrame, start: Column, end: Column, default: Column): DataFrame = {
    // value at `end` = as-of lookup INCLUSIVE of a point exactly at `end`
    // (reference: result[t1] = self[t1], traces/timeseries.py:555)
    val atEnd = when(col("p1") <=> end, col("vn")).otherwise(col(V))
    segmentsInRange(df, start, end, default)
      .select(col(K), explode(array(
        struct(col("t0").as(T), col(V).as(V)),
        when(col("t1") === end, struct(col("t1").as(T), atEnd.as(V))))).as("_r"))
      .filter(col("_r").isNotNull)
      .select(col(K), col("_r")(T).as(T), col("_r")(V).as(V))
  }

  /** Count of measurement points per key in [start, end] with the four
    * inclusive-flag combinations (reference `n_points`,
    * traces/timeseries.py:939-995).
    */
  def nPoints(
      df: DataFrame,
      start: Column,
      end: Column,
      includeStart: Boolean,
      includeEnd: Boolean,
      normalized: Boolean = false): DataFrame = {
    val lo = if (includeStart) col(T) >= start else col(T) > start
    val hi = if (includeEnd) col(T) <= end else col(T) < end
    // one conditional-count pass; `normalized` divides by n_measurements()
    // (the series' UNBOUNDED point count — timeseries.py:992-993)
    val agg = df.groupBy(col(K))
      .agg(count(when(lo && hi, 1)).as("_n"), count(lit(1)).as("_total"))
    if (normalized)
      agg.select(col(K), (col("_n").cast("double") / col("_total")).as("n_points"))
    else agg.select(col(K), col("_n").as("n_points"))
  }

  /** Both [[nPoints]] forms in one aggregation pass: (key, n_points,
    * n_norm) — the count over the range and its normalized fraction. */
  def nPointsWithNormalized(
      df: DataFrame,
      start: Column,
      end: Column,
      includeStart: Boolean,
      includeEnd: Boolean): DataFrame = {
    val lo = if (includeStart) col(T) >= start else col(T) > start
    val hi = if (includeEnd) col(T) <= end else col(T) < end
    df.groupBy(col(K))
      .agg(count(when(lo && hi, 1)).as("n_points"), count(lit(1)).as("_total"))
      .select(col(K), col("n_points"),
        (col("n_points").cast("double") / col("_total")).as("n_norm"))
  }

  /** `n_points` over a mask (reference timeseries.py:975-989, default
    * include_start/exclude_end flags): per mask-true period [m0, m1),
    * count points with m0 <= t < m1. `mask` = (key, m0, m1) per-key
    * intervals (build from a boolean series via [[trueIntervals]] — the
    * reference composes masks as boolean TimeSeries and iterates
    * iterperiods(value=True)). Keys present in `df` but fully masked out
    * count 0, like the reference. True intervals are disjoint, so the
    * interval join never double-counts; the join is an equi-join on key
    * plus range predicates — broadcastable when the mask is small.
    */
  def nPointsMasked(df: DataFrame, mask: DataFrame, normalized: Boolean = false): DataFrame = {
    val m = mask.select(col(K), col("m0"), col("m1"))
    val counted = df
      .join(m, Seq(K))
      .filter(col(T) >= col("m0") && col(T) < col("m1"))
      .groupBy(col(K))
      .agg(count(lit(1)).as("_n"))
    val base = df.groupBy(col(K)).agg(count(lit(1)).as("_total"))
      .join(counted, Seq(K), "left")
    if (normalized)
      base.select(col(K),
        (coalesce(col("_n"), lit(0L)).cast("double") / col("_total")).as("n_points"))
    else base.select(col(K), coalesce(col("_n"), lit(0L)).as("n_points"))
  }

  // ---------- scalar / unary value operators (traces/timeseries.py:1430-1517) ----------

  /** Python truthiness of a numeric value (0/None falsy). */
  def truthy(x: Column): Column = x.isNotNull && x =!= 0.0

  /** `to_bool(invert)` (traces/timeseries.py:1430-1467): None stays None. */
  def toBool(df: DataFrame, invert: Boolean = false): DataFrame =
    df.withColumn(V,
      when(col(V).isNull, lit(null).cast("double"))
        .otherwise((if (invert) !truthy(col(V)) else truthy(col(V))).cast("double")))

  /** `threshold(value, inclusive)` (traces/timeseries.py:1469-1488). */
  def threshold(df: DataFrame, value: Column, inclusive: Boolean = false): DataFrame =
    df.withColumn(V,
      (if (inclusive) col(V) >= value else col(V) > value).cast("double"))

  /** `is_not_none()` (traces/timeseries.py:330-354). */
  def isNotNone(df: DataFrame): DataFrame =
    df.withColumn(V, col(V).isNotNull.cast("double"))

  /** scalar multiply / elementwise map (traces `multiply(scalar)` via
    * `operation`, timeseries.py:1399-1428 scalar branch). */
  def mapValues(df: DataFrame, f: Column => Column): DataFrame =
    df.withColumn(V, f(col(V)).cast("double"))

  // ---------- ordered navigation (traces/timeseries.py:154-180, 450-472) ----------

  /** i-th point per key, 0-based; negative = from the end. */
  def itemByIndex(df: DataFrame, i: Int): DataFrame = {
    val w =
      if (i >= 0) Window.partitionBy(K).orderBy(col(T).asc)
      else Window.partitionBy(K).orderBy(col(T).desc)
    val n = if (i >= 0) i + 1 else -i
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === n).drop("_rn")
  }

  def firstItem(df: DataFrame): DataFrame = itemByIndex(df, 0)
  def lastItem(df: DataFrame): DataFrame = itemByIndex(df, -1)

  /** Sliding n-tuples of consecutive points (reference `iterintervals(n)`,
    * traces/timeseries.py:450-472): output key, t, and arrays ts/vs of the
    * n consecutive (time, value) pairs starting at each point. */
  def slidingIntervals(df: DataFrame, n: Int = 2): DataFrame = {
    require(n >= 1, "n >= 1")
    val ts = (0 until n).map(i => lead(col(T), i).over(wKey))
    val vs = (0 until n).map(i => lead(col(V), i).over(wKey))
    df.select(col(K), col(T), array(ts: _*).as("ts"), array(vs: _*).as("vs"))
      .filter(element_at(col("ts"), n).isNotNull)
  }

  /** Delete all points in [start, end) per key (reference
    * `remove_points_from_interval`, traces/timeseries.py:367-388). */
  def removeInterval(df: DataFrame, start: Column, end: Column): DataFrame =
    df.filter(!(col(T) >= start && col(T) < end))

  /** Reference `set_interval(start, end, value)` (traces/timeseries.py:224-271):
    * delete points in (start, end) exclusive-of-start... precisely: remove
    * keys in [start, end), write `value` at start and the OLD value-at-end
    * at end.
    */
  def setInterval(
      df: DataFrame,
      start: Column,
      end: Column,
      value: Column,
      default: Column): DataFrame = {
    val keys = df.select(col(K)).distinct()
    // old value as-of `end`: last segment of [start2, end) — use segments over
    // (-inf, end): value of the last point < end, else default
    val w = Window.partitionBy(K).orderBy(col(T).desc)
    val oldAtEnd = df
      .filter(col(T) <= end)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col(K), struct(col(V)).as("_old")) // struct: "measured" marker
    val endRows = keys
      .join(oldAtEnd, Seq(K), "left")
      .select(
        col(K), end.as(T),
        when(col("_old").isNull, default).otherwise(col("_old").getField(V)).as(V))
    val startRows = keys.select(col(K), start.as(T), value.cast("double").as(V))
    val kept = df.filter(col(T) < start || col(T) > end).select(col(K), col(T), col(V))
    kept.unionByName(startRows).unionByName(endRows)
  }

  /** Per-key interval overlap join — the general form of the bucketed
    * range join [[graft.regularize.Regularize.movingAverage]] and
    * `sampleIntervalAt` build privately: every pair of overlapping
    * half-open intervals (a0, a1) × (b0, b1) sharing a key, with the
    * overlap length. Input a: (key, a0, a1, av); b: (key, b0, b1, bv);
    * output (key, a0, a1, av, b0, b1, bv, overlap_us).
    *
    * Both sides explode over coarse `bucketMicros` buckets
    * (chunk-bounded via [[explodeRangeChunked]], so a year-long interval
    * cannot OOM a row), meet on an equi-join of (key, bucket), and each
    * overlapping pair is attributed to exactly ONE bucket — the one
    * containing the overlap start — so nothing double-counts and the
    * plan is never a per-key cartesian. Shuffle volume is rows ×
    * (span/bucket); pick `bucketMicros` near the typical interval
    * length. A hot key spreads across its buckets; AQE can split a
    * degenerate (key, bucket).
    */
  def intervalOverlapJoin(
      a: DataFrame,
      b: DataFrame,
      bucketMicros: Long): DataFrame = {
    require(bucketMicros > 0, s"bucket width $bucketMicros must be positive")
    val w = lit(bucketMicros)
    val aE = explodeRangeChunked(
      a.select(col(K), col("a0"), col("a1"), col("av")),
      floor(col("a0") / w), floor((col("a1") - 1) / w), "bkt")
    val bE = explodeRangeChunked(
      b.select(col(K).as("_bk"), col("b0"), col("b1"), col("bv")),
      floor(col("b0") / w), floor((col("b1") - 1) / w), "_bbkt")
    aE
      .join(bE, aE(K) <=> bE("_bk") && aE("bkt") === bE("_bbkt"))
      .filter(col("a0") < col("b1") && col("b0") < col("a1"))
      .filter(col("bkt") === floor(greatest(col("a0"), col("b0")) / w))
      .select(col(K), col("a0"), col("a1"), col("av"),
        col("b0"), col("b1"), col("bv"),
        (least(col("a1"), col("b1")) - greatest(col("a0"), col("b0")))
          .as("overlap_us"))
  }

  /** Union of half-open intervals per key (the gaps-and-islands merge):
    * overlapping or touching [t0, t1) rows coalesce into maximal merged
    * intervals — the primitive behind coverage/uptime reports
    * ("how much of the day was at least one session active?"). Touching
    * counts as merged: [a,b) ∪ [b,c) = [a,c). Output one row per merged
    * interval: (key, u0, u1, n_merged).
    *
    * Plain path: one per-key sort by (t0, t1); a row starts a new island
    * iff its t0 exceeds the running max of every earlier t1 (an interval
    * nested inside a predecessor extends nothing but merges — max, not
    * lag, is the classic correctness trap here). Island ids are the
    * running count of starts.
    *
    * `bucketBy` (a function of t0) runs both scans per (key, time-bucket)
    * through two tiny per-(key, bucket) handoffs — the running max of
    * earlier buckets' closing end, and the running count of earlier
    * buckets' island starts — so a hot key's millions of intervals spread
    * across tasks (the BucketedOps discipline; equivalence spec'd). */
  def intervalUnion(df: DataFrame, bucketBy: Option[Column] = None): DataFrame = {
    // dedupe-first: exact-duplicate intervals collapse to one row + a
    // count BEFORE any window runs, so the scan's (t0, t1) sort order is
    // total — two passes over an exchange can never permute equal rows
    // between the flag and the running sum (the sessionize tie lesson;
    // duplicates here have NO distinguishing column to pin, so the only
    // tie-insensitive formulation is to remove the ties)
    // plain path: establish hash(key) ONCE before the dedupe (guide §2.4)
    // — the dedupe aggregate, the island window and the downstream island
    // groupBy all live inside one exchange instead of three (the dedupe's
    // (key,t0,t1) spread bought nothing: the very next window serializes
    // per key anyway, and hot keys take the bucketed path)
    val dd0 = bucketBy match {
      case None => df.repartition(col(K))
      case _    => df
    }
    val dd = dd0.groupBy(col(K), col("t0"), col("t1"))
      .agg(count(lit(1)).as("_dup"))
    val flagged = bucketBy match {
      case None =>
        val w = Window.partitionBy(K).orderBy(col("t0"), col("t1"))
        val prevMax = max(col("t1")).over(w.rowsBetween(Window.unboundedPreceding, -1))
        val fl = dd.withColumn("_new",
          when(prevMax.isNull || col("t0") > prevMax, 1L).otherwise(0L))
        fl.withColumn("_g",
          sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      case Some(bk) =>
        val base = dd.withColumn("_bkt", bk)
        val wIn = Window.partitionBy(col(K), col("_bkt")).orderBy(col("t0"), col("t1"))
        val inPrevMax = max(col("t1")).over(wIn.rowsBetween(Window.unboundedPreceding, -1))
        // handoff 1: running max of earlier buckets' max end
        val closings = base.groupBy(col(K), col("_bkt")).agg(max(col("t1")).as("_close"))
        val wOff = Window.partitionBy(K).orderBy("_bkt")
          .rowsBetween(Window.unboundedPreceding, -1)
        val carry = closings
          .withColumn("_carry", max(col("_close")).over(wOff))
          .select(col(K).as("_ck"), col("_bkt").as("_cb"), col("_carry"))
        val withPrev = base
          .join(carry, base(K) <=> carry("_ck") && base("_bkt") === carry("_cb"))
          .withColumn("_pm", greatest(
            coalesce(inPrevMax, lit(Long.MinValue)),
            coalesce(col("_carry"), lit(Long.MinValue))))
          .withColumn("_new",
            when(col("_pm") === Long.MinValue || col("t0") > col("_pm"), 1L)
              .otherwise(0L))
        // handoff 2: island ids offset by earlier buckets' start counts
        val starts = withPrev.groupBy(col(K), col("_bkt"))
          .agg(sum(col("_new")).as("_ns"))
        val offs = starts
          .withColumn("_goff", coalesce(sum(col("_ns")).over(wOff), lit(0L)))
          .select(col(K).as("_ok"), col("_bkt").as("_ob"), col("_goff"))
        withPrev
          .join(offs, withPrev(K) <=> offs("_ok") && withPrev("_bkt") === offs("_ob"))
          .withColumn("_g", col("_goff") +
            sum(col("_new")).over(wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }
    flagged.groupBy(col(K), col("_g"))
      .agg(min(col("t0")).as("u0"), max(col("t1")).as("u1"),
        sum(col("_dup")).as("n_merged"))
      .select(col(K), col("u0"), col("u1"), col("n_merged"))
  }

  /** Per-key interval-set difference: the time covered by `a` but NOT by
    * `b` (both (key, t0, t1) half-open interval frames) — the SLA
    * primitive "downtime minus maintenance windows". Both sides first
    * coalesce through [[intervalUnion]]; the difference is then ONE
    * boundary sweep: every union endpoint becomes a ±1 delta row on two
    * counters (a-coverage, b-coverage), two running sums replay the
    * sweep, and the segment [t, next boundary) is emitted where
    * a-coverage > 0 and b-coverage = 0. Because the unions are disjoint
    * AND non-touching (touching intervals merge), coverage parity
    * toggles at every boundary that borders an emitted segment — so the
    * output segments are provably maximal with no post-merge pass.
    * Output (key, d0, d1).
    *
    * Scale: the sweep runs over UNION boundaries (two rows per merged
    * interval — the coalesced tier, not the raw rows; the unions
    * themselves take `bucketBy` for hot keys). A key whose merged
    * intervals still overflow one task would split the sweep with the
    * same two-counter BucketedOps handoff intervalUnion uses. */
  def intervalDifference(
      a: DataFrame, b: DataFrame,
      bucketBy: Option[Column] = None): DataFrame = {
    // BOTH sides coalesce in ONE intervalUnion pass over the composite
    // key (key, side): sides are disjoint in the composite, so islands
    // can never merge across them and the result is identical to two
    // separate unions — at half the exchange count (q164 was the
    // battery's slowest query as two back-to-back union pipelines)
    def tag(df: DataFrame, s: Int) = df.select(
      struct(col(K).as("k"), lit(s).as("s")).as(K), col("t0"), col("t1"))
    val u = intervalUnion(tag(a, 0).unionByName(tag(b, 1)), bucketBy)
    val sideA = col(K).getField("s") === 0
    // one narrow explode emits both boundary rows per merged interval —
    // the union-of-two-selects form re-evaluated the whole union pipeline
    // above its reused exchange twice (one subtree per boundary side)
    def delta(t: Column, sign: Long) = struct(
      t.as(T),
      when(sideA, lit(sign)).otherwise(lit(0L)).as("_da"),
      when(sideA, lit(0L)).otherwise(lit(sign)).as("_db"))
    // the sweep regroups by the OUTER key (the union ran on the composite
    // (key, side)), so one repartition(key) here lets the boundary
    // aggregate AND the two running-sum windows below share a single
    // exchange — before, the groupBy shuffled on (key, t) and the windows
    // paid a second full (key) exchange on top
    val bounds = u
      .select(col(K).getField("k").as(K),
        explode(array(delta(col("u0"), 1L), delta(col("u1"), -1L))).as("_e"))
      .select(col(K), col("_e")(T).as(T),
        col("_e")("_da").as("_da"), col("_e")("_db").as("_db"))
      .repartition(col(K))
      .groupBy(col(K), col(T))
      .agg(sum(col("_da")).as("_da"), sum(col("_db")).as("_db"))
    val w = Window.partitionBy(K).orderBy(col(T).asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bounds
      .withColumn("_ra", sum(col("_da")).over(run))
      .withColumn("_rb", sum(col("_db")).over(run))
      .withColumn("_nt", lead(col(T), 1).over(w))
      .filter(col("_ra") > 0 && col("_rb") === 0 && col("_nt").isNotNull)
      .select(col(K), col(T).as("d0"), col("_nt").as("d1"))
  }
}
