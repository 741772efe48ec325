package bench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Outcome of comparing one output with its reference. */
final case class CheckResult(name: String, ok: Boolean, detail: String)

/** Output checks. They run outside the timed window. */
object Checks {

  /** Relative tolerance for double columns that are sums or ratios of
    * sums: a distributed sum adds in task order, so its last bits vary. */
  val RelTol = 1e-9

  /** A table in the one shape [[diff]] compares: `k` joins the key
    * columns, `x` the exact value columns (as text; doubles print exactly,
    * binaries as hex, null as "null"), `a` holds the one approximate
    * double, if any. */
  def canonical(df: DataFrame, keys: Seq[String], exact: Seq[String], approx: Option[String]): DataFrame = {
    def text(c: String) = coalesce(df.schema(c).dataType match {
      case BinaryType => hex(col(c))
      case _          => col(c).cast("string")
    }, lit("null"))
    df.select(concat_ws("|", keys.map(text): _*).as("k"), concat_ws("|", exact.map(text): _*).as("x"),
      approx.map(col(_).cast("double")).getOrElse(lit(null).cast("double")).as("a"))
  }

  /** Compares canonical tables row for row within each `groups` value:
    * every expected key must be present once, no other key may be, `x`
    * must be equal and `a` equal within [[RelTol]] relative. All groups
    * are compared in one Spark job; the result maps each group (its
    * values as text) to (ok, detail). */
  def diff(expected: DataFrame, actual: DataFrame, groups: Seq[String]): Map[Seq[String], (Boolean, String)] = {
    def side(df: DataFrame, tag: String) = df
      .groupBy((groups :+ "k").map(col): _*)
      .agg(count(lit(1)).as(s"${tag}_n"), first(col("x")).as(s"${tag}_x"), first(col("a")).as(s"${tag}_a"))
    val j = side(expected, "e").join(side(actual, "a"), groups :+ "k", "full_outer")
    val (e, a) = (col("e_a"), col("a_a"))
    val mismatch = !(col("e_x") <=> col("a_x")) || (e.isNull =!= a.isNull) ||
      (e.isNotNull && a.isNotNull && abs(e - a) > greatest(abs(e), abs(a)) * RelTol)
    val missing = col("a_n").isNull
    val extra = col("e_n").isNull
    val dup = col("a_n") > 1
    val bad = missing || extra || dup || mismatch
    j.groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("rows"),
        sum(missing.cast("long")).as("missing"), sum(extra.cast("long")).as("extra"),
        sum(dup.cast("long")).as("duplicated"), sum((!missing && !extra && mismatch).cast("long")).as("differing"),
        first(when(bad, to_json(struct(j.columns.map(col): _*))), ignoreNulls = true).as("first"))
      .collect().map { r =>
        val g = groups.indices.map(i => String.valueOf(r.get(i)))
        val Seq(rows, missingN, extraN, dupN, badN) =
          (0 to 4).map(i => r.getLong(groups.size + i))
        val ok = missingN == 0 && extraN == 0 && dupN == 0 && badN == 0
        g -> (ok, if (ok) s"$rows rows equal"
          else s"missing=$missingN extra=$extraN duplicated=$dupN differing=$badN; first: ${r.getString(groups.size + 5)}")
      }.toMap
  }

  /** Order-independent fingerprint of collected rows (query results):
    * the row count and the sum of every row's hash. Equal row sets give
    * equal fingerprints; a changed, dropped or duplicated row changes it. */
  def fingerprintRows(rows: Array[Row]): (Long, Int) =
    (rows.length.toLong, rows.map(_.hashCode).foldLeft(0)(_ + _))

  /** The weekly rows outside the week that holds an append's cut. The
    * known stale-week defect touches only that week, so these rows are
    * checked apart from the whole weekly tier and are not exempt. */
  final val OutsideCutWeek = "weekly_outside_cut_week"

  /** Tier tables compared by [[diff]]: key columns, exact value columns
    * and the approximate one. */
  val TierCols: Map[String, (Seq[String], Seq[String], Option[String])] = Map(
    "chunks" -> (Seq("key", "bucket"), Seq("n_points", "blob"), None),
    "hourly" -> (Seq("key", "bin_start"), Seq("covered_us", "min", "max", "n_points"), Some("twa_mean")),
    "daily" -> (Seq("key", "bin_start"), Seq("covered_us", "min", "max", "n_points"), Some("twa_mean")),
    "weekly" -> (Seq("key", "bin_start"), Seq("covered_us", "min", "max", "n_points"), Some("twa_mean")),
    "distinct" -> (Seq("hour", "idx"), Seq("rho"), None),
    OutsideCutWeek -> (Seq("key", "bin_start"), Seq("covered_us", "min", "max", "n_points"), Some("twa_mean")))

  /** `tiers` plus [[OutsideCutWeek]] for an append at `cut`. */
  def withOutsideCutWeek(tiers: String => DataFrame, cut: Long): String => DataFrame = {
    case OutsideCutWeek => tiers("weekly").filter(col("bin_start") =!= graft.rollup.Rollup.floorWeek(lit(cut)))
    case t              => tiers(t)
  }

  /** The five tiers computed by the stateless path over a series:
    * hourly `Rollup.tierStats`, rebinned to day and week, chunks from
    * `ChunkOps.writeChunks(SeriesOps.compact(_))` and hourly
    * `Hll.registers`. */
  def statelessTiers(series: DataFrame): Map[String, DataFrame] = {
    import graft.pipeline.CheckpointedRollup.{DAY, HOUR}
    import graft.rollup.Rollup
    val r = series.agg(min("t"), max("t")).head()
    val (lo, hi) = (Math.floorDiv(r.getLong(0), DAY), Math.floorDiv(r.getLong(1), DAY))
    // daily and weekly rebin it, so it is computed once
    val hourly = Rollup.tierStats(series, lo * DAY, (hi + 1) * DAY, HOUR).cache()
    hourly.count()
    val daily = Rollup.rebinStats(hourly, c => (floor(c / DAY) * DAY).cast("long"))
    val weekly = Rollup.rebinStats(daily, Rollup.floorWeek)
    Map(
      "chunks" -> graft.chunk.ChunkOps.writeChunks(graft.core.SeriesOps.compact(series), DAY),
      "hourly" -> hourly, "daily" -> daily, "weekly" -> weekly,
      "distinct" -> graft.sketch.Hll.registers(
        series.withColumn("hour", floor(col("t") / HOUR).cast("long")), Seq("hour"), "key"))
  }

  /** The `names` tiers of a store (or of the reference) as one canonical
    * table with a `tier` column. */
  def canonicalTiers(tiers: String => DataFrame, names: Seq[String] = Tracer.Tiers): DataFrame =
    names.map { t =>
      val (keys, exact, approx) = TierCols(t)
      canonical(tiers(t), keys, exact, approx).withColumn("tier", lit(t))
    }.reduce(_ unionByName _)
}
