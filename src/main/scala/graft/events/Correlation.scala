package graft.events

import graft.core.SeriesOps.{K, T, V}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Correlation-family analytics over unevenly-spaced series: lagged
  * autocorrelation and cross-correlation on a regularized bin grid, and
  * the Theil–Sen robust trend (median pairwise slope). These are the
  * standard exploratory statistics a monitoring stack runs on top of
  * the rollup tiers (the reference stops at `moving_average` /
  * `distribution`; ACF/CCF/Theil–Sen are the public textbook
  * extensions — Sen 1968, Box–Jenkins ch. 2).
  *
  * Engine-exactness discipline (the psiDrift/q77 convention): inputs to
  * every sum are quantized to an integer grid first (1e-3 here), so the
  * per-group sums are LONG-exact and aggregation order cannot perturb
  * them; the final Pearson ratio is then a fixed sequence of double ops
  * on identical operands in any engine.
  */
object Correlation {

  /** Lagged autocorrelation per key over a `binUs`-wide mean-value grid:
    * for each lag L in `lags`, the Pearson correlation between the
    * binned series x(b) and x(b+L), paired only where BOTH bins exist
    * (no gap-fill — empty bins contribute nothing, the standard
    * sparse-ACF convention). Bin means are quantized to the 1e-3 grid,
    * so all six sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy) are
    * exact longs. Output (key, lag, n_pairs, r); r is null when
    * n_pairs < minPairs or either side has zero variance.
    *
    * Scale: one (key, bin) aggregate, one explode by |lags| (a small
    * constant), one self equi-join on (key, bin+lag) — all hash(key[,bin])
    * exchanges with map-side partials; no windows, no driver state. The
    * grid is at most span/binUs rows per key regardless of raw volume,
    * so the join input is already the compacted tier, not raw events. */
  def autocorr(
      df: DataFrame,
      lags: Seq[Int],
      binUs: Long = 3600000000L,
      minPairs: Int = 8): DataFrame = {
    require(binUs > 0, s"bin width $binUs must be positive")
    require(lags.nonEmpty && lags.forall(_ > 0), "lags must be positive")
    val g = df.filter(col(V).isNotNull)
      .groupBy(col(K), floor(col(T) / binUs).cast("long").as("_b"))
      // floor(x·1000 + ½), not round(): see theilSen on why round()'s
      // half-up tie-break is not engine-portable
      .agg(floor(avg(col(V)) * 1000 + 0.5).cast("long").as("_x"))
    val left = g.withColumn("lag", explode(lit(lags.toArray)))
    val right = g.select(col(K).as("_rk"), col("_b").as("_rb"),
      col("_x").as("_y"))
    // null-safe <=> on the key (repo convention: null merge keys are legal)
    val pairs = left.join(right,
      left(K) <=> right("_rk") && (left("_b") + left("lag")) === right("_rb"))
    val s = pairs.groupBy(col(K), col("lag")).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
      sum(col("_x") * col("_x")).as("_sxx"),
      sum(col("_y") * col("_y")).as("_syy"),
      sum(col("_x") * col("_y")).as("_sxy"))
    val nD = col("n_pairs").cast("double")
    val num = nD * col("_sxy").cast("double") -
      col("_sx").cast("double") * col("_sy").cast("double")
    val varX = nD * col("_sxx").cast("double") -
      col("_sx").cast("double") * col("_sx").cast("double")
    val varY = nD * col("_syy").cast("double") -
      col("_sy").cast("double") * col("_sy").cast("double")
    s.select(col(K), col("lag"), col("n_pairs"),
      when(col("n_pairs") >= minPairs && varX > 0 && varY > 0,
        round(num / sqrt(varX * varY), 6)).as("r"))
  }

  /** Lagged cross-correlation between two keys' bin-COUNT series (e.g.
    * click rate vs view rate): for lag L, Pearson r between a's count
    * at bin b and b's count at bin b+L, over bins where both series
    * have at least one event (negative lags mean `other` leads). Counts
    * are integers, so every sufficient statistic is long-exact with no
    * quantization step at all. Output (lag, n_bins, r).
    *
    * Same plan shape as [[autocorr]]: two (key-filtered) bin aggregates,
    * explode by |lags|, one equi-join on the shifted bin id. */
  def crossCorr(
      df: DataFrame,
      keyA: String,
      keyB: String,
      lags: Seq[Int],
      binUs: Long = 3600000000L,
      minBins: Int = 8): DataFrame = {
    require(binUs > 0, s"bin width $binUs must be positive")
    require(lags.nonEmpty, "need at least one lag")
    def counts(k: String) = df.filter(col(K) === k)
      .groupBy(floor(col(T) / binUs).cast("long").as("_b"))
      .agg(count(lit(1)).as("_c"))
    val a = counts(keyA).withColumn("lag", explode(lit(lags.toArray)))
    val b = counts(keyB).select(col("_b").as("_rb"), col("_c").as("_y"))
    val pairs = a.join(b, (a("_b") + a("lag")) === b("_rb"))
    val s = pairs.groupBy(col("lag")).agg(
      count(lit(1)).as("n_bins"),
      sum(col("_c")).as("_sx"), sum(col("_y")).as("_sy"),
      sum(col("_c") * col("_c")).as("_sxx"),
      sum(col("_y") * col("_y")).as("_syy"),
      sum(col("_c") * col("_y")).as("_sxy"))
    val nD = col("n_bins").cast("double")
    val num = nD * col("_sxy").cast("double") -
      col("_sx").cast("double") * col("_sy").cast("double")
    val varX = nD * col("_sxx").cast("double") -
      col("_sx").cast("double") * col("_sx").cast("double")
    val varY = nD * col("_syy").cast("double") -
      col("_sy").cast("double") * col("_sy").cast("double")
    s.select(col("lag"), col("n_bins"),
      when(col("n_bins") >= minBins && varX > 0 && varY > 0,
        round(num / sqrt(varX * varY), 6)).as("r"))
  }

  /** Seasonal-naive forecast backtest per key (the MASE skill score,
    * Hyndman & Koehler 2006, public): on the `binUs` mean-value grid,
    * forecast each bin as the value one `season` earlier and score the
    * absolute error against the one-step-naive error (previous EXISTING
    * bin — the sparse convention of [[autocorr]]; no gap-fill). MASE < 1
    * means the seasonal pattern beats persistence — the cheapest "is
    * there a daily cycle worth modeling" gate a rollup stack runs before
    * any real forecaster. Output (key, n_seasonal, n_naive,
    * mae_seasonal, mae_naive, mase); the mae/mase columns are null when
    * either pair count is under `minPairs` or the naive error is zero.
    *
    * Engine-exactness: bin means quantize to the 1e-3 long grid, both
    * error sums are exact longs, and the three reported doubles are one
    * division each on identical operands.
    *
    * Scale: one (key, bin) aggregate, one self equi-join on (key,
    * bin+season) for the seasonal pairs ([[autocorr]]'s shape) and one
    * lag window over the same per-key grid sort for the naive pairs —
    * grid rows are span/binUs per key, never raw volume. */
  def seasonalNaive(
      df: DataFrame,
      season: Int,
      binUs: Long = 3600000000L,
      minPairs: Int = 8): DataFrame = {
    require(binUs > 0, s"bin width $binUs must be positive")
    require(season > 0, s"season $season must be positive")
    val g = df.filter(col(V).isNotNull)
      .groupBy(col(K), floor(col(T) / binUs).cast("long").as("_b"))
      .agg(floor(avg(col(V)) * 1000 + 0.5).cast("long").as("_x"))
    val r = g.select(col(K).as("_rk"), col("_b").as("_rb"), col("_x").as("_y"))
    val seas = g.join(r,
        g(K) <=> r("_rk") && (g("_b") - season) === r("_rb"))
      .groupBy(col(K))
      .agg(count(lit(1)).as("n_seasonal"),
        sum(abs(col("_x") - col("_y"))).as("_es"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(K).orderBy(col("_b"))
    val naive = g.withColumn("_p", lag(col("_x"), 1).over(w))
      .filter(col("_p").isNotNull)
      .groupBy(col(K).as("_nk"))
      .agg(count(lit(1)).as("n_naive"),
        sum(abs(col("_x") - col("_p"))).as("_en"))
    // null-safe <=> full-outer (repo convention: null merge keys are legal)
    val j = seas.join(naive, seas(K) <=> naive("_nk"), "full_outer")
      .withColumn(K, coalesce(seas(K), naive("_nk")))
      .na.fill(0L, Seq("n_seasonal", "n_naive"))
    val ok = col("n_seasonal") >= minPairs && col("n_naive") >= minPairs &&
      col("_en") > 0
    j.select(col(K), col("n_seasonal"), col("n_naive"),
      when(ok, round(col("_es") / (col("n_seasonal") * 1000.0), 6))
        .as("mae_seasonal"),
      when(ok, round(col("_en") / (col("n_naive") * 1000.0), 6))
        .as("mae_naive"),
      when(ok, round((col("_es").cast("double") / col("n_seasonal")) /
        (col("_en").cast("double") / col("n_naive")), 6)).as("mase"))
  }

  /** Lead/lag detection between two keys: the lag with the strongest
    * |cross-correlation| over a symmetric lag sweep — "does A lead B,
    * and by how much", the one-number summary on top of [[crossCorr]].
    * Ties break toward the smallest lag (then |r| exactness makes the
    * choice deterministic: r is already 6-dp rounded). Output a single
    * row (lag, n_bins, r), empty when no lag clears `minBins`/variance.
    *
    * Scale: [[crossCorr]]'s plan plus ONE tiny max_by aggregate over the
    * |lags|-row result — no window, no extra exchange of any size. */
  def bestLag(
      df: DataFrame,
      keyA: String,
      keyB: String,
      maxLag: Int,
      binUs: Long = 3600000000L,
      minBins: Int = 8): DataFrame = {
    require(maxLag >= 0, s"maxLag $maxLag must be >= 0")
    val cc = crossCorr(df, keyA, keyB, (-maxLag) to maxLag, binUs, minBins)
      .filter(col("r").isNotNull)
    // max of (|r|, -lag) picks the strongest correlation, smallest lag on
    // ties; |r| is exact on the 1e-6 grid so the ordering is portable
    cc.agg(max_by(struct(col("lag"), col("n_bins"), col("r")),
        struct(abs(col("r")), -col("lag"))).as("_best"))
      .select(col("_best.lag").as("lag"), col("_best.n_bins").as("n_bins"),
        col("_best.r").as("r"))
      .filter(col("lag").isNotNull)
  }

  /** Granger-lite lead-lag attribution between two keys' bin-count
    * series: does A's PREVIOUS bin improve the prediction of B's next
    * bin beyond B's own previous bin — the ΔR² of adding a(b−1) to the
    * one-lag autoregression y(b) ~ y(b−1)? This is the directional
    * complement of [[bestLag]]: bestLag says the phases align,
    * grangerLite says the alignment carries information persistence
    * alone does not (the classic Granger 1969 screen, restricted to
    * one lag so the two-regressor OLS has a closed form).
    *
    * Over bins b where cnt_B(b), cnt_B(b−1) and cnt_A(b−1) all exist
    * (the sparse convention of [[crossCorr]] — no gap-fill), with
    * y = cnt_B(b), x₁ = cnt_B(b−1), x₂ = cnt_A(b−1):
    *
    *   R²_restricted = r(y,x₁)²
    *   R²_full = (r₀₁² + r₀₂² − 2·r₀₁·r₀₂·r₁₂) / (1 − r₁₂²)
    *   ΔR² = R²_full − R²_restricted
    *
    * Engine-exactness: counts are integers, so all ten sufficient
    * statistics are exact (decimal(38,0) — count squares overflow
    * int64 for billion-event hot bins; the oracle mirrors in HUGEINT);
    * the three correlations and the R² combination are one fixed IEEE
    * expression each on identical operands. Output is ONE row
    * (n_bins, r_auto, r_lead, r_collin, r2_restricted, r2_full,
    * delta_r2); everything after n_bins is null when n_bins <
    * `minBins`, any variance is zero, or x₁ and x₂ are collinear
    * (1 − r₁₂² ≤ 0, where the full OLS is singular).
    *
    * Scale: two key-filtered bin aggregates (grid-bounded), two
    * shifted-bin equi-joins, one global aggregate with map-side
    * partials — [[crossCorr]]'s plan plus one join. */
  def grangerLite(
      df: DataFrame,
      keyA: String,
      keyB: String,
      binUs: Long = 3600000000L,
      minBins: Int = 12): DataFrame = {
    require(binUs > 0, s"bin width $binUs must be positive")
    val dec = "decimal(38,0)"
    def counts(k: String) = df.filter(col(K) === k)
      .groupBy(floor(col(T) / binUs).cast("long").as("_b"))
      .agg(count(lit(1)).as("_c"))
    val b = counts(keyB)
    val a = counts(keyA)
    val rows = b.select(col("_b"), col("_c").cast(dec).as("_y"))
      .join(b.select((col("_b") + 1).as("_b1"), col("_c").cast(dec).as("_x1")),
        col("_b") === col("_b1"))
      .join(a.select((col("_b") + 1).as("_b2"), col("_c").cast(dec).as("_x2")),
        col("_b") === col("_b2"))
    val s = rows.agg(
      count(lit(1)).as("n_bins"),
      sum(col("_y")).as("_sy"), sum(col("_x1")).as("_s1"),
      sum(col("_x2")).as("_s2"),
      sum(col("_y") * col("_y")).as("_syy"),
      sum(col("_x1") * col("_x1")).as("_s11"),
      sum(col("_x2") * col("_x2")).as("_s22"),
      sum(col("_y") * col("_x1")).as("_sy1"),
      sum(col("_y") * col("_x2")).as("_sy2"),
      sum(col("_x1") * col("_x2")).as("_s12"))
    val n = col("n_bins").cast(dec)
    def cd(x: org.apache.spark.sql.Column) = x.cast("double")
    val vy = cd(n * col("_syy") - col("_sy") * col("_sy"))
    val v1 = cd(n * col("_s11") - col("_s1") * col("_s1"))
    val v2 = cd(n * col("_s22") - col("_s2") * col("_s2"))
    val ra = cd(n * col("_sy1") - col("_sy") * col("_s1")) / sqrt(vy * v1)
    val rl = cd(n * col("_sy2") - col("_sy") * col("_s2")) / sqrt(vy * v2)
    val rc = cd(n * col("_s12") - col("_s1") * col("_s2")) / sqrt(v1 * v2)
    val full = (ra * ra + rl * rl - lit(2.0) * ra * rl * rc) /
      (lit(1.0) - rc * rc)
    val ok = col("n_bins") >= minBins && vy > 0 && v1 > 0 && v2 > 0 &&
      (lit(1.0) - rc * rc) > 0
    s.select(col("n_bins"),
      when(ok, round(ra, 6)).as("r_auto"),
      when(ok, round(rl, 6)).as("r_lead"),
      when(ok, round(rc, 6)).as("r_collin"),
      when(ok, round(ra * ra, 6)).as("r2_restricted"),
      when(ok, round(full, 6)).as("r2_full"),
      when(ok, round(full - ra * ra, 6)).as("delta_r2"))
  }

  /** Binned mutual information between two keys' hourly count series —
    * the NONLINEAR-dependence complement of [[grangerLite]] (a phase
    * shift, a V-shaped response or a saturating coupling all read ~0
    * correlation but positive MI). Over bins where BOTH keys have
    * counts (the sparse [[crossCorr]] convention), each side's count is
    * bucketed into `valueBins` equal-width classes of its own observed
    * range, and
    *
    *   MI = Σ_xy p(x,y)·log2( p(x,y) / (p(x)p(y)) )
    *   NMI = MI / min(H(X), H(Y))   (null when a side is constant)
    *
    * Engine-exactness: all histogram counts are exact integers; each
    * term rides the quantized-ln (2^20) long algebra of
    * [[graft.categorical.CategoricalOps.entropyRate]], so sums are
    * order-independent; class assignment is (c − min)·B div
    * (max − min + 1) — computed as a double floor-division whose
    * products stay far under 2^53, so it equals the oracle's true
    * integer division; only the final bit conversions and the NMI
    * ratio touch floats.
    *
    * Scale: two grid-bounded bin counts, one bin equi-join, a 1-row
    * broadcast bounds frame, then aggregates over the ≤ B² cell grid.
    * Output one row (n_bins, n_cells, mi_bits, h_a, h_b, nmi). */
  def mutualInfo(
      df: DataFrame,
      keyA: String,
      keyB: String,
      binUs: Long = 3600000000L,
      valueBins: Int = 8): DataFrame = {
    require(binUs > 0 && valueBins >= 2, "need binUs > 0 and valueBins >= 2")
    def qln(c: org.apache.spark.sql.Column) = graft.core.Quant.qln20(c)
    def counts(k: String) = df.filter(col(K) === k)
      .groupBy(floor(col(T) / binUs).cast("long").as("_b"))
      .agg(count(lit(1)).as("_c"))
    val paired = counts(keyA).select(col("_b"), col("_c").as("_ca"))
      .join(counts(keyB).select(col("_b").as("_b2"), col("_c").as("_cb")),
        col("_b") === col("_b2"))
    val bounds = paired.agg(min(col("_ca")).as("_a0"), max(col("_ca")).as("_a1"),
      min(col("_cb")).as("_b0"), max(col("_cb")).as("_b1"))
    def cls(c: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
        hi: org.apache.spark.sql.Column) =
      floor(((c - lo) * valueBins).cast("double") / (hi - lo + 1)).cast("long")
    val joint = paired.crossJoin(broadcast(bounds))
      .select(cls(col("_ca"), col("_a0"), col("_a1")).as("_x"),
        cls(col("_cb"), col("_b0"), col("_b1")).as("_y"))
      .groupBy(col("_x"), col("_y")).agg(count(lit(1)).as("_n"))
    val cells = joint
      .withColumn("_nx", sum(col("_n")).over(Window.partitionBy(col("_x"))))
      .withColumn("_ny", sum(col("_n")).over(Window.partitionBy(col("_y"))))
    val s = cells.agg(
      sum(col("_n")).as("_nt"), count(lit(1)).as("n_cells"),
      sum(col("_n") * (qln(col("_n")) - qln(col("_nx")) - qln(col("_ny"))))
        .as("_qmi0"))
    // marginal entropies need per-class rows, not per-cell rows
    val hx = joint.groupBy(col("_x")).agg(sum(col("_n")).as("_m"))
      .agg(sum(col("_m") * qln(col("_m"))).as("_qx"))
    val hy = joint.groupBy(col("_y")).agg(sum(col("_n")).as("_m"))
      .agg(sum(col("_m") * qln(col("_m"))).as("_qy"))
    val n = col("_nt").cast("double")
    val ln2 = lit(0.6931471805599453)
    val grid = lit(1048576.0)
    // MI long sum: Σ n·(qln n − qln nx − qln ny) + N·qln N
    val mi = (col("_qmi0") + col("_nt") * qln(col("_nt"))).cast("double") /
      grid / n / ln2
    def hOf(q: org.apache.spark.sql.Column) =
      (col("_nt") * qln(col("_nt")) - q).cast("double") / grid / n / ln2
    s.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .select(col("_nt").as("n_bins"), col("n_cells"),
        round(mi, 6).as("mi_bits"),
        round(hOf(col("_qx")), 6).as("h_a"),
        round(hOf(col("_qy")), 6).as("h_b"),
        when(least(hOf(col("_qx")), hOf(col("_qy"))) > 0,
          round(mi / least(hOf(col("_qx")), hOf(col("_qy"))), 6)).as("nmi"))
  }

  /** Rolling (bucketed) cross-correlation between two keys' bin-count
    * series — the correlation-STABILITY monitor: [[crossCorr]] gives
    * one number for the whole span, this gives the same Pearson r per
    * `bucketBins`-bin window (e.g. weekly over hourly bins) plus its
    * deviation from the all-time r, so a coupling that silently decays
    * or flips sign shows up as a drifting curve. Pairs only bins where
    * BOTH keys have counts (the sparse convention); counts are
    * integers, so every sufficient statistic is long-exact per bucket
    * AND globally. Output (bucket, n_bins, r, r_overall, dr) with
    * r/dr null under `minBins` pairs or zero variance; r_overall is
    * null-gated the same way.
    *
    * Scale: two key-filtered bin aggregates, one bin equi-join, one
    * (bucket) aggregate over the grid-sized paired frame, and a 1-row
    * broadcast of the global statistics. */
  def rollingCorr(
      df: DataFrame,
      keyA: String,
      keyB: String,
      binUs: Long = 3600000000L,
      bucketBins: Long = 168L,
      minBins: Int = 8): DataFrame = {
    require(binUs > 0 && bucketBins > 0, "need binUs > 0 and bucketBins > 0")
    def counts(k: String) = df.filter(col(K) === k)
      .groupBy(floor(col(T) / binUs).cast("long").as("_b"))
      .agg(count(lit(1)).as("_c"))
    val paired = counts(keyA).select(col("_b"), col("_c").as("_x"))
      .join(counts(keyB).select(col("_b").as("_b2"), col("_c").as("_y")),
        col("_b") === col("_b2"))
      .select(floor(col("_b").cast("double") / bucketBins).cast("long")
        .as("bucket"), col("_x"), col("_y"))
    def stats(g: org.apache.spark.sql.RelationalGroupedDataset) = g.agg(
      count(lit(1)).as("n_bins"),
      sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
      sum(col("_x") * col("_x")).as("_sxx"),
      sum(col("_y") * col("_y")).as("_syy"),
      sum(col("_x") * col("_y")).as("_sxy"))
    def rOf(pre: String = ""): org.apache.spark.sql.Column = {
      def c(n: String) = col(pre + n)
      val nD = c("n_bins").cast("double")
      val num = nD * c("_sxy").cast("double") -
        c("_sx").cast("double") * c("_sy").cast("double")
      val vx = nD * c("_sxx").cast("double") -
        c("_sx").cast("double") * c("_sx").cast("double")
      val vy = nD * c("_syy").cast("double") -
        c("_sy").cast("double") * c("_sy").cast("double")
      when(c("n_bins") >= minBins && vx > 0 && vy > 0, num / sqrt(vx * vy))
    }
    val perBucket = stats(paired.groupBy(col("bucket")))
    val statNames = Seq("n_bins", "_sx", "_sy", "_sxx", "_syy", "_sxy")
    val overall = stats(paired.groupBy())
      .select(statNames.map(n => col(n).as("g_" + n)): _*)
    perBucket.crossJoin(broadcast(overall))
      .select(col("bucket"), col("n_bins"),
        round(rOf(), 6).as("r"),
        round(rOf("g_"), 6).as("r_overall"),
        round(rOf() - rOf("g_"), 6).as("dr"))
  }

  /** Theil–Sen robust trend per (key, bucket): the MEDIAN of all
    * pairwise slopes (v₂−v₁)/(t₂−t₁) over point pairs with t₁ < t₂
    * inside the bucket — the classic outlier-resistant alternative to
    * least-squares (Sen 1968, public). Slopes are reported per
    * `perUs` (default per hour) and quantized to the 1e-6 grid BEFORE
    * the median via floor(x·1e6 + ½) — NOT round(x, 6), whose half-up
    * tie-break Spark resolves on the exact binary value while DuckDB
    * resolves on x·1e6 (they disagree when x·1e6's nearest double
    * crosses .5); floor of an identically-computed double is
    * engine-exact. The median itself is the exact interpolated
    * quantile over those longs (mean of the two middles for even n).
    * Zero-duration pairs (equal t) are skipped. Output
    * (key, bucket, n_pairs, slope) with slope back in per-`perUs`
    * units (median/1e6).
    *
    * Scale: the self-join is equi on (key, bucket) with the t₁ < t₂
    * filter, so pair count is O(n²) PER BUCKET, never global — the
    * bucket width is the knob that bounds it (the documented contract;
    * a week of hourly rollups is ~28k pairs). Run it over tier output,
    * not raw events, exactly like [[EventOps.cusum]]. */
  def theilSen(
      df: DataFrame,
      bucketUs: Long = 7L * 86400000000L,
      perUs: Long = 3600000000L): DataFrame = {
    require(bucketUs > 0, s"bucket width $bucketUs must be positive")
    val pts = df.filter(col(V).isNotNull)
      .select(col(K), floor(col(T) / bucketUs).cast("long").as("bucket"),
        col(T), col(V))
    val r = pts.select(col(K).as("_rk"), col("bucket").as("_rb"),
      col(T).as("_t2"), col(V).as("_v2"))
    val slopeU = floor(
      (col("_v2") - col(V)) * perUs * 1e6 / (col("_t2") - col(T)) + 0.5)
      .cast("long")
    pts.join(r,
        pts(K) <=> r("_rk") && pts("bucket") === r("_rb") && pts(T) < r("_t2"))
      .select(col(K), col("bucket"), slopeU.as("_s"))
      .groupBy(col(K), col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        (expr("percentile(_s, 0.5)") / 1e6).as("slope"))
  }

  /** Activity-overlap matrix: for every unordered key pair that is ever
    * co-active, the Jaccard similarity of their ACTIVE-BIN sets ("do
    * these two series tick at the same times") — the exact set-overlap
    * complement of [[crossCorr]]'s value correlation and of the KMV
    * θ-sketch's approximate distinct overlap. Output (key_a, key_b,
    * n_a, n_b, inter, jaccard), key_a < key_b (null keys drop out of
    * pairing, the [[dtwPairs]] rule); pairs with ZERO shared bins are
    * absent by construction — the sparse convention, since at scale the
    * all-pairs zero matrix is the explosion.
    *
    * Scale: the distinct (key, bin) table is span/binUs-bounded per
    * key; the pair generator is an equi-join ON BIN (never an all-pairs
    * cross join), so a bin shared by k keys contributes k·(k−1)/2 rows
    * — bounded by the key universe per bin, the gate a caller controls
    * (like dtwPairs, run it over the flagged subset at 100 TB, and
    * count aggregates shrink it immediately); per-key totals join back
    * broadcast. Jaccard is ONE division on exact longs. */
  def activityOverlap(
      df: DataFrame,
      binUs: Long = 3600000000L): DataFrame = {
    require(binUs > 0, s"bin width $binUs must be positive")
    val bins = df.filter(col(K).isNotNull)
      .select(col(K).cast("string").as(K),
        floor(col(T) / binUs).cast("long").as("_b"))
      .distinct()
    val totals = bins.groupBy(col(K)).agg(count(lit(1)).as("_n"))
    val inter = bins.select(col(K).as("key_a"), col("_b"))
      .join(bins.select(col(K).as("key_b"), col("_b")), Seq("_b"))
      .filter(col("key_a") < col("key_b"))
      .groupBy(col("key_a"), col("key_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(totals.select(col(K).as("key_a"), col("_n").as("n_a"))),
        Seq("key_a"))
      .join(broadcast(totals.select(col(K).as("key_b"), col("_n").as("n_b"))),
        Seq("key_b"))
      .select(col("key_a"), col("key_b"), col("n_a"), col("n_b"),
        col("inter"),
        round(col("inter") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Banded Dynamic Time Warping distance between every unordered pair
    * of keys' binned series (Sakoe–Chiba band, public — Sakoe & Chiba
    * 1978): the similarity measure that tolerates phase shift, the
    * elastic complement of [[crossCorr]]'s fixed-lag Pearson. Each key's
    * series reduces to its `binUs` mean-value grid first (bin means
    * quantized to the 1e-3 grid as longs; absent bins are skipped — the
    * sparse convention of [[autocorr]]); the DP then aligns the value
    * SEQUENCES with L1 cost inside a ±`band` window around the
    * length-normalized diagonal. Cost accumulation is integer-exact
    * (long milli-units end to end; the one double division happens on
    * the final answer) — but the operator registers rows-only with the
    * driver because no SQL engine expresses the DP.
    *
    * Output (key_a, key_b, n_a, n_b, dtw, dtw_per_step) for every pair
    * with both sides nonempty, key_a < key_b (a null key drops out of
    * the pairing — a similarity row for it is meaningless); dtw is null
    * when the band is too narrow to connect the corners (only possible
    * for extreme length ratios with a tiny band). dtw_per_step divides
    * by (n_a + n_b), the usual path-length normalizer.
    *
    * Scale shape: the binned table is |keys| rows with arrays bounded
    * by `maxBins` (exceeding it raises loudly — the mergeGridAudit
    * convention, never a silent truncation); the pair join is
    * |keys|²/2 rows of array pointers; each pair costs
    * O(min(n)·band) on one executor core. Per-pair-sequential /
    * across-pairs-parallel is the shape DTW forces — at 100 TB the key
    * universe is the gate (e.g. the anomaly-flagged subset), and raw
    * point volume never enters the DP, only the |span/binUs|-bounded
    * grid. */
  def dtwPairs(
      df: DataFrame,
      binUs: Long = 3600000000L,
      band: Int = 16,
      maxBins: Int = 65536): DataFrame = {
    require(binUs > 0, s"bin width $binUs must be positive")
    require(band >= 1, s"band $band must be >= 1")
    require(maxBins >= 1, s"maxBins $maxBins must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    // engine-exact bin means: values quantize to the 1e-3 grid per ROW
    // (exact longs), and the bin mean is one deterministic double
    // division of exact integers — avg(double) would reassociate the
    // float sum differently per engine/partitioning and break the
    // DuckDB hash replay (round-4 verdict #6)
    val g = df.filter(col(V).isNotNull && col(K).isNotNull)
      .groupBy(col(K).cast("string").as(K),
        floor(col(T) / binUs).cast("long").as("_b"))
      .agg(sum(floor(col(V) * 1000 + 0.5)).as("_sx"), count(lit(1)).as("_nx"))
      .select(col(K), col("_b"),
        floor(col("_sx").cast("double") / col("_nx").cast("double") + 0.5)
          .cast("long").as("_x"))
    val seqs = g
      .groupBy(col(K))
      .agg(transform(array_sort(collect_list(struct(col("_b"), col("_x")))),
        s => s.getField("_x")).as("_s"))
      .withColumn("_s",
        when(size(col("_s")) <= maxBins, col("_s"))
          .otherwise(raise_error(concat(
            lit(s"dtwPairs: binned series longer than maxBins=$maxBins for key "),
            col(K), lit("; widen binUs or raise maxBins")))))
    val pairs = seqs.select(col(K).as("key_a"), col("_s").as("_xs"))
      .join(seqs.select(col(K).as("key_b"), col("_s").as("_ys")),
        col("key_a") < col("key_b"))
      .as[(String, Seq[Long], String, Seq[Long])]
    pairs
      .map { case (ka, xs, kb, ys) =>
        val d = dtwBanded(xs.toArray, ys.toArray, band)
        (ka, kb, xs.length, ys.length,
          d.map(_ / 1000.0),
          d.map(_ / 1000.0 / (xs.length + ys.length)))
      }
      .toDF("key_a", "key_b", "n_a", "n_b", "dtw", "dtw_per_step")
  }

  /** The banded DP itself: L1 cost on long milli-units, two rolling rows
    * of O(m) state, band centered on the length-normalized diagonal
    * (j ≈ i·m/n). Returns None when no in-band path connects (1,1) to
    * (n,m). INF/2 sentinel keeps the `cost + min(...)` adds overflow-free. */
  /** Duration-weighted Pearson correlation between two series on their
    * as-of-merged segment grid ([[graft.merge.MergeOps.alignPair]]): at
    * every union time both carried-forward values form a segment that
    * lasts until the next union time; each segment contributes its
    * (value_a, value_b) pair weighted by its duration — the correct
    * correlation for UNEVENLY-spaced series, where per-point Pearson
    * over-weights chatty stretches. Segments before both series have
    * started are excluded; the last point spans no segment.
    *
    * Engine-exactness: values snap to the 1e-2 grid, durations to whole
    * seconds (both LONGs, integer `div`), so all six sufficient
    * statistics are exact long sums (bounded: total_secs·max_x² <
    * 2^63/300 at the 1e-2 grid); the final ratio is the fixed double
    * expression of [[autocorr]]. Output (key, n_segments, w_secs, r);
    * r is null on zero weight or zero variance.
    *
    * Scale: the alignPair union-carry plan (one (key[, bucket]) exchange
    * + sort, skew-safe under `bucketBy`) followed by one per-key
    * aggregate with map-side partials. */
  def twPearson(
      a: DataFrame,
      b: DataFrame,
      bucketBy: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val aligned = graft.merge.MergeOps.alignPair(a, b, bucketBy = bucketBy)
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col(K)).orderBy(col(T).asc)
    val segs = aligned
      .withColumn("_nt", lead(col(T), 1).over(ord))
      .filter(col("_nt").isNotNull && col("va").isNotNull &&
        col("vb").isNotNull)
      .select(col(K),
        floor(col("va") * 100 + 0.5).cast("long").as("_xa"),
        floor(col("vb") * 100 + 0.5).cast("long").as("_xb"),
        expr("(_nt - t) div 1000000").as("_ws"))
    val varA = col("w_secs").cast("double") * col("_sxx") -
      col("_sx").cast("double") * col("_sx")
    val varB = col("w_secs").cast("double") * col("_syy") -
      col("_sy").cast("double") * col("_sy")
    segs
      .groupBy(col(K))
      .agg(count(lit(1)).as("n_segments"), sum(col("_ws")).as("w_secs"),
        sum(col("_ws") * col("_xa")).as("_sx"),
        sum(col("_ws") * col("_xb")).as("_sy"),
        sum(col("_ws") * col("_xa") * col("_xa")).as("_sxx"),
        sum(col("_ws") * col("_xb") * col("_xb")).as("_syy"),
        sum(col("_ws") * col("_xa") * col("_xb")).as("_sxy"))
      .select(col(K), col("n_segments"), col("w_secs"),
        when(col("w_secs") > 0 && varA > 0 && varB > 0,
          round((col("w_secs").cast("double") * col("_sxy") -
            col("_sx").cast("double") * col("_sy")) / sqrt(varA * varB), 6))
          .as("r"))
  }

  /** Duration-weighted SPEARMAN correlation: [[twPearson]] on the
    * duration-midranks instead of the values — the robust, monotone-
    * invariant face of the same alignment. Each whole second of a
    * segment counts as one observation of the step function, so the
    * rank of value x is the classic midrank of the per-second
    * expansion, W(<x) + (w(x) + 1) / 2 seconds, kept EXACT in
    * half-units as the long R = 2·W(<x) + w(x) + 1 (ρ is affine-
    * invariant, so the doubling cancels). Rank moments grow as S³–S⁴
    * (S = total seconds) — past int64 — so the sufficient statistics
    * accumulate in decimal(38,0) (exact 128-bit in both engines; the
    * DuckDB oracle mirrors with HUGEINT) and only the final ratio is
    * IEEE. Output (key, n_segments, w_secs, rho); null on zero weight
    * or a constant side.
    *
    * Scale: the twPearson plan plus two (key, distinct-value)-sized
    * rank tables equi-joined back — rank tables are histogram-sized,
    * never row-sized, and broadcast/AQE-friendly. */
  def twSpearman(
      a: DataFrame,
      b: DataFrame,
      bucketBy: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val aligned = graft.merge.MergeOps.alignPair(a, b, bucketBy = bucketBy)
    val ord = Window.partitionBy(col(K)).orderBy(col(T).asc)
    val segs = aligned
      .withColumn("_nt", lead(col(T), 1).over(ord))
      .filter(col("_nt").isNotNull && col("va").isNotNull &&
        col("vb").isNotNull)
      .select(col(K),
        floor(col("va") * 100 + 0.5).cast("long").as("_xa"),
        floor(col("vb") * 100 + 0.5).cast("long").as("_xb"),
        expr("(_nt - t) div 1000000").as("_ws"))
    def ranks(x: String, rk: String, rx: String, r: String) = {
      val cum = Window.partitionBy("_gk").orderBy(col(rx).asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      segs.groupBy(col(K).as("_gk"), col(x).as(rx))
        .agg(sum(col("_ws")).as("_w"))
        .withColumn("_cum", sum(col("_w")).over(cum))
        .select(col("_gk").as(rk), col(rx),
          (lit(2) * (col("_cum") - col("_w")) + col("_w") + 1).as(r))
    }
    val dec = "decimal(38,0)"
    val withRanks = segs
      .join(ranks("_xa", "_rka", "_rxa", "_ra"),
        col(K) <=> col("_rka") && col("_xa") === col("_rxa"))
      .join(ranks("_xb", "_rkb", "_rxb", "_rb"),
        col(K) <=> col("_rkb") && col("_xb") === col("_rxb"))
      .select(col(K), col("_ws"),
        col("_ra").cast(dec).as("_da"), col("_rb").cast(dec).as("_db"))
    val agg = withRanks
      .groupBy(col(K))
      .agg(count(lit(1)).as("n_segments"), sum(col("_ws")).as("w_secs"),
        sum(col("_ws").cast(dec) * col("_da")).as("_sx"),
        sum(col("_ws").cast(dec) * col("_db")).as("_sy"),
        sum(col("_ws").cast(dec) * col("_da") * col("_da")).as("_sxx"),
        sum(col("_ws").cast(dec) * col("_db") * col("_db")).as("_syy"),
        sum(col("_ws").cast(dec) * col("_da") * col("_db")).as("_sxy"))
    val n = col("w_secs").cast(dec)
    val num = (n * col("_sxy") - col("_sx") * col("_sy")).cast("double")
    val va = (n * col("_sxx") - col("_sx") * col("_sx")).cast("double")
    val vb = (n * col("_syy") - col("_sy") * col("_sy")).cast("double")
    agg.select(col(K), col("n_segments"), col("w_secs"),
      when(col("w_secs") > 0 && va > 0 && vb > 0,
        round(num / sqrt(va * vb), 6)).as("rho"))
  }

  /** Mann–Kendall trend test on the bin grid (Mann 1945 / Kendall's τ —
    * the standard nonparametric "is this metric drifting" screen, used
    * where [[theilSen]] gives the magnitude and this gives the
    * SIGNIFICANCE): per key, over the hourly bin means,
    *
    *   S = Σ_{i<j} sign(x_j − x_i),
    *   Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)] / 18
    *
    * (t_g = tied-group sizes), Z = (S∓1)/√Var with the continuity
    * correction, trend called at |Z| > 1.96. S, both variance
    * numerators and the tie table are EXACT LONGS: bin means are the
    * INTEGER floor-division mean of per-point 1e-3-quantized values
    * (not floor(avg(·)) — a float avg can land a hair either side of
    * the grid boundary between engines, and one flipped bin moves S
    * and the tie table); the single √/division is one fixed IEEE
    * expression. Output (key, n_bins, s, n_tied_groups, z, trend ∈
    * increasing/decreasing/no_trend).
    *
    * Scale: the pairwise join is BIN×BIN per key — bounded by the grid
    * (span/bin), never the corpus, exactly like [[autocorr]]'s lag
    * join; the tie table is histogram-sized. Keys with < `minBins`
    * bins or zero variance report null z. */
  def mannKendall(
      df: DataFrame,
      binUs: Long = 3600000000L,
      minBins: Int = 8,
      maxBins: Int = 65536): DataFrame = {
    require(binUs > 0, s"bin width $binUs must be positive")
    require(maxBins >= 1, s"maxBins $maxBins must be >= 1")
    val g = df.filter(col(V).isNotNull)
      .groupBy(col(K), floor(col(T) / binUs).cast("long").as("_b"))
      .agg(sum(floor(col(V) * 1000 + 0.5).cast("long")).as("_q"),
        count(lit(1)).as("_c"))
      .select(col(K), col("_b"), expr("_q div _c").as("_x"))
    val pairs = g.join(
      g.select(col(K).as("_rk"), col("_b").as("_rb"), col("_x").as("_y")),
      g(K) <=> col("_rk") && g("_b") < col("_rb"))
    val sTab = pairs.groupBy(col(K)).agg(
      sum(signum(col("_y") - col("_x")).cast("long")).as("s"))
    // loud O(bins²)-per-key cap (the dtwPairs/rdp contract), riding the
    // ALWAYS-computed per-key bin-count aggregate — zero extra stages or
    // shuffles. nTab is an independent branch of the same action, so the
    // raise aborts the job (cancelling the pair stages) as soon as its
    // tiny stage runs; a guard branch joined onto the pair inputs instead
    // cost 6 extra AQE stages per query here.
    val nTab = g.groupBy(col(K).as("_nk")).agg(count(lit(1)).as("_nbc"))
      .select(col("_nk"),
        when(col("_nbc") <= maxBins, col("_nbc"))
          .otherwise(raise_error(concat(
            lit(s"mannKendall: binned series longer than maxBins=$maxBins for key "),
            col("_nk").cast("string"), lit("; widen binUs or raise maxBins"))))
          .as("n_bins"))
    // tied-group correction: Σ t(t−1)(2t+5) over per-value counts
    val ties = g.groupBy(col(K), col("_x")).agg(count(lit(1)).as("_t"))
      .groupBy(col(K).as("_tk")).agg(
        sum(col("_t") * (col("_t") - 1) * (lit(2) * col("_t") + 5))
          .as("_tc"),
        sum(when(col("_t") > 1, 1L).otherwise(0L)).as("n_tied_groups"))
    val n = col("n_bins")
    val varNum = n * (n - 1) * (lit(2) * n + 5) - col("_tc")
    val varS = varNum.cast("double") / 18.0
    val zRaw = when(col("s") > 0, (col("s") - 1).cast("double") / sqrt(varS))
      .when(col("s") < 0, (col("s") + 1).cast("double") / sqrt(varS))
      .otherwise(lit(0.0))
    sTab
      .join(nTab, col(K) <=> col("_nk"))
      .join(ties, col(K) <=> col("_tk"))
      .withColumn("z",
        when(n >= minBins && varNum > 0, round(zRaw, 6)))
      .select(col(K), col("n_bins"), col("s"), col("n_tied_groups"),
        col("z"),
        when(col("z").isNull, lit(null).cast("string"))
          .when(col("z") > 1.96, lit("increasing"))
          .when(col("z") < -1.96, lit("decreasing"))
          .otherwise(lit("no_trend")).as("trend"))
  }

  /** Seasonal Mann–Kendall (Hirsch, Slack & Smith 1982 — the standard
    * deseasonalized trend screen; public knowledge): [[mannKendall]]
    * computed WITHIN each calendar season (bin index mod `seasons`,
    * e.g. hour-of-day on hourly bins) and summed — S' = Σ_h S_h,
    * Var' = Σ_h Var_h — so a diurnal cycle no longer masquerades as
    * (or masks) a monotone trend: only same-season pairs compare.
    * Same exact-integer contract as q173: integer-floor bin means,
    * long S and variance numerators, tie tables per season, one final
    * IEEE √/division with the continuity correction. Output (key,
    * n_bins, n_seasons, s, z, trend).
    *
    * Scale: the pairwise join is BIN×BIN per (key, season) — 1/seasons
    * the size of plain MK's, with the same grid bound. */
  def seasonalMannKendall(
      df: DataFrame,
      binUs: Long = 3600000000L,
      seasons: Int = 24,
      minBins: Int = 24,
      maxBinsPerSeason: Int = 65536): DataFrame = {
    require(binUs > 0, s"bin width $binUs must be positive")
    require(seasons >= 1, s"seasons $seasons must be >= 1")
    require(maxBinsPerSeason >= 1,
      s"maxBinsPerSeason $maxBinsPerSeason must be >= 1")
    val g = df.filter(col(V).isNotNull)
      .groupBy(col(K), floor(col(T) / binUs).cast("long").as("_b"))
      .agg(sum(floor(col(V) * 1000 + 0.5).cast("long")).as("_q"),
        count(lit(1)).as("_c"))
      .select(col(K), col("_b"), pmod(col("_b"), lit(seasons.toLong)).as("_h"),
        expr("_q div _c").as("_x"))
    val pairs = g.join(
      g.select(col(K).as("_rk"), col("_h").as("_rh"), col("_b").as("_rb"),
        col("_x").as("_y")),
      g(K) <=> col("_rk") && g("_h") === col("_rh") && g("_b") < col("_rb"))
    val sTab = pairs.groupBy(col(K)).agg(
      sum(signum(col("_y") - col("_x")).cast("long")).as("s"))
    // per-season n and tie tables -> per-season variance numerators,
    // summed per key (independence across seasons, Hirsch-Slack)
    // loud O(bins²)-per-(key, season) cap (the dtwPairs/rdp contract),
    // riding the ALWAYS-computed per-season bin counts — zero extra
    // stages; the raise aborts the whole action (see mannKendall's nTab)
    val nSeason = g.groupBy(col(K).as("_nk"), col("_h"))
      .agg(count(lit(1)).as("_n0"))
      .select(col("_nk"), col("_h"),
        when(col("_n0") <= maxBinsPerSeason, col("_n0"))
          .otherwise(raise_error(concat(
            lit("seasonalMannKendall: season bin count over " +
              s"maxBinsPerSeason=$maxBinsPerSeason for key "),
            col("_nk").cast("string"), lit("; widen binUs or raise the cap"))))
          .as("_n"))
    val tieSeason = g.groupBy(col(K), col("_h"), col("_x"))
      .agg(count(lit(1)).as("_t"))
      .groupBy(col(K).as("_tk"), col("_h").as("_th")).agg(
        sum(col("_t") * (col("_t") - 1) * (lit(2) * col("_t") + 5))
          .as("_tc"))
    val varTab = nSeason
      .join(tieSeason,
        col("_nk") <=> col("_tk") && col("_h") === col("_th"), "left")
      .groupBy(col("_nk")).agg(
        sum(col("_n")).as("n_bins"),
        count(lit(1)).as("n_seasons"),
        sum(col("_n") * (col("_n") - 1) * (lit(2) * col("_n") + 5)
          - coalesce(col("_tc"), lit(0L))).as("_vn"))
    val varS = col("_vn").cast("double") / 18.0
    val zRaw = when(col("s") > 0, (col("s") - 1).cast("double") / sqrt(varS))
      .when(col("s") < 0, (col("s") + 1).cast("double") / sqrt(varS))
      .otherwise(lit(0.0))
    sTab
      .join(varTab, col(K) <=> col("_nk"))
      .withColumn("z",
        when(col("n_bins") >= minBins && col("_vn") > 0, round(zRaw, 6)))
      .select(col(K), col("n_bins"), col("n_seasons"), col("s"), col("z"),
        when(col("z").isNull, lit(null).cast("string"))
          .when(col("z") > 1.96, lit("increasing"))
          .when(col("z") < -1.96, lit("decreasing"))
          .otherwise(lit("no_trend")).as("trend"))
  }

  /** Siegel repeated-median slope (Siegel 1982 — public knowledge):
    * slope = median_i( median_{j≠i} (x_j − x_i)/(b_j − b_i) ) over the
    * hourly bin-mean grid — the 50%-breakdown robust trend estimator
    * beside [[theilSen]]'s 29% (a majority of corrupted points still
    * cannot move it). Pairwise slopes land on the 1e-6-value-per-hour
    * grid via one floor of a deterministic double division of exact
    * integers; both medians are LOWER medians selected by rank
    * (k = (m+1) div 2), so every step replays engine-exactly — no
    * interpolating percentile. Keys with fewer than `minBins` bins are
    * dropped. Output (key, n_bins, slope_per_hr).
    *
    * Scale: the BIN×BIN pair join per key is grid-bounded (the q173
    * Mann–Kendall gate); the two median selections are one window
    * rank each over pair rows and bin rows respectively. */
  def siegelSlope(
      df: DataFrame,
      binUs: Long = 3600000000L,
      minBins: Int = 8,
      maxBins: Int = 65536): DataFrame = {
    require(binUs > 0, s"bin width $binUs must be positive")
    require(maxBins >= 1, s"maxBins $maxBins must be >= 1")
    val g0 = df.filter(col(V).isNotNull)
      .groupBy(col(K), floor(col(T) / binUs).cast("long").as("_b"))
      .agg(sum(floor(col(V) * 1000 + 0.5).cast("long")).as("_q"),
        count(lit(1)).as("_c"))
      .select(col(K), col("_b"), expr("_q div _c").as("_x"))
    // loud O(bins²)-per-key cap (the dtwPairs/rdp contract): siegel has no
    // always-computed per-key aggregate to ride (unlike mannKendall's
    // nTab), so the LEFT pair-join input carries the guard via a tiny
    // broadcast-joined count — a guarded left row raises before emitting
    // its pair fan-out, pre-empting the explosion; the right side stays
    // the unguarded subtree so only one branch pays the broadcast.
    val nb = g0.groupBy(col(K).as("_gk")).agg(count(lit(1)).as("_nb"))
    val g = g0.join(broadcast(nb), col(K) <=> col("_gk"))
      .withColumn("_x",
        when(col("_nb") <= maxBins, col("_x"))
          .otherwise(raise_error(concat(
            lit(s"siegelSlope: binned series longer than maxBins=$maxBins for key "),
            col(K).cast("string"), lit("; widen binUs or raise maxBins")))))
      .drop("_gk", "_nb")
    val r = g0.select(col(K).as("_rk"), col("_b").as("_rb"),
      col("_x").as("_y"))
    val pairs = g.join(r, g(K) <=> col("_rk") && g("_b") =!= col("_rb"))
      .withColumn("_s",
        floor(((col("_y") - col("_x")) * 1000).cast("double")
          / (col("_rb") - col("_b")).cast("double")).cast("long"))
    val wIn = Window.partitionBy(col(K), col("_b")).orderBy(col("_s").asc)
    val inner = pairs
      .withColumn("_rn", row_number().over(wIn))
      .withColumn("_cnt",
        count(lit(1)).over(Window.partitionBy(col(K), col("_b"))))
      .filter(col("_rn") === expr("(_cnt + 1) div 2"))
      .select(col(K), col("_b"), col("_s").as("_med"))
    val wOut = Window.partitionBy(col(K))
      .orderBy(col("_med").asc, col("_b").asc)
    inner
      .withColumn("_rn", row_number().over(wOut))
      .withColumn("_cnt", count(lit(1)).over(Window.partitionBy(col(K))))
      .filter(col("_rn") === expr("(_cnt + 1) div 2")
        && col("_cnt") >= minBins)
      .select(col(K), col("_cnt").as("n_bins"),
        round(col("_med") / 1e6, 6).as("slope_per_hr"))
  }

  /** Burstiness and memory of the inter-event process (Goh & Barabási,
    * EPL 2008 — the standard two-number characterization of an event
    * stream): over each key's whole-second gaps,
    *
    *   B = (σ − μ)/(σ + μ)   — −1 regular, 0 Poisson, →1 bursty
    *   M = Pearson(gap_i, gap_{i+1})   — do long gaps follow long gaps
    *
    * B reduces to the EXACT form (√A − Σx)/(√A + Σx) with A = n·Σx² −
    * (Σx)² (σ/μ = √A/Σx, the n's cancel), so both numbers are fixed
    * IEEE expressions over decimal(38,0)-exact sufficient statistics
    * (gap squares overflow int64 at month-long spans; the oracle
    * mirrors in HUGEINT). Keys report null B on zero mean gap (all
    * simultaneous) and null M with < `minPairs` consecutive pairs or a
    * constant side. Output (key, n_gaps, mean_gap_s, burstiness,
    * memory).
    *
    * Scale: one per-key lag window + two aggregates — the
    * interEventTimes shape. */
  def burstiness(
      df: DataFrame,
      minPairs: Int = 8): DataFrame = {
    val dec = "decimal(38,0)"
    val pts = df.select(col(K), col(T)).distinct()
    val wk = Window.partitionBy(col(K)).orderBy(col(T).asc)
    val gaps = pts
      .withColumn("_pt", lag(col(T), 1).over(wk))
      .filter(col("_pt").isNotNull)
      .withColumn("_g", expr("(t - _pt) div 1000000").cast(dec))
      .withColumn("_ng", lead(col("_g"), 1).over(wk))
    val agg = gaps.groupBy(col(K)).agg(
      count(lit(1)).as("n_gaps"),
      sum(col("_g")).as("_sx"), sum(col("_g") * col("_g")).as("_sxx"),
      count(col("_ng")).as("_np"),
      sum(when(col("_ng").isNotNull, col("_g"))).as("_px"),
      sum(col("_ng")).as("_py"),
      sum(when(col("_ng").isNotNull, col("_g") * col("_g"))).as("_pxx"),
      sum(col("_ng") * col("_ng")).as("_pyy"),
      sum(col("_g") * col("_ng")).as("_pxy"))
    val n = col("n_gaps").cast(dec)
    val a = (n * col("_sxx") - col("_sx") * col("_sx")).cast("double")
    val sx = col("_sx").cast("double")
    val np = col("_np").cast(dec)
    val mva = (np * col("_pxx") - col("_px") * col("_px")).cast("double")
    val mvb = (np * col("_pyy") - col("_py") * col("_py")).cast("double")
    val mnum = (np * col("_pxy") - col("_px") * col("_py")).cast("double")
    agg.select(col(K), col("n_gaps"),
      round(sx / col("n_gaps"), 6).as("mean_gap_s"),
      when(col("_sx") > 0,
        round((sqrt(a) - sx) / (sqrt(a) + sx), 6)).as("burstiness"),
      when(col("_np") >= minPairs && mva > 0 && mvb > 0,
        round(mnum / sqrt(mva * mvb), 6)).as("memory"))
  }

  /** Cross-sectional correlation MATRIX on the bin grid: the
    * contemporaneous Pearson r for EVERY unordered key pair over bins
    * where both keys have data — "which fleet metrics co-move",
    * generalizing [[crossCorr]]'s single designated pair at lag 0 to
    * the whole key universe in one self-join. Bin means are the exact
    * integer floor-division means of [[mannKendall]]; all six
    * sufficient statistics are exact longs per pair; key order in a
    * pair is lexicographic (key_a < key_b). Pairs with < `minBins`
    * common bins or a constant side report null r. Output (key_a,
    * key_b, n_bins, r).
    *
    * Scale: the self-join is bins×keys against itself ON THE BIN ID —
    * output is pairs×common-bins, bounded by (#keys choose 2)·grid,
    * never raw rows; a fleet too wide for that materializes the
    * per-bin vector instead (map form), the documented next gear. */
  def corrMatrix(
      df: DataFrame,
      binUs: Long = 3600000000L,
      minBins: Int = 8): DataFrame = {
    require(binUs > 0, s"bin width $binUs must be positive")
    val g = df.filter(col(V).isNotNull)
      .groupBy(col(K), floor(col(T) / binUs).cast("long").as("_b"))
      .agg(sum(floor(col(V) * 1000 + 0.5).cast("long")).as("_q"),
        count(lit(1)).as("_c"))
      .select(col(K), col("_b"), expr("_q div _c").as("_x"))
    val r = g.select(col(K).as("_rk"), col("_b").as("_rb"),
      col("_x").as("_y"))
    val pairs = g.join(r, col("_b") === col("_rb") && col(K) < col("_rk"))
    val s = pairs.groupBy(col(K).as("key_a"), col("_rk").as("key_b")).agg(
      count(lit(1)).as("n_bins"),
      sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
      sum(col("_x") * col("_x")).as("_sxx"),
      sum(col("_y") * col("_y")).as("_syy"),
      sum(col("_x") * col("_y")).as("_sxy"))
    val nD = col("n_bins").cast("double")
    val num = nD * col("_sxy").cast("double") -
      col("_sx").cast("double") * col("_sy").cast("double")
    val varX = nD * col("_sxx").cast("double") -
      col("_sx").cast("double") * col("_sx").cast("double")
    val varY = nD * col("_syy").cast("double") -
      col("_sy").cast("double") * col("_sy").cast("double")
    s.select(col("key_a"), col("key_b"), col("n_bins"),
      when(col("n_bins") >= minBins && varX > 0 && varY > 0,
        round(num / sqrt(varX * varY), 6)).as("r"))
  }

  /** Dominant-cycle detection: the lag (in bins) whose autocorrelation
    * is largest, with the white-noise significance gate |r| >
    * 1.96/√n_pairs — "does this metric have a daily/weekly rhythm, and
    * at what period", composed directly on [[autocorr]]'s exact lag
    * table. Ties break to the SMALLEST lag (the fundamental, not its
    * harmonics, when equal). Output (key, best_lag, n_pairs, r,
    * significant 0/1); keys where no lag yields a defined r drop. */
  def dominantPeriod(
      df: DataFrame,
      maxLag: Int = 48,
      binUs: Long = 3600000000L,
      minPairs: Int = 8): DataFrame = {
    require(maxLag >= 1, s"maxLag $maxLag must be >= 1")
    val acf = autocorr(df, 1 to maxLag, binUs, minPairs)
      .filter(col("r").isNotNull)
    acf.groupBy(col(K)).agg(
      max(struct(col("r"), (-col("lag")).as("_nl"),
        col("n_pairs").as("_np"))).as("_m"))
      .select(col(K), (-col("_m").getField("_nl")).as("best_lag"),
        col("_m").getField("_np").as("n_pairs"),
        col("_m").getField("r").as("r"),
        (abs(col("_m").getField("r")) * sqrt(col("_m").getField("_np")
          .cast("double")) > 1.96).cast("long").as("significant"))
  }

  /** Haar wavelet scale-energy fingerprint on the bin grid: at each
    * dyadic scale 2^k bins (k = 1..`levels`), the energy of the Haar
    * detail coefficients — Σ over aligned blocks of (S_left − S_right)²
    * where S are the block-half sums of the hourly bin totals. The
    * energy-by-scale profile says WHERE a key's variability lives
    * (hour-to-hour jitter vs day-scale swings) — the multi-resolution
    * companion to [[autocorr]]. All integer: bin totals are exact
    * 1e-3-grid long sums over EMPTY-AS-ZERO dyadic positions (absent
    * bins contribute 0, so blocks never silently shrink), energies are
    * exact long squares; only the per-key share normalization divides.
    * Ragged tails (incomplete trailing blocks) drop, per scale. Output
    * (key, level, n_blocks, energy, share); share is null when the key
    * has zero total energy across the levels.
    *
    * Scale: `levels` grid-bounded aggregates (each one groupBy over
    * bins >> k — bin-sized frames, never row-sized) + one per-key
    * total join. */
  def haarEnergy(
      df: DataFrame,
      binUs: Long = 3600000000L,
      levels: Int = 4): DataFrame = {
    require(binUs > 0, s"bin width $binUs must be positive")
    require(levels >= 1 && levels <= 20, s"levels $levels out of range")
    val bins = df.filter(col(V).isNotNull)
      .groupBy(col(K), floor(col(T) / binUs).cast("long").as("_b"))
      .agg(sum(floor(col(V) * 1000 + 0.5).cast("long")).as("_s"))
    // rebase bins per key so dyadic blocks align at the key's first bin
    val based = bins
      .withColumn("_b0", min(col("_b")).over(Window.partitionBy(col(K))))
      .withColumn("_i", col("_b") - col("_b0"))
      .withColumn("_span",
        max(col("_b")).over(Window.partitionBy(col(K))) - col("_b0") + 1)
    val perLevel = (1 to levels).map { k =>
      val block = 1L << k // 2^k bins per block
      val nBlocks = floor(col("_span") / block)
      based
        .filter(col("_i") < nBlocks * block) // drop the ragged tail
        .withColumn("_blk", floor(col("_i") / block).cast("long"))
        .withColumn("_half",
          when(col("_i") % block < (block / 2), 1L).otherwise(-1L))
        .groupBy(col(K), col("_blk"))
        .agg(sum(col("_half") * col("_s")).as("_d"),
          first(nBlocks).as("_nb"))
        .groupBy(col(K))
        .agg(sum(col("_d") * col("_d")).as("energy"),
          first(col("_nb")).cast("long").as("n_blocks"))
        .select(col(K), lit(k).as("level"), col("n_blocks"), col("energy"))
    }
    val all = perLevel.reduce(_ unionByName _)
    val tot = all.groupBy(col(K).as("_tk"))
      .agg(sum(col("energy")).as("_te"))
    all.join(tot, col(K) <=> col("_tk"))
      .select(col(K), col("level"), col("n_blocks"), col("energy"),
        when(col("_te") > 0,
          round(col("energy").cast("double") / col("_te"), 6)).as("share"))
  }

  /** Permutation entropy (Bandt & Pompe 2002, order-3) on the bin
    * grid: the complexity/irregularity score of each key's bin-mean
    * sequence — the Shannon entropy of the distribution of ORDER
    * PATTERNS of consecutive value triples, normalized by log₂6
    * (0 = perfectly monotone/regular, 1 = pattern-uniform noise).
    * Ties break by position (the Bandt–Pompe convention), so each
    * triple's pattern is a pure integer expression: element ranks
    * r_a = [b<a]+[c<a], r_b = [a≤b]+[c<b], r_c = [a≤c]+[b≤c], code =
    * 9r_a+3r_b+r_c (six valid codes 5,7,11,15,19,21). Pattern counts
    * are exact longs; the entropy is an EXPLICIT fixed-order six-term
    * sum (never an engine-ordered float aggregate), bin means are the
    * integer floor-division means of [[mannKendall]]. Output (key,
    * n_triples, n_patterns, top_code, h_norm); keys with <
    * `minTriples` triples report null entropy. Top pattern ties break
    * to the smallest code.
    *
    * Scale: one bin aggregate + one two-lead window over the grid-
    * bounded bin sequence + one 6-row-per-key aggregate. */
  def permutationEntropy(
      df: DataFrame,
      binUs: Long = 3600000000L,
      minTriples: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(binUs > 0, s"bin width $binUs must be positive")
    val g = df.filter(col(V).isNotNull)
      .groupBy(col(K), floor(col(T) / binUs).cast("long").as("_b"))
      .agg(sum(floor(col(V) * 1000 + 0.5).cast("long")).as("_q"),
        count(lit(1)).as("_c"))
      .select(col(K), col("_b"), expr("_q div _c").as("_x"))
    val w = Window.partitionBy(col(K)).orderBy(col("_b").asc)
    val tri = g
      .withColumn("_y", lead(col("_x"), 1).over(w))
      .withColumn("_z", lead(col("_x"), 2).over(w))
      .filter(col("_z").isNotNull)
    val ra = (col("_y") < col("_x")).cast("int") +
      (col("_z") < col("_x")).cast("int")
    val rb = (col("_x") <= col("_y")).cast("int") +
      (col("_z") < col("_y")).cast("int")
    val rc = (col("_x") <= col("_z")).cast("int") +
      (col("_y") <= col("_z")).cast("int")
    val counted = tri
      .withColumn("_p", ra * 9 + rb * 3 + rc)
      .groupBy(col(K), col("_p")).agg(count(lit(1)).as("_n"))
    val codes = Seq(5, 7, 11, 15, 19, 21)
    val aggCols = codes.map(c0 =>
      coalesce(sum(when(col("_p") === c0, col("_n"))), lit(0L))
        .as(s"_n$c0")) ++ Seq(
      count(lit(1)).as("n_patterns"),
      max(struct(col("_n"), (-col("_p")).as("_np"))).as("_top"))
    val agg = counted.groupBy(col(K))
      .agg(sum(col("_n")).as("n_triples"), aggCols: _*)
    val nD = col("n_triples").cast("double")
    def term(c0: Int) = {
      val p = col(s"_n$c0").cast("double") / nD
      when(col(s"_n$c0") > 0, -(p * log2(p))).otherwise(lit(0.0))
    }
    // fixed-order six-term sum: never an engine-ordered float aggregate
    val h = codes.map(term).reduce(_ + _)
    agg.select(col(K), col("n_triples"), col("n_patterns"),
      (-col("_top").getField("_np")).as("top_code"),
      when(col("n_triples") >= minTriples,
        // log₂6 hardcoded as its correctly-rounded double (the LN2S
        // philosophy: no runtime transcendental on a constant)
        round(h / 2.584962500721156, 6)).as("h_norm"))
  }

  /** Exact single-breakpoint segmented regression (structural-break /
    * "broken-stick" detection, the Chow-test shape): per key, the split
    * point that minimizes total residual sum of squares when an OLS
    * line is fit separately to the left and right of it — found
    * EXACTLY, in one pass, by evaluating every candidate split from
    * prefix sums. With the six running sufficient statistics (n, Σx,
    * Σy, Σx², Σy², Σxy — x = whole seconds since the key's first
    * point, y the 1e-3-quantized value) every prefix OLS is O(1):
    * RSS = (C − B²/A)/n with A = n·Σx²−(Σx)², B = n·Σxy−Σx·Σy,
    * C = n·Σy²−(Σy)²; suffix statistics are totals minus prefixes.
    * Unlike a changepoint scan that tests means ([[graft.events
    * .EventOps.levelShift]]) this detects SLOPE breaks (a ramp that
    * steepens), the regression companion to [[theilSen]]/olsTrend.
    *
    * Engine-exactness: prefixes are exact decimal(38,0) sums (x² sums
    * overflow int64 at month-long spans; the oracle mirrors in
    * HUGEINT); A, B, C are exact 128-bit values cast once to double,
    * and the RSS combination is the same fixed IEEE expression in both
    * engines, so the argmin (tie → earliest split) agrees bit-for-bit.
    * A degenerate side (all-equal x, A = 0) scores its variance C/n —
    * the best constant fit. Splits leave ≥ `minSeg` points per side.
    * Output (key, n, break_t, rss_full, rss_split, gain): break_t =
    * last point of the left segment; keys with < 2·minSeg points drop.
    *
    * Scale: one per-key sort carrying six running sums + one per-key
    * total frame + one argmin aggregate — the cumulative-window tier
    * shape; a pathological single-key corpus would bucket the prefix
    * sums through [[graft.core.BucketedOps]] handoffs. */
  def segmentedTrend(df: DataFrame, minSeg: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minSeg >= 2, s"minSeg $minSeg must be >= 2")
    val dec = "decimal(38,0)"
    val pts = df.filter(col(V).isNotNull)
      .groupBy(col(K), col(T)).agg(max(col(V)).as(V))
    val wkAll = Window.partitionBy(col(K))
    val wk = wkAll.orderBy(col(T).asc)
    val run = wk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = pts
      .withColumn("_x",
        expr("(t - min(t) OVER (PARTITION BY key)) div 1000000")
          .cast(dec))
      .withColumn("_y", floor(col(V) * 1000 + 0.5).cast("long").cast(dec))
      .withColumn("_i", row_number().over(wk))
      .withColumn("_n", count(lit(1)).over(wkAll))
    def sums(c: org.apache.spark.sql.Column, p: String) = Seq(
      sum(c).over(run).as(s"_p$p"), sum(c).over(wkAll).as(s"_t$p"))
    val pref = base.select(
      (Seq(col(K), col(T), col("_i"), col("_n")) ++
        sums(col("_x"), "x") ++ sums(col("_y"), "y") ++
        sums(col("_x") * col("_x"), "xx") ++
        sums(col("_y") * col("_y"), "yy") ++
        sums(col("_x") * col("_y"), "xy")): _*)
    // RSS of the OLS fit on a segment given its exact decimal stats
    def rss(n: org.apache.spark.sql.Column, sx: org.apache.spark.sql.Column,
        sy: org.apache.spark.sql.Column, sxx: org.apache.spark.sql.Column,
        syy: org.apache.spark.sql.Column, sxy: org.apache.spark.sql.Column) = {
      val nd = n.cast(dec)
      val a = (nd * sxx - sx * sx).cast("double")
      val b = (nd * sxy - sx * sy).cast("double")
      val c = (nd * syy - sy * sy).cast("double")
      when(a > 0, (c - b * b / a) / n.cast("double"))
        .otherwise(c / n.cast("double"))
    }
    val nl = col("_i"); val nr = col("_n") - col("_i")
    val scored = pref
      .filter(col("_i") >= minSeg && col("_n") - col("_i") >= minSeg)
      .withColumn("_rl", rss(nl, col("_px"), col("_py"), col("_pxx"),
        col("_pyy"), col("_pxy")))
      .withColumn("_rr", rss(nr, col("_tx") - col("_px"),
        col("_ty") - col("_py"), col("_txx") - col("_pxx"),
        col("_tyy") - col("_pyy"), col("_txy") - col("_pxy")))
      .withColumn("_rs", col("_rl") + col("_rr"))
      .withColumn("_r0", rss(col("_n"), col("_tx"), col("_ty"),
        col("_txx"), col("_tyy"), col("_txy")))
    scored
      .groupBy(col(K))
      .agg(first(col("_n")).as("n"), first(col("_r0")).as("_f0"),
        min(struct(col("_rs"), col(T))).as("_m"))
      .select(col(K), col("n"), col("_m").getField(T).as("break_t"),
        // rss magnitudes reach 1e13 (milli-value² units): round(x, 6)
        // diverges between engines there (decimal-string vs numeric
        // rounding), but floor of IDENTICAL IEEE doubles cannot — so
        // the report quantizes to whole milli-value² units
        floor(col("_f0")).cast("long").as("rss_full"),
        floor(col("_m").getField("_rs")).cast("long").as("rss_split"),
        (floor(col("_f0")).cast("long") -
          floor(col("_m").getField("_rs")).cast("long")).as("gain"))
  }

  private[graft] def dtwBanded(
      x: Array[Long], y: Array[Long], band: Int): Option[Long] = {
    val n = x.length
    val m = y.length
    if (n == 0 || m == 0) return None
    val INF = Long.MaxValue / 4
    var prev = Array.fill(m + 1)(INF)
    var curr = Array.fill(m + 1)(INF)
    prev(0) = 0L
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(curr, INF)
      val center = ((i.toLong * m) / n).toInt
      val lo = math.max(1, center - band)
      val hi = math.min(m, center + band)
      var j = lo
      while (j <= hi) {
        val best = math.min(prev(j), math.min(prev(j - 1), curr(j - 1)))
        if (best < INF) curr(j) = math.abs(x(i - 1) - y(j - 1)) + best
        j += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    if (prev(m) >= INF) None else Some(prev(m))
  }
}
