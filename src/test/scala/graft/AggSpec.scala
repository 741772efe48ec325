package graft

import graft.agg.AggOps
import graft.core.SeriesOps
import org.apache.spark.sql.functions._

class AggSpec extends SparkSpec {
  private val nullD = lit(null).cast("double")

  def distMap(df: org.apache.spark.sql.DataFrame): Map[Option[Double], Double] =
    df.select("v", "weight")
      .collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getDouble(0))) -> r.get(1).toString.toDouble)
      .toMap

  test("integer-time distribution normalized (test_distribution.py:86-97)") {
    val df = seriesD(Seq((0.0, Some(1.0)), (1.0, Some(0.0)), (3.0, Some(1.0)), (4.0, Some(0.0))))
    val segs = SeriesOps.segmentsInRange(df, lit(0.0), lit(6.0), nullD)
    val d = distMap(AggOps.distribution(segs, normalized = true))
    Goldens.distIntNorm.foreach { case (k, w) =>
      assert(math.abs(d(Some(k)) - w) < 1e-12, s"$k: ${d(Some(k))} vs $w")
    }
  }

  test("datetime distribution unnormalized seconds (test_distribution.py:8-31)") {
    val us = 1000000L
    def dt(day: Int): Long = (java.time.LocalDate.of(2015, 3, day).toEpochDay * 86400L) * us
    val df = seriesL(Seq((dt(1), Some(1.0)), (dt(2), Some(0.0)), (dt(3), Some(1.0)), (dt(4), Some(0.0))))
    val segs = SeriesOps.segmentsInRange(df, lit(dt(1)), lit(dt(5)), nullD)
    val d = distMap(AggOps.distribution(segs, normalized = false))
    Goldens.distDtUnnorm.foreach { case (k, secs) =>
      assert(d(Some(k)) / 1e6 == secs)
    }
  }

  test("masked distribution (test_distribution.py:51-83)") {
    val us = 1000000L
    def dt(m: Int, day: Int): Long = (java.time.LocalDate.of(2015, m, day).toEpochDay * 86400L) * us
    val df = seriesL(Seq(
      (dt(3, 1), Some(1.0)), (dt(4, 2), Some(0.0)), (dt(4, 3), Some(1.0)), (dt(4, 4), Some(0.0))))
    val maskSeries = seriesL(Seq((dt(4, 1), Some(1.0)), (dt(4, 3), Some(0.0))))
    val mask = SeriesOps
      .trueIntervals(maskSeries, lit(dt(3, 1)), lit(dt(4, 5)), lit(0.0))
      .drop("key")
    val segs = SeriesOps.intersectMask(
      SeriesOps.segmentsInRange(df, lit(dt(3, 1)), lit(dt(4, 5)), nullD), mask)
    val d = distMap(AggOps.distribution(segs, normalized = false))
    Goldens.distMaskUnnorm.foreach { case (k, secs) => assert(d(Some(k)) / 1e6 == secs) }
    val n = distMap(AggOps.distribution(segs, normalized = true))
    assert(math.abs(n(Some(0.0)) - 0.5) < 1e-12 && math.abs(n(Some(1.0)) - 0.5) < 1e-12)
  }

  test("linear mean with and without mask (test_methods.py:69-88)") {
    val df = seriesD(Seq((0.0, Some(0.0)), (1.0, Some(0.0)), (3.0, Some(20.0))))
    val segs = SeriesOps.segmentsInRange(df, lit(0.0), lit(2.0), nullD)
    val m1 = AggOps.timeWeightedMean(segs, "linear").collect().head.getDouble(1)
    assert(math.abs(m1 - Goldens.meanLinear02) < 1e-12)

    val maskSeries = seriesD(Seq((0.0, Some(1.0)), (0.5, Some(0.0)), (1.0, Some(1.0)), (3.0, Some(0.0))))
    def maskedMean(endT: Double): Double = {
      val mask = SeriesOps.trueIntervals(maskSeries, lit(0.0), lit(endT), lit(0.0)).drop("key")
      val s = SeriesOps.intersectMask(
        SeriesOps.segmentsInRange(df, lit(0.0), lit(endT), nullD), mask)
      AggOps.timeWeightedMean(s, "linear").collect().head.getDouble(1)
    }
    assert(math.abs(maskedMean(2.0) - Goldens.meanLinearMask02) < 1e-9)
    assert(math.abs(maskedMean(3.0) - Goldens.meanLinearMask03) < 1e-9)
  }

  test("distribution keeps null (None) values as a weight class") {
    val df = seriesD(Seq((0.0, None), (1.0, Some(5.0)), (2.0, Some(6.0)), (3.0, None), (9.0, Some(7.0))))
    val segs = SeriesOps.segmentsInRange(df, lit(0.0), lit(10.0), nullD)
    val d = distMap(AggOps.distribution(segs, normalized = true))
    assert(d.contains(None))
    // histogram stats discard the None class (tests/test_histogram.py:31-60)
    val stats = AggOps.histogramStats(AggOps.distribution(segs, normalized = true)).collect().head
    assert(stats.getAs[Double]("mean") == Goldens.histNoneMean)
    assert(stats.getAs[Double]("min") == Goldens.histNoneMin)
    assert(stats.getAs[Double]("max") == Goldens.histNoneMax)
  }
}
