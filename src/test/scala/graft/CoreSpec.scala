package graft

import graft.core.SeriesOps
import org.apache.spark.sql.functions._

class CoreSpec extends SparkSpec {
  val ts5 = Seq((1.0, Some(2.0)), (2.0, Some(3.0)), (6.0, Some(1.0)), (8.0, Some(4.0)))

  test("segmentsInRange covers [start,end) with as-of boundaries") {
    val segs = SeriesOps
      .segmentsInRange(seriesD(ts5), lit(1.5), lit(7.0), lit(null).cast("double"))
      .select("t0", "t1", "v")
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(segs.toSeq == Seq((1.5, 2.0, 2.0), (2.0, 6.0, 3.0), (6.0, 7.0, 1.0)))
  }

  test("segmentsInRange before first point uses default") {
    val segs = SeriesOps
      .segmentsInRange(seriesD(ts5), lit(0.0), lit(2.0), lit(9.0))
      .select("t0", "t1", "v")
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(segs.toSeq == Seq((0.0, 1.0, 9.0), (1.0, 2.0, 2.0)))
  }

  test("segmentsInRange on key with no points in range emits default segment") {
    // after: points only at/after end (one exactly at end); before: points
    // only before start; atStart: a point exactly at start
    val df = seriesD(Seq((10.0, Some(1.0)), (12.0, Some(2.0)), (100.0, Some(1.0))), "after")
      .unionByName(seriesD(Seq((-3.0, Some(7.0)), (-1.0, Some(8.0))), "before"))
      .unionByName(seriesD(Seq((0.0, Some(3.0)), (4.0, Some(6.0))), "atStart"))
    val segs = SeriesOps
      .segmentsInRange(df, lit(0.0), lit(10.0), lit(5.0))
      .select("key", "t0", "t1", "v", "p0").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        Option.when(!r.isNullAt(4))(r.getDouble(4))))
      .groupBy(_._1).map { case (k, rs) => k -> rs.map(r => (r._2, r._3, r._4, r._5)).sortBy(_._1).toSeq }
    assert(segs == Map(
      "after" -> Seq((0.0, 10.0, 5.0, None)),
      "before" -> Seq((0.0, 10.0, 8.0, Some(-1.0))),
      "atStart" -> Seq((0.0, 4.0, 3.0, Some(0.0)), (4.0, 10.0, 6.0, Some(4.0)))))
  }

  test("compact drops repeated values incl nulls (traces compact)") {
    val df = seriesD(Seq(
      (0.0, Some(1.0)), (1.0, Some(1.0)), (2.0, Some(2.0)), (3.0, None),
      (4.0, None), (5.0, Some(2.0))))
    assert(collectTV(SeriesOps.compact(df)) ==
      Seq((0.0, Some(1.0)), (2.0, Some(2.0)), (3.0, None), (5.0, Some(2.0))))
  }

  test("slice matches reference golden") {
    val out = SeriesOps.sliceSeries(seriesD(ts5), lit(1.5), lit(7.0), lit(null).cast("double"))
    approxEq(collectTV(out), Goldens.sliceGolden)
  }

  test("set_interval (slice assign) matches reference golden") {
    val out = SeriesOps.setInterval(seriesD(ts5), lit(2.5), lit(7.0), lit(5.0), lit(null).cast("double"))
    approxEq(collectTV(out), Goldens.setIntervalGolden)
  }

  test("n_points flag matrix (tests/test_methods.py:290-322)") {
    val df = seriesD(Seq((0.0, Some(4.0)), (1.0, Some(2.0)), (2.0, Some(1.0)), (5.0, Some(2.0)), (8.0, Some(4.0))))
    def np(s: Double, e: Double, is: Boolean, ie: Boolean): Long =
      SeriesOps.nPoints(df, lit(s), lit(e), is, ie).collect().headOption.map(_.getLong(1)).getOrElse(0L)
    assert(np(0, 8, false, false) == 3)
    assert(np(0, 8, false, true) == 4)
    assert(np(0, 8, true, false) == 4)
    assert(np(0, 8, true, true) == 5)
    assert(np(1, 8, false, false) == 2)
    assert(np(1, 8, true, true) == 4)
  }

  test("dedupe keeps last write per (key,t)") {
    val s = spark
    import s.implicits._
    val df = Seq(("s", 1.0, 1.0, 1L), ("s", 1.0, 2.0, 2L), ("s", 2.0, 5.0, 1L))
      .toDF("key", "t", "v", "seq")
    val out = SeriesOps.dedupe(df, col("seq")).orderBy("t").select("v").collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(2.0, 5.0))
  }

  test("seriesEqualsBy(checkUnique) errors loudly on duplicate (key,t) input") {
    val s2 = spark
    import s2.implicits._
    val good = seriesD(Seq(1.0 -> Some(1.0), 2.0 -> Some(2.0)))
    val dup = Seq(("s", 1.0, 1.0), ("s", 1.0, 1.0)).toDF("key", "t", "v")
    // clean inputs pass through the guard unchanged
    val ok = graft.core.SeriesOps.seriesEqualsBy(good, good, checkUnique = true).collect()
    assert(ok.forall(_.getBoolean(1)))
    val e = intercept[Exception] {
      graft.core.SeriesOps.seriesEqualsBy(dup, good, checkUnique = true).collect()
    }
    assert(e.getMessage != null)
  }
}
