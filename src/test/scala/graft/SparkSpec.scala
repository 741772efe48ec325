package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + fixture helpers for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` in a job group of its own and returns its result with the
    * number of Spark jobs it started: a marker job's status is delivered
    * after any the body started. */
  def countJobs[A](what: String)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val (group, marker) = (s"jobs-${java.util.UUID.randomUUID}", s"marker-${java.util.UUID.randomUUID}")
    sc.setJobGroup(group, what)
    val out = try body finally sc.setJobGroup(marker, "marker")
    spark.range(1).count()
    sc.clearJobGroup()
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty) Thread.sleep(10)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  /** Runs `body` and asserts it started no Spark job. */
  def assertNoJob[A](what: String)(body: => A): A = {
    val (out, jobs) = countJobs(what)(body)
    assert(jobs == 0, s"$what ran $jobs jobs")
    out
  }

  /** points with Double time. */
  def seriesD(points: Seq[(Double, Option[Double])], key: String = "s"): DataFrame = {
    val s = spark
    import s.implicits._
    points.map { case (t, v) => (key, t, v.map(Double.box).orNull.asInstanceOf[java.lang.Double]) }
      .toDF("key", "t", "v")
      .withColumn("v", col("v").cast("double"))
  }

  /** points with Long (µs) time. */
  def seriesL(points: Seq[(Long, Option[Double])], key: String = "s"): DataFrame = {
    val s = spark
    import s.implicits._
    points.map { case (t, v) => (key, t, v.map(Double.box).orNull.asInstanceOf[java.lang.Double]) }
      .toDF("key", "t", "v")
      .withColumn("v", col("v").cast("double"))
  }

  /** collect (t, v) sorted by t, for a single-key result. */
  def collectTV(df: DataFrame): Seq[(Double, Option[Double])] =
    df.select(col("t").cast("double"), col("v"))
      .collect()
      .map(r => (r.getDouble(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toSeq
      .sortBy(_._1)

  def collectTVL(df: DataFrame): Seq[(Long, Option[Double])] =
    df.select(col("t").cast("long"), col("v"))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toSeq
      .sortBy(_._1)

  def approxEq(a: Seq[(Double, Option[Double])], b: Seq[(Double, Option[Double])], tol: Double = 1e-9): Unit = {
    assert(a.size == b.size, s"size mismatch: $a vs $b")
    a.zip(b).foreach { case ((t1, v1), (t2, v2)) =>
      assert(math.abs(t1 - t2) < tol, s"time $t1 != $t2 in $a vs $b")
      (v1, v2) match {
        case (None, None)         => ()
        case (Some(x), Some(y))   => assert(math.abs(x - y) < tol, s"value at $t1: $x != $y")
        case _                    => fail(s"null mismatch at $t1: $v1 vs $v2 in\n$a\nvs\n$b")
      }
    }
  }
}
