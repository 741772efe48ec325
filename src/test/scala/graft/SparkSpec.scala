package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started, on any thread: a listener counts every job start from the
    * body's start up to a marker job, whose start the bus delivers after
    * any the body started. */
  def countJobs[A](what: String)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val marker = s"marker-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val counter = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == marker)) markerSeen.countDown()
        else if (markerSeen.getCount > 0) jobs.incrementAndGet()
    }
    org.apache.spark.ProfileBus.drain(sc) // earlier jobs' starts reach no one after this
    sc.addSparkListener(counter)
    try {
      sc.setJobDescription(what)
      val out = try body finally sc.setJobDescription(null)
      sc.setJobGroup(marker, "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(2, java.util.concurrent.TimeUnit.MINUTES), s"$what: marker job not seen")
      (out, jobs.get)
    } finally sc.removeSparkListener(counter)
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
