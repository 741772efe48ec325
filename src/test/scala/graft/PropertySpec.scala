package graft

import graft.core.SeriesOps
import org.apache.spark.sql.functions._

/** Property-style randomized invariants mirroring the reference's
  * equivalence tests (tests/test_compact.py:6-21,
  * tests/test_iterators.py:102-116), seeded for determinism. */
class PropertySpec extends SparkSpec {
  val rnd = new scala.util.Random(42)

  def randomSeries(nKeys: Int, maxLen: Int): Seq[(String, Double, Option[Double])] =
    (0 until nKeys).flatMap { k =>
      val n = 1 + rnd.nextInt(maxLen)
      val ts = Seq.fill(n)(rnd.nextInt(50).toDouble).distinct.sorted
      ts.map(t => (s"k$k", t,
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(4).toDouble)))
    }

  def toDf(rows: Seq[(String, Double, Option[Double])]) = {
    val s = spark
    import s.implicits._
    rows.map { case (k, t, v) => (k, t, v.map(Double.box).orNull.asInstanceOf[java.lang.Double]) }
      .toDF("key", "t", "v").withColumn("v", col("v").cast("double"))
  }

  test("compact is idempotent and preserves the step function (100 trials)") {
    (1 to 10).foreach { _ => // 10 dataframes x 10 keys = 100 series
      val df = toDf(randomSeries(10, 12)).persist()
      val c1 = SeriesOps.compact(df).persist()
      val c2 = SeriesOps.compact(c1)
      // idempotence
      assert(c2.exceptAll(c1).isEmpty && c1.exceptAll(c2).isEmpty)
      // step-function preservation: sampling at every original time point
      // yields identical values from raw and compacted series
      val probes = df.select(col("key"), col("t"))
      val fromRaw = graft.regularize.Regularize.samplePrevious(df, probes, lit(null).cast("double"))
      val fromCompact = graft.regularize.Regularize.samplePrevious(c1, probes, lit(null).cast("double"))
      assert(fromRaw.exceptAll(fromCompact).isEmpty && fromCompact.exceptAll(fromRaw).isEmpty)
      df.unpersist(); c1.unpersist()
    }
  }

  test("chunk write/read round-trips random series through the table form") {
    val s = spark
    import s.implicits._
    val rows = (0 until 20).flatMap { k =>
      val n = 1 + rnd.nextInt(40)
      Seq.fill(n)(rnd.nextLong(1000000000L)).distinct.sorted.map(t =>
        (s"k$k", t, if (rnd.nextInt(8) == 0) null else java.lang.Double.valueOf(rnd.nextGaussian())))
    }
    val df = rows.toDF("key", "t", "v").withColumn("v", col("v").cast("double"))
    val back = graft.chunk.ChunkOps.readChunks(graft.chunk.ChunkOps.writeChunks(df, 86400000000L))
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("SQL surface: ts_chunk_encode/ts_chunk_explode round-trip, ts_quantile") {
    GraftFunctions.register(spark)
    val s = spark
    import s.implicits._
    Seq(("a", 5L, Option(3.0)), ("a", 1L, Option(1.0)), ("a", 2L, Option.empty[Double]))
      .toDF("key", "t", "v").createOrReplaceTempView("raw_points")
    val out = spark.sql(
      """SELECT key, ts_chunk_explode(blob) FROM (
        |  SELECT key, ts_chunk_encode(t, v) AS blob FROM raw_points GROUP BY key)""".stripMargin)
      .collect().map(r => (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.toSeq == Seq((1L, Some(1.0)), (2L, None), (5L, Some(3.0))))
    val q = spark.sql("SELECT ts_quantile(map(1.0D, 3.0D, 2.0D, 1.0D), 0.5)").head().getDouble(0)
    assert(q == graft.hist.WeightedQuantile.quantile(Map(1.0 -> 3.0, 2.0 -> 1.0), 0.5).get)
  }
}
