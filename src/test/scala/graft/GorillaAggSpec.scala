package graft

import graft.chunk.{ChunkOps, Gorilla}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.functions._

/** The native `ts_chunk_encode` Catalyst aggregate (GorillaEncodeAgg):
  * registration, byte-identity with a reference collect_list+UDF plan,
  * round-trip, the plan-shape guarantee that the native path carries no
  * boxed row list, and the loud failure of a session without the
  * extension.
  */
class GorillaAggSpec extends SparkSpec {

  private def pts(n: Int, key: String, keyCount: Int = 1): org.apache.spark.sql.DataFrame = {
    val s = spark
    import s.implicits._
    (0 until n).map { i =>
      val k = if (keyCount == 1) key else s"$key${i % keyCount}"
      val v: java.lang.Double =
        if (i % 11 == 0) null
        else if (i % 13 == 0) java.lang.Double.valueOf(Double.NaN)
        else java.lang.Double.valueOf(math.sin(i * 0.37) * 100)
      (k, 1700000000000000L + i * 60000000L, v)
    }.toDF("key", "t", "v").withColumn("v", col("v").cast("double"))
  }

  private def registry: FunctionRegistry = spark.sessionState.functionRegistry

  private def registered(name: String): Boolean =
    registry.lookupFunction(FunctionIdentifier(name)).isDefined

  test("GraftExtensions registers ts_chunk_encode in the session") {
    assert(registered(GraftExtensions.EncodeName))
  }

  test("native aggregate emits byte-identical blobs to the collect_list+UDF form") {
    val legacyEncode = udf { (rows: Seq[Row]) =>
      val sorted = rows.sortBy(_.getLong(0))
      Gorilla.encode(
        sorted.map(_.getLong(0)).toArray,
        sorted.map(r => if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))).toArray)
    }
    val df = pts(5000, "u", keyCount = 7).repartition(4) // multi-partition: exercises partial merge
    val day = 86400000000L
    val native = ChunkOps.writeChunks(df, day)
    val legacy = df
      .groupBy(col("key"), floor(col("t") / day).as("bucket"))
      .agg(count(lit(1)).as("n_points"),
        legacyEncode(collect_list(struct(col("t"), col("v")))).as("blob"))
    val n = native.collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getAs[Array[Byte]](3).toSeq)).toMap
    val l = legacy.collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getAs[Array[Byte]](3).toSeq)).toMap
    assert(n.keySet == l.keySet)
    n.foreach { case (k, (np, blob)) =>
      assert(l(k)._1 == np, s"n_points mismatch at $k")
      assert(l(k)._2 == blob, s"blob mismatch at $k")
    }
  }

  test("native writeChunks round-trips through readChunks") {
    val df = pts(3000, "w", keyCount = 3)
    val back = ChunkOps.readChunks(ChunkOps.writeChunks(df, 86400000000L))
    val orig = df.collect().map(r => (r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2))))).toSet
    val got = back.collect().map(r => (r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2))))).toSet
    assert(got == orig)
  }

  test("native decode generator matches a driver-side Gorilla.decode replay") {
    val df = pts(2000, "d", keyCount = 4)
    val chunks = ChunkOps.writeChunks(df, 86400000000L).collect()
    val expect = chunks.flatMap { r =>
      val (ts, vs) = Gorilla.decode(r.getAs[Array[Byte]](3))
      ts.indices.map(i => (r.getString(0), ts(i),
        Option(vs(i)).map(v => java.lang.Double.doubleToRawLongBits(v.doubleValue()))))
    }.toSet
    val got = ChunkOps.readChunks(ChunkOps.writeChunks(df, 86400000000L)).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2)))))
      .toSet
    assert(got == expect)
  }

  test("native read plan uses the ts_chunk_explode generator, not the UDF") {
    val plan = ChunkOps.readChunks(ChunkOps.writeChunks(pts(100, "p"), 86400000000L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ts_chunk_explode"), plan)
    assert(!plan.toLowerCase.contains("batchevalpython") && !plan.contains("UDF("), plan)
  }

  test("null-time rows are dropped consistently: n_points matches the decoded point count") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("k", java.lang.Long.valueOf(1700000000000000L), java.lang.Double.valueOf(1.0)),
      ("k", null.asInstanceOf[java.lang.Long], java.lang.Double.valueOf(9.0)),
      ("k", java.lang.Long.valueOf(1700000000060000L), null.asInstanceOf[java.lang.Double]))
      .toDF("key", "t", "v")
    val chunks = ChunkOps.writeChunks(df, 86400000000L).collect()
    assert(chunks.length == 1)
    assert(chunks.head.getLong(2) == 2) // n_points counts only encoded rows
    val (ts, _) = Gorilla.decode(chunks.head.getAs[Array[Byte]](3))
    assert(ts.toSeq == Seq(1700000000000000L, 1700000000060000L))
  }

  test("writeChunks fails at analysis without the extension functions") {
    // spark.sql.extensions is a static conf on the shared SparkContext, so
    // an extension-free session can't be built in this JVM; drop the
    // functions from the live registry instead and restore after.
    val reg = registry
    assert(reg.dropFunction(FunctionIdentifier(GraftExtensions.EncodeName)))
    assert(reg.dropFunction(FunctionIdentifier(GraftExtensions.DecodeName)))
    try {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        ChunkOps.writeChunks(pts(100, "f"), 86400000000L)
      }
      assert(e.getMessage.contains(GraftExtensions.EncodeName), e.getMessage)
    } finally {
      GraftExtensions.registerInto(reg)
    }
    assert(registered(GraftExtensions.EncodeName))
    assert(registered(GraftExtensions.DecodeName))
  }

  test("native plan carries ts_chunk_encode and no collect_list") {
    val plan = ChunkOps.writeChunks(pts(100, "p"), 86400000000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ts_chunk_encode"), plan)
    assert(!plan.contains("collect_list"), plan)
  }
}
