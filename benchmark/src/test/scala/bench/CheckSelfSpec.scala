package bench

import graft.pipeline.{CheckpointedRollup, Pages}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** The benchmark's output checks must pass on the program's output and
  * fail on a corrupted copy of it: one value changed, one row dropped,
  * one row duplicated. */
class CheckSelfSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Main.session(2, "4")

  private def tmp(): Path = {
    val root = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(root)
    Files.createTempDirectory(root, "bench-check")
  }

  /** The three corruptions of `df`, applied to the row with the smallest
    * `order` values; `column` is the value that gets changed. */
  private def corruptions(df: DataFrame, order: Seq[String], column: String): Seq[(String, DataFrame)] = {
    val first = df.orderBy(order.map(col): _*).limit(1)
    val rest = df.exceptAll(first)
    // a null value becomes non-null, any other value moves
    val changed = df.schema(column).dataType match {
      case BinaryType => coalesce(concat(col(column), lit(Array[Byte](1))), lit(Array[Byte](1)))
      case DoubleType => coalesce(col(column) * 1.000001 + 1e-6, lit(1.0))
      case StringType => coalesce(concat(col(column), lit("x")), lit("x"))
      case _          => coalesce(col(column) + 1, lit(1))
    }
    Seq(
      "value changed" -> rest.unionByName(first.withColumn(column, changed.cast(df.schema(column).dataType))),
      "row dropped" -> rest,
      "row duplicated" -> df.unionByName(first))
  }

  /** Runs the DuckDB oracle check and returns the queries it failed. */
  private def oracleFailures(data: Path, out: Path): Set[String] = {
    val script = new java.io.File("oracle.py").getAbsolutePath
    val p = new ProcessBuilder("python3", script, data.toString, out.toString).redirectErrorStream(true).start()
    val lines = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    assert(Set(0, 1)(p.waitFor()), lines.mkString("\n"))
    lines.filter(_.startsWith("FAIL ")).map(_.drop(5).takeWhile(_ != ':')).toSet
  }

  test("ingest: every tier of a build equals the stateless path; corrupted copies fail") {
    val dir = tmp()
    Inputs.writePages(spark, 3000, 2, 8, 5L, dir.resolve("pages").toString, 2)
    val pages = spark.read.parquet(dir.resolve("pages").toString)
    val cut = Inputs.Base + 27 * Inputs.Day
    val s27 = Pages.toSeries(pages.filter(col("warc_ts_us") < cut))
    val s30 = Pages.toSeries(pages)
    val store = dir.resolve("store")
    CheckpointedRollup.run(s27, store.toString)
    def tier(d: Path)(t: String) = spark.read.parquet(d.resolve(t).toString).drop("partition")
    def verdicts(ref: String => DataFrame, got: String => DataFrame, names: Seq[String] = Tracer.Tiers) =
      Checks.diff(Checks.canonicalTiers(ref, names), Checks.canonicalTiers(got, names), Seq("tier"))
        .map { case (g, v) => g.head -> v }
    val ref27 = Checks.statelessTiers(s27).map { case (t, df) => t -> df.cache() }
    val built = Tracer.Tiers.map(t => t -> tier(store)(t).cache()).toMap
    val good = verdicts(ref27, built)
    assert(good.keySet == Tracer.Tiers.toSet)
    good.foreach { case (t, (ok, detail)) => assert(ok, s"build $t: $detail") }

    // the first two exact columns and the approximate one (twa_mean,
    // compared within a relative tolerance) of every tier
    for (t <- Tracer.Tiers) {
      val (keys, exact, approx) = Checks.TierCols(t)
      for (column <- exact.take(2) ++ approx; (what, bad) <- corruptions(built(t), keys, column)) {
        val v = verdicts(ref27, u => if (u == t) bad else built(u))
        assert(!v(t)._1, s"$t with $what in $column passed the check")
        assert(v.removed(t).values.forall(_._1), s"$what in $t failed another tier")
      }
    }

    // append: the four tiers other than weekly, and the weekly rows
    // outside the cut's week, equal the stateless path over all 30 days
    // (the whole weekly tier is the documented known defect)
    CheckpointedRollup.run(s30, store.toString)
    val names = Tracer.Tiers :+ Checks.OutsideCutWeek
    val ref30 = Checks.withOutsideCutWeek(Checks.statelessTiers(s30).map { case (t, df) => t -> df.cache() }, cut)
    val appended = Checks.withOutsideCutWeek(tier(store), cut)
    verdicts(ref30, appended, names).removed("weekly")
      .foreach { case (t, (ok, detail)) => assert(ok, s"append $t: $detail") }
    // a weekly row outside the cut's week (the first week) that goes
    // wrong fails the check that is not exempt
    val weekly = tier(store)("weekly").cache()
    for ((what, bad) <- corruptions(weekly, Seq("key", "bin_start"), "covered_us")) {
      val v = verdicts(ref30, Checks.withOutsideCutWeek(u => if (u == "weekly") bad else tier(store)(u), cut), names)
      assert(!v(Checks.OutsideCutWeek)._1, s"weekly with $what outside the cut's week passed the check")
    }
  }

  test("query: timed rows are checked against the DuckDB oracle and the warm-up; corrupted copies fail") {
    val dir = tmp()
    val names = Seq("q10_rollup_hourly", "q14_merge_sum")
    val w = new Query(spark, new Tracer(spark, false), dir, 3000, 5L, 2, names)
    w.prepare()
    w.iteration(-1).foreach(_.run())
    val timed = w.iteration(0).zipWithIndex.map { case (op, k) =>
      Done(k, 0, op.kind, 0.0, op.items, None, op.run())
    }
    val events = dir.resolve("events")
    val out = dir.resolve("query_out")
    val good = w.check(timed)
    assert(good.size == timed.size && good.forall(_._2.ok), good.mkString("; "))
    assert(oracleFailures(events, out).isEmpty, "a query's rows do not match its oracle")

    for ((d, k) <- timed.zipWithIndex) {
      val o = d.output.asInstanceOf[QueryOut]
      val rows = spark.createDataFrame(java.util.Arrays.asList(o.rows: _*), o.schema)
      val keys = Seq("key", o.schema.fieldNames.find(_ != "key").get)
      for ((what, bad) <- corruptions(rows, keys, o.schema.fieldNames.last)) {
        // only this timed op's rows change: the warm-up's stay as they were
        val corrupted = timed.updated(k, d.copy(output = QueryOut(o.schema, bad.collect())))
        val v = w.check(corrupted).map { case (i, c) => i -> c.ok }.toMap
        assert(v == timed.map(t => t.index -> (t.index != d.index)).toMap, s"${d.kind} with $what: $v")
        assert(oracleFailures(events, out) == Set(d.kind), s"${d.kind} with $what passed the oracle check")
      }
    }
  }
}
