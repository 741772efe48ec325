package graft

import java.nio.file.{Files, Paths}

/** `Verify.dump` reports the queries that failed instead of hiding them. */
class VerifySpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("dump returns the name of a query whose input is missing") {
    val out = Files.createTempDirectory("graft_verify_missing").toString
    assert(Verify.dump(spark, s"$out/no_such_sf", out, Set("q01_segments")) == Seq("q01_segments"))
  }

  test("dump on the sf0.001 fixture fails no query and writes its result and oracle SQL") {
    val out = Files.createTempDirectory("graft_verify").toString
    assert(Verify.dump(spark, sf, out, Set("q01_segments")).isEmpty)
    assert(spark.read.parquet(s"$out/q01_segments").count() > 0)
    assert(Files.readString(Paths.get(s"$out/oracle_sql.json")) == Verify.oracleJson(Set("q01_segments")))
  }
}
