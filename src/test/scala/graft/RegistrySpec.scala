package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry's shape, checked without a Spark session. */
class RegistrySpec extends AnyFunSuite {
  import SparkEntry._

  test("228 distinct names, and both derived views carry exactly them") {
    val names = registry.map(_.name)
    assert(names.size == 228 && names.distinct.size == 228)
    assert(queries.keySet == names.toSet && oracleSql.keySet == names.toSet)
  }

  test("every name is q<number>_<snake_case>") {
    val bad = registry.map(_.name).filterNot(_.matches("q\\d+_[a-z0-9_]+"))
    assert(bad.isEmpty, bad.mkString(", "))
  }

  test("every Bench headline name is a registry name") {
    val missing = Bench.headline.filterNot(queries.contains)
    assert(missing.isEmpty, missing.mkString(", "))
  }

  test("oracle_sql.json keeps its pinned bytes") {
    val json = Verify.oracleJson(oracleSql.keySet)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(json.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(sha == "e8fdaa4f3abe61ee9e1a0025fd6e9b427ab9423ec8e7880241cbd98410858b34")
  }
}
