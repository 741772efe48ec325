package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each registry query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py). Every
  * query runs; the main then exits 1 if any of them failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter for fast
    // local iteration (the driver always passes two args = full run)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else SparkEntry.oracleSql.keySet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = dump(spark, sfDir, outDir, only)
    spark.stop()
    if (failed.nonEmpty) {
      val ran = SparkEntry.registry.count(q => only(q.name))
      System.err.println(s"[verify] ${failed.size} of $ran queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Writes each registry query named in `only` to `outDir/<name>` as
    * parquet, then their oracle SQL to `outDir/oracle_sql.json`. A query
    * that throws is logged and skipped; returns the names of those that
    * did, in registry order. */
  def dump(spark: SparkSession, sfDir: String, outDir: String, only: Set[String]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.registry.filter(q => only(q.name)).filterNot { q =>
      val ok =
        try { q.build(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}"); true }
        catch { case e: Throwable =>
          System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
          false
        }
      // queries unpersist what they cache; clearing keeps a relation that
      // a failed query left cached from outliving it
      spark.catalog.clearCache()
      // broadcast HashedRelations hold unified EXECUTION memory until a GC
      // lets ContextCleaner reap them — on a mostly-idle heap a 182-query
      // pass can exhaust the pool without one (seen in Bench as
      // UNABLE_TO_ACQUIRE_MEMORY "got 0" after the headline)
      System.gc()
      ok
    }.map(_.name)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(only))
    failed
  }

  /** `{name: oracle SQL}` as JSON for the registry queries in `names`, in
    * `SparkEntry.oracleSql`'s iteration order. */
  def oracleJson(names: Set[String]): String = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
