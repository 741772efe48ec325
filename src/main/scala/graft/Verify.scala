package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each registry query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter for fast
    // local iteration (the driver always passes two args = full run)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.registry
      .filter(q => only.forall(_.contains(q.name)))
      .foreach { q =>
      try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
      // queries unpersist what they cache; clearing keeps a relation that
      // a failed query left cached from outliving it
      spark.catalog.clearCache()
      // broadcast HashedRelations hold unified EXECUTION memory until a GC
      // lets ContextCleaner reap them — on a mostly-idle heap a 182-query
      // pass can exhaust the pool without one (seen in Bench as
      // UNABLE_TO_ACQUIRE_MEMORY "got 0" after the headline)
      System.gc()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(only.getOrElse(SparkEntry.oracleSql.keySet)))
    spark.stop()
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
