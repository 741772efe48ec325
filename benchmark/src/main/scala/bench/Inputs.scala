package bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded input generators. Every generated table is a pure function of
  * (seed, size): rows are derived from `spark.range` ids through seeded
  * hashes, so partitioning and task order cannot change the data. */
object Inputs {
  val Base: Long = 1704067200000000L // 2024-01-01T00:00:00Z in µs
  val Day: Long = 86400000000L

  /** The pages table of `Pages.synthPages`, cut down to the first
    * `pagesPerDomain` of each domain's 1000 pages (so to at most
    * domains x pagesPerDomain urls, each with more crawls), written as
    * parquet. About `rows` rows survive the cut. */
  def writePages(spark: SparkSession, rows: Long, domains: Int, pagesPerDomain: Int, seed: Long,
      path: String, files: Int): Unit =
    graft.pipeline.Pages.synthPages(spark, rows * 1000 / pagesPerDomain, domains, seed)
      .filter(regexp_extract(col("url"), "/page/([0-9]+)$", 1).cast("int") < pagesPerDomain)
      .repartition(files)
      .write.mode("overwrite").parquet(path)

  /** An events table of the testdata's shape: unique, increasing
    * timestamps over 30 days, five event types, two-decimal values
    * without nulls. Written as ONE parquet file named `events.parquet`,
    * because the query builders read that file's footer for time bounds. */
  def writeEvents(spark: SparkSession, rows: Long, seed: Long, dir: String): Unit = {
    val slot = 30L * Day / rows
    def h(i: Int) = xxhash64(col("id"), lit(seed * 31 + i))
    val u = (pmod(h(3), lit(1000000L)) + 1) / lit(1000001.0)
    val df = spark.range(rows).select(
      col("id").as("event_id"),
      timestamp_micros(lit(Base) + col("id") * slot + pmod(h(0), lit(slot)))
        .cast("timestamp_ntz").as("ts"),
      pmod(h(1), lit(1500L)).as("user_id"),
      element_at(array(Seq("click", "view", "purchase", "signup", "error").map(lit): _*),
        (pmod(h(2), lit(5L)) + 1).cast("int")).as("event_type"),
      round(-log(u) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), pmod(h(4), lit(100L)).cast("string"), lit("}")).as("props"))
    val tmp = s"$dir/_events_tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    fs.delete(dst, false)
    if (!fs.rename(part, dst)) sys.error(s"could not move $part to $dst")
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }
}
