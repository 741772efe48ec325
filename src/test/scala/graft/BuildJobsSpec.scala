package graft

/** Building a registry query starts no Spark job. The sf tables are read
  * with their declared schemas, so only the builders that act while they
  * build may start jobs, each at most its listed count. */
class BuildJobsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Jobs a builder may start while it builds at sf0.001; a query not
    * listed may start none. A count may fall, never rise. */
  private val allowed: Map[String, Int] = Map(
    // trainers: BPE merges, classifier weights, IVF centroids
    "q84_bpe_train" -> 42, "q87_bpe_encode" -> 44, "q89_clf_train" -> 28, "q60_ann_recall" -> 11,
    // bloom filter bits
    "q95_bloom_decon" -> 6,
    // duplicate clusters
    "q66_dup_clusters" -> 20, "q67_dedup_survivors" -> 20,
    // format round-trips: write a file, then read it back
    "q50_csv_roundtrip" -> 4, "q51_json_roundtrip" -> 4, "q62_transforms_roundtrip" -> 4,
    // the stream runs to completion while it is built
    "q221_stream_hll" -> 1)

  test("building each of the 228 registry queries starts no job off the allow-list") {
    val names = SparkEntry.registry.map(_.name)
    assert(allowed.keySet.subsetOf(names.toSet), (allowed.keySet -- names).mkString(", "))
    val over = SparkEntry.registry.flatMap { q =>
      val (_, jobs) = countJobs(q.name)(q.build(spark, sf))
      spark.catalog.clearCache()
      val limit = allowed.getOrElse(q.name, 0)
      Option.when(jobs > limit)(s"${q.name} started $jobs jobs while building, allowed $limit")
    }
    assert(over.isEmpty, over.mkString("\n"))
  }
}
