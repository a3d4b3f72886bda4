package graft

/** The registry queries that run the shingle and Hamming pair miners own
  * what they materialize: a cold run registers no Dataset cache and leaves
  * no RDD persistent once the ContextCleaner has freed what became
  * unreachable. `Bench` times a query as the min of warm reps in one
  * session, so a leaked cache would be timed as a cache hit.
  */
class MinerCacheSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def entries() = org.apache.spark.sql.GraftTestCacheBridge.cachedEntries(spark)

  for (q <- Seq(
      "x06_ngram_jaccard", "x14_neardup_clusters", "x44_cluster_canonical",
      "x67_incremental_ingest", "x71_leakage_split", "x76_containment", "x160_dedup_eval"))
    test(s"$q leaves no cache entry or persistent RDD behind") {
      // cold, as the census runs them: a query sharing a miner with an
      // earlier one would otherwise reuse that query's leaked entries
      spark.catalog.clearCache()
      val mark = SparkSpec.rddMark()
      SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
      assert(entries() === 0, s"$q registered a Dataset cache")
      val left = SparkSpec.persistentSince(mark)
      assert(left.isEmpty, s"RDDs made by $q still persistent after GC: $left")
    }
}
