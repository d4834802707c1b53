package graft
object TimeQ {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_SHUFFLE: initial shuffle partitions (default 32 = core
    // count, the bench contract). At sf100 in one 32-core JVM, 32
    // partitions put ~10× the per-partition bytes of the designed scale
    // through each task — raising this is exactly what a real cluster's
    // core count would do; AQE coalesces small stages back down.
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32")
    // SPARK_GRAFT_CPUS: thread count (default 32, the bench contract).
    // Varying it at a FIXED heap is the bandwidth-vs-compute probe: a
    // memory-bound stage keeps its wall time when threads drop 4x, a
    // compute-bound one slows ~4x.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus, Some(shuffle))
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Bench-comparable timings need Bench's warm-up policy: one pass at a
    // DIFFERENT (tiny) dir removes janino codegen + JIT + classloading
    // latency while leaving the timed dir's per-(session,dir) memos cold.
    // Opt out with SPARK_GRAFT_WARM_DIR=none for true cold-JVM numbers.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // Per-query peak HEAP usage (sum over heap pools, reset before the
    // timed run): the state-store A/B's memory telemetry — RocksDB keeps
    // streaming state off-heap, so its q222/q92 peaks should sit BELOW
    // the HDFSBackedStateStore's at the same scale.
    import scala.jdk.CollectionConverters._
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    // Per-query GC time (r12 verdict item 5): cumulative collector time
    // delta across the timed run, so a "GC-bound, plans minimal" claim
    // carries a measured fraction instead of an attribution.
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMillis(): Long = gcBeans.map(_.getCollectionTime).sum
    // Tier-boundary release (round-11 verdict item 4): both sf100 probe
    // aborts were ENOSPC from ONE session stacking every family's memos,
    // cached blocks, and spill files. A literal `--release` token in the
    // query list marks a family boundary: drop the PlanCache memos and
    // every cached block there (freeing their DISK blocks too), then GC so
    // ContextCleaner reclaims dead shuffle files. Placement is the
    // caller's — a release between families costs the next family one
    // cold memo build, never correctness.
    def releaseTier(): Unit = {
      val t0 = System.nanoTime()
      PlanCache.clear(spark)
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      val local = new java.io.File(
        spark.sparkContext.getConf.get("spark.local.dir", "/tmp"))
      val usableGb = local.getUsableSpace / 1e9
      println(f"RELEASED tier memos in ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        f"(local.dir usable ${usableGb}%.1f GB)")
    }
    for (name <- args) {
      if (name == "--release") releaseTier()
      else {
        if (warmDir != "none")
          try SparkEntry.queries(name)(spark, warmDir).count()
          catch { case _: Throwable => () }
        heapPools.foreach(_.resetPeakUsage())
        val gc0 = gcMillis()
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val gcS = (gcMillis() - gc0) / 1e3
        val peakGb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e9
        println(f"TIMED $name $wall%.2f s ($n rows, peak_heap ${peakGb}%.2f GB, " +
          f"gc $gcS%.1f s = ${100 * gcS / wall}%.0f%% of wall)")
      }
    }
    spark.stop()
  }
}
