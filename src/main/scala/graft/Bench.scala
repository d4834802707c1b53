package graft
/** Driver-run benchmark: times every registered query at SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line {"metric","value","unit","queries","errors","sf"}.
  *
  * Warm-up policy: every query runs once at sf0.001 first (a DIFFERENT
  * directory, so the per-(session,dir) memo caches of the timed run stay
  * cold and the timed numbers include their own real compute). What the
  * warm-up removes is compiler latency, not work: janino whole-stage-codegen
  * classes, JIT'd task code, and Hadoop/parquet classloading are identical
  * across data dirs. Profiled at sf0.1: a cold 5000-row scan+split costs
  * 1.5 s of which ~95% is codegen+classloading, 0.13 s warm.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val fullJsonPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", "target/bench_full.json")
    val spark = Sessions.local(cpus)
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    sorted.foreach { case (_, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
    }
    // Contention telemetry (round-7 verdict: the driver's kept artifact was
    // a contended run that read as a 33% regression). Wall time alone can't
    // distinguish "engine got slower" from "the box was busy"; recording the
    // 1-min load average around the timed region and the JVM's own CPU
    // seconds makes the artifact self-diagnosing: contended run <=> load_avg
    // well above this JVM's own usage, proc_cpu_sec stable across rounds.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def procCpuSec: Double = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => -1.0
    }
    val (load0, cpu0) = (osBean.getSystemLoadAverage, procCpuSec)
    // Timed region: sorted order so per-query numbers are comparable across
    // rounds (Map iteration order is hash-arbitrary). A failing query keeps
    // its (positive) elapsed time and lands in "errors" — it must never
    // REDUCE the reported total (round-1 bug: -1 s sentinel).
    // Heap-pressure memo release (round-9 verdict item 5): the registry's
    // persisted memo chains (LSH/CC/IVF/PQ via PlanCache) accumulate
    // across query families with no natural eviction point, which is why
    // the first full-registry sf10 bench needed a 100 GiB driver. After
    // each query, if used heap exceeds SPARK_GRAFT_MEMO_PRESSURE_FRAC of
    // max (default 0.7; >=1 disables), confirm with one GC and then drop
    // every PlanCache entry — later family members rebuild their chain
    // (bounded rework) instead of the JVM holding every chain at once
    // (unbounded retention). At sf0.1 the threshold is never reached, so
    // the driver's bench is unchanged; at sf10 this is what lets the
    // registry run in a fixed 16 GiB. Release count + time land in the
    // JSON so a thrashing run is self-documenting.
    val pressureFrac = sys.env.getOrElse("SPARK_GRAFT_MEMO_PRESSURE_FRAC", "0.7").toDouble
    var memoReleases = 0
    var memoReleaseSec = 0.0
    def pressureRelease(after: String): Unit = if (pressureFrac < 1.0) {
      val rt = Runtime.getRuntime
      def used = rt.totalMemory - rt.freeMemory
      if (used > pressureFrac * rt.maxMemory) {
        val t0 = System.nanoTime()
        System.gc() // much of "used" may be garbage; only clear if it isn't
        if (used > pressureFrac * rt.maxMemory) {
          PlanCache.clear(spark)
          spark.sharedState.cacheManager.clearCache()
          System.gc()
          memoReleases += 1
          memoReleaseSec += (System.nanoTime() - t0) / 1e9
          System.err.println(f"[bench] memo pressure release #$memoReleases after " +
            f"$after (used ${used / 1e9}%.1f GB of max ${rt.maxMemory / 1e9}%.1f GB)")
        }
      }
    }
    val timed = sorted.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(e.toString.takeWhile(_ != '\n').take(200)) }
      val dt = (System.nanoTime() - t0) / 1e9
      pressureRelease(name)
      (name, dt, err)
    }
    val (load1, cpu1) = (osBean.getSystemLoadAverage, procCpuSec)
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
    // comma-decimal locale (de_DE) would render "4,90" — invalid JSON
    def r(fmt: String, v: Double): String =
      String.format(java.util.Locale.ROOT, fmt, Double.box(v))
    // n_cpus MUST report the CONFIGURED core count (r13 verdict item 2:
    // availableProcessors made the 8-cpu scaling artifact self-label 32,
    // which would poison any future scaling diagnosis); the machine's
    // physical count stays available as machine_cpus.
    val nCpus =
      if (cpus.forall(_.isDigit) && cpus.nonEmpty) cpus
      else Runtime.getRuntime.availableProcessors.toString
    val env = s""""load_avg_start":${r("%.2f", load0)},""" +
      s""""load_avg_end":${r("%.2f", load1)},""" +
      s""""proc_cpu_sec":${r("%.1f", cpu1 - cpu0)},""" +
      s""""max_heap_gb":${r("%.1f", Runtime.getRuntime.maxMemory / 1e9)},""" +
      s""""memo_releases":$memoReleases,""" +
      s""""memo_release_sec":${r("%.1f", memoReleaseSec)},""" +
      s""""n_cpus":$nCpus,""" +
      s""""machine_cpus":${Runtime.getRuntime.availableProcessors}"""
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    // Per-query seconds at 3 decimals on stdout (r13 verdict item 1: the
    // full-precision line was ~8 KB and the driver's stdout-tail capture
    // keeps only the last ~2000 chars, so per-query telemetry never
    // parsed; 3 dp is far below the bench's own run-to-run variance).
    // Full precision is preserved in the JSON FILE written below.
    def qmap(fmt: Double => String): String =
      timed.map { case (k, v, _) => s"${jstr(k)}:${fmt(v)}" }.mkString("{", ",", "}")
    val errs = timed.collect { case (k, _, Some(e)) => s"${jstr(k)}:${jstr(e)}" }
      .mkString("{", ",", "}")
    val total = timed.map(_._2).sum
    def line(qs: String): String =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,$env,"sf":"$sfDir","full_json":${jstr(fullJsonPath)}}"""
    // The driver's stdout capture keeps only a short tail, so the
    // complete full-precision record ALSO lands in a file (r13 verdict
    // item 1's "and/or" remedy). Same schema as the stdout line.
    try {
      val p = java.nio.file.Paths.get(fullJsonPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        (line(qmap(_.toString)) + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] full-json write failed: $e") }
    println(line(qmap(v => r("%.3f", v))))
    // The driver captures the tail of stdout and truncated the big line
    // in rounds 3-4 ("parsed": null) — repeat the headline as a SHORT
    // final line so the total always survives tail capture.
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries_count":${timed.size},"errors_count":${timed.count(_._3.isDefined)},$env,"sf":"$sfDir","full_json":${jstr(fullJsonPath)}}""")
    spark.stop()
  }
}
