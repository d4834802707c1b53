package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [nameSubstr,...]")
      sys.exit(2)
    }
    val sfDir = args(0); val outDir = args(1)
    // optional local-iteration filter (driver always passes 2 args)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    // Per-dump oracle stamp (round-9 advice): a filtered re-run after an
    // oracle-SQL change would otherwise leave out-of-filter dumps from the
    // OLD semantics sitting beside the NEW catalog, and a later compare
    // would silently mix runs. Each dump dir gets `_oracle_sha1` = SHA-1 of
    // the oracle SQL it was dumped against ("no_oracle" when rows-only);
    // compare_oracle.py fails any dump whose stamp mismatches the current
    // catalog. Underscore prefix = ignored by parquet dir readers (the
    // dirs already contain Spark's _SUCCESS).
    def sha1(s: String): String =
      java.security.MessageDigest.getInstance("SHA-1")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // Disk-pressure valve (round-11 verdict item 4, generalized from
    // TimeQ's --release): a full-registry dump at stress scale stacks
    // every family's memos, cached blocks, and shuffle files in ONE
    // session — the r12 sf100 dump held 59 GB of blockmgr shuffle files
    // mid-run. When spark.local.dir usable space falls under the floor,
    // drop memos + cached blocks (freeing their disk blocks) and GC so
    // ContextCleaner reclaims dead shuffle files. Costs the next family
    // one cold memo rebuild, never correctness. 0 disables.
    val diskFloorGb =
      sys.env.getOrElse("SPARK_GRAFT_DISK_FLOOR_GB", "20").toDouble
    val localDir = new java.io.File(
      spark.sparkContext.getConf.get("spark.local.dir", "/tmp"))
    def diskValve(after: String): Unit = if (diskFloorGb > 0) {
      if (localDir.getUsableSpace / 1e9 < diskFloorGb) {
        PlanCache.clear(spark)
        spark.sharedState.cacheManager.clearCache()
        System.gc()
        System.err.println(f"[verify] disk valve after $after: released memos " +
          f"(local.dir usable ${localDir.getUsableSpace / 1e9}%.1f GB)")
      }
    }
    // With a filter arg, run in the ARG's order (a stress dump lists
    // cheap queries first so a deadline cut maximizes decided count);
    // the full-registry run keeps the registry order.
    val selected: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      if (args.length == 3) {
        val pats = args(2).split(',').toSeq
        val all = SparkEntry.queries
        pats.flatMap(p => all.keys.filter(_.contains(p)).toSeq.sorted.map(n => n -> all(n)))
          .distinct
      } else SparkEntry.queries.toSeq
    selected.foreach { case (name, fn) =>
      // un-stamp BEFORE attempting: if this query errors mid-run, the
      // stale dump a prior run left here must not silently pass the
      // compare as if it were this run's output (round-9 medium advice:
      // an errored query used to land in 'skipped' and exit 0)
      Files.deleteIfExists(Paths.get(s"$outDir/$name/_oracle_sha1"))
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        Files.writeString(Paths.get(s"$outDir/$name/_oracle_sha1"),
          sha1(SparkEntry.oracleSql.getOrElse(name, "no_oracle")))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      diskValve(name)
    }
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
    // always the FULL map: a filtered local run must not clobber the
    // oracle catalog for dumps already sitting in outDir (the compare
    // script skips names with no dump)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
