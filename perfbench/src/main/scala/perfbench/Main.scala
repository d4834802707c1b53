package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

/** The benchmark's JVM side. One process runs one workload:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --cpus <n> --work <dir> --data <dir> --warm <dir> --result <file>
  *
  * It creates the session, warms up, runs the timed region, checks the ETL
  * outputs against the generator's closed form, dumps the mix results for
  * the oracle check done by run.py, and writes one JSON object of metrics
  * to `--result`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cpus: Int, work: Path, data: String, warm: String, result: Path)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cpus").toInt, Paths.get(m("work")), m.getOrElse("data", ""), m.getOrElse("warm", ""),
      Paths.get(m("result")))
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // task metrics then list the blocks a task stored, which tells the
      // traced run's extract stages apart; on in every run so the traced and
      // untraced runs differ only by the listeners
      .config("spark.taskMetrics.trackUpdatedBlockStatuses", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(args.cpus, args.work)
    val sessionReadyS = (Clock.nowMs - jvmStartMs) / 1e3
    val workload: Workload = args.workload match {
      case "etl_backfill" => new EtlBackfill(spark, args)
      case "etl_subscribe" => new EtlSubscribe(spark, args)
      case "curation_mix" => new QueryMix(spark, args, QueryMix.curation)
      case other =>
        System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val warmS = Workload.timed(workload.warmUp())
    val heap = new HeapAfterGc
    val result = try workload.run(heap) finally heap.close()
    val fields = Seq(
      "workload" -> Json.str(args.workload),
      "seed" -> args.seed.toString,
      "trace" -> (if (args.trace) "1" else "0"),
      "cpus" -> args.cpus.toString,
      "session_ready_s" -> Json.num(sessionReadyS),
      "warmup_s" -> Json.num(warmS),
      "setup_s" -> Json.num(sessionReadyS + warmS)) ++ result.fields
    Files.createDirectories(args.result.getParent)
    Files.writeString(args.result, Json.obj(fields) + "\n")
    spark.stop()
  }
}
