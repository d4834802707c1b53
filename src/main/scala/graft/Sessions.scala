package graft

import org.apache.spark.sql.SparkSession

/** The one local-session builder behind the engine's entry points
  * (Bench, Verify, Explain, TimeQ, ValueGate, Stress, the CLI and
  * StreamProf): `local[cpus]` with `shuffle` initial shuffle partitions
  * (default: `cpus`), UTC session time, legacy parquet nanos as longs,
  * no UI, WARN logs. Bench's session is the benchmark contract, so this
  * config changes only together with it. */
object Sessions {
  def local(cpus: String, shuffle: Option[String] = None,
      app: Option[String] = None): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    app.foreach(b.appName)
    val s = b
      .config("spark.sql.shuffle.partitions", shuffle.getOrElse(cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
