package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (JVM forked once by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with expressions evaluated interpreted: no whole-stage
    * codegen and no generated projections, so every expression's
    * `eval` path runs. */
  def interpreted[T](body: => T): T = {
    val conf = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      conf.foreach { case (k, x) => spark.conf.set(k, x) }
      body
    } finally prev.foreach {
      case (k, Some(x)) => spark.conf.set(k, x)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** sf0.001 testdata — smallest scale, for specs. */
  val sfDir = "/root/testdata/sf0.001"

  /** sf0.1 — for specs whose behavior needs non-trivial data volume
    * (the q109 AQE skew spec measures real shuffle-partition bytes). */
  val sf1Dir = "/root/testdata/sf0.1"
}
