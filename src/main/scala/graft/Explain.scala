package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan inspector: print the formatted physical plan (post-execution, so
  * AQE's final shape and codegen spans are visible) and wall time for any
  * registered query.
  *
  * Usage: runMain graft.Explain <queryName|all> [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("all")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    val targets =
      if (name == "all") SparkEntry.queries.toSeq.sortBy(_._1)
      else SparkEntry.queries.filter(_._1 == name).toSeq
    if (targets.isEmpty) {
      System.err.println(
        s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    targets.foreach { case (qname, fn) =>
      // time construction + count, like Bench: for streaming queries the
      // replay runs inside fn(...), so timing count() alone would only
      // measure the staged-output read
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val n = df.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"==== $qname  ($n rows, $secs%.2f s)")
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
