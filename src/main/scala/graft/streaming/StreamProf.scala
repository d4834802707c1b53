package graft.streaming

import scala.collection.mutable

/** Dev attribution tool (r14 optimization round, NOT part of the driver
  * contract): splits each streaming registry query's wall time into the
  * engine-reported micro-batch phases (StreamingQueryProgress.durationMs:
  * addBatch = the actual computation incl. state-store work, plus
  * planning/offset/commit bookkeeping) versus everything OUTSIDE the
  * micro-batches — stream start/stop, checkpoint-dir setup, input
  * staging, and the final staged-output read. Decides whether the
  * family's fixed ~1.5-2.5 s/query cost is compute (optimizable by plan
  * changes) or lifecycle (a harness floor).
  *
  * Usage: runMain graft.streaming.StreamProf [sfDir] [query...]
  */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq(
      "q68_streaming_windows", "q83_streaming_dedup", "q92_streaming_sessions",
      "q99_stream_interval_join", "q141_stream_enrich", "q187_stream_left_join",
      "q205_streaming_topk", "q222_stream_cdc_merge", "q237_stream_domain_rollup")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus)
    // collect per-batch durationMs from every stream the query runs
    val phases = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var batches = 0
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
        batches += 1
        e.progress.durationMs.forEach((k, v) => phases(k) += v.longValue())
      }
    })
    // warm-up at sf0.001 (the Bench policy: codegen/JIT/classloading out)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, warmDir).count()
      catch { case _: Throwable => () }
    }
    Thread.sleep(500) // drain listener bus from warm-up
    println(f"${"query"}%-28s ${"wall"}%7s ${"inBatch"}%8s ${"addBatch"}%9s " +
      f"${"bookkeep"}%9s ${"outside"}%8s batches")
    names.foreach { n =>
      synchronized { phases.clear(); batches = 0 }
      val t0 = System.nanoTime()
      val rows = graft.SparkEntry.queries(n)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // listener bus is async
      val (inBatch, addBatch) = synchronized {
        (phases("triggerExecution") / 1e3, phases("addBatch") / 1e3)
      }
      val bookkeep = inBatch - addBatch // planning+offsets+WAL+commit
      println(f"$n%-28s $wall%6.2fs ${inBatch}%7.2fs ${addBatch}%8.2fs " +
        f"${bookkeep}%8.2fs ${wall - inBatch}%7.2fs $batches%4d ($rows rows)")
    }
    spark.stop()
  }
}
