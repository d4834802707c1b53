package graft

import graft.operators.{EngineMetrics, HighWatermark}
import graft.sinks.FanOutWriter
import graft.sources.BlockSources
import graft.streaming.StreamPipeline

import org.apache.spark.sql.SparkSession

import java.nio.file.Paths

/** The reference's CLI surface (etl-rust `src/main.rs:45-105`) as Spark
  * mains — what an etl-rust operator would invoke after switching:
  *
  *   index-range     → graft.IndexRange <start> <end> <outDir> [--reverse]
  *   index-subscription → graft.IndexSubscription <dropDir> <outDir> <ckptDir>
  *
  * EP1 (`index-range`, src/main.rs:391-429): resume past completed work
  * (C1), extract the range (S1), fan out to per-table sinks (T2+K8),
  * record the high-watermark after the sink commit, report metrics (C4).
  *
  * EP2 (`index-subscription`, src/main.rs:356-389): consume a work
  * directory forever (S3 stand-in for the Pub/Sub subscription), same
  * fan-out, exactly-once bookkeeping from the streaming checkpoint.
  */
object GraftCli {
  private[graft] def session(app: String): SparkSession =
    Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), app = Some(app))

  val tables: Seq[String] = Seq("blocks", "transactions", "account_refs")
}

object IndexRange {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: graft.IndexRange <start> <end> <outDir> [--reverse]")
      sys.exit(2)
    }
    val (start, end, outDir) = (args(0).toLong, args(1).toLong, args(2))
    val reverse = args.contains("--reverse")
    require(!(reverse && start == 0), "cannot index backwards from genesis") // main.rs:392-394
    val spark = GraftCli.session("graft-index-range")
    val metrics = new EngineMetrics(spark.sparkContext)
    // env:METRICS_PORT — reference serves Prometheus /metrics during the
    // run (src/main.rs:279-306, docs/environment-variables.md:20-27);
    // optional here, same exposition format
    val metricsSrv = sys.env.get("GRAFT_METRICS_PORT").map(p => metrics.serve(p.toInt))
    metricsSrv.foreach(srv => println(
      s"[graft] /metrics on 127.0.0.1:${srv.getAddress.getPort}"))
    val wmDir = Paths.get(outDir, "indexed_blocks") // main.rs:31 marker dir
    val (s2, e2opt) = HighWatermark.resume(wmDir, start, end, reverse)
    val e2 = e2opt.getOrElse(end)
    println(s"[graft] extracting [$s2, $e2) (requested [$start, $end), reverse=$reverse)")
    val blocks = BlockSources.blockRange(spark, s2, e2, reverse)
    FanOutWriter.jsonl(outDir, GraftCli.tables).publishBlocks(blocks)
    HighWatermark.markDone(wmDir, s2, e2) // AFTER the sink commit (at-least-once)
    metrics.recordsPublished.add(e2 - s2)
    println(s"[graft] done; metrics=${metrics.snapshot()}")
    metricsSrv.foreach(_.stop(0))
    spark.stop()
  }
}

/** EP5 (`index-list`, src/main.rs:55 + 111-114): index the blocks named
  * in a CSV list. The reference declares the command but `unreachable!`s
  * it (src/main.rs:431-433) — this main finishes it: S2 header-sniffed
  * flatten of every CSV cell → dedup → the same synthetic fetch and
  * per-table fan-out as IndexRange. No range watermark applies (a list
  * is not an interval); completed-list bookkeeping is the sink commit
  * itself. */
object IndexList {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.IndexList <listCsv> <outDir>")
      sys.exit(2)
    }
    val (listPath, outDir) = (args(0), args(1))
    val owned = !org.apache.spark.sql.SparkSession.getDefaultSession
      .exists(s => !s.sparkContext.isStopped)
    val spark = GraftCli.session("graft-index-list")
    val ids = BlockSources.blockListCsv(spark, listPath).distinct()
    val blocks = BlockSources.blocksFromIds(ids)
    FanOutWriter.jsonl(outDir, GraftCli.tables).publishBlocks(blocks)
    println(s"[graft] indexed list $listPath into $outDir")
    if (owned) spark.stop()
  }
}

/** EP3a (`save-range`, src/main.rs:434-453): extract a block range and
  * save the raw extraction to a directory — the reference's fixture
  * bootstrap. Output is one parquet dataset of the nested blocks. */
object SaveRange {
  def main(args: Array[String]): Unit = {
    if (args.length != 3) {
      System.err.println("usage: graft.SaveRange <start> <end> <outDir>")
      sys.exit(2)
    }
    val (start, end, outDir) = (args(0).toLong, args(1).toLong, args(2))
    val spark = GraftCli.session("graft-save-range")
    BlockSources.blockRange(spark, start, end).write.mode("overwrite").parquet(outDir)
    println(s"[graft] saved [$start, $end) to $outDir")
    spark.stop()
  }
}

/** EP3b (`create-test-set`, src/main.rs:454-462): golden test data under
  * `<dir>/<name>_<start>_<end>` — the reference's dir-naming convention,
  * via FileSinks.writeGolden. */
object CreateTestSet {
  def main(args: Array[String]): Unit = {
    if (args.length < 3 || args.length > 4) {
      System.err.println("usage: graft.CreateTestSet <start> <end> <name> [dir]")
      sys.exit(2)
    }
    val (start, end, name) = (args(0).toLong, args(1).toLong, args(2))
    val dir = args.lift(3).getOrElse("test_data") // TEST_EXAMPLE_DIRECTORY default
    val spark = GraftCli.session("graft-create-test-set")
    graft.sinks.FileSinks.writeGolden(
      BlockSources.blockRange(spark, start, end), dir, name, start, end)
    println(s"[graft] created test data: $dir/${name}_${start}_$end")
    spark.stop()
  }
}

/** EP4 (`CUSTOM_INDEXING`, src/main.rs:246, Cargo.toml:191-192): run an
  * ALTERNATE indexer over a block range — the per-chain replacement for
  * the standard extract_all, chosen by class name instead of cargo
  * feature. Resume, sinks, and watermark bookkeeping are IndexRange's;
  * only the blocks→tables transform is swapped. The indexer class is
  * validated through GraftConfig before any extraction starts. */
object CustomIndex {
  def main(args: Array[String]): Unit = {
    if (args.length < 3 || args.length > 4) {
      System.err.println(
        "usage: graft.CustomIndex <start> <end> <outDir> [indexerClass]")
      sys.exit(2)
    }
    val (start, end, outDir) = (args(0).toLong, args(1).toLong, args(2))
    // embeddable main: reuse a live session (in-JVM E2E tests) and leave
    // it running; stop only a session this run created
    val owned = !org.apache.spark.sql.SparkSession.getDefaultSession
      .exists(s => !s.sparkContext.isStopped)
    val spark = GraftCli.session("graft-custom-index")
    // class name comes from the CLI arg or GRAFT_CUSTOM_INDEXER; the
    // config constructor fail-fasts on an unresolvable/wrong-type class
    val cfg = graft.config.GraftConfig.fromEnv(
      sys.env.toMap
        ++ Map("GRAFT_OUTPUT_DIR" -> outDir)
        ++ args.lift(3).map("GRAFT_CUSTOM_INDEXER" -> _))
    val indexer = cfg.indexer
    val wmDir = Paths.get(outDir, "indexed_blocks")
    val (s2, e2opt) = HighWatermark.resume(wmDir, start, end, reverse = false)
    val e2 = e2opt.getOrElse(end)
    println(s"[graft] custom-indexing [$s2, $e2) with ${indexer.getClass.getName}")
    val blocks = BlockSources.blockRange(spark, s2, e2).persist()
    try {
      indexer.index(blocks).foreach { case (table, df) =>
        df.write.mode("append").json(s"$outDir/$table")
      }
      HighWatermark.markDone(wmDir, s2, e2) // AFTER the sink commit
    } finally blocks.unpersist()
    println(s"[graft] done")
    if (owned) spark.stop()
  }
}

object IndexSubscription {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: graft.IndexSubscription <dropDir> <outDir> <ckptDir> [--follow]")
      sys.exit(2)
    }
    val Array(dropDir, outDir, ckptDir) = args.take(3)
    val follow = args.contains("--follow") // keep running vs catch-up-and-stop
    val spark = GraftCli.session("graft-index-subscription")
    val schema = BlockSources.blockRange(spark, 0, 1).schema
    val source = StreamPipeline.fileDropSource(spark, dropDir, schema)
    val writer = FanOutWriter.jsonl(outDir, GraftCli.tables)
    val q = StreamPipeline.runFanOut(source, writer, ckptDir, availableNow = !follow)
    // env:HEALTH_CHECKS_PORT — the reference's ORCHESTRATED mode serves
    // k8s probes while consuming (src/main.rs:333-353); readiness is
    // wired to the live query state rather than a static Ok
    val probeSrv = sys.env.get("GRAFT_HEALTH_PORT")
      .map(p => graft.operators.HealthProbes.serve(p.toInt, () => q.isActive))
    probeSrv.foreach(srv => println(
      s"[graft] /healthz + /ready on 127.0.0.1:${srv.getAddress.getPort}"))
    // metrics parity with IndexRange (reference serves both in EP2)
    val metrics = new EngineMetrics(spark.sparkContext)
    val metricsSrv = sys.env.get("GRAFT_METRICS_PORT").map(p => metrics.serve(p.toInt))
    q.awaitTermination()
    metricsSrv.foreach(_.stop(0))
    probeSrv.foreach(_.stop(0))
    spark.stop()
  }
}

/** `graft.Subscribe <queueDir> <ackDir> <stateDir> <ckptDir> [--redeliver]`
  * — the FULL `index-subscription` lifecycle over the ack/redelivery
  * work queue (reference `src/main.rs:356-389`: consume a Pub/Sub
  * subscription whose broker redelivers unacked messages):
  *
  *   enqueue (producer side, [[graft.streaming.WorkQueue.enqueue]])
  *   → consume: latest-wins merge by `__msg_id` into
  *     `<stateDir>/cur.parquet`, ack only after the durable commit
  *   → crash: a consumer that dies before acking loses nothing —
  *   → `--redeliver` runs the broker's deadline sweep first
  *     (same `__msg_id`, attempt+1), and the idempotent merge absorbs
  *     the duplicates: at-least-once delivery, exactly-once effect.
  *
  * Serves the same k8s probe + Prometheus endpoints as
  * `graft.IndexSubscription` while consuming. AvailableNow semantics:
  * catch up on everything currently queued, then exit 0 — the k8s
  * restart loop (or a cron) provides "forever", exactly how the
  * reference's replicas are orchestrated. */
object Subscribe {
  import graft.streaming.WorkQueue
  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

  /** The work-item payload: which chain + block to (re)index. */
  val payload: StructType = StructType(Seq(
    StructField("source", StringType), StructField("block_number", LongType)))

  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: graft.Subscribe <queueDir> <ackDir> <stateDir> <ckptDir> [--redeliver]")
      sys.exit(2)
    }
    val Array(queueDir, ackDir, stateDir, ckptDir) = args.take(4)
    // embeddable main: reuse a live session (in-JVM E2E tests) and leave
    // it running; stop only a session this run created
    val owned = !org.apache.spark.sql.SparkSession.getDefaultSession
      .exists(s => !s.sparkContext.isStopped)
    val spark = GraftCli.session("graft-subscribe")
    if (args.contains("--redeliver")) {
      val ids = WorkQueue.redeliverUnacked(queueDir, ackDir)
      println(s"[graft] redelivered ${ids.size} unacked message(s): ${ids.mkString(",")}")
    }
    val metrics = new EngineMetrics(spark.sparkContext)
    val metricsSrv = sys.env.get("GRAFT_METRICS_PORT").map(p => metrics.serve(p.toInt))
    // readiness flips false once the catch-up drain finishes (q.isActive
    // is only observable DURING the run; expose the consume-loop flag)
    @volatile var active = true
    val probeSrv = sys.env.get("GRAFT_HEALTH_PORT")
      .map(p => graft.operators.HealthProbes.serve(p.toInt, () => active))
    probeSrv.foreach(srv => println(
      s"[graft] /healthz + /ready on 127.0.0.1:${srv.getAddress.getPort}"))
    try {
      val n = WorkQueue.consume(spark, queueDir, ackDir, stateDir, ckptDir, payload)
      println(s"[graft] consumed $n delivery(ies); state at $stateDir/cur.parquet")
    } finally {
      active = false
      metricsSrv.foreach(_.stop(0))
      probeSrv.foreach(_.stop(0))
      if (owned) spark.stop()
    }
  }
}

/** `graft.Curate <documentsDir> <outDir>` — the web-curation pass as a
  * CLI entry point: read a documents parquet table (a `documents
  * .parquet` file or directory), attach crawl URLs, run the parse_url
  * canonicalizer + eTLD+1 rollup, and write two artifacts under
  * `<outDir>`:
  *
  *   - `canonical/` — per-doc canonical URLs + registered domain
  *     (parquet; the crawl-frontier dedup key),
  *   - `domains.jsonl/` — the per-domain inventory (JSONL, one domain
  *     per line — the table an operator thresholds into a blocklist).
  *
  * Same operators as q232/q233; this is the operational wrapper. */
object Curate {
  import org.apache.spark.sql.functions._
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Curate <documentsDir> <outDir>")
      sys.exit(2)
    }
    val (docsPath, outDir) = (args(0), args(1))
    val owned = !org.apache.spark.sql.SparkSession.getDefaultSession
      .exists(s => !s.sparkContext.isStopped)
    val spark = GraftCli.session("graft-curate")
    import graft.queries.WebCurationQueries._
    val docs = spark.read.parquet(docsPath)
      .withColumn("raw_url", expr(graft.queries.WebCurationQueries.rawUrlExpr))
    val canon = docs.select(col("doc_id"),
        canonicalUrl(col("raw_url")).as("canonical_url"),
        canonicalHost(col("raw_url")).as("host"),
        col("n_chars"))
      .withColumn("registered_domain", registeredDomain(col("host")))
    canon.write.mode("overwrite").parquet(s"$outDir/canonical")
    spark.read.parquet(s"$outDir/canonical")
      .groupBy(col("registered_domain"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_hosts"),
        countDistinct(col("canonical_url")).as("n_urls"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy(col("registered_domain"))
      .write.mode("overwrite").json(s"$outDir/domains.jsonl")
    println(s"[graft] curation artifacts under $outDir")
    if (owned) spark.stop()
  }
}
