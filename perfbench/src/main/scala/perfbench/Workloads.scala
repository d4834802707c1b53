package perfbench

import graft.sinks.{FanOutWriter, FileSinks}
import graft.sources.BlockSources
import graft.streaming.StreamPipeline
import graft.{PlanCache, SparkEntry}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** A workload: warm-up (part of set-up time), then the measured region and
  * its output check. */
trait Workload {
  def warmUp(): Unit
  def run(heap: HeapAfterGc): Workload.Result
}

object Workload {
  final case class Result(fields: Seq[(String, String)])

  /** One measured region: per-operation seconds, items completed (blocks or
    * queries), wall seconds and the JVM counters consumed. */
  final case class Phase(opS: Seq[Double], items: Long, wallS: Double, used: JvmCounters)

  def timed(f: => Unit): Double = {
    val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
  }

  def measure(f: => (Seq[Double], Long)): Phase = {
    val c0 = JvmCounters.read()
    val t0 = System.nanoTime()
    val (ops, items) = f
    val wall = (System.nanoTime() - t0) / 1e9
    Phase(ops, items, wall, JvmCounters.read() - c0)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.deleteIfExists)
  }

  def countFiles(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count(f => f.getFileName.toString.endsWith(suffix))

  /** The end-to-end metrics every workload reports (run.py prints them). */
  def endToEnd(ph: Phase): Seq[(String, String)] = Seq(
    "op_s" -> ph.opS.map(Json.num).mkString("[", ",", "]"),
    "throughput_per_s" -> Json.num(ph.items / ph.wallS),
    "op_p50_s" -> Json.num(median(ph.opS)),
    "cpu_s_per_op" -> Json.num(ph.used.cpuS / ph.opS.size))

  /** The per-layer metrics of a traced phase. `root` is the span around the
    * traced region; layers a workload does not use report 0. The heap peak
    * is the untraced phase's. */
  def perLayer(tr: Tracer, root: Int, ph: Phase, untraced: Phase, heapMb: Double, cpus: Int,
      filesWritten: Long, errorRate: Double,
      queryS: Seq[(String, Double)]): Seq[(String, Double)] = {
    val spans = tr.allSpans
    val rootSpan = spans.find(_.id == root).get
    val wall = (rootSpan.end - rootSpan.start) / 1e3
    val jobIds = tr.jobIdsUnder(root)
    val agg = tr.taskAgg(jobIds)
    val ops = spans.filter(_.layer == "op")
    val self = tr.selfTimes(root)
    val progress = tr.progress.toSeq
    def streamS(k: String) =
      progress.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    val u = ph.used
    val lookups = u.memoHits + u.memoMisses
    Seq(
      "driver.outside_jobs_s" -> ops.map(s => tr.outsideJobsS(s.id)).sum,
      "driver.analysis_s" -> tr.phaseS("analysis"),
      "driver.optimization_s" -> tr.phaseS("optimization"),
      "driver.planning_s" -> tr.phaseS("planning"),
      "scheduler.jobs" -> jobIds.size.toDouble,
      "scheduler.stages" -> tr.stageCount.toDouble,
      "scheduler.tasks" -> agg.tasks.toDouble,
      "scheduler.jobs_per_op" -> jobIds.size.toDouble / math.max(1, ops.size),
      "executor.run_s" -> agg.runS,
      "executor.cpu_s" -> agg.cpuS,
      "executor.gc_s" -> agg.gcS,
      "executor.busy_frac" -> agg.busyS / (wall * cpus),
      "executor.failed_tasks" -> agg.failed.toDouble,
      "shuffle.write_bytes" -> agg.shWrite.toDouble,
      "shuffle.read_bytes" -> agg.shRead.toDouble,
      "shuffle.spill_bytes" -> agg.spill.toDouble,
      "sources.extract_s" -> self.getOrElse("sources.extract", 0.0),
      "operators.fanout_s" -> self.getOrElse("operators.fanout", 0.0),
      "sinks.publish_s" ->
        spans.filter(_.layer == "sinks.publish").map(s => s.end - s.start).sum / 1e3,
      "sinks.rows_written" -> agg.rowsOut.toDouble,
      "sinks.bytes_written" -> agg.bytesOut.toDouble,
      "sinks.files_written" -> filesWritten.toDouble,
      "streaming.batches" -> progress.size.toDouble,
      "streaming.addBatch_s" -> streamS("addBatch"),
      "streaming.walCommit_s" -> streamS("walCommit"),
      "streaming.commitOffsets_s" -> streamS("commitOffsets"),
      "streaming.latestOffset_s" -> streamS("latestOffset"),
      "streaming.getBatch_s" -> streamS("getBatch"),
      "streaming.queryPlanning_s" -> streamS("queryPlanning"),
      "plancache.hits" -> u.memoHits.toDouble,
      "plancache.misses" -> u.memoMisses.toDouble,
      "plancache.evictions" -> u.memoEvictions.toDouble,
      "plancache.hit_ratio" -> (if (lookups == 0) 0.0 else u.memoHits.toDouble / lookups),
      "codegen.compiles" -> u.codegenCompiles.toDouble,
      "codegen.compile_s" -> u.codegenS,
      "jvm.gc_s" -> u.gcS,
      "jvm.jit_s" -> u.jitS,
      "jvm.heap_live_peak_mb" -> heapMb,
      "error_rate" -> errorRate) ++
      QueryMix.objects.map(o => s"queries.${o}_s" ->
        queryS.collect { case (obj, s) if obj == o => s }.sum) ++
      Tracer.layers.filterNot(Tracer.etlStageLayers.contains)
        .map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0)) ++ Seq(
      "trace.wall_s" -> wall,
      "trace.overhead_frac" -> ((ph.wallS / ph.opS.size) / (untraced.wallS / untraced.opS.size) - 1),
      "trace.spans" -> spans.size.toDouble)
  }

  def layerFields(layers: Seq[(String, Double)]): (String, String) =
    "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) })
}

/** The reference's block generator in closed form (BlockSources.synthesize):
  * block `bn` has `bn·2654435761 % 97 % 7` transactions; transaction `i`
  * (1-based) has fee `((bn·31 + i − 1)·1103515245 + 12345) % 1000003` and
  * `(bn + i) % 3 + 1` account references. Block numbers stay below 2.7e8 so
  * every product fits in a signed 64-bit integer. */
object Blocks {
  val tables: Seq[String] = Seq("blocks", "transactions", "account_refs")

  final case class Expected(blocks: Long, bnSum: Long, txs: Long, feeSum: Long, refs: Long)

  def nTx(bn: Long): Int = ((bn * 2654435761L) % 97 % 7).toInt
  def fee(bn: Long, i: Int): Long = ((bn * 31 + i - 1) * 1103515245L + 12345) % 1000003
  def accounts(bn: Long, i: Int): Seq[String] =
    (0 to ((bn + i) % 3).toInt).map(a => s"acct_${(bn * 7 + i * 13 + a * 29) % 1000}")

  def expected(start: Long, end: Long): Expected = {
    var txs, fees, refs, bnSum = 0L
    var bn = start
    while (bn < end) {
      val n = nTx(bn)
      var i = 1
      while (i <= n) { fees += fee(bn, i); refs += (bn + i) % 3 + 1; i += 1 }
      txs += n; bnSum += bn; bn += 1
    }
    Expected(end - start, bnSum, txs, fees, refs)
  }

  /** One JSON line of the nested block record, as a file-drop producer
    * would publish it. */
  def jsonLine(bn: Long): String = {
    val ts = java.time.Instant.ofEpochMilli(1700000000000L + bn * 400).toString
    val txs = (1 to nTx(bn)).map { i =>
      val accts = accounts(bn, i).map(a => "\"" + a + "\"").mkString("[", ",", "]")
      s"""{"tx_id":"tx_${bn}_${i - 1}","fee":${fee(bn, i)},"accounts":$accts}"""
    }.mkString("[", ",", "]")
    s"""{"block_number":$bn,"block_time":"$ts","txs":$txs}"""
  }

  /** Per-unit totals found in a JSONL output root, where a unit is the
    * block range [base + k·width, base + (k+1)·width). */
  def found(spark: SparkSession, out: Path, base: Long, width: Long): Map[Long, Expected] = {
    def agg(t: String, schema: String, aggs: org.apache.spark.sql.Column*): Map[Long, Seq[Long]] = {
      val p = out.resolve(t)
      if (!Files.exists(p)) Map.empty
      else spark.read.schema(schema).json(p.toString)
        .groupBy(floor((col("block_number") - base) / width).as("unit"))
        .agg(aggs.head, aggs.tail: _*).collect()
        .map(r => r.getLong(0) -> (1 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i)))
        .toMap
    }
    val b = agg("blocks", "block_number BIGINT", count(lit(1)), sum("block_number"))
    val t = agg("transactions", "block_number BIGINT, fee BIGINT", count(lit(1)), sum("fee"))
    val r = agg("account_refs", "block_number BIGINT", count(lit(1)))
    (b.keySet ++ t.keySet ++ r.keySet).map { k =>
      val bb = b.getOrElse(k, Seq(0L, 0L)); val tt = t.getOrElse(k, Seq(0L, 0L))
      k -> Expected(bb(0), bb(1), tt(0), tt(1), r.get(k).map(_.head).getOrElse(0L))
    }.toMap
  }

  /** Units whose output totals differ from the closed form. */
  def wrongUnits(spark: SparkSession, out: Path, base: Long, width: Long, units: Int): Int = {
    val got = found(spark, out, base, width)
    val extra = got.keySet.count(k => k < 0 || k >= units)
    extra + (0 until units).count { k =>
      val s = base + k * width
      !got.get(k.toLong).contains(expected(s, s + width))
    }
  }

  /** The traced run's writer: FanOutWriter.jsonl's sinks, each
    * FileSinks.writeJsonl call inside a `sinks.publish` span. */
  def tracedWriter(tr: Tracer, out: Path): FanOutWriter =
    new FanOutWriter(tables.map { t =>
      t -> ((df: DataFrame) =>
        tr.span("sinks.publish", s"sinks.publish $t")(FileSinks.writeJsonl(df, out.toString, t)))
    }.toMap)

  /** Stage layers of the ETL workloads: a stage whose tasks store blocks of
    * the persisted nested input is the extract (it also fans out and writes
    * the rows of the table that materialises it); the others read it back,
    * fan out and write. */
  def stageLayer(stored: Boolean): String =
    if (stored) "sources.extract" else "operators.fanout"
}

/** `etl_backfill`: index consecutive 100k-block ranges the way
  * graft.IndexRange indexes one: BlockSources.blockRange →
  * FanOutWriter.jsonl(..).publishBlocks, until the measured time is used. */
final class EtlBackfill(spark: SparkSession, a: Main.Args) extends Workload {
  import Workload._
  private val batch = 100000L
  private val start0 = new java.util.Random(a.seed).nextInt(1000) * batch

  /** Three batches: the first batches after start-up run slower while the
    * JIT compiles the generator and the writers. */
  def warmUp(): Unit = {
    val out = a.work.resolve("warm")
    val writer = FanOutWriter.jsonl(out.toString, Blocks.tables)
    for (k <- 0 until 3) {
      val s = 250000000L + k * batch
      writer.publishBlocks(BlockSources.blockRange(spark, s, s + batch))
    }
    deleteTree(out)
  }

  /** Whole batches until the measured time is used. */
  private def phase(from: Long, publish: (DataFrame, Int) => Unit): Phase =
    measure {
      val t0 = System.nanoTime()
      val ops = scala.collection.mutable.ArrayBuffer.empty[Double]
      while ((System.nanoTime() - t0) / 1e9 < a.seconds) {
        val s = from + ops.size * batch
        ops += timed(publish(BlockSources.blockRange(spark, s, s + batch), ops.size))
      }
      (ops.toSeq, ops.size * batch)
    }

  def run(heap: HeapAfterGc): Workload.Result = {
    val outA = a.work.resolve("out")
    heap.reset()
    val writer = FanOutWriter.jsonl(outA.toString, Blocks.tables)
    val ph = phase(start0, (b, _) => writer.publishBlocks(b))
    val heapMb = heap.peakMb()
    var attempted = ph.opS.size
    var failed = 0
    val checkS = timed { failed = Blocks.wrongUnits(spark, outA, start0, batch, ph.opS.size) }
    deleteTree(outA)
    val traced = if (!a.trace) Nil else {
      val outB = a.work.resolve("out_traced")
      val fromB = start0 + ph.opS.size * batch
      val tr = new Tracer(spark, s"etl_backfill-${a.seed}", Blocks.stageLayer)
      val w = Blocks.tracedWriter(tr, outB)
      tr.start()
      val phB = tr.span("run")(phase(fromB,
        (b, k) => tr.span("op", s"batch $k")(w.publishBlocks(b))))
      tr.stop()
      val bad = Blocks.wrongUnits(spark, outB, fromB, batch, phB.opS.size)
      attempted += phB.opS.size; failed += bad
      val root = tr.allSpans.find(_.layer == "run").get.id
      val files = countFiles(outB, ".json")
      deleteTree(outB)
      tr.writeSpans(a.work.resolve("spans.jsonl"))
      Seq(layerFields(perLayer(tr, root, phB, ph, heapMb, a.cpus, files,
        failed.toDouble / attempted, Nil)))
    }
    Result(Seq("attempted" -> attempted.toString, "failed" -> failed.toString,
      "check_s" -> Json.num(checkS), "metrics" -> Json.obj(endToEnd(ph))) ++ traced)
  }
}

/** `etl_subscribe`: a catch-up run (AvailableNow) of
  * StreamPipeline.fileDropSource → StreamPipeline.runFanOut into
  * FanOutWriter.jsonl over drop files of 200 blocks each, written by the
  * benchmark before the measured region. One drop file is one delivered
  * message: attempted and failed count files. */
final class EtlSubscribe(spark: SparkSession, a: Main.Args) extends Workload {
  import Workload._
  private val perFile = 200L
  /** 12 files (about one second of catch-up at 2.4k blocks/s) per second. */
  private val files = math.max(10, math.round(a.seconds * 12).toInt)
  private val base0 = new java.util.Random(a.seed).nextInt(1000) * 200000L
  private lazy val schema = BlockSources.blockRange(spark, 0, 1).schema

  private def drop(dir: Path, base: Long, n: Int): Unit = {
    Files.createDirectories(dir)
    for (k <- 0 until n) {
      val s = base + k * perFile
      Files.write(dir.resolve(f"blocks_$k%05d.json"),
        (s until s + perFile).map(Blocks.jsonLine).asJava)
    }
  }

  private def catchUp(dropDir: Path, out: Path, ckpt: Path, writer: FanOutWriter) = {
    val q = StreamPipeline.runFanOut(
      StreamPipeline.fileDropSource(spark, dropDir.toString, schema), writer, ckpt.toString,
      availableNow = true)
    q.awaitTermination()
    q
  }

  /** Ten micro-batches, for the same reason as etl_backfill's three. */
  def warmUp(): Unit = {
    val w = a.work.resolve("warm")
    drop(w.resolve("drop"), 260000000L, 100)
    catchUp(w.resolve("drop"), w.resolve("out"), w.resolve("ckpt"),
      FanOutWriter.jsonl(w.resolve("out").toString, Blocks.tables))
    deleteTree(w)
  }

  private def phase(dir: Path, writer: FanOutWriter, trace: Option[Tracer]): Phase = {
    var progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil
    val ph = measure {
      def go() = progress = catchUp(dir.resolve("drop"), dir.resolve("out"),
        dir.resolve("ckpt"), writer).recentProgress.toSeq
      trace match {
        case Some(tr) => tr.span("run")(go())
        case None => go()
      }
      val batches = progress.filter(_.numInputRows > 0)
      (batches.map(_.batchDuration / 1e3), files * perFile)
    }
    trace.foreach { tr =>
      progress.filter(_.numInputRows > 0).foreach { p =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        tr.addSpan("op", s"batch ${p.batchId}", s, s + p.batchDuration)
      }
    }
    ph
  }

  def run(heap: HeapAfterGc): Workload.Result = {
    val dirA = a.work.resolve("sub")
    drop(dirA.resolve("drop"), base0, files)
    heap.reset()
    val ph = phase(dirA, FanOutWriter.jsonl(dirA.resolve("out").toString, Blocks.tables), None)
    val heapMb = heap.peakMb()
    var attempted = files
    var failed = 0
    val checkS = timed { failed = Blocks.wrongUnits(spark, dirA.resolve("out"), base0, perFile, files) }
    deleteTree(dirA)
    val traced = if (!a.trace) Nil else {
      val dirB = a.work.resolve("sub_traced")
      val baseB = base0 + files * perFile
      drop(dirB.resolve("drop"), baseB, files)
      val tr = new Tracer(spark, s"etl_subscribe-${a.seed}", Blocks.stageLayer)
      tr.start()
      val phB = phase(dirB, Blocks.tracedWriter(tr, dirB.resolve("out")), Some(tr))
      tr.stop()
      val bad = Blocks.wrongUnits(spark, dirB.resolve("out"), baseB, perFile, files)
      attempted += files; failed += bad
      val root = tr.allSpans.find(_.layer == "run").get.id
      val written = countFiles(dirB.resolve("out"), ".json")
      deleteTree(dirB)
      tr.writeSpans(a.work.resolve("spans.jsonl"))
      Seq(layerFields(perLayer(tr, root, phB, ph, heapMb, a.cpus, written,
        failed.toDouble / attempted, Nil)))
    }
    Result(Seq("attempted" -> attempted.toString, "failed" -> failed.toString,
      "check_s" -> Json.num(checkS), "metrics" -> Json.obj(endToEnd(ph))) ++ traced)
  }
}

/** A query mix: every query timed as graft.Bench times it,
  * `fn(spark, dir).count()`, with memos cold and a warm-up of the same
  * queries on the small warm-up tables. The seed permutes the order. After
  * the measured region graft.Verify dumps every result for run.py's oracle
  * and value checks. */
final class QueryMix(spark: SparkSession, a: Main.Args, mix: Seq[(String, String)])
    extends Workload {
  import Workload._
  private val registry = SparkEntry.queries
  private val order = new scala.util.Random(a.seed).shuffle(mix)
  private val objectOf = mix.toMap

  def warmUp(): Unit = mix.foreach { case (q, _) =>
    val t = timed(try registry(q)(spark, a.warm).count() catch { case _: Throwable => () })
    System.err.println(f"[perfbench] warm-up $q $t%.2f s")
  }

  private def pass(each: String => Unit): (Phase, Seq[(String, Double)], Set[String]) = {
    var errors = Set.empty[String]
    var times = Seq.empty[(String, Double)]
    val ph = measure {
      order.foreach { case (q, _) =>
        val t = timed(try each(q) catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $q failed: ${e.toString.take(300)}")
            errors += q
        })
        times :+= q -> t
      }
      (times.map(_._2), order.size.toLong)
    }
    (ph, times, errors)
  }

  private def coldMemos(): Unit = {
    PlanCache.clear(spark)
    spark.sharedState.cacheManager.clearCache()
  }

  def run(heap: HeapAfterGc): Workload.Result = {
    val run1 = (q: String) => { registry(q)(spark, a.data).count(); () }
    heap.reset()
    val (ph, times, errors) = pass(run1)
    val heapMb = heap.peakMb()
    val traced = if (!a.trace) Nil else {
      coldMemos()
      val tr = new Tracer(spark, s"${a.workload}-${a.seed}", _ => "stage")
      val memo = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
      tr.start()
      val (phB, timesB, errorsB) = tr.span("run") {
        pass { q =>
          val (h0, m0) = PlanCache.stats
          try tr.span("op", q)(run1(q))
          finally {
            val (h1, m1) = PlanCache.stats
            memo(q) = (h1 - h0, m1 - m0)
          }
        }
      }
      tr.stop()
      val spans = tr.allSpans
      val root = spans.find(_.layer == "run").get.id
      val records = spans.filter(_.layer == "op").map { s =>
        val jobIds = tr.jobIdsUnder(s.id)
        val agg = tr.taskAgg(jobIds)
        val (hits, misses) = memo(s.name)
        s.name -> Json.obj(Seq(
          "object" -> Json.str(objectOf(s.name)),
          "wall_s" -> Json.num((s.end - s.start) / 1e3),
          "jobs" -> jobIds.size.toString,
          "outside_jobs_s" -> Json.num(tr.outsideJobsS(s.id)),
          "shuffle_bytes" -> (agg.shWrite + agg.shRead).toString,
          "memo_hits" -> hits.toString,
          "memo_misses" -> misses.toString))
      }.sortBy(_._1)
      tr.writeSpans(a.work.resolve("spans.jsonl"))
      val layers = perLayer(tr, root, phB, ph, heapMb, a.cpus, 0L,
        (errors ++ errorsB).size.toDouble / mix.size,
        timesB.map { case (q, t) => objectOf(q) -> t })
      Seq(layerFields(layers), "per_query" -> Json.obj(records),
        "traced_errors" -> errorsB.toSeq.sorted.map(Json.str).mkString("[", ",", "]"))
    }
    // graft.Verify writes the stamped dumps and oracle_sql.json that
    // scripts/compare_oracle.py reads; it stops the session when done.
    val dumps = a.work.resolve("dumps")
    val checkS = timed(graft.Verify.main(Array(a.data, dumps.toString, mix.map(_._1).mkString(","))))
    val dumped = mix.map(_._1).sorted.filter(q => Files.exists(dumps.resolve(q).resolve("_oracle_sha1")))
    Result(Seq(
      "attempted" -> mix.size.toString,
      "errors" -> errors.toSeq.sorted.map(Json.str).mkString("[", ",", "]"),
      "dumped" -> dumped.map(Json.str).mkString("[", ",", "]"),
      "dump_dir" -> Json.str(dumps.toString),
      "check_s" -> Json.num(checkS),
      "query_s" -> Json.obj(times.map { case (q, t) => q -> Json.num(t) }),
      "metrics" -> Json.obj(endToEnd(ph))) ++ traced)
  }
}

object QueryMix {
  /** `curation_mix`'s queries and their implementing objects, frozen here
    * so that a registry change never changes the workload silently. */
  val curation: Seq[(String, String)] = Seq(
    "q22_dedup_simhash" -> "LlmQueries",
    "q96_pq_codes" -> "VectorQueries",
    "q139_ivfpq_search" -> "VectorQueries")

  val objects: Seq[String] = curation.map(_._2).distinct.sorted
}
