package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval of the benchmark: `layer` names the module the span
  * wraps (`run`, `op`, `sinks.publish`, `job`, a stage layer), times are
  * epoch milliseconds with sub-millisecond digits. */
final case class Span(id: Int, name: String, layer: String, start: Double, end: Double,
    parent: Int)

/** Wall clock in epoch milliseconds with nanoTime resolution, so spans the
  * benchmark opens and the event timestamps Spark's listeners carry share
  * one time base. */
object Clock {
  private val base = System.currentTimeMillis() * 1e6 - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + base) / 1e6
}

/** JVM-wide counters read before and after a measured region. */
final case class JvmCounters(cpuS: Double, gcS: Double, jitS: Double, codegenCompiles: Long,
    codegenS: Double, memoHits: Long, memoMisses: Long, memoEvictions: Long) {
  def -(o: JvmCounters): JvmCounters = JvmCounters(cpuS - o.cpuS, gcS - o.gcS, jitS - o.jitS,
    codegenCompiles - o.codegenCompiles, codegenS - o.codegenS, memoHits - o.memoHits,
    memoMisses - o.memoMisses, memoEvictions - o.memoEvictions)
}

object JvmCounters {
  def read(): JvmCounters = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val (hits, misses) = graft.PlanCache.stats
    JvmCounters(os.getProcessCpuTime / 1e9, gc / 1e3,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9,
      hits, misses, graft.PlanCache.evictions)
  }
}

/** Largest heap occupancy right after any collection, from the JVM's GC
  * notifications. Cheap enough to run in untraced runs. */
final class HeapAfterGc {
  @volatile private var peak = 0L
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit = {
      val info = com.sun.management.GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.values().asScala.map(_.getUsed).sum
      if (used > peak) peak = used
    }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def reset(): Unit = peak = 0L
  /** Peak in MB; forces one collection first so the live set at the end of
    * the measured region is always one of the samples. */
  def peakMb(): Double = { System.gc(); Thread.sleep(50); peak / 1048576.0 }
  def close(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(listener) catch { case _: Exception => () })
}

/** The traced run's recorder: benchmark spans plus Spark's own job, stage,
  * task, query-planning and streaming-progress events, all kept in memory
  * and summarised or written out after the workload ends. Completed stages
  * become spans under their job; `stageLayer` names a stage's layer from
  * whether its tasks stored blocks of a persisted dataset (which needs
  * `spark.taskMetrics.trackUpdatedBlockStatuses`). */
final class Tracer(spark: SparkSession, val runId: String, stageLayer: Boolean => String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  /** Runs `f` inside a span. Parents are assigned after the run, by
    * interval containment, because spans open on the benchmark's thread
    * and on the streaming engine's thread alike. */
  def span[T](layer: String, name: String = "")(f: => T): T = {
    val start = Clock.nowMs
    try f
    finally addSpan(layer, if (name.isEmpty) layer else name, start, Clock.nowMs)
  }

  /** Adds a span that was timed elsewhere (a micro-batch from its progress
    * report). */
  def addSpan(layer: String, name: String, start: Double, end: Double): Int = synchronized {
    nextId += 1
    spans += Span(nextId, name, layer, start, end, 0)
    nextId
  }

  // ---- listener state ------------------------------------------------
  import Tracer.{JobRec, StageRec, TaskAgg}
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobTasks = mutable.HashMap.empty[Int, TaskAgg]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val storingStages = mutable.HashSet.empty[Int]
  private var markerJob = -1
  private var markerEnded = false
  private val phases = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val description = Option(e.properties).map(_.getProperty("spark.job.description"))
      if (description.contains(Tracer.marker)) markerJob = e.jobId
      else {
        jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, Double.NaN)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      if (e.jobId == markerJob) markerEnded = true
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      for (job <- stageJob.get(i.stageId); s <- i.submissionTime; c <- i.completionTime)
        stages += StageRec(i.stageId, job, s.toDouble, c.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val agg = jobTasks.getOrElseUpdate(stageJob.getOrElse(e.stageId, -1), TaskAgg())
      agg.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) agg.failed += 1
      agg.busyS += (e.taskInfo.finishTime - e.taskInfo.launchTime) / 1e3
      val m = e.taskMetrics
      if (m != null) {
        agg.runS += m.executorRunTime / 1e3
        agg.cpuS += m.executorCpuTime / 1e9
        agg.gcS += m.jvmGCTime / 1e3
        agg.shWrite += m.shuffleWriteMetrics.bytesWritten
        agg.shRead += m.shuffleReadMetrics.totalBytesRead
        agg.spill += m.diskBytesSpilled
        agg.rowsOut += m.outputMetrics.recordsWritten
        agg.bytesOut += m.outputMetrics.bytesWritten
        if (m.updatedBlockStatuses.exists(_._1.isRDD)) storingStages += e.stageId
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (k, p) => phases(k) += p.durationMs / 1e3 }
    }
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized(progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Unregisters the listeners after the listener bus has drained, so every
    * event of the traced region has arrived. */
  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private def drain(): Unit = {
    // no public flush for the listener bus: run a marker job and wait until
    // its end event has been delivered to this listener
    val sc = spark.sparkContext
    sc.setJobDescription(Tracer.marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 10000000000L
    while (!synchronized(markerEnded) && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // stragglers of the streaming and QE buses
  }

  // ---- summary -------------------------------------------------------
  def allSpans: Seq[Span] = synchronized {
    // 1 ms of slack: progress-derived batch spans carry whole milliseconds
    def container(start: Double, end: Double, self: Int): Int = {
      val in = spans.filter(p => p.id != self && p.start <= start + 1 && end <= p.end + 1 &&
        (p.end - p.start) >= (end - start))
      if (in.isEmpty) 0 else in.minBy(p => (p.end - p.start, -p.id)).id
    }
    val own = spans.toSeq.map(s => s.copy(parent = container(s.start, s.end, s.id)))
    val jobSpans = jobs.values.filterNot(_.end.isNaN).map { j =>
      Span(-j.id - 1, s"job ${j.id}", "job", j.start, j.end, container(j.start, j.start, 0))
    }
    val ended = jobSpans.map(_.id).toSet
    val stageSpans = stages.filter(st => ended(-st.job - 1)).map { st =>
      Span(-1000000 - st.id, s"stage ${st.id}", stageLayer(storingStages(st.id)),
        st.start, st.end, -st.job - 1)
    }
    own ++ jobSpans ++ stageSpans
  }

  def jobIdsUnder(spanId: Int): Seq[Int] = synchronized {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = kids.getOrElse(id, Nil).flatMap { s =>
      if (s.layer == "job") Seq(-s.id - 1) else walk(s.id)
    }
    walk(spanId)
  }

  def taskAgg(jobIds: Iterable[Int]): TaskAgg = synchronized {
    val out = TaskAgg()
    jobIds.flatMap(jobTasks.get).foreach { a =>
      out.tasks += a.tasks; out.failed += a.failed; out.runS += a.runS; out.cpuS += a.cpuS
      out.gcS += a.gcS; out.busyS += a.busyS; out.shWrite += a.shWrite; out.shRead += a.shRead
      out.spill += a.spill; out.rowsOut += a.rowsOut; out.bytesOut += a.bytesOut
    }
    out
  }

  def stageCount: Long = synchronized(stages.size.toLong)
  def phaseS(name: String): Double = synchronized(phases(name))

  /** Self time per layer. Each benchmark span keeps its duration minus the
    * time covered by its children; that covered time goes first to its
    * child spans (recursively), then to the stages of the jobs below it,
    * one stage layer after the other in [[Tracer.layers]] order, and the
    * rest of the job intervals to `job`. Concurrent jobs or stages count
    * once, so over a tree rooted at one span the self times add up to the
    * root's duration. */
  def selfTimes(rootId: Int): Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    val out = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    def walk(s: Span): Unit = {
      val (jobsUnder, spansUnder) = kids.getOrElse(s.id, Nil).partition(_.layer == "job")
      val stagesUnder = jobsUnder.flatMap(j => kids.getOrElse(j.id, Nil))
      val groups = spansUnder +: (Tracer.layers.map(l => stagesUnder.filter(_.layer == l)) :+
        jobsUnder)
      val covered = mutable.ArrayBuffer.empty[(Double, Double)]
      var before = 0.0
      groups.zipWithIndex.foreach { case (g, k) =>
        covered ++= g.map(c => (c.start max s.start, c.end min s.end))
        val now = Tracer.union(covered.toSeq)
        if (k > 0 && g.nonEmpty) out(g.head.layer) += (now - before) / 1e3
        before = now
      }
      out(s.layer) += (s.end - s.start - before) / 1e3
      spansUnder.foreach(walk)
    }
    all.find(_.id == rootId).foreach(walk)
    out.toMap
  }

  /** Wall time of span `id` outside the union of the job intervals below
    * it — the driver-only time of a query or batch. */
  def outsideJobsS(id: Int): Double = {
    val all = allSpans
    val s = all.find(_.id == id).get
    val jobIds = jobIdsUnder(id).toSet
    val iv = all.filter(j => j.layer == "job" && jobIds(-j.id - 1))
      .map(j => (j.start max s.start, j.end min s.end))
    (s.end - s.start - Tracer.union(iv)) / 1e3
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = allSpans.sortBy(_.start).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":${Json.str(s.name)},"start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  private val marker = "perfbench listener-bus marker"
  final case class JobRec(id: Int, start: Double, var end: Double)
  final case class StageRec(id: Int, job: Int, start: Double, end: Double)
  /** Task totals of one job. */
  final case class TaskAgg(var tasks: Long = 0, var failed: Long = 0, var runS: Double = 0,
      var cpuS: Double = 0, var gcS: Double = 0, var busyS: Double = 0,
      var shWrite: Long = 0, var shRead: Long = 0, var spill: Long = 0,
      var rowsOut: Long = 0, var bytesOut: Long = 0)

  val etlStageLayers: Seq[String] = Seq("sources.extract", "operators.fanout")

  /** Span layers, outermost first; self times are reported for each. The
    * last three are stage layers: `sources.extract` (an ETL stage that
    * stores the persisted nested input), `operators.fanout` (an ETL stage
    * that reads it), `stage` (a query-mix stage). */
  val layers: Seq[String] = Seq("run", "op", "sinks.publish", "job") ++ etlStageLayers :+ "stage"

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (cs.isNaN || a > ce) { if (!cs.isNaN) total += ce - cs; cs = a; ce = b }
      else ce = ce max b
    }
    if (!cs.isNaN) total += ce - cs
    total
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
