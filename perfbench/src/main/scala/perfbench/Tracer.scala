package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.GlobalStorageStatistics
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call from the benchmark into a public function of the
  * program. `layer` names the module the call enters. */
final case class Span(id: Int, name: String, layer: String, pass: Int,
                      traced: Boolean, t0Ms: Long, t1Ms: Long, wallS: Double,
                      fs: Map[String, Long], storageMb: Double)

/** Outside-in tracer. Every span tags its Spark jobs with a job group
  * of its own; while tracing is on, a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener record what
  * ran, and Hadoop's global storage statistics are read around each
  * span. Everything stays in memory until [[layers]] is asked for at
  * the end of the run. Nothing inside the program is instrumented. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  private final case class Job(id: Int, group: String, startMs: Long,
                               stages: Seq[Int])
  private final case class Task(stage: Int, launchMs: Long, finishMs: Long,
                                runMs: Long, cpuNs: Long, gcMs: Long,
                                shWrite: Long, shRead: Long, fetchWaitMs: Long,
                                spill: Long, inRecs: Long, inBytes: Long)
  private final case class Phase(name: String, startMs: Long, endMs: Long)

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnd = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stagesRun = new ConcurrentLinkedQueue[Int]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val phases = new ConcurrentLinkedQueue[Phase]()
  private val broadcasts = new ConcurrentLinkedQueue[(Long, Long)]()
  private val progress = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()

  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  @volatile private var on = false

  /** Driver-thread samples: (epoch ms, seconds covered, driver layer). The thread that
    * makes the calls is sampled every [[SampleMs]] ms while tracing
    * is on; a sample names the innermost frame that belongs to a known
    * layer, so time the driver spends outside any job is attributed
    * to analysis, optimization, planning, adaptive re-planning, code
    * generation, broadcast building, file-system work, the catalog's
    * commit protocol, streaming, or the program's own driver code. */
  private val driverSamples = new ConcurrentLinkedQueue[(Long, Double, String)]()
  private val caller = Thread.currentThread()
  private val sampler = {
    val t = new Thread(() => {
      var last = System.nanoTime()
      while (true) {
        Thread.sleep(Tracer.SampleMs)
        val now = System.nanoTime()
        // each sample stands for the time since the previous one
        if (on) driverSamples.add((System.currentTimeMillis(), (now - last) / 1e9,
          Tracer.classify(caller.getStackTrace)))
        last = now
      }
    }, "perfbench-sampler")
    t.setDaemon(true)
    t.start()
    t
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.add(Job(e.jobId, group, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnd.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesRun.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks.add(Task(e.stageId, i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.shuffleReadMetrics.fetchWaitTime,
        m.diskBytesSpilled, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      record(qe)
      val bytes = broadcastBytes(qe.executedPlan)
      if (bytes > 0) broadcasts.add((System.currentTimeMillis(), bytes))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(Phase(name, p.startTimeMs, p.endTimeMs))
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((System.currentTimeMillis(),
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  private def broadcastBytes(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => broadcastBytes(a.executedPlan)
    case s: QueryStageExec => broadcastBytes(s.plan)
    case m: InMemoryTableScanExec => broadcastBytes(m.relation.cachedPlan)
    case b: BroadcastExchangeExec =>
      b.metrics.get("dataSize").map(_.value).getOrElse(0L) +
        b.children.map(broadcastBytes).sum
    case p => p.children.map(broadcastBytes).sum
  }

  /** Attach or detach the listeners; spans are recorded either way. */
  def setTracing(enabled: Boolean): Unit = if (enabled != on) {
    if (enabled) {
      PerfbenchBus.drain(sc)
      sc.addSparkListener(jobListener)
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
    } else {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(queryListener)
      spark.streams.removeListener(streamListener)
    }
    on = enabled
  }

  private def fsSnapshot(): Map[String, Long] = {
    val out = mutable.HashMap[String, Long]().withDefaultValue(0L)
    GlobalStorageStatistics.INSTANCE.iterator().asScala.foreach { st =>
      st.getLongStatistics.asScala.foreach { s =>
        out(s.getName) += s.getValue
      }
    }
    out.toMap
  }

  /** Run `body` as one span. Exceptions propagate after the span is
    * recorded. */
  def span[T](name: String, layer: String, pass: Int)(body: => T): T = {
    nextId += 1
    val id = nextId
    val traced = on
    sc.setJobGroup(s"perfbench-$id", name, interruptOnCancel = false)
    val fs0 = if (traced) fsSnapshot() else Map.empty[String, Long]
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body finally {
      val wall = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      sc.clearJobGroup()
      val fs = if (traced) {
        val fs1 = fsSnapshot()
        fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) }
      } else Map.empty[String, Long]
      val storage = if (traced)
        sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0 else 0.0
      spans += Span(id, name, layer, pass, traced, t0, t1, wall, fs, storage)
    }
  }

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (s.max(lo), e.min(hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = curE.max(e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-span layer breakdown of every traced span, keyed by span id.
    * Cross-cutting layers use the per-layer metric names. A span's
    * wall is the union of its jobs plus the driver-only gap; the gap
    * is split by the driver samples, and `unexplained_s` is the part
    * of the gap no known layer claims, which the 10 % check reads. */
  def layers(): Map[Int, Map[String, Double]] = {
    PerfbenchBus.drain(sc)
    val allJobs = jobs.asScala.toSeq
    val stageJob = allJobs.flatMap(j => j.stages.map(_ -> j.id)).toMap
    val tasksByJob = tasks.asScala.toSeq.groupBy(t => stageJob.getOrElse(t.stage, -1))
    val ran = stagesRun.asScala.toSeq
    val ph = phases.asScala.toSeq
    val bc = broadcasts.asScala.toSeq
    val pr = progress.asScala.toSeq
    val ds = driverSamples.asScala.toSeq
    spans.filter(_.traced).map { s =>
      val group = s"perfbench-${s.id}"
      val js = allJobs.filter(_.group == group)
      val jobIv = js.map(j => (j.startMs, jobEnd.getOrDefault(j.id, j.startMs)))
      val ts = js.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
      val delayMs = js.map { j =>
        val end = jobEnd.getOrDefault(j.id, j.startMs)
        val jt = tasksByJob.getOrElse(j.id, Nil).map(t => (t.launchMs, t.finishMs))
        (end - j.startMs) - unionMs(jt, j.startMs, end)
      }.sum
      val stageIds = js.flatMap(_.stages).toSet
      val inSpan = (t: Long) => t >= s.t0Ms && t <= s.t1Ms
      val myPh = ph.filter(p => inSpan(p.startMs))
      def phaseS(n: String) = myPh.filter(_.name == n).map(p => p.endMs - p.startMs).sum / 1e3
      val jobsMs = unionMs(jobIv, s.t0Ms, s.t1Ms)
      val spanMs = (s.t1Ms - s.t0Ms).max(1L)
      val myPr = pr.filter(p => inSpan(p._1)).map(_._2)
      // driver samples outside the span's jobs, by layer
      val outside = ds.filter(d => inSpan(d._1) &&
        !jobIv.exists { case (a, b) => d._1 >= a && d._1 <= b })
      val driver = Tracer.DriverLayers.map { l =>
        s"driver.${l}_s" -> outside.filter(_._3 == l).map(_._2).sum
      }
      val gapS = (spanMs - jobsMs) / 1e3
      val namedS = driver.filter(_._1 != "driver.other_s").map(_._2).sum
      def prS(k: String) = myPr.map(_.getOrElse(k, 0L)).sum / 1e3
      val mb = 1048576.0
      s.id -> (Map(
        "wall_s" -> s.wallS,
        "catalyst.analysis_s" -> phaseS("analysis"),
        "catalyst.optimization_s" -> phaseS("optimization"),
        "catalyst.planning_s" -> phaseS("planning"),
        "sched.jobs" -> js.size.toDouble,
        "sched.stages" -> ran.count(stageIds).toDouble,
        "sched.tasks" -> ts.size.toDouble,
        "sched.gap_s" -> gapS,
        "sched.delay_s" -> delayMs / 1e3,
        "exec.task_s" -> ts.map(_.runMs).sum / 1e3,
        "exec.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "exec.gc_s" -> ts.map(_.gcMs).sum / 1e3,
        "shuffle.write_mb" -> ts.map(_.shWrite).sum / mb,
        "shuffle.read_mb" -> ts.map(_.shRead).sum / mb,
        "shuffle.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
        "spill.disk_mb" -> ts.map(_.spill).sum / mb,
        "scan.rows" -> ts.map(_.inRecs).sum.toDouble,
        "scan.mb" -> ts.map(_.inBytes).sum / mb,
        "storage.peak_mb" -> s.storageMb,
        "broadcast_mb" -> bc.filter(b => inSpan(b._1)).map(_._2).sum / mb,
        "fs.mb_written" -> s.fs.getOrElse("bytesWritten", 0L) / mb,
        "fs.mb_read" -> s.fs.getOrElse("bytesRead", 0L) / mb,
        "streaming.add_batch_s" -> prS("addBatch"),
        "streaming.wal_commit_s" -> prS("walCommit"),
        "streaming.query_planning_s" -> prS("queryPlanning"),
        "streaming.trigger_s" -> prS("triggerExecution"),
        "streaming.batches" -> myPr.size.toDouble,
        "unexplained_s" -> (gapS - namedS).max(0.0),
        "span_ms" -> spanMs.toDouble) ++ driver)
    }.toMap
  }
}

object Tracer {
  val SampleMs = 10

  val DriverLayers: Seq[String] = Seq("analysis", "optimization", "planning",
    "aqe", "codegen", "broadcast", "fs", "commit", "streaming", "program", "other")

  /** Class-name prefixes per driver layer, tried on each frame from the
    * innermost outwards; the first frame that matches names the layer. */
  private val patterns: Seq[(String, String)] = Seq(
    "org.codehaus.janino" -> "codegen",
    "org.codehaus.commons" -> "codegen",
    "org.apache.spark.sql.catalyst.expressions.codegen" -> "codegen",
    "org.apache.spark.sql.execution.WholeStageCodegen" -> "codegen",
    "org.apache.spark.sql.execution.joins.HashedRelation" -> "broadcast",
    "org.apache.spark.sql.execution.joins.LongHashedRelation" -> "broadcast",
    "org.apache.spark.sql.execution.joins.UnsafeHashedRelation" -> "broadcast",
    "org.apache.spark.sql.execution.exchange.BroadcastExchange" -> "broadcast",
    "org.apache.spark.broadcast" -> "broadcast",
    "graft.io.AtomicSink" -> "commit",
    "graft.io.AtomicCatalog" -> "commit",
    "org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec" -> "commit",
    "org.apache.spark.internal.io.FileCommitProtocol" -> "commit",
    "org.apache.spark.internal.io.HadoopMapReduceCommitProtocol" -> "commit",
    "org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol" -> "commit",
    "org.apache.spark.sql.execution.datasources.FileFormatWriter" -> "commit",
    "org.apache.hadoop.fs" -> "fs",
    "org.apache.spark.util.HadoopFSUtils" -> "fs",
    "org.apache.spark.sql.execution.datasources.InMemoryFileIndex" -> "fs",
    "org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex" -> "fs",
    "org.apache.parquet" -> "fs",
    "org.apache.spark.sql.execution.datasources.parquet" -> "fs",
    "org.apache.spark.sql.execution.adaptive" -> "aqe",
    "org.apache.spark.sql.catalyst.analysis" -> "analysis",
    "org.apache.spark.sql.catalyst.optimizer" -> "optimization",
    "org.apache.spark.sql.execution.SparkOptimizer" -> "optimization",
    "org.apache.spark.sql.catalyst.planning" -> "planning",
    "org.apache.spark.sql.execution.SparkStrategies" -> "planning",
    "org.apache.spark.sql.execution.SparkPlanner" -> "planning",
    "org.apache.spark.sql.execution.QueryExecution$" -> "planning",
    "org.apache.spark.sql.execution.streaming" -> "streaming",
    "org.apache.spark.sql.streaming" -> "streaming",
    "org.apache.spark.sql.classic.StreamingQueryManager" -> "streaming",
    "graft." -> "program")

  def classify(stack: Array[StackTraceElement]): String = {
    var i = 0
    while (i < stack.length) {
      val c = stack(i).getClassName
      var j = 0
      while (j < patterns.length) {
        if (c.startsWith(patterns(j)._1)) return patterns(j)._2
        j += 1
      }
      i += 1
    }
    "other"
  }
}
