package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. A span has a name, start and end (epoch
  * nanoseconds), its parent span and a group id shared by every span of one
  * query or microbatch; spans are written out once, when the run ends.
  * Disabled tracers record nothing and cost one branch per call. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, group: String, name: String,
      startNs: Long, endNs: Long)

  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  def epochNs(nanoTime: Long): Long = nanoTime + epochOffsetNs

  def record(parent: Long, group: String, name: String, startNs: Long,
      endNs: Long): Long = {
    if (!enabled) return 0L
    val id = nextId.getAndIncrement()
    synchronized { spans += Span(id, parent, group, name, startNs, endNs) }
    id
  }

  /** Times `body` as a span; `nanoTime`-based, converted to epoch. */
  def span[A](parent: Long, group: String, name: String)(body: Long => A): A = {
    if (!enabled) return body(0L)
    val id = nextId.getAndIncrement()
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      synchronized { spans += Span(id, parent, group, name, epochNs(t0), epochNs(t1)) }
    }
  }

  def write(path: String): Unit = if (enabled) {
    val lines = synchronized(spans.toList).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"group":${Json.str(s.group)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Per-group engine counters, summed from Spark's public listener events.
  * A group is what the benchmark tagged a job with: the `perfbench.group`
  * local property (batch queries) or the micro-batch id Spark itself puts
  * on every job of a streaming batch. */
final class EngineCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExecMem = 0L
  var parquetScans = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L

  def +=(o: EngineCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; schedDelayMs += o.schedDelayMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; peakExecMem = math.max(peakExecMem, o.peakExecMem)
    parquetScans += o.parquetScans; analysisMs += o.analysisMs
    optimizationMs += o.optimizationMs; planningMs += o.planningMs
  }
}

/** The traced run's listeners: one `SparkListener` (jobs, stages, tasks and
  * task metrics) and one `QueryExecutionListener` (Catalyst phase times and
  * scan nodes of executed plans). Both sit on Spark's shared listener queue,
  * so a plan event is attributed to the group of the job delivered just
  * before it. [[await]] runs a marker job and waits until the queue has
  * delivered it, so every earlier event is counted when it returns. */
final class EngineListener(tracer: Tracer) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import EngineListener._

  private val counts = mutable.HashMap.empty[String, EngineCounts]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long, Long)]
  private val markerJobs = mutable.HashMap.empty[Int, Long]
  private var lastGroup = ""
  @volatile private var markerSeen = 0L
  private var markers = 0L

  private def of(g: String): EngineCounts = counts.getOrElseUpdate(g, new EngineCounts)

  def group(g: String): EngineCounts = synchronized(counts.getOrElse(g, new EngineCounts))
  def groups: Seq[String] = synchronized(counts.keys.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty(GroupKey)))
      .orElse(props.flatMap(p => Option(p.getProperty(BatchKey))).map("batch-" + _))
      .getOrElse("")
    lastGroup = g
    if (g.startsWith(MarkerPrefix)) {
      markerJobs(e.jobId) = g.stripPrefix(MarkerPrefix).toLong
      return
    }
    of(g).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
    val parent = props.flatMap(p => Option(p.getProperty(ParentKey))).map(_.toLong).getOrElse(0L)
    jobStart(e.jobId) = (g, parent, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    markerJobs.remove(e.jobId).foreach(m => markerSeen = math.max(markerSeen, m))
    jobStart.remove(e.jobId).foreach { case (g, parent, t0) =>
      // spans of one query share its id: the group without the phase suffix
      tracer.record(parent, g.stripSuffix("/build").stripSuffix("/exec"), "spark.job",
        t0 * 1000000L, e.time * 1000000L)
    }
  }

  /** Adds the analysis time Spark tracked while a DataFrame was built (it
    * runs before any execution the listener would see). */
  def addAnalysis(g: String, qe: QueryExecution): Unit = synchronized {
    of(g).analysisMs += qe.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => of(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = of(g)
      c.tasks += 1
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        // Spark UI's scheduler delay: task duration not spent deserializing,
        // running, serializing the result or fetching it
        c.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (lastGroup.startsWith(MarkerPrefix)) return
      val c = of(lastGroup)
      c.parquetScans += collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s
        case s: BatchScanExec => s
      }.size
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Blocks until every listener event posted before this call is delivered. */
  def await(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val id = synchronized { markers += 1; markers }
    val prev = sc.getLocalProperty(GroupKey)
    sc.setLocalProperty(GroupKey, MarkerPrefix + id)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(GroupKey, prev)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (markerSeen < id && System.nanoTime() < deadline) Thread.sleep(2)
    require(markerSeen >= id, "listener bus did not deliver the marker job in 60 s")
  }
}

/** Per-batch progress of one streaming query, from `StreamingQueryListener`
  * (phase durations and state-store metrics). Idle-trigger progress events
  * (no input rows) are skipped. */
final class ProgressListener(tracer: Tracer) extends StreamingQueryListener {
  final case class Batch(id: Long, startEpochMs: Long, durations: Map[String, Long],
      stateRowsTotal: Long, stateRowsUpdated: Long,
      stateMemoryBytes: Long, stateCommitMs: Long, stateUpdatesMs: Long)

  private val batches = mutable.ArrayBuffer.empty[Batch]

  def all: Seq[Batch] = synchronized(batches.toList)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows <= 0) return
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val st = p.stateOperators.headOption
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val b = Batch(p.batchId, start, d,
      st.map(_.numRowsTotal).getOrElse(0L), st.map(_.numRowsUpdated).getOrElse(0L),
      st.map(_.memoryUsedBytes).getOrElse(0L), st.map(_.commitTimeMs).getOrElse(0L),
      st.map(_.allUpdatesTimeMs).getOrElse(0L))
    synchronized { batches += b }
    val g = s"batch-${p.batchId}"
    val startNs = start * 1000000L
    val parent = tracer.record(0L, g, "stream.batch", startNs,
      startNs + d.getOrElse("triggerExecution", 0L) * 1000000L)
    // Spark reports each phase's duration, not its offsets inside the
    // trigger; the phases run in this order, so lay them end to end
    var t = startNs
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
        "commitOffsets").foreach { k =>
      val dur = d.getOrElse(k, 0L) * 1000000L
      tracer.record(parent, g, s"stream.$k", t, t + dur)
      t += dur
    }
  }

  /** Waits until the progress of `batchId` (or a later one) has arrived. */
  def awaitBatch(batchId: Long, timeoutS: Int = 60): Unit = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (!all.exists(_.id >= batchId) && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

object EngineListener {
  /** Local property naming the counter group of the jobs that follow. */
  val GroupKey = "perfbench.group"
  /** Local property with the id of the span that submits the jobs. */
  val ParentKey = "perfbench.parent"
  private val BatchKey = "streaming.sql.batchId"
  private val MarkerPrefix = "marker-"
}

object Trace {
  /** Installs the traced run's listeners on `spark`. */
  def install(spark: SparkSession, tracer: Tracer): (EngineListener, ProgressListener) = {
    val engine = new EngineListener(tracer)
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(engine)
    val progress = new ProgressListener(tracer)
    spark.streams.addListener(progress)
    (engine, progress)
  }

  /** The engine counters as named per-layer values. `wallS` is the wall
    * time the counters cover, for core utilization. */
  def engineValues(res: Results, c: EngineCounts, wallS: Double, cores: Int): Unit = {
    res.set("spark.jobs", c.jobs.toDouble)
    res.set("spark.stages", c.stages.toDouble)
    res.set("spark.tasks", c.tasks.toDouble)
    res.set("spark.analysis_ms", c.analysisMs.toDouble)
    res.set("spark.optimization_ms", c.optimizationMs.toDouble)
    res.set("spark.planning_ms", c.planningMs.toDouble)
    res.set("spark.executor_run_s", c.runMs / 1e3)
    res.set("spark.executor_cpu_s", c.cpuNs / 1e9)
    res.set("spark.scheduler_delay_s", c.schedDelayMs / 1e3)
    res.set("spark.core_utilization",
      if (wallS > 0) c.runMs / 1e3 / (wallS * cores) else 0.0)
    res.set("spark.shuffle_write_bytes", c.shuffleWrite.toDouble)
    res.set("spark.shuffle_read_bytes", c.shuffleRead.toDouble)
    res.set("spark.spill_bytes", c.spill.toDouble)
    res.set("spark.peak_execution_memory_bytes", c.peakExecMem.toDouble)
  }
}
