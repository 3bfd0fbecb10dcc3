package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Spark task counters summed over a set of tasks. */
final class Counts {
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedWaitMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExecMem = 0L
  var inputBytes = 0L
  var outputBytes = 0L

  def +=(o: Counts): Unit = {
    tasks += o.tasks; taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    schedWaitMs += o.schedWaitMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
  }

  def toMap: Map[String, Any] = Map(
    "tasks" -> tasks, "task_s" -> taskMs / 1e3, "cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "sched_wait_s" -> schedWaitMs / 1e3,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "peak_exec_mem_bytes" -> peakExecMem,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes)
}

/** One finished span. Times are epoch milliseconds (fractional). */
final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Plan facts of one executed action, from the QueryExecutionListener:
  * files read, rows out of each scanned table (by its root dir name) and
  * the MinHash probe's checkpointed candidate pairs.
  */
final case class PlanEvent(start: Double, filesRead: Long, scanRows: Map[String, Long],
                           candidates: Long)

/** One streaming micro-batch, from the StreamingQueryListener. */
final case class BatchEvent(start: Double, triggerMs: Long, addBatchMs: Long)

/** Benchmark-side tracing. Untraced (`enabled = false`) a span is just the
  * call. Traced, each span runs under its own Spark job group, and three
  * listeners registered here attribute task, plan and micro-batch metrics
  * to the span that caused them. Everything stays in memory until the run
  * ends; jobs no span claims are reported as unattributed.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val baseNano = System.nanoTime()
  private val baseEpoch = System.currentTimeMillis().toDouble
  def now: Double = baseEpoch + (System.nanoTime() - baseNano) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private val stack = mutable.Stack.empty[Int]

  private def group(id: Int) = Tracer.GroupPrefix + id

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      sc.setJobGroup(group(id), name, interruptOnCancel = false)
      val t0 = now
      try f
      finally {
        spans += Span(id, name, parent, t0, now)
        stack.pop()
        if (parent == 0) sc.clearJobGroup() else sc.setJobGroup(group(parent), name)
      }
    }

  // ---------------------------------------------------------------- listeners
  private val lock = new Object
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobEnd = mutable.Map.empty[Int, Long]
  private val jobCounts = mutable.Map.empty[Int, Counts]
  val plans = ArrayBuffer.empty[PlanEvent]
  val batches = ArrayBuffer.empty[BatchEvent]

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobGroup(e.jobId) = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized(jobEnd(e.jobId) = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val si = e.stageInfo
      stageSubmit((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = jobCounts.getOrElseUpdate(stageJob.getOrElse(e.stageId, -1), new Counts)
        val info = e.taskInfo
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.schedWaitMs += math.max(0L, info.launchTime -
          stageSubmit.getOrElse((e.stageId, e.stageAttemptId), info.launchTime))
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val end = System.currentTimeMillis().toDouble
      val ev = Tracer.planEvent(qe, end - durationNs / 1e6)
      lock.synchronized(plans += ev)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs
        def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        lock.synchronized(batches += BatchEvent(start, ms("triggerExecution"), ms("addBatch")))
      }
    }
  }

  if (enabled) {
    sc.addSparkListener(taskListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Drains the listener bus so every event of the run has been seen. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.BusBridge.drain(sc)

  // ------------------------------------------------------------- attribution
  private lazy val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap

  /** Innermost span whose interval holds time `t`. */
  def innermostAt(t: Double): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end).sortBy(_.dur).headOption

  private def ancestors(s: Span): List[Int] =
    if (s.parent == 0) List(s.id) else s.id :: ancestors(byId(s.parent))

  /** Span id → ids of itself and all its descendants. */
  private lazy val subtree: Map[Int, Set[Int]] = {
    val m = mutable.Map.empty[Int, Set[Int]].withDefaultValue(Set.empty)
    spans.foreach(s => ancestors(s).foreach(a => m(a) = m(a) + s.id))
    m.toMap.withDefaultValue(Set.empty)
  }

  /** Span each job belongs to: the span whose job group it ran under, or,
    * for jobs Spark starts on its own threads (a streaming micro-batch),
    * the innermost span open when it started — the single client thread
    * has exactly one call in flight. None = unattributed.
    */
  private lazy val jobSpan: Map[Int, Option[Int]] = jobStart.keys.map { j =>
    val g = jobGroup.getOrElse(j, "")
    val own = if (g.startsWith(Tracer.GroupPrefix)) Some(g.stripPrefix(Tracer.GroupPrefix).toInt) else None
    j -> own.filter(byId.contains).orElse(innermostAt(jobStart(j).toDouble).map(_.id))
  }.toMap

  /** Jobs without a span's job group that [[jobSpan]] placed by time. */
  def jobsByTime: Int = jobSpan.count { case (j, s) =>
    s.isDefined && !jobGroup.getOrElse(j, "").startsWith(Tracer.GroupPrefix)
  }

  private def jobsIn(ids: Set[Int]): Iterable[Int] = jobSpan.collect { case (j, Some(s)) if ids(s) => j }

  private def sum(js: Iterable[Int]): Counts = {
    val c = new Counts
    js.foreach(j => jobCounts.get(j).foreach(c += _))
    c
  }

  /** Counts of a span including its descendants' jobs. */
  def countsOf(s: Span): Counts = sum(jobsIn(subtree(s.id)))

  /** Length of `[start, end]` covered by the union of the given intervals. */
  private def covered(start: Double, end: Double, iv: Seq[(Double, Double)]): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Span time (ms) that no Spark job of the span or its children covers. */
  def driverMs(s: Span): Double = {
    val iv = jobsIn(subtree(s.id)).map(j => (jobStart(j).toDouble, jobEnd.getOrElse(j, jobStart(j)).toDouble))
    s.dur - covered(s.start, s.end, iv.toSeq)
  }

  /** Span time (ms) its child spans do not cover. */
  def selfMs(s: Span): Double =
    s.dur - covered(s.start, s.end, spans.filter(_.parent == s.id).map(c => (c.start, c.end)).toSeq)

  def plansOf(s: Span): Seq[PlanEvent] = plans.filter(p => innermostAt(p.start).exists(_.id == s.id)).toSeq

  private def unattributedIds: Iterable[Int] = jobSpan.collect { case (j, None) => j }
  def unattributed: Counts = sum(unattributedIds)
  def unattributedJobs: Int = unattributedIds.size

  /** Counts of the whole run except the output checks' spans. */
  def total: Counts = {
    val checks = spans.filter(_.name == Tracer.Check).flatMap(s => subtree(s.id)).toSet
    sum(jobSpan.collect { case (j, s) if !s.exists(checks) => j })
  }

  /** Spans as JSON lines: name, start, end, parent, workload, run id, the
    * span's self and driver time, and its Spark counts.
    */
  def spanLines(workload: String, runId: String): Seq[String] = spans.toSeq.map { s =>
    Json.render(Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "workload" -> workload,
      "run_id" -> runId, "start_ms" -> s.start, "end_ms" -> s.end,
      "self_ms" -> selfMs(s), "driver_ms" -> driverMs(s),
      "spark" -> countsOf(s).toMap))
  } :+ Json.render(Map("name" -> Tracer.Unattributed, "workload" -> workload,
    "run_id" -> runId, "jobs" -> unattributedJobs, "spark" -> unattributed.toMap,
    "jobs_attributed_by_time" -> jobsByTime))
}

object Tracer {
  val Unattributed = "unattributed"
  val GroupPrefix = "perfbench-span-"
  /** Span name of the output checks, which run outside the timed phase. */
  val Check = "check"

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case other => other +: (other.children.flatMap(leaves) ++ other.subqueries.flatMap(leaves))
  }

  def planEvent(qe: QueryExecution, start: Double): PlanEvent = {
    val nodes = try leaves(qe.executedPlan) catch { case _: Throwable => Seq.empty }
    def metric(n: SparkPlan, k: String): Long = n.metrics.get(k).map(_.value).getOrElse(0L)
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    val scanRows = scans.groupBy(f => f.relation.location.rootPaths.headOption
      .map(_.getName).getOrElse("?"))
      .map { case (k, fs) => k -> fs.map(metric(_, "numOutputRows")).sum }
    // the probe checkpoints its candidate pairs as a (d1, d2) relation
    val candidates = nodes.collect {
      case r: RDDScanExec if r.output.map(_.name) == Seq("d1", "d2") => metric(r, "numOutputRows")
    }.sum
    PlanEvent(start, scans.map(metric(_, "numFiles")).sum, scanRows, candidates)
  }
}
