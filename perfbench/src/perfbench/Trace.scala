package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CachedData, QueryExecution}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one span (a query phase, or a whole pass). */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var emptyTasks = 0L; var taskWaitMs = 0L; var runMs = 0L; var cpuNs = 0L
  var inputBytes = 0L; var inputRows = 0L
  var shuffleWriteBytes = 0L; var shuffleWriteRows = 0L
  var shuffleReadBytes = 0L; var fetchWaitMs = 0L
  var spillBytes = 0L; var peakExecBytes = 0L
  var outputBytes = 0L; var outputRows = 0L
  var streamBatches = 0L; var streamInputRows = 0L; var streamStateRows = 0L
  var streamBatchMs = 0L; var cacheHits = 0L
  /** Wall time of the job spans, as the union of their intervals. */
  var jobMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    emptyTasks += o.emptyTasks; taskWaitMs += o.taskWaitMs; runMs += o.runMs
    cpuNs += o.cpuNs; inputBytes += o.inputBytes; inputRows += o.inputRows
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteRows += o.shuffleWriteRows
    shuffleReadBytes += o.shuffleReadBytes; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes; peakExecBytes = math.max(peakExecBytes, o.peakExecBytes)
    outputBytes += o.outputBytes; outputRows += o.outputRows
    streamBatches += o.streamBatches; streamInputRows += o.streamInputRows
    streamStateRows += o.streamStateRows; streamBatchMs += o.streamBatchMs
    cacheHits += o.cacheHits; jobMs += o.jobMs
  }

  /** The counters that must not change between two runs with one seed. */
  def exact: Seq[(String, Long)] = Seq("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_write_rows" -> shuffleWriteRows, "input_bytes" -> inputBytes,
    "input_rows" -> inputRows)

  def json: String = (exact ++ Seq("failed_tasks" -> failedTasks,
    "empty_tasks" -> emptyTasks, "task_wait_ms" -> taskWaitMs, "run_ms" -> runMs,
    "cpu_ns" -> cpuNs, "shuffle_read_bytes" -> shuffleReadBytes,
    "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spillBytes,
    "peak_exec_bytes" -> peakExecBytes, "output_bytes" -> outputBytes,
    "output_rows" -> outputRows, "stream_batches" -> streamBatches,
    "stream_input_rows" -> streamInputRows, "stream_state_rows" -> streamStateRows,
    "stream_batch_ms" -> streamBatchMs, "cache_hits" -> cacheHits, "job_ms" -> jobMs))
    .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
}

/** Listens to the Spark, SQL and streaming buses and attributes every job,
  * stage and task to the span that was current on the thread that
  * submitted the job. The span travels in a local property, which threads
  * started during a call (broadcasts, stream executions) inherit; the
  * caller additionally tags the call with a job group so that the jobs it
  * submitted can be checked against `statusTracker.getJobIdsForGroup`. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val spans = mutable.HashMap.empty[String, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  /** Stage id -> (submitted, completed, tasks) of every completed stage. */
  private val stageDone = mutable.HashMap.empty[Int, (Long, Long, Int)]
  private val jobSpan = mutable.HashMap.empty[Int, String]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val jobStages = mutable.HashMap.empty[Int, Seq[Int]]
  private val jobIntervals = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val endedJobs = mutable.HashSet.empty[Int]
  /** (span, job id, stage ids, start, end) of every ended job. */
  private val jobLog = mutable.ArrayBuffer.empty[(String, Int, Seq[Int], Long, Long)]
  /** Cache entries that existed when the current query started. */
  @volatile private var cachedBefore: Set[AnyRef] = Set.empty
  @volatile private var current: String = Unattributed

  private def c(span: String): Counters = spans.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .getOrElse(Unattributed)
    jobSpan(e.jobId) = span
    jobStartMs(e.jobId) = e.time
    jobStages(e.jobId) = e.stageIds
    e.stageIds.foreach(stageSpan(_) = span)
    c(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val span = jobSpan.getOrElse(e.jobId, Unattributed)
    val start = jobStartMs.getOrElse(e.jobId, e.time)
    jobIntervals.getOrElseUpdate(span, mutable.ArrayBuffer.empty) += ((start, e.time))
    jobLog += ((span, e.jobId, jobStages.getOrElse(e.jobId, Nil), start, e.time))
    endedJobs += e.jobId
    notifyAll()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageInfo.stageId, Unattributed)
    c(span).stages += 1
    stageSubmitMs(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(0L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageDone(i.stageId) = (i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = c(stageSpan.getOrElse(e.stageId, Unattributed))
    k.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) k.failedTasks += 1
    stageSubmitMs.get(e.stageId).filter(_ > 0).foreach(s =>
      k.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      k.runMs += m.executorRunTime
      k.cpuNs += m.executorCpuTime
      k.inputBytes += m.inputMetrics.bytesRead
      k.inputRows += m.inputMetrics.recordsRead
      k.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      k.shuffleWriteRows += m.shuffleWriteMetrics.recordsWritten
      k.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      k.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      k.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      k.peakExecBytes = math.max(k.peakExecBytes, m.peakExecutionMemory)
      k.outputBytes += m.outputMetrics.bytesWritten
      k.outputRows += m.outputMetrics.recordsWritten
      if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0) k.emptyTasks += 1
    }
  }

  /** Streaming progress: one micro-batch of a query the current span runs.
    * Progress events reach the context's bus from every session's stream
    * manager (the engine runs its streams in child sessions). */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => synchronized {
      val k = c(current)
      k.streamBatches += 1
      k.streamInputRows += p.progress.numInputRows
      k.streamStateRows += p.progress.stateOperators.map(_.numRowsTotal).sum
      k.streamBatchMs += Option(p.progress.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)
    }
    case _ =>
  }

  /** Counts executed plans that scan a cache entry an earlier query built. */
  val plans: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val hits = spark.sharedState.cacheManager.collectWithSubqueries(qe.executedPlan) {
        case s: InMemoryTableScanExec if cachedBefore.contains(s.relation.cacheBuilder) => 1
      }.size
      if (hits > 0) Tracer.this.synchronized { c(current).cacheHits += hits }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Marks the start of a query: the span streaming events and plan events
    * are credited to, and the cache entries that count as "earlier". */
  def beginQuery(span: String): Unit = {
    cachedBefore = cacheEntries(spark).map(_.cachedRepresentation.cacheBuilder: AnyRef).toSet
    current = span
  }

  def setSpan(span: String): Unit = current = span

  /** Waits until the listener has seen the end of every job the group
    * submitted, after draining the bus; no sleeping. */
  def settle(group: String): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    val ids = spark.sparkContext.statusTracker.getJobIdsForGroup(group)
    val deadline = System.currentTimeMillis() + 60000L
    synchronized {
      while (!ids.forall(endedJobs.contains)) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new IllegalStateException(
          s"listener never saw the end of jobs ${ids.filterNot(endedJobs.contains).mkString(",")}")
        wait(left)
      }
    }
  }

  /** Counters of `span`, with its job wall time as an interval union. */
  def counters(span: String): Counters = synchronized {
    val k = new Counters
    spans.get(span).foreach(k.add)
    k.jobMs = union(jobIntervals.getOrElse(span, mutable.ArrayBuffer.empty).toSeq)
    k
  }

  def spanNames: Set[String] = synchronized { spans.keySet.toSet }

  /** (job id, start, end, its stages that ran as (id, submitted,
    * completed, tasks)) of every job of `span`. */
  def jobsOf(span: String): Seq[(Int, Long, Long, Seq[(Int, Long, Long, Int)])] = synchronized {
    jobLog.collect { case (s, j, st, a, b) if s == span =>
      (j, a, b, st.sorted.flatMap(id => stageDone.get(id).map { case (x, y, n) => (id, x, y, n) }))
    }.toSeq
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Unattributed = "(unattributed)"

  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }

  /** The session's cache entries (CacheManager keeps the list private). */
  def cacheEntries(spark: SparkSession): Seq[CachedData] = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[IndexedSeq[CachedData]].toSeq
  }
}
