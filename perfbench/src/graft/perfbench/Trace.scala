package graft.perfbench

import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a benchmark call site, nested workload → pass → op → layer
  * call. Times are System.nanoTime. `opId` is the enclosing op span;
  * `store` marks a call into a living store. */
final class Span(val id: Long, val name: String, val kind: String,
    val parent: Long, val opId: Long, val start: Long, val store: Boolean) {
  @volatile var end: Long = -1L
  def seconds: Double = (end - start) / 1e9
}

/** Work Spark did on behalf of one span: scheduler, executor, shuffle
  * and scan counters from the listener; Catalyst phase times and files
  * read by file scans from the query-execution listener; local-FS byte
  * statistics and files created or deleted around store calls; and the
  * micro-batches of streaming queries the span started. */
final class Work {
  var jobs, stages, tasks, unlistenedJobs, actions = 0L
  var runMs, cpuNs, gcMs, fetchWaitMs = 0L
  var shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes, spillBytes = 0L
  var scanBytes, scanRecords = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var filesScanned, fsBytesRead, fsBytesWritten, filesCreated, filesDeleted = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  /** Per streaming query: query start to the commit of its first data batch. */
  val startLagMs = mutable.ArrayBuffer.empty[Double]
}

object Work {
  /** Wall covered by at least one running job of any of `ws`, in seconds. */
  def jobCoveredS(ws: Seq[Work]): Double = {
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    ws.flatMap(_.jobIntervals).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1e3
  }
}

/** Records spans in memory and attributes Spark's own listener counters
  * to the span that launched the work. Jobs are matched through the job
  * group set on the calling thread (graft.functions.Par carries it to
  * its pool threads); streaming micro-batch jobs through the query's run
  * id, bound to the span open when the query started. Query-execution
  * callbacks arrive after their action, so every span drains the
  * listener bus before the next one opens.
  *
  * Disabled, it opens no span and listens to nothing: `span` runs its
  * body and nothing else.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong
  val spans = mutable.ArrayBuffer.empty[Span]
  val work = mutable.HashMap.empty[Long, Work]
  private var stack: List[Span] = Nil
  @volatile private var current: Long = 0L
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val runSpan = mutable.HashMap.empty[String, Long]
  private val runStartMs = mutable.HashMap.empty[String, Long]
  private var runningJobs, runningTasks = 0
  /** The most jobs and tasks running at once since `resetMaxima`. */
  var maxJobs, maxTasks = 0

  def resetMaxima(): Unit = synchronized { maxJobs = 0; maxTasks = 0 }

  private def workOf(id: Long): Work = work.getOrElseUpdate(id, new Work)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = group.flatMap { g =>
        if (g.startsWith(Tracer.GroupPrefix)) Some(g.drop(Tracer.GroupPrefix.length).toLong)
        else runSpan.get(g)
      }.getOrElse(current)
      runningJobs += 1; maxJobs = math.max(maxJobs, runningJobs)
      jobSpan(e.jobId) = (span, e.time)
      e.stageIds.foreach(stageSpan(_) = span)
      val w = workOf(span)
      w.jobs += 1
      if (props.forall(_.getProperty("spark.sql.execution.id") == null)) w.unlistenedJobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      runningJobs -= 1
      jobSpan.remove(e.jobId).foreach { case (span, t0) =>
        workOf(span).jobIntervals += ((t0, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(workOf(_).stages += 1)
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = Tracer.this.synchronized {
      runningTasks += 1; maxTasks = math.max(maxTasks, runningTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      runningTasks -= 1
      val w = workOf(stageSpan.getOrElse(e.stageId, current))
      w.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        w.runMs += m.executorRunTime; w.cpuNs += m.executorCpuTime; w.gcMs += m.jvmGCTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.scanBytes += m.inputMetrics.bytesRead; w.scanRecords += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val w = workOf(current)
        val ph = qe.tracker.phases
        def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
        w.actions += 1
        w.analysisMs += ms("analysis"); w.optimizationMs += ms("optimization")
        w.planningMs += ms("planning")
        w.filesScanned += Tracer.collectWithSubqueries(qe.executedPlan) {
          case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }.sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized {
        runSpan(e.runId.toString) = current
        runStartMs(e.runId.toString) = Instant.parse(e.timestamp).toEpochMilli
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val w = workOf(runSpan.getOrElse(p.runId.toString, current))
        w.progress += p
        if (p.numInputRows > 0) runStartMs.remove(p.runId.toString).foreach { t0 =>
          val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
          w.startLagMs += (Instant.parse(p.timestamp).toEpochMilli + trigger - t0).toDouble
        }
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Start listening to Spark; `detach` stops. Spans still open and
    * nest while detached, but no Spark work is attributed to them. */
  def attach(): Unit = if (enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Run `body` inside a span with a job group of its own. A call into a
    * store under `storeRoot` also records local-FS byte counts and the
    * files it created and deleted there. */
  def span[A](name: String, kind: String, storeRoot: String = null)(body: => A): A = {
    if (!enabled) return body
    val parent = stack.headOption
    val id = ids.incrementAndGet()
    val opId = if (kind == "op") id else parent.map(_.opId).getOrElse(0L)
    val fs = storeRoot != null
    val files0 = if (fs) Tracer.files(storeRoot) else null
    val s = new Span(id, name, kind, parent.map(_.id).getOrElse(0L), opId, System.nanoTime(), fs)
    synchronized { spans += s; current = s.id }
    stack = s :: stack
    val savedGroup = sc.getLocalProperty("spark.jobGroup.id")
    val savedDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(Tracer.GroupPrefix + s.id, name, interruptOnCancel = false)
    val fs0 = if (fs) Tracer.fsStats() else null
    try body
    finally {
      s.end = System.nanoTime()
      if (fs) {
        val fs1 = Tracer.fsStats()
        val files1 = Tracer.files(storeRoot)
        val w = synchronized(workOf(s.id))
        w.fsBytesRead += fs1(0) - fs0(0); w.fsBytesWritten += fs1(1) - fs0(1)
        w.filesCreated += (files1 -- files0).size; w.filesDeleted += (files0 -- files1).size
      }
      // the action's query-execution callback and the last task-end
      // events are still queued: fold them into this span before the
      // parent (or the next sibling) becomes current
      org.apache.spark.graft.ListenerDrain.drain(sc)
      stack = stack.tail
      if (savedGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(savedGroup, savedDesc, interruptOnCancel = false)
      synchronized { current = parent.map(_.id).getOrElse(0L) }
    }
  }

  /** Every span under `root` (inclusive). */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def go(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).toSeq.flatMap(go)
    go(root)
  }

  /** Self time per span kind over a subtree: each span's wall minus the
    * walls of its direct children. */
  def selfTimes(root: Span): Map[String, Double] = {
    val all = subtree(root)
    val kids = all.groupBy(_.parent)
    all.groupBy(_.kind).map { case (k, ss) =>
      k -> ss.map(s => s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum).sum
    }
  }

  def detach(): Unit = if (enabled) {
    org.apache.spark.graft.ListenerDrain.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  val GroupPrefix = "perfbench-span-"

  /** (bytes read, bytes written) summed over the JVM's `file` scheme
    * file systems. The local file system counts bytes but no operations. */
  def fsStats(): Array[Long] = {
    val out = new Array[Long](2)
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").foreach { st =>
        out(0) += st.getBytesRead; out(1) += st.getBytesWritten
      }
    out
  }

  /** Every regular file under `root`. */
  def files(root: String): Set[String] = {
    val r = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(r)) Set.empty
    else {
      val it = java.nio.file.Files.walk(r)
      try it.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_)).map(_.toString).toSet
      finally it.close()
    }
  }
}
