package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQueryProgress}

object Stats {
  /** Median, the mean of the middle two for an even count (0 if empty). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.length - 1) / 2) + s(s.length / 2)) / 2
    }
}

object Host {
  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim
    catch { case _: Throwable => "" }

  /** Heap in use after a full collection: the live set, in MB. The first
    * collection lets Spark's context cleaner drop the broadcast and
    * checkpoint blocks of unreachable frames; the later ones free them. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** (files, bytes, live `batch_id=` segment dirs) under the given roots. */
  def listing(roots: Seq[String]): (Long, Long, Long) = {
    var files, bytes, segs = 0L
    roots.map(Paths.get(_)).filter(Files.exists(_)).foreach { r =>
      val it = Files.walk(r).iterator.asScala
      it.foreach { p =>
        if (Files.isRegularFile(p)) { files += 1; bytes += Files.size(p) }
        else if (p.getFileName.toString.startsWith("batch_id=")) segs += 1
      }
    }
    (files, bytes, segs)
  }

  /** Per-pass JVM counters: GC time, the thread high-water mark and,
    * sampled every 5 ms while tracing, live `graft-par-*` pool threads. */
  final class Sampler(sampleThreads: Boolean) {
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    private val gc0 = gcs.map(_.getCollectionTime).sum
    private val threads = ManagementFactory.getThreadMXBean
    threads.resetPeakThreadCount()
    @volatile private var running = true
    @volatile private var parPeak = 0
    private val poller = if (!sampleThreads) None else Some {
      val t = new Thread(() => {
        val buf = new Array[Thread](4096)
        while (running) {
          val n = Thread.enumerate(buf)
          var par = 0
          var i = 0
          while (i < n) { if (buf(i).getName.startsWith("graft-par-")) par += 1; i += 1 }
          if (par > parPeak) parPeak = par
          Thread.sleep(5)
        }
      }, "perfbench-sampler")
      t.setDaemon(true); t.start(); t
    }

    def finish(): mutable.Map[String, Double] = {
      running = false
      poller.foreach(_.join())
      mutable.LinkedHashMap(
        "jvm.gc_s" -> (gcs.map(_.getCollectionTime).sum - gc0) / 1e3,
        "jvm.threads_peak" -> threads.getPeakThreadCount.toDouble,
        "par.threads_peak" -> parPeak.toDouble)
    }
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(p: Path, v: Any): Unit =
    Files.write(p, render(v).getBytes(StandardCharsets.UTF_8))
}

/** Per-layer metrics of a traced segment: each pass's op subtrees summed,
  * then the median over passes. */
object Layers {
  val Names: Seq[String] = Seq(
    "operators.build_s", "operators.action_s",
    "catalyst.actions", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "catalyst.unlistened_jobs",
    "scheduler.jobs", "scheduler.stages", "scheduler.job_covered_s",
    "scheduler.driver_gap_s", "scheduler.max_concurrent_jobs",
    "executor.tasks", "executor.run_s", "executor.cpu_s", "executor.gc_s",
    "executor.max_concurrent_tasks",
    "shuffle.write_bytes", "shuffle.write_records", "shuffle.read_bytes",
    "shuffle.fetch_wait_s", "shuffle.spill_bytes",
    "tables.scan_bytes", "tables.scan_records",
    "store.bytes_written", "store.bytes_read", "store.files_created", "store.files_deleted",
    "store.files_scanned", "store.files_on_disk", "store.bytes_on_disk", "store.segments_live",
    "par.threads_peak",
    "streaming.batches", "streaming.input_rows", "streaming.add_batch_ms",
    "streaming.query_planning_ms", "streaming.get_batch_ms", "streaming.latest_offset_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms", "streaming.start_lag_ms",
    "state.rows", "state.rows_updated", "state.memory_bytes", "state.commit_ms",
    "jvm.gc_s", "jvm.threads_peak")

  private val BuildKinds = Set("entry", "api", "stream")

  def ofPass(t: Tracer, pass: Span): mutable.Map[String, Double] = {
    val spans = t.subtree(pass).filter(_.opId != 0)
    val ws = spans.flatMap(s => t.work.get(s.id))
    def sum(f: Work => Long): Double = ws.map(f).sum.toDouble
    val covered = Work.jobCoveredS(ws)
    val opWall = spans.filter(_.kind == "op").map(_.seconds).sum
    // an op that calls into a store reads store files in all its scans;
    // the other ops' scans read lake tables
    val (storeOps, lakeOps) =
      spans.filter(_.kind == "op").partition(op => t.subtree(op).exists(_.store))
    def workUnder(ops: Seq[Span]) = ops.flatMap(t.subtree).flatMap(s => t.work.get(s.id))
    val (storeWork, lakeWork) = (workUnder(storeOps), workUnder(lakeOps))
    val m = mutable.LinkedHashMap[String, Double](
      "operators.build_s" -> spans.filter(s => BuildKinds(s.kind)).map(_.seconds).sum,
      "operators.action_s" -> spans.filter(_.kind == "action").map(_.seconds).sum,
      "catalyst.actions" -> sum(_.actions),
      "catalyst.analysis_ms" -> sum(_.analysisMs),
      "catalyst.optimization_ms" -> sum(_.optimizationMs),
      "catalyst.planning_ms" -> sum(_.planningMs),
      "catalyst.unlistened_jobs" -> sum(_.unlistenedJobs),
      "scheduler.jobs" -> sum(_.jobs),
      "scheduler.stages" -> sum(_.stages),
      "scheduler.job_covered_s" -> covered,
      "scheduler.driver_gap_s" -> math.max(0.0, opWall - covered),
      "executor.tasks" -> sum(_.tasks),
      "executor.run_s" -> sum(_.runMs) / 1e3,
      "executor.cpu_s" -> sum(_.cpuNs) / 1e9,
      "executor.gc_s" -> sum(_.gcMs) / 1e3,
      "shuffle.write_bytes" -> sum(_.shuffleWriteBytes),
      "shuffle.write_records" -> sum(_.shuffleWriteRecords),
      "shuffle.read_bytes" -> sum(_.shuffleReadBytes),
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "shuffle.spill_bytes" -> sum(_.spillBytes),
      "tables.scan_bytes" -> lakeWork.map(_.scanBytes).sum.toDouble,
      "tables.scan_records" -> lakeWork.map(_.scanRecords).sum.toDouble,
      "store.bytes_written" -> sum(_.fsBytesWritten),
      "store.bytes_read" -> sum(_.fsBytesRead),
      "store.files_created" -> sum(_.filesCreated),
      "store.files_deleted" -> sum(_.filesDeleted),
      "store.files_scanned" -> storeWork.map(_.filesScanned).sum.toDouble)
    m ++= streaming(ws.flatMap(_.progress))
    m("streaming.start_lag_ms") = Stats.median(ws.flatMap(_.startLagMs))
    m
  }

  /** Micro-batch engine and state-store figures of the given progress
    * events: medians per data batch, totals per pass, final state size. */
  def streaming(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val data = ps.filter(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def med(k: String): Double = Stats.median(data.map(dur(_, k)))
    def state(p: StreamingQueryProgress, f: StateOperatorProgress => Long): Double =
      p.stateOperators.map(f).sum.toDouble
    Map(
      "streaming.batches" -> data.length.toDouble,
      "streaming.input_rows" -> data.map(_.numInputRows).sum.toDouble,
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.query_planning_ms" -> med("queryPlanning"),
      "streaming.get_batch_ms" -> med("getBatch"),
      "streaming.latest_offset_ms" -> med("latestOffset"),
      "streaming.wal_commit_ms" -> med("walCommit"),
      "streaming.commit_offsets_ms" -> med("commitOffsets"),
      "state.rows" -> (if (data.isEmpty) 0.0 else data.map(state(_, _.numRowsTotal)).max),
      "state.rows_updated" -> data.map(state(_, _.numRowsUpdated)).sum,
      "state.memory_bytes" ->
        (if (data.isEmpty) 0.0 else data.map(state(_, _.memoryUsedBytes)).max),
      "state.commit_ms" -> Stats.median(data.map(state(_, _.commitTimeMs))))
  }

  /** Wall per layer over the op subtrees of a traced run: the spans'
    * self times by kind, with each layer call's wall split into Catalyst
    * phases, job-covered time and the driver time left over. */
  def layerTimes(t: Tracer, root: Span): Map[String, Double] = {
    val self = t.selfTimes(root)
    val ops = t.subtree(root).filter(_.kind == "op")
    val ws = ops.flatMap(t.subtree).flatMap(s => t.work.get(s.id))
    val catalyst = ws.map(w => w.analysisMs + w.optimizationMs + w.planningMs).sum / 1e3
    val jobs = Work.jobCoveredS(ws)
    val opWall = ops.map(_.seconds).sum
    self.map { case (k, v) => s"span.$k" -> v } ++ Map(
      "op.catalyst" -> catalyst,
      "op.spark_jobs" -> jobs,
      "op.driver_other" -> math.max(0.0, opWall - jobs - catalyst),
      "op.total" -> opWall)
  }
}
