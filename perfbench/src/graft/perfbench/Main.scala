package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.api.Graft
import graft.sources.{Scratch, Tables}

/** JVM side of the benchmark: one workload, one client thread, Spark
  * `local[nproc]`. Calls the program only through `SparkEntry.queries`,
  * the `Graft` store API and `CdcStream.applyThroughputProbe`. Writes
  * to `--out`: `result.json` (metrics, host conditions, in-JVM check
  * failures), the rows the launcher compares against DuckDB (one
  * directory per entry plus `oracle_sql.json`, the layout of
  * `tools/check.py`) and, with tracing on, `trace.json` (spans and
  * per-layer times).
  *
  *   graft.perfbench.Main --workload w --seed n --seconds s --trace 0|1
  *     --lake <dir> --out <dir>
  */
object Main {
  val LakeEntries = Seq(
    "q1_pricing_summary", "q3_top_orders", "q5_local_supplier", "q9_product_profit",
    "q18_large_orders", "q_window_rank", "q_median_by_group", "recon_checksum_agg",
    "recon_rowlevel", "cdc_apply_latest", "cdc_compact_log", "pii_pipeline",
    "dedup_minhash_lsh", "dedup_substring", "text_fingerprint", "text_tfidf_topterms",
    "ann_bruteforce")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("lake"), Paths.get(opt("out")))
    val code = try { run.execute(); 0 }
    catch { case t: Throwable => t.printStackTrace(); 1 }
    finally run.stop()
    sys.exit(code)
  }
}

/** One timed op. */
final case class Sample(kind: String, name: String, seconds: Double)

/** The passes of one kind in a run, untraced or traced, and their figures. */
final class Segment(val tracer: Tracer, failures: mutable.Buffer[String]) {
  private val cpus = Runtime.getRuntime.availableProcessors
  val samples = mutable.ArrayBuffer.empty[Sample]
  val passWalls = mutable.ArrayBuffer.empty[Double]
  val heapMb = mutable.ArrayBuffer.empty[Double]
  val perPass = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]

  def span[A](name: String, kind: String, storeRoot: String = null)(body: => A): A =
    tracer.span(name, kind, storeRoot)(body)

  /** Time one op; a throw counts it failed and yields None. */
  def op[A](kind: String, name: String)(body: => A): Option[A] = {
    val t0 = System.nanoTime()
    val r = try Some(span(name, "op")(body))
    catch { case t: Throwable => failures += s"$kind $name: $t"; None }
    samples += Sample(kind, name, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** One pass; its wall is the sum of its ops' walls (checks excluded).
    * A traced segment listens to Spark only while its passes run. */
  def pass(i: Int)(body: => Unit)(after: mutable.Map[String, Double] => Unit): Unit = {
    val sampler = new Host.Sampler(tracer.enabled)
    tracer.resetMaxima()
    tracer.attach()
    val n0 = samples.length
    try span(s"pass-$i", "pass")(body) finally tracer.detach()
    passWalls += samples.drop(n0).map(_.seconds).sum
    val layers = sampler.finish()
    if (tracer.enabled) {
      layers ++= Layers.ofPass(tracer, tracer.spans.filter(_.kind == "pass").last)
      layers("scheduler.max_concurrent_jobs") = tracer.maxJobs
      // task-end events can be delivered after the next task-start:
      // a slot count above the cores is an artefact of that order
      layers("executor.max_concurrent_tasks") = math.min(tracer.maxTasks, cpus)
    }
    after(layers)
    perPass += layers
    heapMb += Host.heapAfterGcMb()
  }
}

final class Run(workload: String, seed: Long, seconds: Double, trace: Boolean,
    lake: String, out: Path) {
  import Main._

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private val loadStart = Host.loadavg()
  private val cpus = Runtime.getRuntime.availableProcessors

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  private val rng = new java.util.Random(seed)
  private val failures = mutable.ArrayBuffer.empty[String]
  private var checks = 0

  private def newSegment(traced: Boolean) = new Segment(new Tracer(spark, traced), failures)

  /** Count one output check; a false result or a throw is a failure. */
  private def check(what: String)(ok: => Boolean): Unit = {
    checks += 1
    val r = try ok catch { case t: Throwable => failures += s"check $what: $t"; true }
    if (!r) failures += s"check $what: mismatch"
  }

  /** Whether the current pass runs the checks that cost Spark work: only
    * a run's first pass does; every pass runs the in-memory ones. */
  private var deep = false

  /** An op's Spark-side checks, in a span of their own, outside its timing. */
  private def verify(seg: Segment)(body: => Unit): Unit =
    if (deep) seg.span("check", "check")(body)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def shuffled[A](xs: Seq[A]): Seq[A] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  private def median(xs: Seq[Double]): Double = Stats.median(xs)

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: $msg")

  private trait Workload {
    def setup(): Unit
    def pass(seg: Segment, i: Int): Unit
    /** Per-pass layer figures only this workload can read (store listings). */
    def afterPass(layers: mutable.Map[String, Double]): Unit = ()
    /** Per-op-type figures of a segment, for the record. */
    def details(seg: Segment): Map[String, Double] =
      seg.samples.groupBy(_.kind).map { case (k, xs) =>
        s"${k}_p50_s" -> median(xs.map(_.seconds).toSeq) }
  }

  /** lake_query: the 17 read-only entries, each materialized into the
    * noop sink, plus one drain of the change log through the streaming
    * upsert state machine, in a seeded order per pass. */
  private object LakeQuery extends Workload {
    val Drain = "cdc_drain"
    var logRows, keys = 0L
    private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

    def setup(): Unit = {
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          progress.synchronized { progress += e.progress }
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })
      logRows = graft.operators.CdcSuite.changeLog(spark, lake).count()
      keys = Tables.orders(spark, lake).count()
      // the streaming twin is checked against its batch oracle
      val checked = LakeEntries.map(n => n -> n) :+ ("cdc_stream_apply" -> "cdc_apply_latest")
      val oracle = graft.SparkEntry.oracleSql
      Json.write(out.resolve("oracle_sql.json"), checked.map { case (n, o) => n -> oracle(o) }.toMap)
      // warm/check pass: every entry once, its rows dumped in
      // tools/check.py's layout for the DuckDB compare the launcher runs
      // after this process exits. cdc_stream_apply runs the drain's state
      // machine over the same landed log, so the drain starts warm as
      // well. The entries keep disjoint scratch dirs, so the pass runs on
      // one thread per core: cold, on the client thread alone, it takes
      // two and a half timed passes, more than a run can spend. The
      // timed passes use the one client thread.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
      try {
        shuffled(checked.map(_._1)).map { n =>
          checks += 1
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              SparkSession.setActiveSession(spark)
              graft.SparkEntry.queries(n)(spark, lake).write.mode("overwrite")
                .parquet(out.resolve(n).toString)
            }
          })
        }.foreach(_.get())
      } finally pool.shutdown()
    }

    private def takeProgress(): Seq[StreamingQueryProgress] = {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      progress.synchronized { val r = progress.toSeq; progress.clear(); r }
    }

    /** AvailableNow over the landed change log into the noop sink. */
    private def drain(seg: Segment): Unit = {
      takeProgress()
      seg.op("drain", Drain) {
        seg.span("applyThroughputProbe", "stream")(
          graft.streaming.CdcStream.applyThroughputProbe(spark, lake))
      }.foreach { _ =>
        val data = takeProgress().filter(_.numInputRows > 0)
        check("drained input rows")(data.map(_.numInputRows).sum == logRows)
        check("drained state rows")(
          data.lastOption.exists(_.stateOperators.map(_.numRowsTotal).sum == keys))
      }
    }

    def pass(seg: Segment, i: Int): Unit = shuffled(LakeEntries :+ Drain).foreach {
      case Drain => drain(seg)
      case n => seg.op("query", n) {
        val df = seg.span(n, "entry")(graft.SparkEntry.queries(n)(spark, lake))
        seg.span(n, "action")(noop(df))
      }
    }

    override def details(seg: Segment): Map[String, Double] = {
      val drains = seg.samples.filter(_.kind == "drain").map(_.seconds).toSeq
      super.details(seg) + ("drain_rows_per_s" -> logRows / median(drains))
    }
  }

  /** index_maintain: writes beside reads on two living stores (IVFADC
    * and IVF), checked against an in-memory model of their ids. */
  private object IndexMaintain extends Workload {
    import spark.implicits._
    val Append = 100; val Delete = 50; val Updates = 50; val Inserts = 50; val Queries = 20
    var pqDir, ivfDir: String = _
    var corpus: Array[(Long, Array[Float])] = _
    var queries: DataFrame = _
    val pqLive = mutable.TreeSet.empty[Long]
    val ivfModel = mutable.HashMap.empty[Long, Array[Float]]
    var nextId = 10000000L
    var pqBatch, ivfBatch = 0L
    var lastServe, lastLww: Set[String] = Set.empty

    def setup(): Unit = {
      Graft.register(spark)
      val e = Tables.embeddings(spark, lake).select("vec_id", "embedding")
      corpus = e.as[(Long, Array[Float])].collect().sortBy(_._1)
      queries = corpus.take(Queries).toSeq.toDF("vec_id", "embedding").localCheckpoint()
      val root = Scratch.dir("perfbench_index")
      pqDir = Paths.get(root, "ivfpq").toString
      ivfDir = Paths.get(root, "ivf").toString
      // the two stores are disjoint: build them side by side
      graft.functions.Par.inParallel(
        Graft.ivfPqSave(Graft.ivfPqBuild(e, "vec_id", "embedding",
          kCoarse = graft.operators.AnnSuite.IvfK, m = 8, dsub = 8, ksub = 16), pqDir),
        Graft.ivfSave(Graft.ivfBuild(e, "vec_id", "embedding", graft.operators.AnnSuite.IvfK),
          ivfDir))
      corpus.foreach { case (id, v) => pqLive += id; ivfModel(id) = v }
      // no warm cycle: the builds already ran the stores' code paths, and
      // the first cycle is about 30% slower than later ones
    }

    private def perturb(v: Array[Float]): Array[Float] = {
      val w = v.map(x => x + 0.05f * rng.nextGaussian().toFloat)
      val n = math.sqrt(w.map(x => x.toDouble * x).sum).toFloat
      w.map(_ / n)
    }
    private def fresh(n: Int): Seq[(Long, Array[Float])] =
      (0 until n).map { _ => nextId += 1; (nextId, perturb(corpus(rng.nextInt(corpus.length))._2)) }

    private def serve(seg: Segment): Option[Set[String]] =
      seg.op("serve", "ivfpq_serve") {
        val idx = seg.span("ivfPqLoad", "api", pqDir)(Graft.ivfPqLoad(spark, pqDir))
        val df = seg.span("ivfPqQuery", "api")(
          Graft.ivfPqQuery(idx, queries, "vec_id", "embedding", nprobe = 2, topK = 5))
        seg.span("collect", "action")(df.collect()).map(_.toString).toSet
      }

    private def serveLww(seg: Segment): Option[Set[String]] =
      seg.op("serve_lww", "ivf_lww_serve") {
        val idx = seg.span("ivfLoadLww", "api", ivfDir)(Graft.ivfLoadLww(spark, ivfDir))
        val df = seg.span("ivfQuery", "api")(
          Graft.ivfQuery(idx, queries, "vec_id", "embedding", nprobe = 2, topK = 3))
        seg.span("collect", "action")(df.collect()).map(_.toString).toSet
      }

    /** query_id and cand_id lead every served row. */
    private def servedIds(rows: Set[String]): Set[Long] =
      rows.map(_.stripPrefix("[").split(",")(1).toLong)

    def pass(seg: Segment, i: Int): Unit = {
      val added = fresh(Append)
      pqBatch += 1
      val appendBatch = pqBatch
      seg.op("append", "ivfpq_append") {
        seg.span("ivfPqAppend", "api", pqDir)(Graft.ivfPqAppend(spark, pqDir,
          added.toDF("vec_id", "embedding"), "vec_id", "embedding", appendBatch))
      }.foreach(_ => pqLive ++= added.map(_._1))

      val live = pqLive.toArray
      val gone = Seq.fill(Delete)(live(rng.nextInt(live.length))).distinct
      pqBatch += 1
      val deleteBatch = pqBatch
      seg.op("delete", "ivfpq_delete") {
        seg.span("ivfPqDelete", "api", pqDir)(Graft.ivfPqDelete(spark, pqDir,
          gone.toDF("vec_id"), "vec_id", deleteBatch))
      }.foreach(_ => pqLive --= gone)

      serve(seg).foreach { rows =>
        lastServe = rows
        check("ivfpq serves only live ids")(servedIds(rows).forall(pqLive.contains))
        verify(seg) {
          check("ivfpq live rows")(Graft.ivfPqLoad(spark, pqDir).pq.codes.count() == pqLive.size)
        }
      }

      val ids = ivfModel.keys.toArray.sorted
      val updated = Seq.fill(Updates)(ids(rng.nextInt(ids.length))).distinct
        .map(id => (id, perturb(ivfModel(id))))
      val upserts = updated ++ fresh(Inserts)
      ivfBatch += 1
      val upsertBatch = ivfBatch
      seg.op("upsert", "ivf_upsert") {
        seg.span("ivfAppend", "api", ivfDir)(Graft.ivfAppend(spark, ivfDir,
          upserts.toDF("vec_id", "embedding"), "vec_id", "embedding", upsertBatch))
      }.foreach(_ => upserts.foreach { case (id, v) => ivfModel(id) = v })

      serveLww(seg).foreach { rows =>
        lastLww = rows
        check("ivf serves only stored ids")(servedIds(rows).forall(ivfModel.contains))
        verify(seg) {
          val view = Graft.ivfLoadLww(spark, ivfDir).assigned
          check("ivf live rows")(view.count() == ivfModel.size)
          val touched = upserts.map(_._1)
          val got = view.filter(col("cand_id").isin(touched: _*))
            .select("cand_id", "ce2").as[(Long, Array[Float])].collect()
          check("ivf last-write-wins winners") {
            got.length == touched.size &&
              got.forall { case (id, v) => v.sameElements(ivfModel(id)) }
          }
        }
      }

      seg.op("compact", "compact") {
        seg.span("ivfPqCompact", "api", pqDir)(Graft.ivfPqCompact(spark, pqDir))
        seg.span("ivfUpsertCompact", "api", ivfDir)(Graft.ivfUpsertCompact(spark, ivfDir))
      }
      verify(seg) {
        val quiet = newSegment(false)
        check("serve unchanged by compaction")(serve(quiet).contains(lastServe))
        check("lww serve unchanged by compaction")(serveLww(quiet).contains(lastLww))
      }
    }

    override def afterPass(layers: mutable.Map[String, Double]): Unit = {
      val (files, bytes, segs) = Host.listing(Seq(pqDir, ivfDir))
      layers ++= Seq("store.files_on_disk" -> files.toDouble,
        "store.bytes_on_disk" -> bytes.toDouble, "store.segments_live" -> segs.toDouble)
    }

    override def details(seg: Segment): Map[String, Double] = {
      val (_, bytes, _) = Host.listing(Seq(pqDir, ivfDir))
      super.details(seg) + ("store_bytes_per_row" -> bytes.toDouble / (pqLive.size + ivfModel.size))
    }
  }

  // ---- run ------------------------------------------------------------

  /** Passes until `budget` seconds have gone, at least one. Traced, the
    * first pass is followed by pairs of an untraced and a traced pass, at
    * least one pair; the seed's parity picks which of a pair runs first,
    * so over seeds neither half gains from the other's warm-up. */
  private def measure(w: Workload, plain: Segment, traced: Option[Segment], budget: Double): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    def run(seg: Segment): Unit = {
      deep = i == 0
      seg.pass(i)(w.pass(seg, i))(w.afterPass)
      log(f"pass $i${if (seg.tracer.enabled) " (traced)" else ""}: ${seg.passWalls.last}%.2f s")
      i += 1
    }
    run(plain)
    traced match {
      case None => while (elapsed < budget) run(plain)
      case Some(t) =>
        val pair = if (seed % 2 == 0) Seq(plain, t) else Seq(t, plain)
        do pair.foreach(run) while (elapsed < budget)
    }
  }

  def execute(): Unit = {
    Files.createDirectories(out)
    val w = Map("lake_query" -> LakeQuery, "index_maintain" -> IndexMaintain).getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    log("session ready")
    w.setup()
    log("set up")
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val plain = newSegment(false)
    val traced = if (trace) Some(newSegment(true)) else None
    traced match {
      case Some(t) => t.tracer.span(workload, "workload")(measure(w, plain, traced, seconds))
      case None => measure(w, plain, None, seconds)
    }
    val e2e = Map("setup_s" -> setupS, "pass_s" -> median(plain.passWalls.toSeq),
      "heap_peak_mb" -> plain.heapMb.max)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "metrics" -> e2e, "details" -> w.details(plain),
      "op_p50_s" -> plain.samples.groupBy(_.name).map { case (n, xs) =>
        n -> median(xs.map(_.seconds).toSeq) })
    var ops = plain.samples.length
    traced.foreach { seg =>
      val tracer = seg.tracer
      val root = tracer.spans.head
      ops += seg.samples.length
      val layers = mutable.LinkedHashMap.empty[String, Double]
      Layers.Names.foreach(n => layers(n) = median(seg.perPass.map(_.getOrElse(n, 0.0)).toSeq))
      // against the untraced passes of the pairs: the first pass runs the
      // Spark-side checks and starts colder
      layers("trace.overhead_pass_s") =
        median(seg.passWalls.toSeq) - median(plain.passWalls.drop(1).toSeq)
      result("per_layer") = layers
      result("traced_details") = w.details(seg)
      Json.write(out.resolve("trace.json"), Map(
        "workload" -> workload, "seed" -> seed,
        "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind,
          "parent" -> s.parent, "op" -> s.opId, "start_ns" -> s.start, "end_ns" -> s.end)),
        "self_time_s" -> tracer.selfTimes(root),
        "layer_time_s" -> Layers.layerTimes(tracer, root),
        "overhead" -> Map("untraced_pass_s" -> plain.passWalls.drop(1),
          "traced_pass_s" -> seg.passWalls, "delta_pass_s" -> layers("trace.overhead_pass_s"))))
    }
    result("attempted") = ops + checks
    result("failed") = failures.length
    result("failures") = failures.toSeq
    result("host") = Map(
      "nproc" -> cpus, "loadavg_start" -> loadStart, "loadavg_end" -> Host.loadavg(),
      "java_version" -> System.getProperty("java.version"), "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "state_store_provider" -> spark.conf.get("spark.sql.streaming.stateStore.providerClass"),
      "seed" -> seed)
    Json.write(out.resolve("result.json"), result)
  }

  def stop(): Unit = {
    // unload state stores before the context: a RocksDB maintenance
    // thread outliving teardown can crash the JVM on exit
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
  }
}
