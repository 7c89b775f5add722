package graft.perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.Daemon
import graft.api.{MetricsApi, MetricsHttpServer}
import graft.model.RollupConfig
import graft.operators.{Index, Rollups}
import graft.sources.RollupStore

/** The system-under-test side of the benchmark: one JVM that boots a Spark
  * session and a composed [[graft.Daemon]] (TCP carbon listener, rollup
  * flush stream, `RollupStore`, HTTP API), drives the daemon's own cadence
  * (a `tcpFlush` per flush period, `maintain()` per maintenance period),
  * and after the measured window drains, checks the store against a
  * reference computed from the lines the load generator sent, and runs
  * the operator catalog.
  *
  * The load itself comes from `run.py`, a separate process. The two talk
  * over this process's stdin (commands) and stdout (`@@` lines); every
  * other output is a file in the run directory. Nothing here is timed
  * from inside the program: each number is the wall time of a call this
  * harness makes into a public graft function.
  *
  * `java ... graft.perfbench.Harness <run.properties>`
  */
object Harness {

  private def nowMs: Long = System.currentTimeMillis()

  // the daemon's cadence and the session's parallelism, the same on every
  // workload: one `tcpFlush` per flush period, `maintain()` per maintenance
  // period, `local[Cpus]`
  private val FlushEveryMs = 2000L
  private val MaintainEveryMs = 10000L
  private val Cpus = 4

  // ------------------------------------------------------------ records

  final case class Cycle(startMs: Long, endMs: Long, rows: Int, name: String)
  final case class Interval(startMs: Long, endMs: Long)
  final case class Progress(recvMs: Long, startMs: Long, rows: Long,
      durations: Map[String, Long])
  final case class Sample(ms: Long, ok: Long, fail: Long, staged: Int, batches: Int)

  def main(args: Array[String]): Unit = {
    val t0 = nowMs
    val props = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try props.load(in) finally in.close()
    def prop(k: String): String =
      Option(props.getProperty(k)).getOrElse(sys.error(s"missing property $k"))

    val runDir = Paths.get(prop("runDir")).toAbsolutePath
    val trace = prop("trace") == "1"
    val seed = prop("seed").toLong
    val epoch = prop("epoch").toLong
    val nowSec = prop("nowSec").toLong
    val tracer = new Tracer(trace)

    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.graft.spillDir", runDir.resolve("spill").toString)
      .config("spark.sql.streaming.checkpointLocation", runDir.resolve("chk").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new JobRecorder
    if (trace) { spark.sparkContext.addSparkListener(jobs); jobs.registered = true }
    val sessionMs = nowMs - t0

    val store = runDir.resolve("store").toString
    val srcDir = Files.createDirectories(runDir.resolve("staged")).toString
    val daemon = new Daemon(spark, store, Some(nowSec))

    val progress = new ConcurrentLinkedQueue[Progress]()
    @volatile var firstBatch = Long.MaxValue // the warm pass's batches are not recorded
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0 && p.batchId >= firstBatch) progress.add(Progress(nowMs,
          java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    })

    // ---- preload (dashboard_read): a multi-day history appended through
    // the public store path in time-contiguous slices, the earlier ones
    // compacted and the last ones left as separate files; only when the
    // workload names a history (`preloadPaths`, with all its properties)
    val preload: Option[DataFrame] =
      Option(props.getProperty("preloadPaths")).map(paths => History.points(spark, seed,
        paths.toInt, prop("preloadDays").toInt, prop("preloadStepSec").toInt, epoch))
    val preloadMs = {
      val p0 = nowMs
      preload.foreach { pts =>
        val slices = prop("preloadSlices").toInt
        val compactAfter = prop("preloadCompactAfter").toInt
        History.slices(pts, slices).zipWithIndex.foreach { case (slice, i) =>
          tracer.span("store.append") {
            RollupStore.appendStateSlice(
              Rollups.mergeableWith(slice, RollupConfig.reference), store)
          }
          if (i + 1 == compactAfter) tracer.span("store.compact")(RollupStore.compact(spark, store))
        }
      }
      nowMs - p0
    }

    val httpPort = daemon.startHttp()
    val carbonPort = daemon.startTcpIngest(srcDir)
    val query = daemon.ingestQuery
    val listener = daemon.tcpListener

    // ---- the warm pass: two staged slices of an older history through the
    // live daemon (stream, store append, compaction) and one call of each
    // serving query, so that the window does not pay class loading and code
    // generation; these points join the reference like the preload
    val warm = History.points(spark, seed + 1, 60, 1, 3600, epoch - 4 * 86400L)
    val warmMs = {
      val w0 = nowMs
      History.slices(warm, 2).zipWithIndex.foreach { case (s, i) =>
        Daemon.stageSlice(s, srcDir, s"warm$i.parquet")
      }
      query.processAllAvailable()
      firstBatch = query.lastProgress.batchId + 1
      daemon.maintain()
      val backend = new MetricsHttpServer.StoreBackend(spark, store, Some(nowSec))
      backend.getMetrics(Seq("servers.click.u0", "servers.view.u1"), nowSec - 3600, nowSec)
      backend.getPaths("servers.*", None)
      nowMs - w0
    }

    // ---- the daemon's cadence
    val running = new AtomicBoolean(true)
    val cycles = new ConcurrentLinkedQueue[Cycle]()
    val maintains = new ConcurrentLinkedQueue[Interval]()
    val samples = new ConcurrentLinkedQueue[Sample]()
    val cycleSeq = new java.util.concurrent.atomic.AtomicInteger(0)

    def flushOnce(): Int = {
      val name = f"c${cycleSeq.getAndIncrement()}%06d.parquet"
      val c0 = nowMs
      val n = tracer.span("stage.tcp_flush") {
        jobs.inGroup(spark, "stage")(daemon.tcpFlush(name))
      }
      if (n > 0) cycles.add(Cycle(c0, nowMs, n, name))
      n
    }
    // the cadence is phase-locked to the load generator's start instant
    // (START), so that which requests meet a flush or a compaction is the
    // same in every run
    def every(startMs: Long, periodMs: Long, name: String)(body: => Unit): Thread = {
      val t = new Thread(() => {
        var next = startMs + periodMs
        while (running.get()) {
          val wait = next - nowMs
          if (wait > 0) Thread.sleep(math.min(wait, 50L))
          else {
            body
            next += periodMs
            while (next <= nowMs) next += periodMs // skip missed ticks, never burst
          }
        }
      }, name)
      t.setDaemon(true)
      t.start()
      t
    }
    def cadence(t0: Long): Seq[Thread] = Seq(
      every(t0, FlushEveryMs, "bench-flush") { flushOnce(); () },
      every(t0, MaintainEveryMs, "bench-maintain") {
        val m0 = nowMs
        tracer.span("store.compact")(jobs.inGroup(spark, "maintain")(daemon.maintain()))
        maintains.add(Interval(m0, nowMs))
      },
      every(t0, 100L, "bench-sampler") {
        samples.add(Sample(nowMs, listener.receivedOk.get(), listener.receivedFail.get(),
          cycles.size, progress.size))
      })
    var threads = Seq.empty[Thread]

    val readyMs = nowMs
    val out = new java.io.PrintStream(new java.io.FileOutputStream(java.io.FileDescriptor.out), true)
    out.println(s"@@READY carbon=$carbonPort http=$httpPort")

    val result = mutable.LinkedHashMap[String, Any](
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ms" -> sessionMs, "preload_ms" -> preloadMs, "warm_ms" -> warmMs, "ready_ms" -> readyMs,
      "carbon_port" -> carbonPort, "http_port" -> httpPort)
    val stdin = new BufferedReader(new InputStreamReader(System.in))
    var done = false
    while (!done) {
      val line = stdin.readLine()
      if (line == null) { done = true; running.set(false) }
      else line.split(" ").toList match {
        case "START" :: t0 :: Nil =>
          threads = cadence(t0.toLong)
        case "DRAIN" :: sentFile :: queriesFile :: expectFile :: Nil =>
          running.set(false)
          threads.foreach(_.join(120000L))
          // the daemon's peak, read before the drain computes the reference
          // and before the traced replays and the catalog run in this JVM
          result("rss_peak_kb") = vmHwmKb
          drain(spark, daemon, flushOnce _, query, store, sentFile,
            preload.fold(warm)(_.unionByName(warm)),
            queriesFile, expectFile, nowSec, trace, tracer, jobs, srcDir, cycles,
            maintains, result)
          result("cycles") = cycles.asScala.toSeq.map(c =>
            Seq(c.startMs, c.endMs, c.rows.toLong))
          result("maintains") = maintains.asScala.toSeq.map(m => Seq(m.startMs, m.endMs))
          result("progress") = progress.asScala.toSeq.map(p => Map(
            "recv_ms" -> p.recvMs, "start_ms" -> p.startMs, "rows" -> p.rows,
            "durations" -> p.durations))
          result("samples") = samples.asScala.toSeq.map(s =>
            Seq(s.ms, s.ok, s.fail, s.staged.toLong, s.batches.toLong))
          result("received_ok") = listener.receivedOk.get()
          result("received_fail") = listener.receivedFail.get()
          out.println("@@DRAINED")
        case "CATALOG" :: dataDir :: dumpDir :: opsCsv :: Nil =>
          daemon.stop()
          Catalog.run(spark, dataDir, dumpDir, opsCsv.split(",").toSeq.filter(_.nonEmpty),
            tracer, jobs, result)
          out.println("@@CATALOGED")
        case "FINISH" :: resultFile :: Nil =>
          if (trace) {
            result("jobs") = jobs.summary
            tracer.write(runDir.resolve("spans.json"))
          }
          Files.writeString(Paths.get(resultFile), Json.render(result))
          out.println("@@DONE")
          done = true
        case other =>
          System.err.println(s"[perfbench] unknown command: ${other.mkString(" ")}")
      }
    }
    try daemon.stop() catch { case _: Throwable => () }
    spark.stop()
  }

  /** Peak resident set of this JVM so far (`VmHWM`, kB). */
  private def vmHwmKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Final flush + drain, the traced replays, the final compaction, the
    * store-vs-reference gate and the expected HTTP answers.
    */
  private def drain(spark: SparkSession, daemon: Daemon, flushOnce: () => Int,
      query: org.apache.spark.sql.streaming.StreamingQuery, store: String,
      sentFile: String, loaded: DataFrame, queriesFile: String,
      expectFile: String, nowSec: Long, trace: Boolean, tracer: Tracer,
      jobs: JobRecorder, srcDir: String, cycles: ConcurrentLinkedQueue[Cycle],
      maintains: ConcurrentLinkedQueue[Interval],
      result: mutable.LinkedHashMap[String, Any]): Unit = {
    flushOnce()
    query.processAllAvailable()

    val sent = spark.read.schema("path STRING, value DOUBLE, ts BIGINT, event_id BIGINT")
      .csv(sentFile)
    val points = loaded.unionByName(sent)
    val reference = Rollups.finalize(Rollups.mergeAll(
      Rollups.mergeableWith(points, RollupConfig.reference))).localCheckpoint()

    if (trace) traced(spark, store, srcDir, cycles, nowSec, tracer, jobs, result)
    result("store_files_per_dir_max") = StoreStats.filesPerDirMax(store)

    val c0 = nowMs
    tracer.span("store.compact")(jobs.inGroup(spark, "maintain")(daemon.maintain()))
    maintains.add(Interval(c0, nowMs))

    val got = RollupStore.readFinalized(spark, store).localCheckpoint()
    val missing = reference.exceptAll(got).count()
    val extra = got.exceptAll(reference).count()
    result("store_missing_rows") = missing
    result("store_extra_rows") = extra
    result("reference_rows") = reference.count()
    result("points") = points.count()
    result("store_bytes") = StoreStats.bytes(store)
    result("store_files") = StoreStats.files(store)

    // expected answers for the queries run.py sampled, over the reference
    val idx = Index.indexFrom(reference.select("path").distinct()).localCheckpoint()
    val lines = Files.readAllLines(Paths.get(queriesFile)).asScala.filter(_.nonEmpty)
    val expected = lines.map { q =>
      q.split(" ").toList match {
        case "metrics" :: paths :: from :: to :: Nil =>
          val r = MetricsApi.getMetricsFrom(reference, paths.split(",").toSeq,
            from.toLong, to.toLong, nowSec)
          Json.render(mutable.LinkedHashMap[String, Any](
            "q" -> q, "from" -> r.from, "to" -> r.to, "step" -> r.step,
            "series" -> r.series.map { case (p, vs) => p -> vs.map(_.getOrElse(null)) }))
        case "paths" :: glob :: Nil =>
          val es = MetricsApi.getPathsFrom(idx, glob)
          Json.render(mutable.LinkedHashMap[String, Any]("q" -> q,
            "paths" -> es.map(e => Seq(e.path, e.depth.toLong, e.leaf)))
          )
        case _ => sys.error(s"bad query line: $q")
      }
    }
    Files.write(Paths.get(expectFile), expected.asJava)
  }

  /** The traced run's layer replays, made after the window so that they
    * never perturb it: each staged slice through `Rollups.mergeableWith`
    * and `RollupStore.appendStateSlice` (into a scratch store), direct
    * `StoreBackend` calls beside the HTTP ones, and store reads.
    */
  private def traced(spark: SparkSession, store: String, srcDir: String,
      cycles: ConcurrentLinkedQueue[Cycle], nowSec: Long, tracer: Tracer,
      jobs: JobRecorder, result: mutable.LinkedHashMap[String, Any]): Unit = {
    val scratch = Paths.get(store).resolveSibling("replay-store").toString
    val replay = cycles.asScala.toSeq.takeRight(12).map { c =>
      val slice = spark.read.parquet(Paths.get(srcDir, c.name).toString)
      val r0 = System.nanoTime()
      val state = tracer.span("rollup.mergeable_with") {
        jobs.inGroup(spark, "rollup")(
          Rollups.mergeableWith(slice, RollupConfig.reference).localCheckpoint())
      }
      val r1 = System.nanoTime()
      val stateRows = state.count()
      val dirs = state.select(col("tbl"),
        to_date(timestamp_seconds(col("stat_time")))).distinct().count()
      val a0 = System.nanoTime()
      tracer.span("store.append")(jobs.inGroup(spark, "store")(
        RollupStore.appendStateSlice(state, scratch)))
      val a1 = System.nanoTime()
      Seq((r1 - r0) / 1e6, (a1 - a0) / 1e6, stateRows.toDouble / c.rows, dirs.toDouble)
    }
    result("replay") = replay
    val backend = new MetricsHttpServer.StoreBackend(spark, store, Some(nowSec))
    val paths = RollupStore.readFinalized(spark, store).select("path").distinct()
      .orderBy("path").limit(2000).collect().map(_.getString(0)).toSeq
    // twenty direct calls of each kind, so that their medians rest on twenty samples
    val pick = (0 until 20).map(i => paths(i * paths.size / 20))
    val backendMetrics = pick.map { p =>
      val b0 = System.nanoTime()
      jobs.inGroup(spark, "serve")(tracer.span("serve.backend_metrics")(
        backend.getMetrics(Seq(p), nowSec - 3600, nowSec)))
      (System.nanoTime() - b0) / 1e6
    }
    val globs = Seq("*", "servers.*", "servers.click.*", "servers.*.u1", "servers.view.*")
    val backendPaths = Seq.fill(4)(globs).flatten.map { g =>
      val b0 = System.nanoTime()
      jobs.inGroup(spark, "serve")(tracer.span("serve.backend_paths")(backend.getPaths(g, None)))
      (System.nanoTime() - b0) / 1e6
    }
    val reads = (1 to 5).map { _ =>
      val b0 = System.nanoTime()
      tracer.span("store.read")(jobs.inGroup(spark, "store")(
        RollupStore.readFinalizedResilient(spark, store).write.format("noop").mode("overwrite").save()))
      (System.nanoTime() - b0) / 1e6
    }
    result("backend_metrics_ms") = backendMetrics
    result("backend_paths_ms") = backendPaths
    result("store_read_ms") = reads
    result("serve_jobs") = jobs.groupJobs("serve").toDouble / (pick.size + backendPaths.size)
  }
}

/** The preloaded history of `dashboard_read`: `paths` dotted paths
  * (`servers.<type>.u<n>`, the same shape the live feed uses), one point per
  * path every `stepSec` (with a deterministic jitter inside the step) over
  * `days` days ending at `epoch`. Values and jitter are hashes of the seed,
  * so the history is the same for the same seed.
  */
object History {
  val Types: Seq[String] = Seq("click", "error", "purchase", "signup", "view", "login")

  def points(spark: SparkSession, seed: Long, paths: Int, days: Int,
      stepSec: Int, epoch: Long): DataFrame = {
    val perPath = days.toLong * 86400L / stepSec
    val start = epoch - days.toLong * 86400L
    val types = array(Types.map(lit): _*)
    spark.range(0L, paths * perPath, 1L, 4)
      .select(
        (col("id") % paths).as("p"),
        (col("id") / paths).cast("long").as("t"),
        col("id").as("event_id"))
      .select(
        concat(lit("servers."), element_at(types, (col("p") % Types.size + 1).cast("int")),
          lit(".u"), (col("p") / Types.size).cast("long").cast("string")).as("path"),
        (pmod(xxhash64(lit(seed), col("event_id")), lit(100000L)) / 100.0).as("value"),
        (lit(start) + col("t") * stepSec +
          pmod(xxhash64(lit(seed + 1), col("event_id")), lit(stepSec.toLong))).as("ts"),
        col("event_id"))
  }

  /** Time-contiguous slices of the history — flush cycles close in time
    * order, so each slice touches only its own `stat_date` directories.
    */
  def slices(points: DataFrame, n: Int): Seq[DataFrame] = {
    val r = points.agg(min("ts"), max("ts")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1) + 1)
    val w = (hi - lo + n - 1) / n
    (0 until n).map(i => points.filter(col("ts") >= lo + i * w && col("ts") < lo + (i + 1) * w))
  }
}

/** Size and shape of a store directory tree (parquet data files only). */
object StoreStats {
  private def dataFiles(store: String): Seq[Path] = {
    val root = Paths.get(store)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        !root.relativize(p).toString.startsWith("_")).toList
      finally s.close()
    }
  }
  def bytes(store: String): Long = dataFiles(store).map(Files.size).sum
  def files(store: String): Long = dataFiles(store).size.toLong
  def filesPerDirMax(store: String): Long = {
    val byDir = dataFiles(store).groupBy(_.getParent).values.map(_.size)
    if (byDir.isEmpty) 0L else byDir.max.toLong
  }
}
