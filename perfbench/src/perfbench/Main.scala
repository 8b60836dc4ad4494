package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Date
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.engine.{Analytics, Analyze, Pipeline, TableSink, VersionedParquetSink}
import graft.streaming.StreamingPipeline

/** One benchmark run in one JVM: `SetupReps` set-ups (session start and a
  * warm-up poll on a throwaway store), then a closed loop over `--polls`
  * snapshots, then the output checks. Writes the raw samples as JSON to
  * `--out`; `run.py` turns them into metrics.
  *
  * Arguments: `--workload feed_batch|feed_stream --inputs <dir> --work <dir>
  * --out <file> --polls <n> --trace 0|1`. The inputs are the snapshots
  * `feedgen.py` wrote; everything the run writes stays under `--work`. */
object Main {
  val SetupReps = 3
  // traced runs extend `curated` to this many commits after the checks,
  // past Spark's 32-path parallel-discovery threshold
  val ProbeCommits = 40
  // refreshes after the stream stops: they check the read path over the
  // streamed tables; the first one runs cold
  val StreamDashboards = 1
  // longest wait for one micro-batch to report progress
  val PollTimeoutS = 60L

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(a("workload"), a("inputs"), a("work"),
      a("polls").toInt, a("trace") == "1")
    val out = try run.execute() finally run.close()
    Files.write(Paths.get(a("out")), Json.render(out).getBytes(StandardCharsets.UTF_8))
  }
}

final class Run(workload: String, inputs: String, work: String,
    pollCount: Int, traced: Boolean) {
  import Main._

  private val batch = workload match {
    case "feed_batch" => true
    case "feed_stream" => false
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }
  private val sparkTrace = new SparkTrace
  private var spark: SparkSession = _
  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  @volatile private var currentPoll = 0

  /** CPU readings around one poll: the JVM's CPU time and the share of the
    * box's CPU time the host stole while the poll ran. */
  private final class Meter {
    private val cpu0 = Cpu.processMs()
    private val (steal0, total0) = Cpu.jiffies()
    def close(): Map[String, Double] = {
      val (steal1, total1) = Cpu.jiffies()
      Map("jvm.cpu_ms" -> (Cpu.processMs() - cpu0), "host.steal_share" ->
        (steal1 - steal0).toDouble / math.max(1L, total1 - total0))
    }
  }

  private def snapshots: Seq[String] =
    new File(inputs).list().filter(n => n.startsWith("snap-") && !n.endsWith(".guids"))
      .sorted.map(n => s"$inputs/$n").toSeq
  private def guids(snap: String): Seq[String] =
    Files.readAllLines(Paths.get(snap.stripSuffix(".json") + ".guids")).asScala.toSeq

  /** Counts one operation; a throw or a false result is a failure. */
  private def op(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try {
      val right = body
      if (!right) errors += s"$what: wrong result"
      right
    } catch {
      case NonFatal(e) =>
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        false
    }
    if (!ok) failed += 1
    ok
  }

  private val born = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%.1fs] $msg")

  private def newSession(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val b = graft.SessionDefaults.builder(cpus)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
    if (traced) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def analyzer: Analyze.TextAnalyzer =
    if (traced) new TracedAnalyzer(Analyze.RuleBasedAnalyzer)
    else Analyze.RuleBasedAnalyzer

  /** The dashboard (visualizer.py:53-188): the seven `Analytics` frames over
    * the curated and actors tables. Returns its article count. */
  private def dashboard(sink: TableSink): Long = {
    val news = sink.read(spark, "curated")
    val actors = sink.read(spark, "actors")
    val filtered = Analytics.filterNews(news, FeedNames,
      Date.valueOf("2024-01-01"), Date.valueOf("2030-12-31"))
    val relevant = Analytics.relevantActors(actors, filtered)
    val n = Analytics.metrics(filtered, relevant).collect()(0).getLong(0)
    Analytics.timeline(filtered).collect()
    Analytics.topActors(relevant, 10).collect()
    Analytics.topActorRoles(relevant, 10).collect()
    Analytics.categoryDistribution(filtered).collect()
    Analytics.dateBounds(news).collect()
    Analytics.detailView(filtered, relevant).collect()
    n
  }
  private val FeedNames = Seq("Business", "Health", "Politics", "Science", "Technology")

  private def timedMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  def execute(): Map[String, Any] = {
    val setups = (1 to SetupReps).map { r =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession()
      warmUp(s"$work/warm-$r")
      log(s"setup $r done")
      (System.nanoTime() - t0) / 1e9
    }
    if (traced) {
      spark.sparkContext.addSparkListener(sparkTrace)
      spark.listenerManager.register(sparkTrace)
      Trace.on = true
    }
    val res = Trace.span(0, "workload", workload)(id =>
      if (batch) feedBatch(id) else feedStream(id))
    log("workload done")
    val checks = checkOutputs(res.sink, res.seen.toSet)
    log("checks done")
    val common = Map(
      "workload" -> workload,
      "setup_s" -> setups,
      "polls" -> res.polls,
      "dashboard_ms" -> res.dashboardMs,
      "peak_rss_mb" -> peakRssMb(),
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "checks" -> checks)
    if (!traced) common
    else {
      val shape = StoreShape(s"$work/store").layerMetrics
      val probe = historyProbe(res.sink)
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
      common ++ Map("store_shape" -> shape, "history_probe" -> probe,
        "spans" -> (Trace.spans.asScala.toSeq ++ sparkTrace.spans()).map(_.toMap))
    }
  }

  final case class Result(sink: VersionedParquetSink, seen: Seq[String],
      polls: Seq[Map[String, Any]], dashboardMs: Seq[Double])

  /** One warm-up poll on a throwaway store. */
  private def warmUp(dir: String): Unit = {
    val sink = new VersionedParquetSink(s"$dir/store")
    val first = snapshots.head
    if (batch) Pipeline.run(spark, first, sink, analyzer)
    else {
      val watch = new File(s"$dir/watch"); watch.mkdirs()
      Files.copy(Paths.get(first), watch.toPath.resolve(new File(first).getName))
      StreamingPipeline.stream(spark, watch.getPath, sink, s"$dir/checkpoint",
        analyzer = analyzer, compactEvery = Some(10)).awaitTermination()
    }
  }

  /** Pipeline.run once per snapshot directory, a dashboard refresh after
    * each poll. */
  private def feedBatch(workloadSpan: Int): Result = {
    val sink = new VersionedParquetSink(s"$work/store")
    val tsink: TableSink =
      if (traced) new TracedSink(sink, () => currentPoll) else sink
    val seen = mutable.LinkedHashSet.empty[String]
    val polls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val dash = mutable.ArrayBuffer.empty[Double]
    for (snap <- snapshots.take(pollCount)) {
      val fresh = guids(snap).filterNot(seen.contains).distinct
      val fs0 = if (traced) CountingLocalFileSystem.snapshot() else Map.empty[String, Double]
      var rows = -1L
      val meter = new Meter
      val t0 = System.nanoTime()
      val ok = op(s"poll ${polls.size}") {
        Trace.span(workloadSpan, "poll", s"poll ${polls.size}") { id =>
          currentPoll = id
          rows = Pipeline.run(spark, snap, tsink, analyzer).newArticles
        }
        rows == fresh.size
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val readings = meter.close()
      seen ++= fresh
      val probes =
        if (traced) CountingLocalFileSystem.delta(fs0) ++ readProbes(sink)
        else Map.empty[String, Double]
      polls += Map("ms" -> ms, "rows" -> rows, "ok" -> ok,
        "input_bytes" -> newInputBytes(snap, fresh.toSet),
        "store_bytes" -> StoreShape(s"$work/store").totalBytes) ++ readings ++ probes
      val d0 = System.nanoTime()
      op(s"dashboard ${dash.size}") {
        Trace.span(workloadSpan, "dashboard", s"dashboard ${dash.size}")(_ =>
          dashboard(sink)) == seen.size
      }
      dash += (System.nanoTime() - d0) / 1e6
    }
    Result(sink, seen.toSeq, polls.toSeq, dash.toSeq)
  }

  /** One long-running stream; the next snapshot is dropped into the
    * watched directory only after the previous one's batch reported
    * progress. */
  private def feedStream(workloadSpan: Int): Result = {
    val sink = new VersionedParquetSink(s"$work/store")
    val watch = new File(s"$work/watch"); watch.mkdirs()
    val progress = new LinkedBlockingQueue[(Long, StreamingQueryProgress)]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.put((System.nanoTime(), e.progress))
    }
    spark.streams.addListener(listener)
    val q = StreamingPipeline.stream(spark, watch.getPath, sink,
      s"$work/checkpoint", analyzer = analyzer,
      trigger = Trigger.ProcessingTime(0L), compactEvery = Some(10))
    val seen = mutable.LinkedHashSet.empty[String]
    val polls = mutable.ArrayBuffer.empty[Map[String, Any]]
    try {
      for (snap <- snapshots.take(pollCount) if q.isActive) {
        val lines = Files.readAllLines(Paths.get(snap)).size
        val fresh = guids(snap).filterNot(seen.contains).distinct
        val fs0 = if (traced) CountingLocalFileSystem.snapshot() else Map.empty[String, Double]
        val meter = new Meter
        val t0 = System.nanoTime()
        val c0 = Clock.now()
        var got: (Long, StreamingQueryProgress) = null
        val ok = op(s"batch ${polls.size}") {
          Files.move(Paths.get(snap), watch.toPath.resolve(new File(snap).getName),
            StandardCopyOption.ATOMIC_MOVE)
          got = progress.poll(PollTimeoutS, TimeUnit.SECONDS)
          got != null && got._2.numInputRows == lines
        }
        val ms = ((if (got != null) got._1 else System.nanoTime()) - t0) / 1e6
        val readings = meter.close()
        if (traced) Trace.add(Trace.nextId(), workloadSpan, "poll",
          s"batch ${polls.size}", c0, c0 + (ms * 1e6).toLong,
          if (got != null) streamAttrs(got._2) else Map.empty)
        seen ++= fresh
        polls += Map("ms" -> ms, "rows" -> fresh.size, "ok" -> ok,
          "batch_id" -> (if (got != null) got._2.batchId else -1L),
          "store_bytes" -> StoreShape(s"$work/store").totalBytes,
          "input_bytes" -> newInputBytes(snap, fresh.toSet,
            Some(watch.toPath.resolve(new File(snap).getName).toString))) ++
          readings ++ (if (traced) CountingLocalFileSystem.delta(fs0) ++
            readProbes(sink) else Map.empty)
        q.exception.foreach(e => errors += s"stream query failed: ${e.getMessage}".take(400))
      }
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    val dash = (1 to StreamDashboards).map { i =>
      val d0 = System.nanoTime()
      op(s"dashboard $i") {
        Trace.span(workloadSpan, "dashboard", s"dashboard $i")(_ =>
          dashboard(sink)) == seen.size
      }
      (System.nanoTime() - d0) / 1e6
    }
    Result(sink, seen.toSeq, polls.toSeq, dash)
  }

  /** Plan-construction time of both read paths over `curated`, taken
    * after a poll in traced runs, outside its timing. */
  private def readProbes(sink: VersionedParquetSink): Map[String, Double] =
    Map("commits" -> sink.versions(spark, "curated").size.toDouble,
      "table.read_plan_raw_ms" -> timedMs(sink.read(spark, "curated")),
      "graft.read_plan_raw_ms" -> timedMs(
        spark.read.format("graft").load(s"$work/store/curated")))

  /** Extends `curated` with one-row commits up to [[Main.ProbeCommits]] and
    * times both read-plan paths, and the bytes the `sink.read` plan reads,
    * at each history length. Runs after the checks, as the last step. */
  private def historyProbe(sink: VersionedParquetSink): Seq[Map[String, Double]] = {
    val row = sink.read(spark, "curated").limit(1).localCheckpoint()
    var n = sink.versions(spark, "curated").size
    val out = mutable.ArrayBuffer.empty[Map[String, Double]]
    while (n < ProbeCommits) {
      sink.append(row, "curated")
      n += 1
      val fs0 = CountingLocalFileSystem.snapshot()
      val rawMs = timedMs(sink.read(spark, "curated"))
      val bytes = CountingLocalFileSystem.delta(fs0)("fs.bytes_read")
      out += Map("commits" -> n.toDouble, "table.read_plan_raw_ms" -> rawMs,
        "fs.bytes_read" -> bytes, "graft.read_plan_raw_ms" -> timedMs(
          spark.read.format("graft").load(s"$work/store/curated")))
    }
    out.toSeq
  }

  private def streamAttrs(p: StreamingQueryProgress): Map[String, Double] = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
    def dur(k: String) = d.getOrElse(k, 0.0)
    Map("stream.trigger_ms" -> dur("triggerExecution"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.get_batch_ms" -> dur("getBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "stream.state_rows" -> p.stateOperators.map(_.numRowsTotal).sum.toDouble,
      "stream.state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum.toDouble,
      "batch_id" -> p.batchId.toDouble)
  }

  /** Bytes of the snapshot lines whose guid this poll commits for the
    * first time — the accepted input. */
  private def newInputBytes(snap: String, fresh: Set[String],
      at: Option[String] = None): Long = {
    val f = new File(at.getOrElse(snap))
    val files = if (f.isDirectory) f.listFiles().toSeq else Seq(f)
    val guid = "\"guid\": \"([^\"]*)\"".r
    files.flatMap(x => Files.readAllLines(x.toPath).asScala).map { l =>
      guid.findFirstMatchIn(l).filter(m => fresh.contains(m.group(1)))
        .map(_ => l.getBytes(StandardCharsets.UTF_8).length + 1L).getOrElse(0L)
    }.sum
  }

  /** The output checks, outside the timed loop: every table holds each
    * valid guid exactly once, and `actors` equals the analysis recomputed
    * in one batch over the final `curated` table. */
  private def checkOutputs(sink: VersionedParquetSink,
      seen: Set[String]): Map[String, Boolean] = {
    val session = spark
    import session.implicits._
    val expected = seen.toSeq.toDF("id").cache()
    // the streaming path keeps its processed ids in the state store
    val tables = Seq("raw", "curated") ++ (if (batch) Seq("state") else Nil)
    val exactlyOnce = tables.map { t =>
      t -> op(s"check $t") {
        val ids = sink.read(spark, t).select("id")
        ids.count() == seen.size &&
          ids.exceptAll(expected).isEmpty && expected.exceptAll(ids).isEmpty
      }
    }
    val actors = "actors" -> op("check actors") {
      val stored = sink.read(spark, "actors")
      val again = Analyze.explodeActors(
        Analyze.withAnalysis(spark, sink.read(spark, "curated")))
      stored.count() > 0 &&
        stored.exceptAll(again).isEmpty && again.exceptAll(stored).isEmpty
    }
    expected.unpersist()
    (exactlyOnce :+ actors).toMap
  }

  private def peakRssMb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally f.close()
  }

  def close(): Unit = if (spark != null) spark.stop()
}

/** Byte and directory counts of a versioned store on local disk. */
final case class StoreShape(base: String) {
  private def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f))
  private def bytes(dir: File) = files(dir).map(_.length).sum

  def totalBytes: Long = bytes(new File(base))

  def layerMetrics: Map[String, Double] = {
    val tables = Option(new File(base).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && !d.getName.startsWith("_"))
    val curated = new File(base, "curated")
    def logDirs(t: File) = Seq("_commits", "_delta_log").map(new File(t, _))
    Map(
      "table.commits" -> Option(new File(curated, "_commits").list())
        .toSeq.flatten.count(_.endsWith(".commit")).toDouble,
      "table.data_dirs" -> Option(curated.list()).toSeq.flatten
        .count(_.startsWith("d-")).toDouble,
      "table.log_bytes" -> tables.flatMap(logDirs).map(bytes).sum.toDouble,
      "table.data_bytes" -> tables.map(t =>
        bytes(t) - logDirs(t).map(bytes).sum).sum.toDouble)
  }
}

/** Minimal JSON rendering for the raw result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Process CPU time and the host's CPU steal, for telling the program's own
  * cost apart from a contended virtual machine. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processMs(): Double = os.getProcessCpuTime / 1e6

  /** (steal, total) jiffies over all CPUs, from /proc/stat. */
  def jiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    } finally f.close()
  }
}
