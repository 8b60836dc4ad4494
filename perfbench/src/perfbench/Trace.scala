package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.{Analyze, TableSink}

/** One traced interval on the [[Clock]] time line. `parent` is 0 when the
  * span that caused it is only known by time containment; the report
  * (`stats.py`) resolves those by layer rank. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double]) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "layer" -> layer, "name" -> name, "start_ns" -> startNs,
    "end_ns" -> endNs, "attrs" -> attrs)
}

/** Epoch nanoseconds with nanoTime resolution, so the benchmark's own spans
  * and Spark's millisecond event times share one time line. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
  def ms(epochMs: Long): Long = epochMs * 1000000L
}

/** The in-memory span store of a traced run. Untraced runs never call it:
  * every recording site is behind `Trace.on`. Spans are written out once,
  * when the run ends. */
object Trace {
  @volatile var on = false
  private val ids = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Int = ids.incrementAndGet()

  def add(id: Int, parent: Int, layer: String, name: String, start: Long,
      end: Long, attrs: Map[String, Double] = Map.empty): Unit =
    if (on) spans.add(Span(id, parent, layer, name, start, end, attrs))

  /** Runs `body` inside a span; `body` gets the span's id for its children.
    * The span is kept also when `body` throws. */
  def span[T](parent: Int, layer: String, name: String)(body: Int => T): T = {
    if (!on) return body(0)
    val id = nextId()
    val t0 = Clock.now()
    try body(id)
    finally add(id, parent, layer, name, t0, Clock.now())
  }
}

/** `TableSink` that times each call into the versioned sink — the
  * `engine.VersionedSink` layer as `Pipeline.run` sees it. */
final class TracedSink(inner: TableSink, parent: () => Int) extends TableSink {
  private def timed[T](name: String)(body: => T): T =
    Trace.span(parent(), "table", name)(_ => body)

  override def append(df: DataFrame, table: String): Unit =
    timed("append")(inner.append(df, table))
  override def appendPartitioned(df: DataFrame, table: String,
      partitionCols: Seq[String]): Unit =
    timed("append")(inner.appendPartitioned(df, table, partitionCols))
  override def overwrite(df: DataFrame, table: String): Unit =
    timed("overwrite")(inner.overwrite(df, table))
  override def read(spark: SparkSession, table: String): DataFrame =
    timed("read_plan")(inner.read(spark, table))
  override def exists(spark: SparkSession, table: String): Boolean =
    timed("exists")(inner.exists(spark, table))
  override def appendOnce(df: DataFrame, table: String,
      commitKey: String): Boolean =
    timed("commit")(inner.appendOnce(df, table, commitKey))
  override def multiAppendOnce(writes: Seq[(DataFrame, String)],
      txnKey: String): Boolean =
    timed("commit")(inner.multiAppendOnce(writes, txnKey))
}

/** `TextAnalyzer` that records one span per analyzed partition, with its
  * row count and the time spent inside `analyze`. Spans go to the
  * process-wide [[Trace]], which the executors share with the driver in
  * local mode. */
final class TracedAnalyzer(inner: Analyze.TextAnalyzer)
    extends Analyze.TextAnalyzer {
  override def analyze(title: String, description: String)
      : Option[Analyze.Analysis] = inner.analyze(title, description)

  override def analyzeBatch(rows: Iterator[(String, String, String)])
      : Iterator[(String, Option[Analyze.Analysis])] = {
    val id = Trace.nextId()
    val t0 = Clock.now()
    var n = 0L
    var busy = 0L
    var open = true
    new Iterator[(String, Option[Analyze.Analysis])] {
      def hasNext: Boolean = {
        val more = rows.hasNext
        if (!more && open) {
          open = false
          Trace.add(id, 0, "analyze", "partition", t0, Clock.now(),
            Map("rows" -> n.toDouble, "busy_ms" -> busy / 1e6))
        }
        more
      }
      def next(): (String, Option[Analyze.Analysis]) = {
        val (rid, title, desc) = rows.next()
        val s = System.nanoTime()
        val r = inner.analyze(title, desc)
        busy += System.nanoTime() - s
        n += 1
        (rid, r)
      }
    }
  }
}

/** Job, task and SQL-execution spans from Spark's listener bus, plus the
  * Catalyst phase times of each action from its `QueryExecution.tracker`.
  * Events arrive asynchronously; [[spans]] is read after the bus drains. */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  private final class Job(val start: Long) {
    var end = 0L
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val sql = mutable.LinkedHashMap.empty[Long, (Long, Long, String)]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(Clock.ms(e.time))
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = Clock.ms(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); job <- jobs.get(jobId)) {
      val m = job.m
      m("tasks") += 1
      val t = e.taskMetrics
      if (t != null) {
        m("run_ms") += t.executorRunTime
        m("cpu_ms") += t.executorCpuTime / 1e6
        m("gc_ms") += t.jvmGCTime
        m("input_bytes") += t.inputMetrics.bytesRead
        m("shuffle_read_bytes") += t.shuffleReadMetrics.totalBytesRead
        m("shuffle_write_bytes") += t.shuffleWriteMetrics.bytesWritten
        m("spill_bytes") += t.memoryBytesSpilled + t.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sql(s.executionId) = (Clock.ms(s.time), 0L, s.description)
      case s: SparkListenerSQLExecutionEnd =>
        sql.get(s.executionId).foreach { case (t0, _, d) =>
          sql(s.executionId) = (t0, Clock.ms(s.time), d) }
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += ((name, Clock.ms(p.startTimeMs), Clock.ms(p.endTimeMs))) }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = onSuccess(funcName, qe, 0L)

  /** Every finished job, SQL execution and Catalyst phase as spans. */
  def spans(): Seq[Span] = synchronized {
    val js = jobs.collect { case (id, j) if j.end > 0 =>
      Span(Trace.nextId(), 0, "spark", s"job $id", j.start, j.end,
        j.m.toMap) }
    val ss = sql.collect { case (_, (t0, t1, d)) if t1 > 0 =>
      Span(Trace.nextId(), 0, "sql", d.take(60), t0, t1, Map.empty) }
    val ps = phases.map { case (n, t0, t1) =>
      Span(Trace.nextId(), 0, "driver", n, t0, t1, Map.empty) }
    (js ++ ss ++ ps).toSeq
  }
}

/** `file:` filesystem that counts operations — Hadoop's own `file`
  * statistics report bytes only. Registered through
  * `spark.hadoop.fs.file.impl` in traced runs. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def listStatus(f: Path) = { lists.incrementAndGet(); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int) = {
    opens.incrementAndGet(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable) = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path) = {
    renames.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean) = {
    deletes.incrementAndGet(); super.delete(f, recursive) }
}

object CountingLocalFileSystem {
  val lists, opens, creates, renames, deletes = new AtomicLong()

  /** Operation counts and Hadoop's global `file` byte counters, by metric
    * name. */
  def snapshot(): Map[String, Double] = {
    val st = FileSystem.getGlobalStorageStatistics.get("file")
    def stat(k: String) =
      Option(st).flatMap(s => Option(s.getLong(k))).map(_.toDouble).getOrElse(0.0)
    Map("fs.bytes_read" -> stat("bytesRead"),
      "fs.bytes_written" -> stat("bytesWritten"),
      "fs.list_calls" -> lists.get.toDouble,
      "fs.open_calls" -> opens.get.toDouble,
      "fs.create_calls" -> creates.get.toDouble,
      "fs.rename_calls" -> renames.get.toDouble,
      "fs.delete_calls" -> deletes.get.toDouble)
  }

  def delta(before: Map[String, Double]): Map[String, Double] = {
    val now = snapshot()
    now.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
  }
}
