package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, expr, udf}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.engine.{Analyze, VersionedParquetSink}
import graft.streaming.StreamingPipeline

/** The staging step of a multi-table commit
  * ([[VersionedParquetSink.multiAppendOnce]]) runs the tables' writes
  * concurrently, and still returns or throws only once every one of them
  * has ended: on success, on a table's failure, and when a stream's
  * `stop()` cancels them. */
class ConcurrentStagingSpec extends AnyFunSuite {
  import ConcurrentStagingSpec._

  private lazy val spark = TestSpark.spark

  /** `n` rows `(id BIGINT, v STRING)` in one partition, computed in a
    * task (a local relation's projections can run on the driver). */
  private def rows(n: Int, v: Column = expr("concat('v', id)")): DataFrame =
    spark.range(0, n, 1, 1).select(col("id"), v.as("v"))

  /** Jobs started and ended while `body` runs. */
  private def jobsDuring[A](onStart: SparkListenerJobStart => Unit)(
      body: => A): (A, Set[Int], Set[Int]) = {
    val sc = spark.sparkContext
    val started = ConcurrentHashMap.newKeySet[Int]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.add(e.jobId); onStart(e)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        ended.add(e.jobId); ()
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    val out = try body finally {
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    (out, started.asScala.toSet, ended.asScala.toSet)
  }

  private def txnManifests(base: String): Seq[String] =
    Option(new File(base, "_txn").list()).toSeq.flatten
      .filter(_.endsWith(".json"))

  test("a multi-table commit stages its tables concurrently") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("cstage"))
    val tables = Seq("a", "b", "c", "d")
    gate = new CountDownLatch(1)
    gateTimedOut.set(false)
    // table a's one row waits until every table's write job has started:
    // staged one after another, b, c and d would start only after a ends
    val blocked = rows(1,
      udf((i: Long) => { awaitGate(); s"v$i" }).apply(col("id")))
    val writeJobs = new AtomicInteger
    val (landed, started, ended) = jobsDuring { _ =>
      if (writeJobs.incrementAndGet() == tables.size) gate.countDown()
    } {
      sink.multiAppendOnce((blocked -> "a") +: tables.tail.map(rows(3) -> _),
        "k")
    }
    assert(landed)
    assert(!gateTimedOut.get, s"table a's write waited ${GateSeconds} s " +
      "and the other tables' write jobs had not all started: staging ran " +
      "one table after another")
    assert(started.size == tables.size && ended == started,
      s"jobs started $started, ended $ended")
    assert(sink.read(spark, "a").count() == 1)
    tables.tail.foreach(t => assert(sink.read(spark, t).count() == 3))
  }

  test("a failed table's siblings end before the call throws; a retry lands all") {
    val base = TestSpark.tmpDir("cstagefail")
    val sink = new VersionedParquetSink(base)
    assert(sink.multiAppendOnce(Seq(rows(2) -> "a", rows(2) -> "b"), "seed"))
    val before = Seq("a", "b").map(t => t -> sink.versions(spark, t)).toMap
    def dataDirs(t: String): Set[String] =
      new File(base, t).list().filter(_.startsWith("d-")).toSet
    val dirsBefore = dataDirs("a")
    // a is slow; b's rows fail at once
    val slow = rows(3,
      udf((i: Long) => { Thread.sleep(1500); s"v$i" }).apply(col("id")))
    val failing = rows(3, expr("if(id >= 0, raise_error('staging failure in b'), " +
      "cast(id as string))"))
    val (e, started, ended) = jobsDuring(_ => ()) {
      val e = intercept[Exception] {
        sink.multiAppendOnce(Seq(slow -> "a", failing -> "b"), "k")
      }
      // when the call throws, a's write has ended: its staged dir is
      // complete, with no task output still pending
      val staged = dataDirs("a") -- dirsBefore
      assert(staged.size == 1, s"a's staged dirs: $staged")
      val dir = new File(base, s"a/${staged.head}")
      assert(!new File(dir, "_temporary").exists(),
        s"a's write was still running when the call threw: ${dir.list().toSeq}")
      assert(dir.list().exists(_.endsWith(".parquet")), dir.list().toSeq)
      e
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("staging failure in b")), e)
    assert(started.nonEmpty && ended == started,
      s"jobs started $started, ended $ended")
    // nothing reached the commit point
    assert(txnManifests(base).isEmpty)
    Seq("a", "b").foreach(t => assert(sink.versions(spark, t) == before(t)))
    // the key was never used: a retry lands every table
    assert(sink.multiAppendOnce(Seq(rows(3) -> "a", rows(3) -> "b"), "k"))
    Seq("a", "b").foreach(t => assert(sink.read(spark, t).count() == 5))
    assert(txnManifests(base).isEmpty)
  }

  test("stop() during a micro-batch's staging leaves no staging job; a restart lands it once") {
    val feeds = TestSpark.tmpDir("cstagefeeds")
    val ckpt = TestSpark.tmpDir("cstageckpt")
    val sink = new VersionedParquetSink(TestSpark.tmpDir("cstagestore"))
    val n = 40
    Files.write(Paths.get(feeds, "a.json"), (1 to n).map(i =>
      s"""{"title":"President Alice Smith resigns $i","published":"Mon, 05 Feb 2024 10:30:00 GMT","description":"d","link":"https://x/s$i","guid":"s$i","media_thumbnail":null,"feed":"Politics"}""")
      .mkString("\n").getBytes("UTF-8"))
    entered = new CountDownLatch(1)
    blockOnce.set(true)
    val sc = spark.sparkContext
    val running = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        running.add(e.jobId); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        running.remove(e.jobId); ()
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    val q = StreamingPipeline.stream(spark, feeds, sink, ckpt,
      analyzer = BlockingAnalyzer)
    try {
      // the actors write's analyzer runs inside its staging task: stop
      // the query there
      assert(entered.await(60, TimeUnit.SECONDS), "staging never started")
      q.stop()
      // the scheduler wakes a failed job's caller just before it posts
      // the job's end: allow the bus that moment, not a running job
      eventually(timeout(5.seconds)) {
        ListenerDrain(sc)
        assert(running.isEmpty, s"jobs still running after stop(): $running")
      }
    } finally sc.removeSparkListener(listener)
    assert(!q.isActive)
    assert(q.exception.isEmpty, s"stop() ended the query with ${q.exception}")
    assert(!sink.exists(spark, "raw") ||
      sink.read(spark, "raw").count() == 0, "the stopped batch landed")
    // the restart re-runs the batch: it lands once
    StreamingPipeline.stream(spark, feeds, sink, ckpt,
      analyzer = BlockingAnalyzer).awaitTermination()
    val raw = sink.read(spark, "raw")
    assert(raw.count() == n && raw.select("id").distinct().count() == n)
    assert(sink.versions(spark, "raw").size == 1)
    assert(sink.read(spark, "actors").select("news_id").distinct().count() == n)
  }
}

object ConcurrentStagingSpec {
  val GateSeconds = 20L
  @volatile var gate = new CountDownLatch(0)
  val gateTimedOut = new AtomicBoolean(false)

  /** Waits for [[gate]], at most [[GateSeconds]] and only once a test. */
  def awaitGate(): Unit =
    if (!gateTimedOut.get && !gate.await(GateSeconds, TimeUnit.SECONDS))
      gateTimedOut.set(true)

  @volatile var entered = new CountDownLatch(0)
  val blockOnce = new AtomicBoolean(false)

  /** The rule-based analyzer, but its first partition after
    * [[blockOnce]] is set waits (up to a minute, or until its task is
    * cancelled) after counting down [[entered]]. */
  object BlockingAnalyzer extends Analyze.TextAnalyzer {
    override def analyze(title: String, description: String)
        : Option[Analyze.Analysis] =
      Analyze.RuleBasedAnalyzer.analyze(title, description)
    override def analyzeBatch(rows: Iterator[(String, String, String)])
        : Iterator[(String, Option[Analyze.Analysis])] = {
      if (blockOnce.compareAndSet(true, false)) {
        entered.countDown()
        Thread.sleep(60000)
      }
      super.analyzeBatch(rows)
    }
  }
}
