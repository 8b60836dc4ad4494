package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Analyze, Curate, Ingest, Pipeline, VersionedParquetSink}
import graft.streaming.StreamingPipeline

/** Write shaping of the pipelines' table writes: after the action that
  * loads the batch's cache, raw, curated and state are written from the
  * cache coalesced to size (one file for a small batch), while actors
  * keeps the batch's partitioning for its `mapPartitions` analyzer. */
class ShapedWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val titles = Seq("President Alice Smith resigns",
    "Acme Corp launches Widget Pro", "Parliament protest grows, says Bob Lee",
    "Housing rent crisis, warns Dana Reed", "Mayor Bob Kane appoints Carol Day")

  private def entry(guid: String, published: String): String =
    s"""{"title":"${titles(guid.hashCode.abs % titles.size)} $guid","published":"$published","description":"d of $guid","link":"https://x/$guid","guid":"$guid","media_thumbnail":null,"feed":"Politics"}"""

  /** A snapshot of `n` distinct entries, enough to fill every batch
    * partition. */
  private def writeFeed(dir: String, file: String, prefix: String, n: Int,
      published: String = "Mon, 05 Feb 2024 10:30:00 GMT"): Unit =
    Files.write(Paths.get(dir, file),
      (1 to n).map(i => entry(s"$prefix$i", published)).mkString("\n")
        .getBytes("UTF-8"))

  private def files(sink: VersionedParquetSink, table: String): Int =
    sink.read(spark, table).inputFiles.length

  /** The two frames' row multisets, columns matched by name. */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def rows(df: DataFrame) = df.select(a.columns.map(df.col): _*)
      .collect().map(_.toString).sorted.toSeq
    rows(a) == rows(b)
  }

  private def partitions: Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Tasks that ran per stage while `body` ran: all of them, and those
    * that ran a state-store operator (the streaming dedup). */
  private def tasksDuring[A](body: => A)
      : (A, Map[Int, Int], Map[Int, Int]) = {
    val sc = spark.sparkContext
    val tasks = new ConcurrentHashMap[Int, Int]()
    val stateful = new ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.merge(e.stageId, 1, Integer.sum(_, _))
        if (e.taskInfo.accumulables.exists(
            _.name.contains("number of state store instances")))
          stateful.merge(e.stageId, 1, Integer.sum(_, _))
        ()
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    val out = try body finally {
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    (out, tasks.asScala.toMap, stateful.asScala.toMap)
  }

  test("a poll commits one data file each to raw, curated and state, same rows") {
    val feeds = TestSpark.tmpDir("shapefeed")
    val sink = new VersionedParquetSink(TestSpark.tmpDir("shapestore"))
    writeFeed(feeds, "a.json", "s", 40)
    assert(Pipeline.run(spark, feeds, sink).newArticles == 40)
    Seq("raw", "curated", "state").foreach(t =>
      assert(files(sink, t) == 1, s"$t committed ${files(sink, t)} files"))
    // the rows an unshaped write commits: the deduplicated batch, its
    // curated projection and its ids
    val batch = Ingest.toNews(Ingest.readFeedSnapshots(spark, feeds))
      .dropDuplicates("id")
    assert(sameRows(sink.read(spark, "raw"), batch))
    assert(sameRows(sink.read(spark, "curated"), Curate(batch)))
    assert(sameRows(sink.read(spark, "state"), batch.select("id")))
    assert(sameRows(sink.read(spark, "actors"), Analyze.explodeActors(
      Analyze.analyses(spark, Curate(batch), Analyze.RuleBasedAnalyzer))))
  }

  test("the analyzer keeps one task per batch partition; actors its files") {
    val feeds = TestSpark.tmpDir("shapeafeed")
    val sink = new VersionedParquetSink(TestSpark.tmpDir("shapeastore"))
    writeFeed(feeds, "a.json", "a", 40)
    ShapedWriteSpec.seen.clear()
    val (r, tasks, _) = tasksDuring(
      Pipeline.run(spark, feeds, sink, ShapedWriteSpec.Recording))
    assert(r.newArticles == 40)
    val stages = ShapedWriteSpec.seen.asScala.map(_._1).toSet
    assert(stages.size == 1, s"the analyzer ran in stages $stages")
    assert(tasks(stages.head) == partitions,
      s"the analyzer's stage ran ${tasks(stages.head)} tasks")
    assert(ShapedWriteSpec.seen.asScala.map(_._2).toSet == (0 until partitions).toSet)
    // every batch partition holds titles with actors: one file each
    assert(files(sink, "actors") == partitions)
  }

  test("a micro-batch loads its cache once, one task per state partition") {
    val feeds = TestSpark.tmpDir("shapesfeed")
    val ckpt = TestSpark.tmpDir("shapesckpt")
    val sink = new VersionedParquetSink(TestSpark.tmpDir("shapesstore"))
    def batchRun(file: String, prefix: String) = {
      writeFeed(feeds, file, prefix, 40)
      val (q, _, dedup) = tasksDuring {
        val q = StreamingPipeline.stream(spark, feeds, sink, ckpt)
        q.awaitTermination()
        q
      }
      val batches = q.recentProgress
      val data = batches.filter(_.numInputRows > 0)
      assert(data.length == 1)
      val state = data.head.stateOperators(0)
      // the dedup runs once per micro-batch, under the count that loads
      // the cache: one stage of one task per state partition. A shaped
      // write above an unloaded partition would run it again, in one task
      assert(dedup.size == batches.length &&
        dedup.values.forall(_ == state.numShufflePartitions),
        s"dedup tasks per stage: $dedup over ${batches.length} batches")
      state.numRowsTotal
    }
    // a shaped write that re-ran the dedup would count each id again
    assert(batchRun("s1.json", "m") == 40L)
    assert(batchRun("s2.json", "n") == 80L)
    assert(sink.read(spark, "raw").count() == 80L)
    // one file per batch each for raw and curated
    assert(files(sink, "raw") == 2)
    assert(files(sink, "curated") == 2)
    assert(files(sink, "actors") > 2)
  }

  test("the stream's corpus_stats and reservoir land one file per micro-batch") {
    val feeds = TestSpark.tmpDir("shapexfeed")
    val ckpt = TestSpark.tmpDir("shapexckpt")
    val sink = new VersionedParquetSink(TestSpark.tmpDir("shapexstore"))
    Seq("x", "y").zipWithIndex.foreach { case (prefix, i) =>
      writeFeed(feeds, s"$prefix.json", prefix, 40)
      StreamingPipeline.stream(spark, feeds, sink, ckpt, monitorStats = true,
        reservoirK = Some(8)).awaitTermination()
      Seq("corpus_stats", "reservoir").foreach(t =>
        assert(files(sink, t) == i + 1, s"$t: ${files(sink, t)} files " +
          s"after ${i + 1} micro-batches"))
    }
  }

  test("sizing: ceil(bytes / target), at least 1, at most the batch's partitions") {
    val mib = 1024L * 1024
    def n(bytes: Long, limit: Int) =
      VersionedParquetSink.sizedPartitions(BigInt(bytes), 128 * mib, limit)
    assert(VersionedParquetSink.WriteTargetBytes == 128 * mib)
    assert(n(0, 4) == 1)
    assert(n(20 * 1024, 4) == 1)
    assert(n(128 * mib, 4) == 1)
    assert(n(128 * mib + 1, 4) == 2)
    assert(n(300 * mib, 4) == 3)
    assert(n(1024 * mib, 4) == 4)
    assert(n(1024 * mib, 16) == 8)
    assert(n(1024 * mib, 0) == 1)
  }

  test("an unloaded cache or an uncached frame is written unshaped") {
    val df = spark.range(0, 100, 1, 4).toDF("id")
    assert(Pipeline.writeShape(df)(df).rdd.getNumPartitions == 4)
    val cached = spark.range(0, 100, 1, 4).toDF("id").cache()
    try {
      assert(Pipeline.writeShape(cached)(cached).rdd.getNumPartitions == 4)
      assert(cached.count() == 100)
      assert(Pipeline.writeShape(cached)(cached).rdd.getNumPartitions == 1)
    } finally cached.unpersist()
  }
}

object ShapedWriteSpec {
  /** (stage, partition) of every task the recording analyzer ran in. */
  val seen: java.util.Set[(Int, Int)] = ConcurrentHashMap.newKeySet()

  /** The rule-based analyzer, recording where it runs. */
  object Recording extends Analyze.TextAnalyzer {
    def analyze(title: String, description: String) =
      Analyze.RuleBasedAnalyzer.analyze(title, description)
    override def analyzeBatch(rows: Iterator[(String, String, String)]) = {
      val tc = TaskContext.get()
      seen.add((tc.stageId(), tc.partitionId()))
      super.analyzeBatch(rows)
    }
  }
}
