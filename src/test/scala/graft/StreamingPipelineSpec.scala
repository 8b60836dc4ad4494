package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.ParquetTableSink
import graft.streaming.StreamingPipeline

class StreamingPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def entry(guid: String, title: String): String =
    s"""{"title":"$title","published":"Mon, 05 Feb 2024 10:30:00 GMT","description":"d","link":"https://x/$guid","guid":"$guid","media_thumbnail":null,"feed":"Politics"}"""

  test("streaming pipeline: AvailableNow drain, dedup state across batches, restart exactly-once") {
    val feeds = TestSpark.tmpDir("sfeeds")
    val store = TestSpark.tmpDir("sstore")
    val ckpt = TestSpark.tmpDir("sckpt")
    val sink = new ParquetTableSink(store)

    Files.write(Paths.get(feeds, "b1.json"),
      Seq(entry("g1", "President Alice Smith resigns"),
        entry("g2", "Mayor Bob Kane appoints Carol Day")).mkString("\n").getBytes)

    val q1 = StreamingPipeline.stream(spark, feeds, sink, ckpt)
    q1.awaitTermination()
    assert(sink.read(spark, "raw").count() == 2)
    assert(sink.read(spark, "actors").count() > 0)

    // restart with no new input: nothing re-appended (checkpointed offsets)
    val q2 = StreamingPipeline.stream(spark, feeds, sink, ckpt)
    q2.awaitTermination()
    assert(sink.read(spark, "raw").count() == 2)

    // new file with one duplicate guid: state store drops it
    Files.write(Paths.get(feeds, "b2.json"),
      Seq(entry("g2", "Mayor Bob Kane appoints Carol Day"),
        entry("g3", "Housing rent crisis, warns Dana Reed")).mkString("\n").getBytes)
    val q3 = StreamingPipeline.stream(spark, feeds, sink, ckpt)
    q3.awaitTermination()
    assert(sink.read(spark, "raw").count() == 3)
    assert(sink.read(spark, "raw").select("id").distinct().count() == 3)
  }

  test("streaming quality metrics surface in query progress") {
    val feeds = TestSpark.tmpDir("qfeeds")
    val store = TestSpark.tmpDir("qstore")
    val ckpt = TestSpark.tmpDir("qckpt")
    // two good entries + one with a null guid: the metric observes the
    // RAW stream, so the malformed row is COUNTED even though toNews
    // drops it before the sink
    Files.write(Paths.get(feeds, "q1.json"),
      Seq(entry("qm1", "President Alice Smith resigns"),
        entry("qm2", "Mayor Bob Kane appoints Carol Day"),
        """{"title":"No guid","published":"Mon, 05 Feb 2024 10:30:00 GMT","description":"d","link":"l","guid":null,"media_thumbnail":null,"feed":"Politics"}""")
        .mkString("\n").getBytes)
    val q = StreamingPipeline.stream(spark, feeds,
      new ParquetTableSink(store), ckpt)
    q.awaitTermination()
    val observed = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("ingest-quality")))
    assert(observed.nonEmpty, "expected ingest-quality in progress")
    assert(observed.map(_.getAs[Long]("n_rows")).sum == 3L)
    assert(observed.map(_.getAs[Long]("null_keys")).sum == 1L)
    // the malformed row never reaches the sink
    assert(new ParquetTableSink(store).read(spark, "raw").count() == 2)
  }

  test("streaming maintenance: periodic compaction folds micro-batch dirs") {
    val feeds = TestSpark.tmpDir("cfeeds")
    val store = TestSpark.tmpDir("cstore")
    val ckpt = TestSpark.tmpDir("cckpt")
    val sink = new graft.engine.VersionedParquetSink(store)

    // batch 0
    Files.write(Paths.get(feeds, "c1.json"),
      Seq(entry("c1", "President Alice Smith resigns")).mkString("\n").getBytes)
    StreamingPipeline.stream(spark, feeds, sink, ckpt,
      compactEvery = Some(1)).awaitTermination()
    // batch 1 -> triggers compaction of all three tables
    Files.write(Paths.get(feeds, "c2.json"),
      Seq(entry("c2", "Mayor Bob Kane appoints Carol Day")).mkString("\n").getBytes)
    StreamingPipeline.stream(spark, feeds, sink, ckpt,
      compactEvery = Some(1), vacuumAfterCompact = true).awaitTermination()

    val raw = sink.read(spark, "raw")
    assert(raw.count() == 2)
    // the live snapshot scans exactly ONE data directory post-compaction
    val dirs = raw.inputFiles.map(_.split("/raw/")(1).split("/")(0)).distinct
    assert(dirs.length == 1, s"expected one compacted dir, got ${dirs.toSeq}")
    // and with vacuumAfterCompact the superseded dirs are gone from DISK
    val onDisk = new java.io.File(s"$store/raw").list()
      .count(_.startsWith("d-"))
    assert(onDisk == 1, s"expected 1 data dir on disk, got $onDisk")
    // dedup state and replay safety survive compaction
    Files.write(Paths.get(feeds, "c3.json"),
      Seq(entry("c2", "Mayor Bob Kane appoints Carol Day")).mkString("\n").getBytes)
    StreamingPipeline.stream(spark, feeds, sink, ckpt,
      compactEvery = Some(1)).awaitTermination()
    assert(sink.read(spark, "raw").count() == 2)
  }

  test("a compaction due on a no-data batch runs on that batch") {
    val feeds = TestSpark.tmpDir("nfeeds")
    val ckpt = TestSpark.tmpDir("nckpt")
    val sink = new graft.engine.VersionedParquetSink(TestSpark.tmpDir("nstore"))
    // each run is a data batch and then the no-data batch its watermark
    // move schedules: ids 0 (data), 1, 2 (data), 3
    def run(file: String, guid: String, published: String) = {
      Files.write(Paths.get(feeds, file), entry(guid,
        "President Alice Smith resigns").replace(
        "Mon, 05 Feb 2024 10:30:00 GMT", published).getBytes)
      val q = StreamingPipeline.stream(spark, feeds, sink, ckpt,
        compactEvery = Some(3))
      q.awaitTermination()
      q.recentProgress.toSeq.map(p => p.batchId -> p.numInputRows)
    }
    val batches = (run("n1.json", "n1", "Mon, 05 Feb 2024 10:30:00 GMT") ++
      run("n2.json", "n2", "Tue, 20 Feb 2024 10:30:00 GMT")).toMap
    assert(batches == Map(0L -> 1L, 1L -> 0L, 2L -> 1L, 3L -> 0L),
      s"batches: $batches")
    Seq("raw", "curated", "actors").foreach { t =>
      val keys = sink.history(spark, t).select("commitKey")
        .collect().map(_.getString(0)).toSeq
      assert(keys.contains("compact-3"), s"$t commit keys: $keys")
    }
    val raw = sink.read(spark, "raw")
    assert(raw.count() == 2)
    assert(raw.inputFiles.map(_.split("/raw/")(1).split("/")(0))
      .distinct.length == 1)
  }

  test("each micro-batch runs the stateful dedup once") {
    val feeds = TestSpark.tmpDir("ofeeds")
    val ckpt = TestSpark.tmpDir("ockpt")
    val sink = new graft.engine.VersionedParquetSink(TestSpark.tmpDir("ostore"))
    // state rows after a batch = distinct ids streamed so far; a second
    // run of the batch plan inside foreachBatch (a write that misses the
    // batch's cache) re-runs the dedup and counts each row again
    def stateRowsAfter(file: String, ids: Seq[String]): Long = {
      Files.write(Paths.get(feeds, file),
        ids.map(i => entry(i, s"President Alice Smith meets $i"))
          .mkString("\n").getBytes)
      val q = StreamingPipeline.stream(spark, feeds, sink, ckpt)
      q.awaitTermination()
      val withData = q.recentProgress.filter(_.numInputRows > 0)
      assert(withData.length == 1)
      withData.head.stateOperators(0).numRowsTotal
    }
    assert(stateRowsAfter("o1.json", Seq("o1", "o2", "o3", "o3")) == 3L)
    assert(stateRowsAfter("o2.json", Seq("o3", "o4", "o5")) == 5L)
    assert(sink.read(spark, "raw").count() == 5L)
    assert(sink.read(spark, "actors").select("news_id").distinct().count() == 5L)
  }
}
