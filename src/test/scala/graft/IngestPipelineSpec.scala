package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Ingest, ParquetTableSink, Pipeline, VersionedParquetSink}

class IngestPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeFeed(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name),
      lines.mkString("\n").getBytes("UTF-8"))

  private def entry(guid: String, title: String, feed: String,
      published: String = "Mon, 05 Feb 2024 10:30:00 GMT",
      thumb: String = null): String = {
    val t = if (thumb == null) "null" else s""""$thumb""""
    s"""{"title":"$title","published":"$published","description":"d of $guid","link":"https://x/$guid","guid":"$guid","media_thumbnail":$t,"feed":"$feed"}"""
  }

  test("toNews parses RFC-1123 timestamps and maps fields (collector.py:65-72,96-111)") {
    val dir = TestSpark.tmpDir("feed")
    writeFeed(dir, "b1.json", Seq(entry("g1", "T1", "Business"),
      entry("g2", "T2", "Health", thumb = "https://img/2"),
      // single-digit day (valid RFC 822) must parse, not silently drop
      entry("g3", "T3", "Tech", published = "Tue, 5 Mar 2024 09:15:00 GMT")))
    val news = Ingest.toNews(Ingest.readFeedSnapshots(spark, dir))
    val rows = news.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(2).getAs[java.sql.Timestamp]("published_time").toInstant.toString
      == "2024-03-05T09:15:00Z")
    assert(rows(0).getAs[java.sql.Timestamp]("published_time").toInstant.toString
      == "2024-02-05T10:30:00Z")
    assert(rows(0).getAs[String]("category") == "Business")
    assert(rows(0).getAs[String]("thumbnail_url") == null)
    assert(rows(1).getAs[String]("thumbnail_url") == "https://img/2")
  }

  test("toNews accepts numeric RFC-822 zone offsets (+0000)") {
    val dir = TestSpark.tmpDir("feedz")
    writeFeed(dir, "b.json", Seq(
      entry("gz", "T", "Tech", published = "Mon, 05 Feb 2024 10:30:00 +0100")))
    val rows = Ingest.toNews(Ingest.readFeedSnapshots(spark, dir)).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[java.sql.Timestamp]("published_time").toInstant.toString
      == "2024-02-05T09:30:00Z")
  }

  test("same new guid in two snapshot files lands once (intra-batch dedup)") {
    val feeds = TestSpark.tmpDir("dupfeeds")
    val store = TestSpark.tmpDir("dupstore")
    writeFeed(feeds, "f1.json", Seq(entry("gd", "Mayor Ann Bell resigns", "Politics")))
    writeFeed(feeds, "f2.json", Seq(entry("gd", "Mayor Ann Bell resigns", "Politics")))
    val sink = new ParquetTableSink(store)
    val r = Pipeline.run(spark, feeds, sink)
    assert(r.newArticles == 1)
    assert(sink.read(spark, "raw").count() == 1)
    assert(sink.read(spark, "actors").select("news_id").distinct().count() == 1)
  }

  test("anti-join drops processed ids (collector.py:87-89)") {
    import spark.implicits._
    val news = Seq("a", "b", "c").map(id => (id, s"t$id")).toDF("id", "title")
    val state = Seq("b").toDF("id")
    assert(Ingest.newEntries(news, state).select("id")
      .collect().map(_.getString(0)).toSet == Set("a", "c"))
  }

  test("pipeline end-to-end + idempotent re-run (golden flow, SURVEY §5.3)") {
    val feeds = TestSpark.tmpDir("feeds")
    val store = TestSpark.tmpDir("store")
    writeFeed(feeds, "batch1.json", Seq(
      entry("g1", "President Alice Smith resigns", "Politics"),
      entry("g2", "Acme Corp launches Widget Pro", "Technology")))
    val sink = new ParquetTableSink(store)

    val r1 = Pipeline.run(spark, feeds, sink)
    assert(r1.newArticles == 2)
    assert(sink.read(spark, "raw").count() == 2)
    assert(sink.read(spark, "curated").columns.toSeq ==
      graft.engine.Schemas.curatedColumns)
    val actors = sink.read(spark, "actors")
    assert(actors.count() > 0)
    assert(actors.columns.toSeq ==
      Seq("news_id", "actor_name", "actor_role", "is_main_actor"))

    // second run over the same snapshots: state anti-join appends nothing
    val r2 = Pipeline.run(spark, feeds, sink)
    assert(r2.newArticles == 0)
    assert(sink.read(spark, "raw").count() == 2)

    // incremental batch: only the new guid lands
    writeFeed(feeds, "batch2.json", Seq(
      entry("g2", "Acme Corp launches Widget Pro", "Technology"), // dup
      entry("g3", "Parliament protest grows, says Bob Lee", "Politics")))
    val r3 = Pipeline.run(spark, feeds, sink)
    assert(r3.newArticles == 1)
    assert(sink.read(spark, "raw").count() == 3)
  }

  /** Jobs started while `body` runs, and the SQL executions they ran
    * under, counted once the listener bus has delivered every event. */
  private def jobsDuring[A](body: => A): (A, Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val execs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(execs.add)
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    val out = try body finally {
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    (out, jobs.get, execs.size)
  }

  test("a poll computes its batch once: one action, then the commit's writes") {
    val store = TestSpark.tmpDir("jobstore")
    val sink = new VersionedParquetSink(store)
    val first = TestSpark.tmpDir("jobfeed1")
    writeFeed(first, "a.json", Seq(
      entry("j1", "President Alice Smith resigns", "Politics"),
      entry("j2", "Acme Corp launches Widget Pro", "Technology")))
    assert(Pipeline.run(spark, first, sink).newArticles == 2)
    // second poll on a new snapshot, with all four tables in place: one
    // SQL execution caches the batch and returns its count and key (its
    // adaptive stages run as 5 jobs), then the four staged writes read
    // the cache, one job each; no second action over the batch and no
    // broadcast for a self-join
    val second = TestSpark.tmpDir("jobfeed2")
    writeFeed(second, "b.json", Seq(
      entry("j2", "Acme Corp launches Widget Pro", "Technology"),
      entry("j3", "Parliament protest grows, says Bob Lee", "Politics"),
      entry("j4", "Housing rent crisis, warns Dana Reed", "Housing")))
    val (r, jobs, execs) = jobsDuring(Pipeline.run(spark, second, sink))
    assert(r.newArticles == 2)
    assert(execs == 5, s"a second poll ran $execs SQL executions")
    assert(jobs == 9, s"a second poll started $jobs jobs")
    assert(sink.read(spark, "raw").count() == 4)
  }

  test("batch key pin: the raw commit's key is the id-set digest") {
    val feeds = TestSpark.tmpDir("keyfeed")
    val sink = new VersionedParquetSink(TestSpark.tmpDir("keystore"))
    writeFeed(feeds, "k.json", Seq(
      entry("k1", "President Alice Smith resigns", "Politics"),
      entry("k2", "Acme Corp launches Widget Pro", "Technology"),
      entry("k3", "Parliament protest grows, says Bob Lee", "Politics"),
      // the same guid in the same poll counts once
      entry("k3", "Parliament protest grows, says Bob Lee", "Politics")))
    assert(Pipeline.run(spark, feeds, sink).newArticles == 3)
    // the literal is the key earlier releases wrote for this batch: a
    // batch replayed across an upgrade must still be a keyed no-op
    val keys = sink.history(spark, "raw").select("commitKey")
      .collect().map(_.getString(0)).toSeq
    assert(keys == Seq("ingest-3-2374610963161246156"), s"raw commit keys: $keys")
  }
}
