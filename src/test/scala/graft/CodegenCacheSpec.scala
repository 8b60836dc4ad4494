package graft

import java.io.File
import java.nio.file.Files
import java.sql.Date

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Analytics, Pipeline, VersionedParquetSink}

/** Generated code outlives a poll. Spark keeps its compiled classes in
  * one cache per JVM, sized once at the JVM's first codegen, so the
  * property is checked in a fresh JVM ([[CodegenWorker]]) whose first
  * session is the bench's: a poll and its dashboard refresh that repeat
  * the previous cycle's plans compile nothing. */
class CodegenCacheSpec extends AnyFunSuite {

  test("a repeated poll and dashboard refresh compile no generated code") {
    val dir = TestSpark.tmpDir("codegen")
    val log = new File(s"$dir/worker.out")
    val p = TestSpark.forkJvm("graft.CodegenWorker", Seq(dir), log,
      Map("SPARK_GRAFT_CPUS" -> "2", "SPARK_GRAFT_CONF" -> ""))
    assert(p.waitFor(10, java.util.concurrent.TimeUnit.MINUTES),
      "worker timed out")
    val out = new String(Files.readAllBytes(log.toPath), "UTF-8")
    assert(p.exitValue() == 0, s"worker exited ${p.exitValue()}\n" +
      out.takeRight(4000))
    val compiles = out.linesIterator.collect {
      case CodegenWorker.Line(poll, n) => poll.toInt -> n.toLong
    }.toMap
    assert(compiles.keySet == Set(0, 1, 2), out)
    assert(compiles(0) > 0, s"the first poll compiled nothing: $compiles")
    assert(compiles(2) == 0, s"the repeated poll compiled again: $compiles")
  }
}

/** Child-process entry point for [[CodegenCacheSpec]]. args: a work dir.
  * Three polls, each `Pipeline.run` over a new five-feed snapshot
  * followed by the dashboard's seven `Analytics` frames; each prints
  * how many classes Spark compiled during it. Poll 0 creates the
  * tables, poll 1 is the first into existing tables (a few plans of
  * its own), and poll 2 runs poll 1's plans again. */
object CodegenWorker {
  val Line = """codegen poll (\d+) compiled (\d+)""".r

  private val Feeds = Seq("Business", "Health", "Politics", "Science", "Technology")

  /** One snapshot dir of five feed files, four entries each. */
  private def snapshot(dir: String, poll: Int): String = {
    val snap = new File(s"$dir/feeds-$poll"); snap.mkdirs()
    Feeds.zipWithIndex.foreach { case (feed, f) =>
      val lines = (0 until 4).map { i =>
        val guid = s"g$poll-$f-$i"
        val title = Seq("Minister Ann Bell resigns after the election",
          "Chief Omar Diaz unveils a new product",
          "Police in Lake City report rent protests",
          "Court backs President Lee on housing")((poll + f + i) % 4)
        val day = 1 + (poll * 5 + f + i) % 28
        s"""{"title":"$title","published":"Mon, $day Feb 2024 10:30:00 GMT","description":"$title, says Reporter Kim Park","link":"https://x/$guid","guid":"$guid","media_thumbnail":null,"feed":"$feed"}"""
      }
      Files.write(new File(snap, s"$feed.json").toPath,
        lines.mkString("\n").getBytes("UTF-8"))
    }
    snap.getPath
  }

  private def dashboard(spark: SparkSession, sink: VersionedParquetSink): Unit = {
    val news = sink.read(spark, "curated")
    val filtered = Analytics.filterNews(news, Feeds,
      Date.valueOf("2024-01-01"), Date.valueOf("2030-12-31"))
    val relevant = Analytics.relevantActors(sink.read(spark, "actors"), filtered)
    Analytics.metrics(filtered, relevant).collect()
    Analytics.timeline(filtered).collect()
    Analytics.topActors(relevant, 10).collect()
    Analytics.topActorRoles(relevant, 10).collect()
    Analytics.categoryDistribution(filtered).collect()
    Analytics.dateBounds(news).collect()
    Analytics.detailView(filtered, relevant).collect()
    ()
  }

  def main(args: Array[String]): Unit = {
    val Array(dir) = args
    val spark = SessionDefaults.builder("2")
      .appName("codegen-worker")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sink = new VersionedParquetSink(s"$dir/store")
    (0 to 2).foreach { poll =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val n = Pipeline.run(spark, snapshot(dir, poll), sink).newArticles
      require(n == Feeds.size * 4, s"poll $poll appended $n rows")
      dashboard(spark, sink)
      println(s"codegen poll $poll compiled " +
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before))
    }
    spark.stop()
  }
}
