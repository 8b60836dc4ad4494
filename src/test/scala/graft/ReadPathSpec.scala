package graft

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.VersionedParquetSink

/** The sink's one read path: `read`, `readAt` and `readWhere` take their
  * file list from the commit log (GraftRelation's file index), so
  * building a read costs no Spark job at any history length, two reads
  * of one snapshot are the same plan to the cache, and each commit dir
  * is listed once per read. */
class ReadPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** `n` one-row commits of (id, v). */
  private def history(base: String, n: Int): VersionedParquetSink = {
    val sink = new VersionedParquetSink(base)
    (0 until n).foreach { i =>
      sink.append(Seq((i.toLong, s"v$i")).toDF("id", "v"), "t")
    }
    sink
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try body
    finally {
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }

  test("building read, readAt and readWhere over 40 commits starts no job") {
    // past Spark's 32-path parallel-discovery threshold, a directory
    // listing of the commit dirs would run as a distributed job
    val sink = history(TestSpark.tmpDir("rp_jobs"), 40)
    val reads = Seq(
      () => sink.read(spark, "t"),
      () => sink.readAt(spark, "t", 20),
      () => sink.readWhere(spark, "t", col("id") === 7L),
      () => sink.readAtWhere(spark, "t", 20, col("id") > 5L))
    reads.foreach { r =>
      val n = jobsDuring {
        val df = r()
        df.queryExecution.executedPlan
        df.inputFiles
        ()
      }
      assert(n == 0, s"building a read started $n Spark job(s)")
    }
    assert(sink.read(spark, "t").count() == 40L)
    assert(sink.readAt(spark, "t", 20).count() == 21L)
    assert(sink.readWhere(spark, "t", col("id") === 7L)
      .collect().map(_.getString(1)).toSeq == Seq("v7"))
  }

  test("a cached read serves the next read of the same snapshot only") {
    val sink = history(TestSpark.tmpDir("rp_cache"), 3)
    def cached(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r
      }.isDefined
    val first = sink.read(spark, "t").cache()
    assert(first.count() == 3L)
    assert(cached(sink.read(spark, "t")),
      "a second read of the cached snapshot missed the cache")
    // a new version is a new plan; time travel back still hits
    sink.append(Seq((9L, "v9")).toDF("id", "v"), "t")
    assert(!cached(sink.read(spark, "t")))
    assert(cached(sink.readAt(spark, "t", 2)))
    first.unpersist(blocking = true)
    // a new mask over the same files is a new plan too
    val second = sink.read(spark, "t").cache()
    assert(second.count() == 4L)
    sink.deleteVectored(spark, "t", col("id") === 9L)
    val masked = sink.read(spark, "t")
    assert(!cached(masked), "a read under a new mask hit the unmasked cache")
    assert(masked.count() == 3L)
    second.unpersist(blocking = true)
  }

  test("a read lists each commit dir at most once") {
    LagListFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val local = TestSpark.tmpDir("rp_list")
    val sink = history("lag:" + local, 12)
    LagListFileSystem.listings.clear()
    // one file index serves inputFiles, the planner's size estimate and
    // the scan's file list
    val df = sink.read(spark, "t")
    assert(df.inputFiles.length == 12)
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes > 0)
    assert(df.count() == 12L)
    val dataDirs = new java.io.File(s"$local/t").listFiles
      .filter(_.getName.startsWith("d-")).map(_.getAbsolutePath).toSeq
    assert(dataDirs.size == 12)
    dataDirs.foreach { d =>
      val n = Option(LagListFileSystem.listings.get(d)).map(_.get).getOrElse(0)
      assert(n <= 1, s"$d listed $n times by one read")
    }
  }

  test("markers without a schema read it from the data files' footers") {
    val base = TestSpark.tmpDir("rp_legacy")
    val sink = history(base, 2)
    val commits = new java.io.File(s"$base/t/_commits")
    // drop the schema field and the stale checksums of the edited files
    commits.listFiles.filter(_.getName.endsWith(".crc")).foreach(_.delete())
    commits.listFiles.filter(_.getName.endsWith(".commit")).foreach { f =>
      val body = new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8")
      java.nio.file.Files.write(f.toPath, body
        .replaceAll(",\"schemaB64\":\"[^\"]*\"", "").getBytes("UTF-8"))
    }
    val df = sink.read(spark, "t")
    assert(df.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L))
  }
}
