package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.VersionedParquetSink

/** Optimized writes (Delta `autoOptimize.optimizeWrite` parity): with
  * the property set, a many-partition append coalesces to
  * size-targeted files instead of committing one tiny file per task —
  * the write-time half of small-file control (auto-compact is the
  * history-folding half). */
class OptimizeWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def filesOf(base: String, t: String): Seq[java.io.File] =
    Option(new java.io.File(s"$base/$t").listFiles).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("d-"))
      .flatMap(d => Option(d.listFiles).toSeq.flatten)
      .filter(_.getName.endsWith(".parquet"))

  test("32-task tiny append lands as one file when enabled") {
    val base = TestSpark.tmpDir("ow1")
    val sink = new VersionedParquetSink(base)
    sink.append(Seq((0L, "seed")).toDF("id", "v"), "t")
    sink.setProperties(spark, "t", Map("graft.optimizeWrite" -> "true"))
    sink.append(
      (1 to 64).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartition(32), "t")
    // seed file + ONE coalesced file, not seed + 32
    assert(filesOf(base, "t").size == 2,
      s"optimizeWrite did not coalesce: ${filesOf(base, "t").size} files")
    assert(sink.read(spark, "t").count() == 65L)
  }

  test("off by default: tasks write their own files") {
    val base = TestSpark.tmpDir("ow2")
    val sink = new VersionedParquetSink(base)
    sink.append(
      (1 to 64).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartition(8), "t")
    assert(filesOf(base, "t").size == 8)
  }

  test("a small targetBytes keeps multiple files (parallelism preserved)") {
    val base = TestSpark.tmpDir("ow3")
    val sink = new VersionedParquetSink(base)
    sink.append(Seq((0L, "seed")).toDF("id", "v"), "t")
    sink.setProperties(spark, "t",
      Map("graft.optimizeWrite" -> "true",
        "graft.optimizeWrite.targetBytes" -> "1b"))
    // 1-byte bins: the estimate wants >cur partitions — the count must
    // CLAMP at the incoming 8, never repartition upward
    sink.append(
      (1 to 64).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartition(8), "t")
    assert(filesOf(base, "t").size == 9,
      s"expected clamp at 8 incoming partitions: ${filesOf(base, "t").size}")
    assert(sink.read(spark, "t").count() == 65L)
  }

  test("shaping an append does not run the frame's shuffle a second time") {
    val base = TestSpark.tmpDir("ow4")
    val sink = new VersionedParquetSink(base)
    sink.append(Seq((0L, "seed")).toDF("id", "v"), "t")
    sink.setProperties(spark, "t", Map("graft.optimizeWrite" -> "true"))
    val sc = spark.sparkContext
    val mapStages = new AtomicInteger
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          mapStages.incrementAndGet()
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try sink.append(
      (1 to 64).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartition(8), "t")
    finally {
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    // the write's own run of the repartition is the only one: learning
    // the partition count must not execute the exchange first
    assert(mapStages.get == 1, s"shuffle-map stages run: ${mapStages.get}")
    assert(filesOf(base, "t").size == 2)
    assert(sink.read(spark, "t").count() == 65L)
  }
}
