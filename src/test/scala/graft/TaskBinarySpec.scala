package graft

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.StatsWrite
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.BroadcastBlockId
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.engine.{BloomIndex, VersionedParquetSink}

/** What the table layer's executor paths ship inside each task. A
  * stage's task binary (its RDD and function, broadcast when the job
  * starts) must not carry a Hadoop configuration: every task would
  * deserialize it again. Configurations travel in broadcasts made
  * before the job, which a local task reads as the driver's object. */
class TaskBinarySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private sealed trait Ev
  private final case class Start(job: Int) extends Ev
  private final case class End(job: Int) extends Ev
  /** One report of a broadcast piece; `live` false when it was removed. */
  private final case class Piece(id: Long, field: String, bytes: Long,
      live: Boolean) extends Ev

  /** The job and broadcast-piece events of the listener bus, in order. */
  private final class Recorder {
    private val sc = spark.sparkContext
    private val evs = new ConcurrentLinkedQueue[Ev]()
    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        evs.add(Start(e.jobId))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        evs.add(End(e.jobId))
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val i = e.blockUpdatedInfo
        i.blockId match {
          case BroadcastBlockId(id, field) if field.startsWith("piece") =>
            evs.add(Piece(id, field, i.memSize + i.diskSize,
              i.storageLevel.isValid))
          case _ =>
        }
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)

    def events: Seq[Ev] = { ListenerDrain(sc); evs.asScala.toSeq }
    def close(): Unit = { ListenerDrain(sc); sc.removeSparkListener(listener) }

    /** Each job's (start, end) positions in `events`. */
    private def windows(es: Seq[Ev]): Map[Int, (Int, Int)] =
      es.zipWithIndex.collect { case (Start(j), s) =>
        j -> (s, es.indexOf(End(j)) match { case -1 => es.size; case e => e })
      }.toMap

    /** Pieces by the position of their first report, when that one
      * created them (not the removal of an older broadcast). */
    private def created(es: Seq[Ev]): Seq[(Int, Piece)] =
      es.zipWithIndex.collect { case (p: Piece, i) => (i, p) }
        .groupBy { case (_, p) => (p.id, p.field) }.values
        .map(_.minBy(_._1)).filter(_._2.live).toSeq

    /** Bytes of the broadcast pieces first reported while each job ran:
      * the job's task binaries. */
    def taskBinaryBytes: Map[Int, Long] = {
      val es = events
      val made = created(es)
      windows(es).map { case (j, (s, e)) =>
        j -> made.collect { case (i, p) if i > s && i < e => p.bytes }.sum
      }
    }

    /** Broadcasts created outside every job (a description or conf
      * broadcast) that have not been removed. */
    def liveNonTaskBroadcasts: Set[Long] = {
      val es = events
      val ws = windows(es).values.toSeq
      val removed = es.collect { case p: Piece if !p.live => p.id }.toSet
      created(es).collect {
        case (i, p) if !ws.exists { case (s, e) => i > s && i < e } => p.id
      }.toSet -- removed
    }
  }

  private def recording[T](body: Recorder => T): T = {
    val r = new Recorder
    try body(r) finally r.close()
  }

  private val schema = StructType.fromDDL("id BIGINT, v STRING")
  private def rows(ids: Range) = ids.map(i => (i.toLong, s"v$i")).toDF("id", "v")

  test("no write, stream epoch, masked scan or bloom build ships the Hadoop conf in its tasks") {
    val sc = spark.sparkContext
    val key = "graft.test.ballast"
    val random = new Array[Byte](3 << 19)
    new java.util.Random(11).nextBytes(random)
    // 2 MiB of base64 over random bytes: LZ4 (broadcast compression)
    // cannot shrink it, so one copy in a task binary overshoots the bound
    sc.hadoopConfiguration.set(key,
      java.util.Base64.getEncoder.encodeToString(random))
    val base = TestSpark.tmpDir("tbin")
    val sink = new VersionedParquetSink(base)
    sink.append(rows(1 to 40).repartition(4), "t")
    sink.deleteVectored(spark, "t", col("id") <= 5)
    rows(1 to 30).repartition(2).write.parquet(s"$base/bloomsrc")
    // versions 0-9: the next commit is due a _delta_log checkpoint
    (1 to 10).foreach(i => sink.append(rows(i to i), "ck"))
    val checkpoint = new File(s"$base/ck/_delta_log",
      f"${10L}%020d.checkpoint.parquet")
    spark.conf.set("spark.sql.catalog.tbin", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.tbin.path", TestSpark.tmpDir("tbin-cat"))
    spark.sql("CREATE TABLE tbin.out (id INT, v STRING)")
    val ops: Seq[(String, () => Unit)] = Seq(
      "writeWithStats" -> (() => {
        StatsWrite.writeWithStats(rows(1 to 20).repartition(3),
          s"$base/direct", schema); ()
      }),
      "format(graft) stream epoch" -> (() => {
        val mem = MemoryStream[(Int, String)](spark)
        val q = mem.toDF().toDF("id", "v").writeStream.format("graft")
          .option("checkpointLocation", TestSpark.tmpDir("tbin-c1"))
          .start(s"$base/s")
        try { mem.addData((1, "a"), (2, "b")); q.processAllAvailable() }
        finally q.stop()
      }),
      "toTable stream epoch" -> (() => {
        val mem = MemoryStream[(Int, String)](spark)
        val q = mem.toDF().toDF("id", "v").writeStream
          .option("checkpointLocation", TestSpark.tmpDir("tbin-c2"))
          .toTable("tbin.out")
        try { mem.addData((1, "a"), (2, "b")); q.processAllAvailable() }
        finally q.stop()
      }),
      "masked scan" -> (() =>
        assert(sink.read(spark, "t").count() == 35)),
      "bloom build" -> (() => BloomIndex.buildDir(spark, s"$base/bloomsrc",
        schema, schema.fields.toSeq, Map.empty, 0.01)),
      "deletion-vector delete" -> (() => {
        sink.deleteVectored(spark, "t", col("id") === 7); ()
      }),
      "deletion-vector update" -> (() => {
        sink.updateVectored(spark, "t", col("id") === 8,
          Map("v" -> lit("u"))); ()
      }),
      "_delta_log checkpoint" -> (() => {
        sink.append(rows(11 to 11), "ck")
        assert(checkpoint.isFile, s"no $checkpoint")
      }))
    try {
      val over = ops.flatMap { case (name, op) =>
        val perJob = recording { r => op(); r.taskBinaryBytes }
        assert(perJob.nonEmpty, s"$name ran no job")
        perJob.collect { case (job, bytes) if bytes >= (512 << 10) =>
          s"$name: job $job's task binaries total $bytes bytes" }
      }
      assert(over.isEmpty, over.mkString("\n"))
    } finally {
      sc.hadoopConfiguration.unset(key)
      spark.conf.unset("spark.sql.catalog.tbin")
      spark.conf.unset("spark.sql.catalog.tbin.path")
    }
  }

  test("a failed write task aborts the job and releases its broadcast") {
    val base = TestSpark.tmpDir("tbin-fail")
    val sink = new VersionedParquetSink(base)
    recording { r =>
      sink.append(rows(1 to 4).repartition(2), "t")
      eventually(timeout(10.seconds)) {
        assert(r.liveNonTaskBroadcasts.isEmpty)
      }
    }
    sink.addConstraint(spark, "t", "id_positive", "id > 0")
    recording { r =>
      val e = intercept[Exception] {
        sink.append(rows(-2 to 3).repartition(3), "t")
      }
      assert(e.toString.contains("id_positive") ||
        Option(e.getCause).exists(_.toString.contains("id_positive")), e)
      val staged = new File(s"$base/t").listFiles()
        .filter(_.getName.startsWith("d-"))
      staged.foreach { d =>
        assert(!new File(d, "_temporary").exists(), s"$d keeps _temporary")
      }
      eventually(timeout(10.seconds)) {
        assert(r.liveNonTaskBroadcasts.isEmpty)
      }
    }
    sink.append(rows(5 to 6), "t")
    assert(sink.read(spark, "t").count() == 6)
  }
}
