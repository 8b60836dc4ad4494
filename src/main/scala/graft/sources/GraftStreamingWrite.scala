package graft.sources

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.engine.VersionedParquetSink

/** The real DSv2 StreamingWrite for graft catalog tables — what lets
  * `writeStream.toTable("g.tbl")` work with NO `.format("graft")`
  * (Spark's V1 fallback requires source == provider; the V2 path has no
  * such check). Delta-style streaming-sink semantics, assembled from the
  * sink's own primitives (reference semantics: the continuous
  * `write_deltalake(..., mode='append')` loop, collector.py:219-240):
  *
  *  - executors write parquet part files straight into a unique staged
  *    dir under the table (invisible until claimed — the same staging
  *    contract every sink write uses), through Spark's own
  *    [[ParquetWriteSupport]] so file bytes are identical to a batch
  *    append's;
  *  - the driver claims the dir into the commit log as ONE keyed ACID
  *    append per epoch ([[VersionedParquetSink.commitStreamEpoch]]) on
  *    `(appId, epochId)` — Delta's txn-version recipe, same key shape as
  *    the V1 `format("graft")` sink, so a crash-replayed micro-batch
  *    commits exactly once;
  *  - task retries/speculation are reconciled at commit: only files
  *    named in the tasks' commit messages survive; stragglers from
  *    failed attempts are deleted before the claim.
  *
  * At 1000-executor scale this is the shape that matters: rows never
  * funnel through the driver (each task streams to its own file), and
  * the driver's work per epoch is O(#files) metadata plus one
  * distributed stats pass.
  */
final class GraftStreamingWrite(base: String, table: String,
    schema: StructType, appId: String,
    replace: Boolean = false) extends StreamingWrite {

  // Unique per query RUN: a restarted (or competing) driver gets a fresh
  // StreamingWrite and therefore fresh staged-dir names — a crash-
  // replayed epoch can never append files into a dir a previous run
  // already CLAIMED. Its replayed files land in a new unclaimed dir
  // that the keyed commit recognizes and discards as a no-op.
  private val runId = UUID.randomUUID().toString

  private def stagedName(epochId: Long) = s"d-stream-$runId-$epochId"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val conf = new Configuration(spark.sessionState.newHadoopConf())
    ParquetWriteSupport.setSchema(schema, conf)
    // the conf keys ParquetFileFormat.prepareWrite sets before handing
    // the write support to parquet-hadoop; init() expects them present
    Seq("spark.sql.parquet.writeLegacyFormat",
      "spark.sql.parquet.outputTimestampType",
      "spark.sql.parquet.fieldId.write.enabled",
      "spark.sql.parquet.variant.annotateLogicalType.enabled",
      "spark.sql.parquet.datetimeRebaseModeInWrite",
      "spark.sql.parquet.int96RebaseModeInWrite",
      "spark.sql.session.timeZone")
      .foreach(k => conf.set(k, spark.conf.get(k)))
    val codec = spark.conf.get("spark.sql.parquet.compression.codec")
    // one copy of the conf per epoch, not one inside every task
    new GraftStreamWriterFactory(s"${base.stripSuffix("/")}/$table",
      runId, spark.sparkContext.broadcast(new SerializableConfiguration(conf)),
      GraftStreamingWrite.codecName(codec))
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val dir = new Path(s"${base.stripSuffix("/")}/$table/${stagedName(epochId)}")
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = messages.collect { case m: GraftWriterMessage => m }
      .flatMap(_.file).toSet
    if (committed.isEmpty) { // empty epoch: nothing to claim
      f.delete(dir, true)
      return
    }
    // reconcile: drop files written by failed/speculative attempts whose
    // task never committed (the dir is still invisible — safe to edit)
    if (f.exists(dir)) f.listStatus(dir).foreach { st =>
      if (st.isFile && !committed.contains(st.getPath.getName))
        f.delete(st.getPath, false)
    }
    new VersionedParquetSink(base).commitStreamEpoch(spark, table,
      stagedName(epochId), schema, s"$appId#$epochId", replace = replace)
    ()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val dir = new Path(s"${base.stripSuffix("/")}/$table/${stagedName(epochId)}")
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(dir, true)
    ()
  }

  override def toString: String = s"GraftStreamingWrite[$table]"
}

object GraftStreamingWrite {
  private[sources] def codecName(conf: String): CompressionCodecName =
    conf.toLowerCase match {
      case "none" | "uncompressed" => CompressionCodecName.UNCOMPRESSED
      case "gzip" => CompressionCodecName.GZIP
      case "lz4" | "lz4raw" | "lz4_raw" => CompressionCodecName.LZ4_RAW
      case "zstd" => CompressionCodecName.ZSTD
      case "brotli" => CompressionCodecName.BROTLI
      case _ => CompressionCodecName.SNAPPY
    }
}

/** One commit message per task: the part file it durably wrote (None
  * for an empty partition — no file is created) and its row count. */
private[sources] case class GraftWriterMessage(file: Option[String],
    rows: Long) extends WriterCommitMessage

private[sources] final class GraftStreamWriterFactory(tableDir: String,
    runId: String, conf: Broadcast[SerializableConfiguration],
    codec: CompressionCodecName) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftStreamDataWriter(
      s"$tableDir/d-stream-$runId-$epochId", partitionId, taskId,
      conf.value.value, codec)
}

/** Executor-side parquet writer: rows stream straight to a uniquely
  * named part file (partition + task attempt id — retried attempts
  * never collide), created lazily so empty partitions cost nothing.
  * Uses Spark's own parquet WriteSupport, so types (timestamps, NTZ,
  * decimals, nested arrays/structs) serialize exactly as a batch
  * append would. */
private final class GraftStreamDataWriter(dir: String, partitionId: Int,
    taskId: Long, conf: Configuration, codec: CompressionCodecName)
    extends DataWriter[InternalRow] {

  private val fileName = f"part-$partitionId%05d-$taskId.parquet"
  private val path = new Path(dir, fileName)
  private var writer: org.apache.hadoop.mapreduce.RecordWriter[
    java.lang.Void, InternalRow] = _
  private var rows = 0L

  override def write(record: InternalRow): Unit = {
    if (writer == null)
      writer = new ParquetOutputFormat[InternalRow](new ParquetWriteSupport)
        .getRecordWriter(conf, path, codec)
    writer.write(null, record)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) { writer.close(null); writer = null }
    GraftWriterMessage(if (rows > 0) Some(fileName) else None, rows)
  }

  override def abort(): Unit = {
    if (writer != null) {
      try writer.close(null)
      catch { case scala.util.control.NonFatal(_) => () }
      writer = null
    }
    try path.getFileSystem(conf).delete(path, false)
    catch { case scala.util.control.NonFatal(_) => () }
    ()
  }

  override def close(): Unit =
    if (writer != null) { writer.close(null); writer = null }
}
