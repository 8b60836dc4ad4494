package org.apache.spark.sql.graft

import java.util.{Date, UUID}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.hadoop.mapreduce.Job
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.internal.io.{FileCommitProtocol, SparkHadoopWriterUtils}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.FileSourceMetadataAttribute
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker,
  DataSourceUtils, FileFormatWriter, WriteJobDescription, WriteTaskResult}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.engine.FileStats

/** The parquet write of a versioned-table data dir, with its per-file
  * stats collected by the write's own tasks — the shape of Delta's
  * transactional write. `df.write` offers no way to add a stats
  * tracker, so this writes the way `FileFormatWriter.write` does for a
  * new, unpartitioned dir: same file format, checks, commit protocol,
  * basic stats tracker and per-task `FileFormatWriter.executeTask`, so
  * the files are the ones `df.write.parquet(dir)` writes.
  *
  * It drives the job itself for one reason: `FileFormatWriter.write`
  * ships its job description, which holds the session's whole Hadoop
  * configuration, inside every task's closure, and the basic stats
  * tracker holds a second copy, so each write task deserialized two
  * full configurations (~10 ms each). Here the description is broadcast
  * once per write with one configuration shared by the tracker, as
  * Spark's own file scans ship theirs: a local task reads the driver's
  * object, an executor deserializes it once. */
object StatsWrite {

  /** Writes `df` as parquet into `dir`, which must not exist yet, and
    * returns the stats JSON of `statsSchema`'s columns — the exact
    * payload `FileStats.collect(spark, dir, statsSchema)` would compute
    * by reading the files back. */
  def writeWithStats(df: DataFrame, dir: String,
      statsSchema: StructType): String = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val raw = new Path(dir)
    val fs = raw.getFileSystem(hadoopConf)
    val out = fs.makeQualified(raw).toString
    if (fs.exists(raw)) throw new FileAlreadyExistsException(
      s"$out already exists") // SaveMode.ErrorIfExists
    val qe = spark.sessionState.executePlan(
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)
    // its own SQL execution, so listeners and the UI see the write
    SQLExecution.withNewExecutionId(qe, Some("writeWithStats")) {
      val plan = qe.executedPlan
      val columns = plan.output
        .map(FileSourceMetadataAttribute.cleanupFileSourceMetadataInformation)
      val format = new ParquetFileFormat
      val schema = DataTypeUtils.fromAttributes(columns)
      DataSourceUtils.verifySchema(format, schema)
      DataSourceUtils.checkFieldNames(format, schema)
      val job = Job.getInstance(hadoopConf)
      job.setOutputKeyClass(classOf[Void])
      job.setOutputValueClass(classOf[InternalRow])
      FileOutputFormat.setOutputPath(job, new Path(out))
      val uuid = UUID.randomUUID().toString
      val writerFactory = format.prepareWrite(spark, job, Map.empty, schema)
      job.getConfiguration.set("spark.sql.sources.writeJobUUID", uuid)
      val jobConf = new SerializableConfiguration(job.getConfiguration)
      val stats = FileStats.tracker(columns, statsSchema, conf)
      val description = new WriteJobDescription(uuid, jobConf, writerFactory,
        columns, columns, Nil, None, out, Map.empty, conf.maxRecordsPerFile,
        conf.sessionLocalTimeZone, Seq(new BasicWriteJobStatsTracker(jobConf,
          BasicWriteJobStatsTracker.metrics), stats))
      val committer = FileCommitProtocol.instantiate(
        conf.fileCommitProtocolClass, UUID.randomUUID().toString, out)
      val sc = spark.sparkContext
      val descB = sc.broadcast(description)
      try {
        committer.setupJob(job)
        try {
          val planned = plan.execute()
          // one task even for no partition, so an empty frame still
          // writes its (numRecords 0) file
          val rdd = if (planned.partitions.isEmpty)
            sc.parallelize(Seq.empty[InternalRow], 1) else planned
          val trackerId = SparkHadoopWriterUtils.createJobTrackerID(new Date)
          val results = new Array[WriteTaskResult](rdd.partitions.length)
          sc.runJob(rdd, (ctx: TaskContext, rows: Iterator[InternalRow]) =>
              writeTask(descB, trackerId, committer, ctx, rows),
            rdd.partitions.indices, (i: Int, r: WriteTaskResult) => {
              committer.onTaskCommit(r.commitMsg)
              results(i) = r
            })
          val start = System.nanoTime()
          committer.commitJob(job, results.map(_.commitMsg).toSeq)
          val commitMs = (System.nanoTime() - start) / 1000000
          // each tracker gets its own stats of every task, in task order
          description.statsTrackers.zip(results.toSeq.map(_.summary.stats)
            .transpose).foreach { case (t, s) => t.processStats(s, commitMs) }
        } catch { case cause: Throwable =>
          committer.abortJob(job)
          throw cause
        }
      } finally descB.destroy()
      stats.json
    }
  }

  /** The same write for a dir whose file stats nobody reads: a
    * deletion-vector mask or a `_delta_log` checkpoint. */
  def write(df: DataFrame, dir: String): Unit = {
    writeWithStats(df, dir, new StructType()); ()
  }

  /** One write task over the broadcast description. `executeTask` sets
    * the attempt's ids on the description's configuration, and the
    * broadcast object is shared by the tasks of a JVM, so each task
    * writes through its own copy of it. */
  private def writeTask(descB: Broadcast[WriteJobDescription],
      trackerId: String, committer: FileCommitProtocol, ctx: TaskContext,
      rows: Iterator[InternalRow]): WriteTaskResult = {
    val d = descB.value
    val own = new WriteJobDescription(d.uuid, new SerializableConfiguration(
        new Configuration(d.serializableHadoopConf.value)),
      d.outputWriterFactory, d.allColumns, d.dataColumns, d.partitionColumns,
      d.bucketSpec, d.path, d.customPartitionLocations, d.maxRecordsPerFile,
      d.timeZoneId, d.statsTrackers)
    FileFormatWriter.executeTask(own, trackerId, ctx.stageId(),
      ctx.partitionId(), ctx.taskAttemptId().toInt & Int.MaxValue, committer,
      rows, None)
  }
}
