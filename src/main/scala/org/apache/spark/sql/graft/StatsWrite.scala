package org.apache.spark.sql.graft

import java.util.UUID

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker,
  FileFormatWriter}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.engine.FileStats

/** The parquet write of a versioned-table data dir, with its per-file
  * stats collected by the write's own tasks — the shape of Delta's
  * transactional write. `df.write` offers no way to add a stats
  * tracker, so this calls `FileFormatWriter` directly, as
  * `InsertIntoHadoopFsRelationCommand` does for a new, unpartitioned
  * dir: same file format, options, commit protocol and basic stats
  * tracker, so the files are the ones `df.write.parquet(dir)` writes. */
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
      val stats = FileStats.tracker(plan.output, statsSchema, conf)
      FileFormatWriter.write(
        sparkSession = spark,
        plan = plan,
        fileFormat = new ParquetFileFormat,
        committer = FileCommitProtocol.instantiate(
          conf.fileCommitProtocolClass, UUID.randomUUID().toString, out),
        outputSpec = FileFormatWriter.OutputSpec(out, Map.empty, plan.output),
        hadoopConf = hadoopConf,
        partitionColumns = Nil,
        bucketSpec = None,
        statsTrackers = Seq(new BasicWriteJobStatsTracker(
          new SerializableConfiguration(hadoopConf),
          BasicWriteJobStatsTracker.metrics), stats),
        options = Map.empty)
      stats.json
    }
  }
}
