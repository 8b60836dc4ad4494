package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.engine.VersionedParquetSink

/** `sink.pruningStats(spark, table, condition)`: (files surviving
  * pruning, total files) for a predicate at the latest version — the
  * file index's answer to the data filters the planner derives for
  * [[VersionedParquetSink.readWhere]]. */
object PruningStats {
  implicit class Ops(private val sink: VersionedParquetSink) extends AnyVal {
    def pruningStats(spark: SparkSession, table: String,
        condition: Column): (Int, Int) = {
      val scan = sink.readWhere(spark, table, condition).queryExecution
        .sparkPlan.collectFirst { case s: FileSourceScanExec => s }
        .getOrElse(throw new IllegalStateException(
          s"readWhere on '$table' planned no file scan"))
      def files(filters: Seq[org.apache.spark.sql.catalyst.expressions
          .Expression]): Int =
        scan.relation.location.listFiles(Nil, filters).map(_.files.size).sum
      (files(scan.dataFilters), files(Nil))
    }
  }
}
