package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (mirrors Verify's
  * configuration, including the graft extensions). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.engine.LocalFs.configure(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
