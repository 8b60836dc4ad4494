package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (mirrors Verify's
  * configuration, including the graft extensions). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.engine.EngineSession.configure(SparkSession.builder())
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

  /** Starts `main` in a fresh JVM with this JVM's classpath and
    * --add-opens set (Spark 4 on JDK 17 needs them; sbt's fork injects
    * them into THIS process, so mirror whatever is present), its output
    * and errors going to `log`. */
  def forkJvm(main: String, args: Seq[String], log: java.io.File,
      env: Map[String, String] = Map.empty): Process = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val opens = jvmArgs.sliding(2).collect {
      case List(flag, value)
        if flag == "--add-opens" || flag == "--add-exports" =>
        List(flag, value)
    }.flatten.toList ++
      jvmArgs.filter(a => a.startsWith("--add-opens=") ||
        a.startsWith("--add-exports="))
    val cmd = (javaBin :: opens) ++ List(
      "-Xmx1g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"), main) ++ args
    val pb = new ProcessBuilder(cmd.asJava)
      .redirectOutput(log)
      .redirectErrorStream(true)
    env.foreach { case (k, v) => pb.environment().put(k, v); () }
    pb.start()
  }
}
