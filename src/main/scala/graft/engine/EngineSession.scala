package graft.engine

import org.apache.spark.sql.SparkSession

/** The settings every session of this engine carries. Each session
  * builder (the bench session, Verify, the probes, the test session and
  * the test workers) applies them; the bench session's
  * `SPARK_GRAFT_CONF` hook is applied after them and wins. */
object EngineSession {

  /** Entries of Spark's generated-class cache (`CodeGenerator.cache`,
    * one LRU per JVM keyed by class loader and source). In local mode a
    * whole-stage-codegen stage compiles twice, under two keys: on the
    * driver when the stage executes, and in the task under the
    * session's executor class loader. One feed poll and its dashboard
    * refresh touch about 60 sources, so about 120 keys, in the same
    * order every time: under Spark's default of 100 entries each one is
    * evicted before its next use and every poll compiles its whole plan
    * again (a feed_batch benchmark run: 445 compiles of 104 sources,
    * 6.9 s of Janino time on a 4-vCPU VM). The whole run, three
    * sessions included, needs about 213 keys; 1000 holds them with room
    * for the dashboard's other plan shapes, and a poll that repeats the
    * previous one's plans compiles nothing.
    *
    * The conf is static: Spark sizes the cache once, from the session
    * that is active at the JVM's first codegen. Set later, it does
    * nothing. */
  private val CodegenCacheEntries = 1000

  /** Puts both Hadoop APIs' `file:` scheme on the fork-free classes
    * [[NioLocalFileSystem]] and [[NioLocalFs]], and sizes the codegen
    * cache. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[NioLocalFs].getName)
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
}
