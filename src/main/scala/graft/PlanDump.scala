package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Optimization-round measurement tool (guide §1.2/§7.2): dumps
  * `explain("formatted")` for the named queries (or all) to
  * `<outDir>/<name>.txt`, using the SAME session configuration as Bench
  * (SessionDefaults) so the captured plan is the one the driver times.
  * No data is executed — plans only (AQE initial plan,
  * `isFinalPlan=false`) — EXCEPT for queries whose construction runs an
  * eager localCheckpoint (q_dsir, q_mad_outlier, q_spearman,
  * q_pagerank, q_margin_nn, q_triangles, q_assortativity, q_lm_score,
  * q_funnel, q_boilerplate):
  * those materialize their checkpointed intermediates (real jobs) at
  * construction time, and their dumps show LogicalRDD leaves where the
  * checkpoint truncated the plan (ADVICE r16 #3).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [q_a,q_b,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2)
        Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    val spark = SessionDefaults.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.write(Paths.get(s"$outDir/$n.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[plandump] $n ok")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
