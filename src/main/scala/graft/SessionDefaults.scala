package graft
import org.apache.spark.sql.SparkSession

/** The ONE bench/profiling session configuration (ADVICE r16 #2):
  * Bench and every measurement main (PlanDump, ProfilePlan,
  * ProfileExec, ProfileOps) build their session HERE, so a plan dump
  * or profile always explains the exact session the driver times —
  * r16 left ProfilePlan on a pre-optimization config, measuring a
  * different engine than the bench it was meant to explain.
  *
  * Config rationale lives with each setting; production notes:
  * bypassMergeThreshold=0 is a no-op above 200 shuffle partitions,
  * checksum=false is local-mode-only (no network fetch to diagnose —
  * keep the default true on a real cluster), parallelismFirst=true IS
  * the Spark default. The SPARK_GRAFT_CONF hook (semicolon-separated
  * k=v pairs, applied LAST) keeps every knob externally overridable
  * for config A/Bs without a code edit; unset (the driver's case) the
  * session is byte-identical to these committed defaults.
  */
object SessionDefaults {

  /** Builder with the shared bench-session config; `cpusDefault` is
    * the per-main fallback when SPARK_GRAFT_CPUS is unset (Bench
    * ships "4" — the driver always sets the env — profiling mains
    * default to the full box). */
  def builder(cpusDefault: String): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", cpusDefault)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      // r16 optimization round (guide §2.2/§2.4, measured): with
      // spark.sql.shuffle.partitions = cpus (<= 200), every SQL
      // exchange used the BypassMergeSortShuffleWriter — ONE FILE PER
      // REDUCE PARTITION PER MAP TASK (32x32 = 1024 file creates +
      // merges per shuffle). bypassMergeThreshold=0 selects the
      // single-file UnsafeShuffleWriter that production partition
      // counts (> 200) use anyway; shuffle checksum files (a per-map
      // extra file diagnosing corrupted REMOTE fetches) are off in
      // local mode. Same-box A/B, full 166-query bench: 82.8 -> 71.0 s.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.shuffle.checksum.enabled", "false")
      // Spark's DEFAULT parallelismFirst (restored r16): coalesce no
      // further than the session's parallelism — the r13-era false
      // coalesced every post-shuffle stage to ONE partition at bench
      // scale. 71.0 -> 62.1 s; scale-adaptive by construction.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.ui.enabled", "false")
    // the engine's own settings: the fork-free file: store and the
    // codegen cache size (engine/EngineSession)
    graft.engine.EngineSession.configure(b)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").map(_.trim)
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        b.config(k.trim, v.trim)
      })
    b
  }
}
