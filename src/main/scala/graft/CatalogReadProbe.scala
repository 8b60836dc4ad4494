package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.VersionedParquetSink

/** Catalog read-path probe at 10x: measures `format("graft")` (and
  * therefore catalog SQL, which substitutes the same planner-integrated
  * relation) against RAW parquet scans of the identical data — the
  * question being whether the commit-log machinery (manifest read,
  * stats resolution, file pruning, live-DV composition) stays a
  * constant overhead under volume or grows into a tax.
  *
  * Layout: the ScaleProbe 10x corpus lands in a versioned table as many
  * range-clustered commits (tight per-file doc_id/event_id stats), so
  * the selective probes exercise real file-skipping. Probes:
  *
  *  - full scan + aggregate (documents, events): the no-pruning
  *    baseline — graft should match raw parquet (same vectorized
  *    reader) plus manifest overhead;
  *  - selective range predicate: graft prunes files from commit-log
  *    stats BEFORE parquet row-group pruning — expected at or below
  *    raw parquet cost;
  *  - full scan under a LIVE deletion-vector mask: the merge-on-read
  *    read tax while a mask is pending compaction.
  *
  * Output: one JSON line in SCALE_PROBE_CATALOG_OUT (default
  * /root/repo/scale_probe_catalog.json); each probe reports
  * {"raw":s,"graft":s,"ratio":graft/raw}. */
object CatalogReadProbe {

  def main(args: Array[String]): Unit = {
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"/tmp/graft_scale${factor}x")
    val base = sys.env.getOrElse("SPARK_GRAFT_CATALOG_PROBE_DIR",
      s"/tmp/graft_catalog_probe${factor}x")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.LocalFs.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    ScaleProbe.generateIfMissing(spark, src, out, factor)
    val sink = new VersionedParquetSink(base)

    // the 10x corpus as MANY range-clustered commits: disjoint id
    // slices per commit, sorted within files -> tight per-file stats,
    // the layout a continuously-ingesting table converges to
    def loadTable(name: String, parquet: String, idCol: String,
        commits: Int, filesPerCommit: Int): Unit = {
      if (sink.exists(spark, name)) return
      System.err.println(s"[probe] building graft table $name from $parquet")
      val df = spark.read.parquet(parquet)
      val maxId = df.agg(max(col(idCol))).head().getLong(0) + 1
      val slice = maxId / commits + 1
      for (k <- 0L until commits.toLong) {
        val part = df.filter(col(idCol) >= k * slice &&
          col(idCol) < (k + 1) * slice)
        sink.append(part
          .repartitionByRange(filesPerCommit, col(idCol))
          .sortWithinPartitions(idCol), name)
      }
    }
    loadTable("docs", s"$out/documents.parquet", "doc_id", 16, 4)
    loadTable("events", s"$out/events.parquet", "event_id", 16, 4)

    def timeOf(df: => DataFrame): Double = {
      def once: Double = {
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      once // warm
      math.min(once, once)
    }
    def graftDf(t: String): DataFrame =
      spark.read.format("graft").load(s"$base/$t")

    val maxDoc = spark.read.parquet(s"$out/documents.parquet")
      .agg(max("doc_id")).head().getLong(0)
    val maxEv = spark.read.parquet(s"$out/events.parquet")
      .agg(max("event_id")).head().getLong(0)

    def docAgg(df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n"), sum(length(col("text"))).as("chars"))
    def evAgg(df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n"), sum("value").as("total"))

    val probes = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    def probe(name: String)(raw: => DataFrame, graft: => DataFrame): Unit = {
      val tR = timeOf(raw)
      val tG = timeOf(graft)
      probes(name) = (tR, tG)
      System.err.println(
        f"[probe] $name%-22s raw=$tR%6.3fs graft=$tG%6.3fs ratio=${tG / tR}%5.2f")
    }

    probe("docs_full_scan")(
      docAgg(spark.read.parquet(s"$out/documents.parquet")),
      docAgg(graftDf("docs")))
    // ~1/64 of the id space: commit-log stats should prune ~62/64 files
    probe("docs_selective")(
      docAgg(spark.read.parquet(s"$out/documents.parquet")
        .where(col("doc_id") < maxDoc / 64)),
      docAgg(graftDf("docs").where(col("doc_id") < maxDoc / 64)))
    probe("events_full_scan")(
      evAgg(spark.read.parquet(s"$out/events.parquet")),
      evAgg(graftDf("events")))
    probe("events_selective")(
      evAgg(spark.read.parquet(s"$out/events.parquet")
        .where(col("event_id") < maxEv / 64)),
      evAgg(graftDf("events").where(col("event_id") < maxEv / 64)))

    // live DV mask: delete a sliver, re-scan while the mask is pending
    // (a fresh sink dir per run would re-pay the load; the keyed commit
    // makes the delete idempotent across probe re-runs)
    if (!sink.read(spark, "docs").columns.isEmpty) {
      // fresh mask per run (version-scoped keys), folded before exit so
      // the NEXT run's full/selective probes measure the clean path and
      // this probe always measures a genuinely LIVE mask
      val cycle = sink.latestVersion(spark, "docs").getOrElse(0L)
      // rotate the masked sliver: an earlier cycle's fold MATERIALIZED
      // its deletes, so re-masking the same rows would mask nothing
      val sliver = cycle % 997L
      sink.deleteVectored(spark, "docs", col("doc_id") % 1000 === sliver,
        commitKey = Some(s"probe-dv-$cycle"))
      // raw side approximates the survivors (earlier cycles' slivers,
      // ~0.1% each, stay in the raw file) — the RATIO is the readout
      probe("docs_full_under_dv")(
        docAgg(spark.read.parquet(s"$out/documents.parquet")
          .where(col("doc_id") % 1000 =!= sliver)),
        docAgg(graftDf("docs")))
      sink.compact(spark, "docs", commitKey = Some(s"probe-dv-fold-$cycle"))
      ()
    }

    // Bloom-index probe: point lookups on a HASH-INTERLEAVED layout —
    // every commit holds ids spread across the whole domain, so every
    // file's [min, max] spans it and commit-log min/max stats prune
    // NOTHING. This is the 100 TB point-lookup reality (keys arrive
    // hash-distributed, not range-clustered); only the per-file bloom
    // sidecars can rule files out. Two tables with the identical
    // layout, one bloom-indexed: the delta IS the index.
    def loadInterleaved(name: String, bloom: Boolean): Unit = {
      if (sink.exists(spark, name)) return
      System.err.println(s"[probe] building interleaved table $name")
      val df = spark.read.parquet(s"$out/documents.parquet")
      if (bloom) {
        sink.append(df.limit(0), name) // schema-bearing create
        sink.setProperties(spark, name,
          Map("graft.bloom.columns" -> "doc_id"))
      }
      for (k <- 0L until 16L) {
        sink.append(df.filter(col("doc_id") % 16 === k)
          .repartition(4), name)
      }
    }
    loadInterleaved("docs_hash_bloom", bloom = true)
    loadInterleaved("docs_hash_plain", bloom = false)
    // wall time at THIS corpus size is job-overhead-dominated; the
    // scale-relevant readout is FILES OPENED per lookup — that is the
    // quantity that multiplies by 10^4 on a 100 TB table
    val lookupIds = Seq(1L, maxDoc / 3, maxDoc / 2, 2 * maxDoc / 3, maxDoc)
    def filesScanned(mk: Long => DataFrame): Long =
      lookupIds.map { id =>
        val df = mk(id)
        df.collect()
        def unwrap(p: org.apache.spark.sql.execution.SparkPlan):
            org.apache.spark.sql.execution.SparkPlan = p match {
          case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        unwrap(df.queryExecution.executedPlan).collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numFiles").value
        }.sum
      }.sum
    val plainFiles = filesScanned(id =>
      graftDf("docs_hash_plain").where(col("doc_id") === id))
    val bloomFiles = filesScanned(id =>
      graftDf("docs_hash_bloom").where(col("doc_id") === id))
    probes("point_lookup_files") =
      (plainFiles.toDouble, bloomFiles.toDouble)
    System.err.println(
      f"[probe] point_lookup_files    plain=$plainFiles bloom=$bloomFiles " +
        f"ratio=${bloomFiles.toDouble / plainFiles}%5.2f")

    val qs = probes.map { case (k, (r, g)) =>
      f""""$k":{"raw":$r%.3f,"graft":$g%.3f,"ratio":${g / r}%.2f}"""
    }.mkString("{", ",", "}")
    val json = s"""{"factor":$factor,"src":"$src","catalog_read":$qs}"""
    println(json)
    val outPath = sys.env.getOrElse("SCALE_PROBE_CATALOG_OUT",
      "/root/repo/scale_probe_catalog.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[probe] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
