package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Production ingest for the embedding family: build (or append to) a
  * persisted [[graft.engine.AnnIndex]] over a corpus's embeddings table
  * so that the registry's embedding queries (q_dedup_embed,
  * q_embed_contam, q_mutual_nn, q_margin_nn, …) read PERSISTED cell
  * assignments via `GRAFT_ANN_DIR` instead of training + assigning a
  * quantizer per session — the amortized path that keeps the per-query
  * marginal cost flat as the corpus grows (each vector is assigned
  * once, at ingest, in O(batch·√k) via two-level assignment).
  *
  * Env contract (mirrors the registry's parameterized form):
  *  - SPARK_GRAFT_SF_DIR   corpus directory (embeddings.parquet)
  *  - GRAFT_ANN_DIR        index root (required) — the value the
  *                         registry later reads
  *  - GRAFT_CELLS_PER      target cell size; k = ceil(N / target)
  *                         (default 200 — the k ∝ corpus rule)
  *  - GRAFT_SUPER_PROBES   two-level assignment probes (default 2);
  *                         "flat" forces O(N·k) flat assignment
  *  - GRAFT_TRAIN_CAP      sampled-training cap (optional)
  *  - GRAFT_ANN_APPEND     when set to n: instead of building, append n
  *                         synthetic new vectors (derived from the
  *                         corpus rows, shifted ids) against the FROZEN
  *                         quantizers and print the wall time — the
  *                         O(batch) marginal-ingest measurement
  *  - GRAFT_ANN_SEARCH     when set to q: search the persisted index
  *                         for the first q corpus vectors (top-5,
  *                         GRAFT_ANN_PROBES cells, default 10) and
  *                         print the wall time — flat vs two-level
  *                         probing per GRAFT_SUPER_PROBES
  */
object AnnIngest {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val root = sys.env.getOrElse("GRAFT_ANN_DIR",
      throw new IllegalArgumentException("GRAFT_ANN_DIR is required"))
    def positiveInt(env: String, v: String): Int =
      v.toIntOption.filter(_ > 0).getOrElse(throw
        new IllegalArgumentException(
          s"$env must be a positive integer, got '$v'"))
    val cellsPer = sys.env.get("GRAFT_CELLS_PER").map(_.trim)
      .filter(_.nonEmpty).map(positiveInt("GRAFT_CELLS_PER", _))
      .getOrElse(200)
    val superProbes = sys.env.get("GRAFT_SUPER_PROBES").map(_.trim)
      .filter(_.nonEmpty) match {
      case Some("flat") => None
      case Some(p) => Some(positiveInt("GRAFT_SUPER_PROBES", p))
      case None => Some(2)
    }
    val cap = sys.env.get("GRAFT_TRAIN_CAP").map(_.trim)
      .filter(_.nonEmpty).map(positiveInt("GRAFT_TRAIN_CAP", _))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.EngineSession.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val vectors = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    val sink = new graft.engine.VersionedParquetSink(root)
    sys.env.get("GRAFT_ANN_SEARCH").map(_.trim).filter(_.nonEmpty)
      .foreach { qStr =>
        val nq = positiveInt("GRAFT_ANN_SEARCH", qStr)
        val probes = sys.env.get("GRAFT_ANN_PROBES").map(_.trim)
          .filter(_.nonEmpty).map(positiveInt("GRAFT_ANN_PROBES", _))
          .getOrElse(10)
        val qs = vectors.limit(nq)
        // run twice, report the steady state (second run) — the first
        // pays codegen/scan init that a serving deployment amortizes
        def once(): (Double, Long) = {
          val t0 = System.nanoTime()
          val n = graft.engine.AnnIndex.search(spark, sink, "ann", qs,
            probes = probes, k = 5, superProbes = superProbes).count()
          ((System.nanoTime() - t0) / 1e9, n)
        }
        once()
        val (dt, hits) = once()
        System.err.println(f"[ann-ingest] search q=$nq probes=$probes " +
          f"superProbes=$superProbes hits=$hits in $dt%.1f s")
        spark.stop()
        return
      }
    sys.env.get("GRAFT_ANN_STREAM_REPLAY").map(_.trim).filter(_.nonEmpty)
      .foreach { nStr =>
        // Checkpoint-loss chaos measurement against a LARGE persisted
        // index (VERDICT r11 #5): stream GRAFT_ANN_FILES files of n
        // fresh vectors each into the index via streamAppend, then
        // replay the SAME files from a fresh (lost) checkpoint — the
        // content-keyed batch dedup must no-op every replayed batch,
        // and both passes' wall times quantify ingest vs replay
        // marginal cost. The index tables are SHALLOW-CLONED first
        // (metadata-only, O(versions)), so the run never mutates the
        // registry index the bench reads.
        val perFile = positiveInt("GRAFT_ANN_STREAM_REPLAY", nStr)
        val files = sys.env.get("GRAFT_ANN_FILES").map(_.trim)
          .filter(_.nonEmpty).map(positiveInt("GRAFT_ANN_FILES", _))
          .getOrElse(4)
        val prefix = s"annr${System.nanoTime() / 1000000}"
        Seq("vectors", "meta", "centroids", "codebooks", "supers",
          "cellmap").foreach { t =>
          sink.cloneShallow(spark, s"ann_$t", s"${prefix}_$t"); ()
        }
        val maxRow = sink.read(spark, s"${prefix}_vectors")
          .agg(max("id")).head()
        val maxId = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
        val stage = java.nio.file.Files
          .createTempDirectory("annstage").toString
        val src = vectors.limit(files * perFile)
          .select((col("id") + maxId + 1).as("id"), col("vec"))
        val lines = src.select(to_json(struct(col("id"), col("vec"))))
          .collect().map(_.getString(0))
        lines.grouped(perFile).zipWithIndex.foreach { case (g, i) =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$stage/f$i.json"),
            g.mkString("\n").getBytes("UTF-8"))
          ()
        }
        def run(cp: String): Double = {
          val t0 = System.nanoTime()
          graft.engine.AnnIndex.streamAppend(spark, stage, sink, prefix,
            dim = 64, checkpoint = cp, superProbes = superProbes)
            .awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        val t1 = run(s"$stage-cp1")
        val n1 = sink.read(spark, s"${prefix}_vectors").count()
        val t2 = run(s"$stage-cp2") // fresh checkpoint = total loss
        val n2 = sink.read(spark, s"${prefix}_vectors").count()
        val dups = sink.read(spark, s"${prefix}_vectors")
          .groupBy("id").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).count()
        System.err.println(f"[ann-ingest] stream-replay files=$files " +
          f"perFile=$perFile ingest=$t1%.1fs replayAfterCpLoss=$t2%.1fs " +
          f"n1=$n1 n2=$n2 dupIds=$dups")
        require(n1 == n2 && dups == 0L,
          s"checkpoint-loss replay changed the index: n1=$n1 n2=$n2 dups=$dups")
        spark.stop()
        return
      }
    sys.env.get("GRAFT_ANN_APPEND").map(_.trim).filter(_.nonEmpty) match {
      case Some(nStr) =>
        // marginal-ingest measurement: a fresh batch encodes + assigns
        // against the persisted (frozen) quantizers in O(batch) — cost
        // must track the BATCH size, not the index size
        val batchN = positiveInt("GRAFT_ANN_APPEND", nStr)
        // fresh ids derive from the INDEX's current max, not the
        // corpus's: successive probe appends share the corpus but the
        // index grows, and a corpus-based shift would write the same
        // shifted ids twice (duplicate index entries that distinct
        // batch keys cannot dedup)
        // max(id) over an EMPTY ann_vectors (index built over an empty
        // corpus) is SQL NULL — read it nullably and start ids at 0
        // instead of dying on a cryptic NullPointerException
        val maxIdRow = sink.read(spark, "ann_vectors").agg(max("id")).head()
        val maxId = if (maxIdRow.isNullAt(0)) {
          System.err.println("[ann-ingest] index has no vectors; " +
            "appending from id 0")
          -1L
        } else maxIdRow.getLong(0)
        val batch = vectors.limit(batchN)
          .select((col("id") + maxId + 1).as("id"), col("vec"))
        val t0 = System.nanoTime()
        val landed = graft.engine.AnnIndex.append(spark, sink, "ann",
          batch, batchKey = s"probe-append-$batchN-${maxId + 1}",
          superProbes = superProbes)
        System.err.println(f"[ann-ingest] append n=$batchN landed=$landed " +
          f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      case None =>
        val n = vectors.count()
        val k = math.max(1, math.ceil(n.toDouble / cellsPer).toInt)
        val capK = cap.map(c => math.max(c, k))
        System.err.println(s"[ann-ingest] n=$n k=$k superProbes=$superProbes " +
          s"trainCap=$capK -> $root")
        val t0 = System.nanoTime()
        graft.engine.AnnIndex.build(spark, sink, "ann", vectors, dim = 64,
          kCoarse = k, m = 2, subK = 16, iters = 2,
          superProbes = superProbes, trainCap = capK)
        System.err.println(
          f"[ann-ingest] built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
