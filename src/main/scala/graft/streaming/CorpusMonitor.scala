package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.VersionedParquetSink
import graft.queries.Helpers

/** Streaming corpus-statistics monitor — the incremental form of the
  * corpus-stats batch queries (q_ttr / q_corpus_build's quality gate):
  * every ingested micro-batch appends one row per language to a
  * persisted stats log, carrying the batch's volume/quality/mix
  * readouts AND the cumulative prior mix, so distribution drift is
  * detectable per batch without re-scanning the corpus.
  *
  * Stats per (batch, lang): doc count, token sum, mean chars,
  * quality-pass rate (the same row-local `n_tok >= 10 && ttr >= 0.05`
  * gate the batch pipeline filters on), in-batch exact-dup rate, the
  * batch's language share, and the PRIOR cumulative share — so
  * `drift = |share - prior_share|` is a self-contained column and
  * [[alerts]] is a plain filter over the log.
  *
  * Replay contract (Rebalance's, reused): the log is an append-only
  * versioned table, writes are keyed by an order-independent
  * content fingerprint of the batch, and prior cumulative counts are
  * derived from the log EXCLUDING this batch's key — a crash-replayed
  * batch recomputes byte-identical rows and the keyed append no-ops.
  * State survives checkpoint loss because there is no streaming-state
  * dependence at all: the log IS the state, readable by any session.
  *
  * Scale: per batch this is one row-local projection plus one
  * lang-keyed aggregation of the batch (map-side combinable) and one
  * tiny groupBy over the stats log (|langs| x batches rows, compacted
  * periodically like Rebalance's counts log). Nothing is O(corpus).
  */
object CorpusMonitor {

  /** Row-local quality/statistics columns shared with the batch gate. */
  private def annotated(docs: DataFrame): DataFrame =
    docs
      .withColumn("__ws", split(col("text"), " "))
      .withColumn("__n_tok", size(col("__ws")).cast("long"))
      .withColumn("__ttr", Helpers.r4(
        size(array_distinct(col("__ws"))).cast("double") / col("__n_tok")))
      .withColumn("__pass",
        (col("__n_tok") >= 10 && col("__ttr") >= 0.05).cast("int"))
      .withColumn("__fp", md5(col("text").cast("binary")))

  /** Compute and append one batch's per-lang stats rows. Returns the
    * appended frame's row count (0 for an empty batch; a replayed key
    * still returns the recomputed count — the append itself no-ops). */
  def appendStats(spark: SparkSession, sink: VersionedParquetSink,
      batch: DataFrame, batchKey: String,
      statsTable: String = "corpus_stats"): Long =
    statsRows(spark, sink, batch, batchKey, statsTable) match {
      case None => 0L
      case Some(rows) =>
        val n = rows.count()
        sink.appendOnce(rows, statsTable, batchKey)
        n
    }

  /** One batch's per-lang stats rows WITHOUT appending them — the
    * composable form: the flagship stream hands these to the SAME
    * `multiAppendOnce` transaction that commits raw/curated/actors, so
    * the monitor log can never run ahead of (or behind) the corpus it
    * describes. None for an empty batch. The prior-share read excludes
    * `batchKey`, so a crash-replayed batch recomputes byte-identical
    * rows (the appendStats contract, unchanged). */
  def statsRows(spark: SparkSession, sink: VersionedParquetSink,
      batch: DataFrame, batchKey: String,
      statsTable: String = "corpus_stats"): Option[DataFrame] = {
    val perLang = annotated(batch)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum("__n_tok").cast("long").as("n_tokens"),
        Helpers.r4(avg(length(col("text")))).as("mean_chars"),
        Helpers.r4(avg(col("__pass"))).as("quality_rate"),
        Helpers.r4(lit(1.0) -
          countDistinct(col("__fp")).cast("double") / count(lit(1)))
          .as("dup_rate"))
    val total = perLang.agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0)
    if (total == 0L) return None

    // prior cumulative per-lang doc counts from the log EXCLUDING this
    // key: deterministic whether or not this batch's append already
    // committed (the crash-replay case)
    val prior =
      if (!sink.exists(spark, statsTable))
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("lang",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_prior",
              org.apache.spark.sql.types.LongType))))
      else sink.read(spark, statsTable)
        .filter(!(col("batch_key") <=> lit(batchKey)))
        .groupBy("lang").agg(sum("n_docs").cast("long").as("n_prior"))
    val priorTotal = prior.agg(coalesce(sum("n_prior"), lit(0L)))
      .head().getLong(0)

    val rows = perLang
      .join(prior, Seq("lang"), "left")
      .withColumn("share", Helpers.r4(col("n_docs") / lit(total.toDouble)))
      .withColumn("prior_share",
        if (priorTotal == 0L) lit(null).cast("double")
        else Helpers.r4(coalesce(col("n_prior"), lit(0L)) /
          lit(priorTotal.toDouble)))
      .withColumn("drift",
        when(col("prior_share").isNull, lit(null).cast("double"))
          .otherwise(Helpers.r4(abs(col("share") - col("prior_share")))))
      .withColumn("batch_key", lit(batchKey))
      .select("batch_key", "lang", "n_docs", "n_tokens", "mean_chars",
        "quality_rate", "dup_rate", "share", "prior_share", "drift")
      // one row per language: written as one file, not one per shuffle
      // partition the aggregation leaves
      .coalesce(1)
    Some(rows)
  }

  /** The monitor as a streaming sink: ride any streaming frame of
    * documents (doc_id, text, lang, ...) and append per-batch stats
    * rows exactly-once. Content-derived keys make post-checkpoint-loss
    * replays no-op (see Rebalance for the determinism contract —
    * pair with maxFilesPerTrigger=1 on file sources). */
  def monitorStream(docs: DataFrame, sink: VersionedParquetSink,
      checkpoint: String, statsTable: String = "corpus_stats",
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .queryName("graft-corpus-monitor")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // order-independent full-row fingerprint (same construction as
        // Rebalance: \u0001-separated to kill boundary shifts); doubles
        // as the emptiness check
        val sig = batch.agg(count(lit(1)),
          sum(crc32(concat_ws("\u0001",
            col("doc_id"), col("lang"), col("text"))))).head()
        if (sig.getLong(0) > 0) {
          appendStats(batch.sparkSession, sink, batch,
            s"monitor-${sig.getLong(0)}-${sig.getLong(1)}", statsTable)
          // bound the log's file count like Rebalance's counts log
          if (batchId % 64 == 63)
            sink.compact(batch.sparkSession, statsTable,
              targetFiles = Some(1),
              commitKey = Some(s"monitor-compact-$batchId"))
          ()
        }
      }
      .start()

  /** Mix-drift alerts: the stats rows whose per-batch language share
    * moved more than `threshold` from the prior cumulative share (the
    * first batch has no prior and never alerts). A plain filter — the
    * drift math was paid at append time. */
  def alerts(spark: SparkSession, sink: VersionedParquetSink,
      statsTable: String = "corpus_stats",
      threshold: Double = 0.1): DataFrame =
    sink.read(spark, statsTable)
      .filter(col("drift").isNotNull && col("drift") > threshold)

  /** Cumulative corpus totals per language — doc/token counts and the
    * doc-weighted mean quality rate — one tiny groupBy over the stats
    * log (never the corpus). The per-batch time series is the log
    * itself: `sink.read(spark, statsTable)`. */
  def totals(spark: SparkSession, sink: VersionedParquetSink,
      statsTable: String = "corpus_stats"): DataFrame =
    sink.read(spark, statsTable)
      .groupBy("lang")
      .agg(sum("n_docs").cast("long").as("n_docs"),
        sum("n_tokens").cast("long").as("n_tokens"),
        Helpers.r4(sum(col("quality_rate") * col("n_docs")) /
          sum("n_docs")).as("quality_rate"))
}
