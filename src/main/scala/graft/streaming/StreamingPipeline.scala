package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.engine.{Analyze, Curate, Ingest, Pipeline, Schemas, TableSink}

/** Structured-Streaming version of the pipeline (SURVEY.md §2.2, T1-T4).
  *
  * The reference streams by re-running an external orchestrator loop
  * ("Acero is a streaming engine but requires an orchestrator",
  * README.md:110) with a JSON state file that grows forever
  * (README.md:111). Here:
  *
  *  - the micro-batch loop is the engine's own (`Trigger.AvailableNow`
  *    for drain-and-stop, `ProcessingTime` for continuous);
  *  - the processed-ID set is `dropDuplicates("id")` backed by the state
  *    store, bounded by a watermark on published_time — late duplicates
  *    beyond the watermark age out instead of accumulating (the fix for
  *    the reference's unbounded state, SURVEY.md §7.4 risk 4);
  *  - the three-table fan-out (raw/curated/actors, collector.py:234-240)
  *    is one `foreachBatch` over the cached micro-batch, so each
  *    micro-batch is computed once, not three times, and the sink
  *    writes stay idempotent per batch. Every write reads the cache.
  *    The batch is a `LogicalRDD` over the epoch's incremental plan, so
  *    any action that misses the cache re-runs the stateful dedup. The
  *    actor rows therefore come from [[Analyze.analyses]]: the self-join
  *    in [[Analyze.withAnalysis]] planned one side of the batch outside
  *    the cache, and the actors write ran the dedup a second time, so
  *    the state store counted every id twice.
  *  - the empty-batch check is a count, which loads every partition of
  *    the cache, so the raw and curated writes are then shaped from the
  *    loaded batch ([[Pipeline.writeShape]]): one file per table for a
  *    batch under 128 MiB, with the dedup already run, one task per
  *    state partition. Actors keeps the batch's partitioning for its
  *    `mapPartitions` analyzer, as on the batch path.
  *
  * Exactly-once: checkpointed offsets + state; on restart, a re-run
  * micro-batch re-appends only rows the dedup state has not seen.
  */
object StreamingPipeline {

  /** @param compactEvery on a versioned sink, fold each table's
    *   accumulated micro-batch directories into one every N batches —
    *   without this a long-running stream appends one directory per
    *   batch per table forever (the small-file problem); compaction is
    *   itself a keyed commit, so a replayed maintenance batch is safe.
    *   N counts batch ids, no-data batches included (a watermarked
    *   stream runs one after a data batch that moves the watermark):
    *   the fold runs at every id that is a positive multiple of N,
    *   whether or not that batch has rows.
    * @param vacuumAfterCompact additionally reclaim the superseded
    *   pre-compaction directories right after each compaction — bounds
    *   TOTAL storage for an unbounded run at the documented cost of
    *   truncating time travel to the latest compaction.
    * @param monitorStats also maintain a `corpus_stats` per-batch
    *   language-mix/quality/drift log (streaming/CorpusMonitor) INSIDE
    *   the same per-batch transaction — the monitor can never describe
    *   a corpus state that didn't commit. Versioned sink only (the
    *   prior-share read needs keyed history); ignored otherwise.
    * @param reservoirK also maintain a size-k weighted reservoir over
    *   everything ingested (engine/SampleIndex, weight = curated text
    *   length) riding the same transaction — a ready-made eval sample
    *   that is exactly as fresh as the corpus. Versioned sink only. */
  def stream(spark: SparkSession, feedsDir: String, sink: TableSink,
      checkpoint: String,
      watermark: String = "7 days",
      analyzer: Analyze.TextAnalyzer = Analyze.RuleBasedAnalyzer,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Option[Int] = None,
      vacuumAfterCompact: Boolean = false,
      monitorStats: Boolean = false,
      reservoirK: Option[Int] = None): StreamingQuery = {

    val entries = spark.readStream
      .schema(Schemas.feedEntry)
      .json(feedsDir)

    // dropDuplicatesWithinWatermark, NOT dropDuplicates("id"): plain
    // dropDuplicates only evicts state when the event-time column is part
    // of the dedup key, so its state would grow forever (the reference's
    // own bug). The WithinWatermark variant evicts each id once the
    // watermark passes its event time — bounded state, with the stated
    // trade-off that a duplicate arriving later than the watermark delay
    // is treated as new.
    // per-batch ingest quality rides the stream into
    // StreamingQueryProgress.observedMetrics("ingest-quality"). Attached
    // to the RAW entries, BEFORE toNews filters null ids/times away —
    // observing after the filter would report null_keys=0 forever, hiding
    // exactly the feed regressions the metric exists to surface.
    val observed = graft.engine.Quality.observeIngestStream(
      entries, keyCol = "guid", tsCol = "published",
      tsRange = Some(Ingest.parsePublished(
        org.apache.spark.sql.functions.col("published"))))
    val deduped = Ingest.toNews(observed)
      .withWatermark("published_time", watermark)
      .dropDuplicatesWithinWatermark("id")

    deduped.writeStream
      .queryName("graft-news-pipeline")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // every action on the batch itself re-runs the stateful dedup,
        // so even the empty-batch check reads the cache; a count, not
        // isEmpty, so that every partition is loaded before the writes
        // are shaped
        val cached = batch.cache()
        try {
          if (cached.count() > 0) {
            val shape = Pipeline.writeShape(cached)
            // ONE cross-table transaction per micro-batch, keyed by
            // batchId: on a VersionedParquetSink the three tables land
            // all-or-none (a crash can no longer leave raw ahead of
            // curated — the batch-path guarantee, Pipeline.scala), and a
            // replayed micro-batch is a keyed no-op -> exactly-once
            // fan-out. On the plain parquet sink this degrades to
            // per-table at-least-once, the reference's own contract.
            val curated = Curate(cached)
            // round-9 members ride the SAME transaction: corpus-stats
            // monitor rows + reservoir candidates land with (or not at
            // all alongside) the corpus tables they describe
            val extras: Seq[(DataFrame, String)] = sink match {
              case v: graft.engine.VersionedParquetSink
                  if monitorStats || reservoirK.isDefined =>
                val docs = curated.select(col("id").as("doc_id"),
                  concat_ws(" ", col("title"), col("description")).as("text"),
                  col("category").as("lang"))
                val statsW =
                  if (!monitorStats) Seq.empty
                  else CorpusMonitor.statsRows(cached.sparkSession, v, docs,
                    s"batch-$batchId").map(_ -> "corpus_stats").toSeq
                val resW = reservoirK.toSeq.map { k =>
                  graft.engine.SampleIndex.candidates(
                    docs.select(col("doc_id"),
                      greatest(length(col("text")), lit(1)).as("wt")),
                    k) -> "reservoir"
                }
                statsW ++ resW
              case _ => Seq.empty
            }
            sink.multiAppendOnce(Seq(
              shape(cached) -> "raw",
              shape(curated) -> "curated",
              Analyze.explodeActors(Analyze.analyses(
                cached.sparkSession, curated, analyzer)) -> "actors") ++ extras,
              s"batch-$batchId")
          }
          // periodic OPTIMIZE: only meaningful on the versioned sink
          // (the plain parquet sink appends files, not directories);
          // keyed by batchId so a crash-recovered replay of this batch
          // skips the whole-table rewrite instead of re-copying it. Due
          // by batch id, so a due no-data batch folds too
          (sink, compactEvery) match {
            case (v: graft.engine.VersionedParquetSink, Some(n))
                if n > 0 && batchId > 0 && batchId % n == 0 =>
              Seq("raw", "curated", "actors").foreach { t =>
                if (v.exists(cached.sparkSession, t)) {
                  v.compact(cached.sparkSession, t,
                    commitKey = Some(s"compact-$batchId"))
                  // vacuum is naturally idempotent (deleting nothing
                  // is a no-op), so no key needed on replay. graceMs=0
                  // is safe ONLY because no write of this stream is in
                  // flight here: foreachBatch runs one batch at a time,
                  // and multiAppendOnce, whose tables stage side by
                  // side, returns or throws only after every one of its
                  // staging writes has ended. Any other writer of
                  // these tables needs the grace
                  if (vacuumAfterCompact)
                    v.vacuum(cached.sparkSession, t, graceMs = 0L,
                      includeSuperseded = true)
                }
              }
            case _ => ()
          }
        } finally cached.unpersist()
      }
      .start()
  }
}
